package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer counters gathered from outside the program: a SparkListener for
  * the scheduler, executors and shuffle, a QueryExecutionListener for
  * planning. Both are attached only while tracing is on, so an untraced
  * pass runs exactly what a user's job would. */
final class Trace(spark: SparkSession) {
  private val c = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val jobStart = mutable.Map[Int, Long]()
  private val jobs = mutable.ArrayBuffer[(Long, Long)]()

  private def add(k: String, v: Double): Unit = c.synchronized { c(k) += v }

  private val sched = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = c.synchronized {
      c("sched.jobs") += 1; jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = c.synchronized {
      jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      c.synchronized {
        c("sched.stages") += 1
        if (e.stageInfo.numTasks == 1) c("sched.single_task_stages") += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      c.synchronized {
        c("sched.tasks") += 1
        if (m != null) {
          c("exec.run_s") += m.executorRunTime / 1e3
          c("exec.cpu_s") += m.executorCpuTime / 1e9
          c("exec.gc_s") += m.jvmGCTime / 1e3
          c("shuffle.write_mb") += m.shuffleWriteMetrics.bytesWritten / 1e6
          c("shuffle.read_mb") += m.shuffleReadMetrics.totalBytesRead / 1e6
          c("shuffle.fetch_wait_s") += m.shuffleReadMetrics.fetchWaitTime / 1e3
          c("spill.mb") += (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6
          c("sources.scan_mb") += m.inputMetrics.bytesRead / 1e6
        }
      }
    }
  }

  private val plans = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val t = qe.tracker
      def phase(p: String) = t.phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
      add("plans.analysis_s", phase("analysis"))
      add("plans.optimize_s", phase("optimization"))
      add("plans.physical_s", phase("planning"))
      t.rules.foreach { case (rule, s) if rule.startsWith("graft.plans.") =>
          add("plans.graft_rules_s", s.totalTimeNs / 1e9)
          add("plans.graft_rule_invocations", s.numInvocations.toDouble)
          add("plans.graft_rule_effective", s.numEffectiveInvocations.toDouble)
        case _ =>
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sched)
    spark.listenerManager.register(plans)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sched)
    spark.listenerManager.unregister(plans)
  }

  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Counters so far, after every posted event has been delivered. */
  def snapshot(): Map[String, Double] = { drain(); c.synchronized(c.toMap) }

  /** Jobs that started in [t0, t1] (epoch ms). */
  def jobsStartedIn(t0: Long, t1: Long): Int = {
    drain()
    c.synchronized(jobs.count(j => j._1 >= t0 && j._1 <= t1))
  }

  /** Seconds covered by the union of job intervals that started in
    * [t0, t1] (epoch ms); wall minus this is driver-side time. */
  def jobUnionS(t0: Long, t1: Long): Double = {
    drain()
    val iv = c.synchronized(jobs.filter(j => j._1 >= t0 && j._1 <= t1).sortBy(_._1).toList)
    var covered = 0L; var end = Long.MinValue
    iv.foreach { case (s, e) =>
      val from = math.max(s, end)
      if (e > from) covered += e - from
      end = math.max(end, e)
    }
    covered / 1e3
  }
}

object Trace {
  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    (a.keySet ++ b.keySet).map(k => k -> (b.getOrElse(k, 0.0) - a.getOrElse(k, 0.0))).toMap
}
