package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Plan inspection: run named queries in a session wired exactly like
  * [[Verify]] and [[Bench]] (graft SQL functions, optimizer rules and
  * planner strategy registered) and print each one's AQE-final physical
  * plan plus the jobs and stages it ran — eager localCheckpoints during
  * query construction included. Usage:
  *   sbt "runMain graft.Explain <sfDir> q_name1,q_name2[,...] [outDir tag]"
  * With `outDir`, each report is also written to `<outDir>/<q>_<tag>.txt`
  * — the before/after plan evidence a change commits under `plans/`.
  * Complements [[Plans]] (the checked-in annotated headline set).
  *
  * The counts are read without sleeping on the asynchronous listener
  * bus: after each query a one-task marker job runs, and the listener
  * hands its counts over when it sees the marker's job end. Events on
  * one listener queue arrive in order, so every job and stage of the
  * query has been counted by then.
  */
object Explain {
  private val Marker = "graft.explain.marker"

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
                else Seq("q_cast_project")
    val out = if (args.length > 3) Some((args(2), args(3))) else None
    val spark = GraftExtensions.localSession("4")
    spark.sparkContext.setLogLevel("ERROR")
    // (jobs, stages) per query, handed over at the marker's job end
    val counts = new LinkedBlockingQueue[(Int, Int)]
    spark.sparkContext.addSparkListener(new SparkListener {
      // listener callbacks run on the one listener-queue thread
      private var jobs, stages = 0
      private var markerJob = -1
      private var markerStages = Set.empty[Int]
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(Marker) != null) {
          markerJob = e.jobId; markerStages = e.stageIds.toSet
        } else jobs += 1
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (!markerStages.contains(e.stageInfo.stageId)) stages += 1
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob) {
          counts.put((jobs, stages))
          jobs = 0; stages = 0; markerJob = -1; markerStages = Set.empty
        }
    })
    out.foreach { case (dir, _) => Files.createDirectories(Paths.get(dir)) }
    names.foreach { q =>
      val t0 = System.nanoTime()
      val plan = graft.sources.CheckpointScope.withScope(spark.sparkContext) {
        val df = SparkEntry.queries(q)(spark, sfDir)
        // execute through THIS queryExecution so the printed plan is the
        // AQE-final one (a separate write() action would re-plan fresh)
        df.queryExecution.toRdd.foreach(_ => ())
        df.queryExecution.executedPlan.toString
      }
      val secs = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setLocalProperty(Marker, q)
      spark.sparkContext.parallelize(Seq(0), 1).count()
      spark.sparkContext.setLocalProperty(Marker, null)
      val (jobs, stages) = Option(counts.poll(60, TimeUnit.SECONDS))
        .getOrElse(sys.error(s"no marker job end for $q within 60 s"))
      // expression and exchange ids vary run to run; drop them so two
      // dumps of the same plan diff clean
      val report = plan.replaceAll("#\\d+L?", "").replaceAll("plan_id=\\d+", "plan_id") +
        s"\n[$q jobs=$jobs stages=$stages]\n"
      println(s"========= $q =========\n$report" + f"[$q executed in $secs%.2f s]")
      out.foreach { case (dir, tag) =>
        Files.writeString(Paths.get(dir, s"${q}_$tag.txt"), report)
      }
    }
    spark.stop()
  }
}
