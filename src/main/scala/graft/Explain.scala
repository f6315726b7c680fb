package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Plan inspection: run named queries in a session wired exactly like
  * [[Verify]] and [[Bench]] (graft SQL functions, optimizer rules and
  * planner strategy registered) and print each one's AQE-final physical
  * plan plus the jobs and stages it ran — eager localCheckpoints during
  * query construction included. Usage:
  *   sbt "runMain graft.Explain <sfDir> q_name1,q_name2[,...] [outDir tag]"
  * With `outDir`, each report is also written to `<outDir>/<q>_<tag>.txt`
  * — the before/after plan evidence a change commits under `plans/`.
  * Complements [[Plans]] (the checked-in annotated headline set).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
                else Seq("q_cast_project")
    val out = if (args.length > 3) Some((args(2), args(3))) else None
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftExtensions.register(spark)
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
    })
    out.foreach { case (dir, _) => Files.createDirectories(Paths.get(dir)) }
    names.foreach { q =>
      jobs.set(0); stages.set(0)
      val t0 = System.nanoTime()
      val plan = graft.sources.CheckpointScope.withScope(spark.sparkContext) {
        val df = SparkEntry.queries(q)(spark, sfDir)
        // execute through THIS queryExecution so the printed plan is the
        // AQE-final one (a separate write() action would re-plan fresh)
        df.queryExecution.toRdd.foreach(_ => ())
        df.queryExecution.executedPlan.toString
      }
      val secs = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1000) // the listener bus delivers asynchronously
      // expression and exchange ids vary run to run; drop them so two
      // dumps of the same plan diff clean
      val report = plan.replaceAll("#\\d+L?", "").replaceAll("plan_id=\\d+", "plan_id") +
        s"\n[$q jobs=${jobs.get} stages=${stages.get}]\n"
      println(s"========= $q =========\n$report" + f"[$q executed in $secs%.2f s]")
      out.foreach { case (dir, tag) =>
        Files.writeString(Paths.get(dir, s"${q}_$tag.txt"), report)
      }
    }
    spark.stop()
  }
}
