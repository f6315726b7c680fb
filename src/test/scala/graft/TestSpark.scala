package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-tests")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(s) // SQL fns + library optimizer rules
    s
  }

  /** Runs `body` with `spark.sql.shuffle.partitions` set to `n` — the
    * shard count of [[graft.operators.RankedStats.withCumulative]] —
    * and restores the previous value afterwards. Keep every action that
    * should see `n` inside `body`. */
  def withShufflePartitions[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toLong)
    try body finally spark.conf.set(key, prev)
  }
}
