package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

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
  def withShufflePartitions[T](n: Int)(body: => T): T =
    withConf("spark.sql.shuffle.partitions" -> n.toString)(body)

  /** Runs `body` with Spark's own split planning of the fixture tables —
    * one split per file, as Spark plans any file of at most
    * `openCostInBytes` — and no byte-light one-partition claim
    * ([[graft.operators.Parallelism]]): `openCostInBytes` at 1 byte voids
    * the claims of [[graft.sources.Parquet.read]] and of
    * [[graft.sources.CheckpointScope.ClaimOnePartition]], and
    * `minPartitionNum` at 1 keeps each file one split (it would otherwise
    * be cut into per-core byte ranges). The fixtures are far below one
    * file open, so without this their aggregates, windows and joins plan
    * no exchange at all; the guards on exchange placement and shuffle
    * volume describe the plans of scans that feed an exchange. Keep the
    * query's construction and its run inside `body`: the reader decides
    * at call time, the checkpoint rule when the plan is optimized. */
  def withFileSplits[T](body: => T): T =
    withConf("spark.sql.files.openCostInBytes" -> "1", "spark.sql.files.minPartitionNum" -> "1")(body)

  /** Runs `body` with `settings` on the shared session, restoring the
    * previous values afterwards. */
  def withConf[T](settings: (String, String)*)(body: => T): T = {
    val prev = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Jobs `body` starts: the ids between a start and an end marker job,
    * so events still queued from earlier work are not counted and every
    * job of `body` has been seen once the end marker's end arrives. */
  def jobsDuring(body: => Any): Int = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val sc = spark.sparkContext
    val key = "graft.testspark.marker"
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Boolean)]
    val ended = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.add((e.jobId, e.properties != null && e.properties.getProperty(key) != null))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (starts.asScala.exists { case (id, m) => m && id == e.jobId } &&
            starts.asScala.count(_._2) == 2) ended.countDown()
    }
    def marker(): Unit = {
      sc.setLocalProperty(key, "1")
      try sc.parallelize(Seq(0), 1).count() finally sc.setLocalProperty(key, null)
    }
    sc.addSparkListener(l)
    try {
      marker(); body; marker()
      assert(ended.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "end marker job never ended on the listener")
      val all = starts.asScala.toSeq
      val Seq(from, to) = all.filter(_._2).map(_._1).sorted
      all.count { case (id, m) => !m && id > from && id < to }
    } finally sc.removeSparkListener(l)
  }

  /** Total shuffle-WRITE RECORDS across every stage `body` runs —
    * listener-based, so it also sees the jobs behind localCheckpoint
    * boundaries that the final plan's Exchange metrics can't. Record
    * counts are machine-state-independent (unlike seconds), which makes
    * these guards the mechanical tiebreaker between "the bench was
    * noisy" and "the plan regressed": a pair-explosion or lost
    * pre-aggregation multiplies records, never a CPU governor.
    */
  def shuffleRecordsOf(body: => Any): Long = {
    val acc = new java.util.concurrent.atomic.AtomicLong(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        acc.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      // the listener bus is async — poll until the sum is stable
      var prev = -1L; var stable = 0; var waited = 0
      while (stable < 3 && waited < 10000) {
        Thread.sleep(100); waited += 100
        val cur = acc.get
        if (cur == prev) stable += 1 else { stable = 0; prev = cur }
      }
    } finally spark.sparkContext.removeSparkListener(l) // even when body throws
    acc.get
  }

  /** Writes `rows` as (`k`, `ts`) to one parquet file the way a writer
    * outside Spark does: `ts` is int64 TIMESTAMP(NANOS, UTC-adjusted)
    * and the footer carries no Spark schema, so the schema a read takes
    * depends on the session's `nanosAsLong`. */
  def writeNanosParquet(path: String, rows: Seq[(Long, Long)]): Unit = {
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 k; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val groups = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(path)).withType(schema).build()
    try rows.foreach { case (k, ts) => w.write(groups.newGroup().append("k", k).append("ts", ts)) }
    finally w.close()
  }

  /** The reference data lake's bundled inputs (FIXTURES.md §1): read-only,
    * outside the checkout, and absent on machines that lack the copy.
    * Tests that read it skip with `assume(refExists(...))`. */
  val refDir = "/root/reference"

  /** `refDir`-relative path of a reference file or directory. */
  def ref(rel: String): String = s"$refDir/$rel"

  def refExists(rel: String): Boolean = Files.exists(Paths.get(ref(rel)))

  /** Queries that read a fixed reference file instead of `sfDir`, keyed to
    * that file (relative to `refDir`). */
  val fixtureQueries: Map[String, String] =
    Map("q_sas_labels" -> "I94_SAS_Labels_Descriptions.SAS")

  /** False only for a fixture-backed query whose reference file is absent. */
  def fixturePresent(query: String): Boolean =
    fixtureQueries.get(query).forall(refExists)

  /** Every [[SparkEntry.queries]] entry in name order, for whole-query
    * sweeps. A fixture-backed query is left out only when its reference
    * file is absent; every other query is always swept, and a query that
    * throws still fails the sweep. */
  def sweptQueries: Seq[(String, (SparkSession, String) => DataFrame)] =
    SparkEntry.queries.toSeq.sortBy(_._1).filter { case (name, _) => fixturePresent(name) }
}
