package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftExtensions, SparkEntry}
import graft.pipelines.IngestPipeline
import graft.similarity.Ivf
import graft.sources.CheckpointScope

/** The benchmark JVM. `run.py` starts it and times it until it prints
  * READY; it then measures one workload and writes `result.json`: one
  * record per operation and per pass, raw, for run.py to reduce. With
  * `--workload setup` it stops after READY: run.py starts a few of those
  * to time set-up in fresh JVMs.
  *
  * Usage: perfbench.Harness --workload <name> --data <dir>
  *   --out <dir> --cpus <n> --seconds <s> --trace 0|1 --seed <n>
  *   [--queries q1,q2,.. --shuffle 0|1] [--batches <n>]
  */
object Harness {
  type Rec = Map[String, Any]

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = o("out")
    // Set-up = session, GraftExtensions.register and a first job through
    // the SQL engine, in a fresh JVM; run.py times it up to READY.
    def setUp(): SparkSession = {
      val spark = SparkSession.builder()
        .master(s"local[${o("cpus")}]")
        .config("spark.sql.shuffle.partitions", o("cpus"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$out/spark-local")
        .config("spark.sql.warehouse.dir", s"$out/warehouse")
        .config("spark.hadoop.hadoop.tmp.dir", s"$out/hadoop-tmp")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      GraftExtensions.register(spark)
      spark.range(1).selectExpr("id + 1").collect()
      spark
    }
    val spark = setUp()
    println("READY")
    System.out.flush()
    if (o("workload") == "setup") { spark.stop(); return }
    val ctx = Ctx(spark, o("data"), out, o("seconds").toDouble,
      o("trace") == "1", o("seed").toLong)
    val res = o("workload") match {
      case "ingest_stream" => Ingest.run(ctx, o("batches").toInt)
      case _ => Queries.run(ctx, o("queries").split(",").toSeq, o("shuffle") == "1")
    }
    val retained = retainedHeapMb
    Files.writeString(Paths.get(out, "result.json"), Json.render(res ++ Map(
      "peak_rss_mb" -> vmHwmMb, "retained_heap_mb" -> retained)))
    spark.stop()
  }

  /** Peak resident set of this JVM (VmHWM), MB. */
  def vmHwmMb: Double = scala.io.Source.fromFile("/proc/self/status").getLines()
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Heap still in use after full collections: what the workload left
    * behind in the session (cached blocks, plans, listener state), MB.
    * Spark frees blocks of unreachable broadcasts and RDDs, and those a
    * CheckpointScope unpersisted, asynchronously; the pause lets that
    * finish before the last collection. */
  def retainedHeapMb: Double = {
    System.gc(); Thread.sleep(500)
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    m.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def error(e: Throwable): String =
    (e.getClass.getName + ": " + String.valueOf(e.getMessage)).linesIterator.next().take(300)

  final case class Ctx(spark: SparkSession, data: String, out: String,
                       seconds: Double, trace: Boolean, seed: Long) {
    val tr = new Trace(spark)
    private var t0 = 0L
    /** Passes run until `seconds` have elapsed since the first one began.
      * A traced run alternates untraced and traced passes, starting and
      * ending untraced, so a linear trend across passes cancels out of the
      * overhead; it runs at least three. */
    def morePasses(done: Int): Boolean = {
      if (done == 0) t0 = System.nanoTime()
      done == 0 || (trace && (done < 3 || done % 2 == 0)) ||
        (System.nanoTime() - t0) / 1e9 < seconds
    }
    def traced(pass: Int): Boolean = trace && pass % 2 == 1

    /** Run `f` as one timed operation inside its own CheckpointScope; on
      * a traced pass also record the layer counters it moved. */
    def op(traced: Boolean, base: Rec)(f: (() => Unit) => Unit): Rec = {
      val sc = spark.sparkContext
      val before = if (traced) tr.snapshot() else Map.empty[String, Double]
      val pinned0 = sc.getPersistentRDDs.keySet
      var buildEnd = 0L
      val ms0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val err = try {
        CheckpointScope.withScope(sc)(f(() => buildEnd = System.nanoTime()))
        None
      } catch { case e: Throwable => Some(error(e)) }
      val n1 = System.nanoTime()
      val ms1 = System.currentTimeMillis()
      val rec = base ++ Map("traced" -> traced, "wall_s" -> (n1 - n0) / 1e9,
        "ok" -> err.isEmpty, "error" -> err.orNull)
      if (!traced) rec
      else {
        val d = Trace.delta(before, tr.snapshot())
        val buildS = if (buildEnd > 0) (buildEnd - n0) / 1e9 else 0.0
        rec ++ Map(
          "layers" -> d,
          "build_s" -> buildS,
          "build_jobs" -> tr.jobsStartedIn(ms0, ms0 + (buildS * 1e3).toLong),
          "job_union_s" -> tr.jobUnionS(ms0, ms1),
          "pinned_left" -> (sc.getPersistentRDDs.keySet -- pinned0).size)
      }
    }
  }
}

/** star_etl and heavy_analytics: passes over a list of named queries. */
object Queries {
  import Harness._

  /** Passes over `names`, each in a seeded order if `shuffle`, else as
    * listed. */
  def run(ctx: Ctx, names: Seq[String], shuffle: Boolean): Rec = {
    val spark = ctx.spark
    // Untimed check pass: each query's output, for the DuckDB oracle.
    val checkErrors = names.flatMap { q =>
      try {
        CheckpointScope.withScope(spark.sparkContext) {
          SparkEntry.queries(q)(spark, ctx.data).coalesce(1)
            .write.mode("overwrite").parquet(s"${ctx.out}/results/$q")
        }
        None
      } catch { case e: Throwable => Some(q -> error(e)) }
    }.toMap
    Files.writeString(Paths.get(ctx.out, "oracle_sql.json"), Json.render(
      names.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap))

    val ops = ArrayBuffer[Rec]()
    val passes = ArrayBuffer[Rec]()
    var p = 0
    while (ctx.morePasses(p)) {
      val traced = ctx.traced(p)
      if (traced) ctx.tr.attach()
      val order = if (shuffle) new scala.util.Random(ctx.seed * 1000003L + p).shuffle(names)
                  else names
      val t0 = System.nanoTime()
      order.foreach { q =>
        ops += ctx.op(traced, Map("name" -> q, "pass" -> p)) { built =>
          val df = SparkEntry.queries(q)(spark, ctx.data)
          built()
          df.write.format("noop").mode("overwrite").save()
        }
      }
      passes += Map("pass" -> p, "traced" -> traced,
        "wall_s" -> (System.nanoTime() - t0) / 1e9)
      if (traced) ctx.tr.detach()
      p += 1
    }
    Map("ops" -> ops.toSeq, "passes" -> passes.toSeq, "check_errors" -> checkErrors)
  }
}

/** ingest_stream: a series of equal-size batches through
  * `IngestPipeline.processBatch` (exact dedup backend), each followed by
  * the results write, the pipeline's maintenance cadence and a
  * read-after-write `IncrementalDedup.lookupPairs` probe. Every pass
  * starts from empty pipeline state under `<out>/ingest/pass-<p>`; batch
  * and probe `warm-up` only warm the JVM. */
object Ingest {
  import Harness._

  val Threshold = 0.8
  val CompactEvery = 2

  def run(ctx: Ctx, nBatches: Int): Rec = {
    val spark = ctx.spark
    def batch(i: Int): DataFrame =
      spark.read.parquet(if (i < 0) s"${ctx.data}/warm-up/batch.parquet"
                         else f"${ctx.data}/batches/batch-$i%05d.parquet")
        .select(col("doc_id"), col("text"), col("embedding"))
    def probe(i: Int): DataFrame =
      spark.read.parquet(if (i < 0) s"${ctx.data}/warm-up/lookup.parquet"
                         else f"${ctx.data}/lookups/lookup-$i%05d.parquet")
    val centroids = Seq(Ivf.Centroid(0, Seq(0.0, 0, 0, 0)),
      Ivf.Centroid(1, Seq(1.0, 1, 1, 1)))

    def config(root: String) = IngestPipeline.Config(textCol = "text",
      idCol = "doc_id", embCol = "embedding", dedupIndex = s"$root/dedup",
      statsIndex = s"$root/stats", ivfIndex = s"$root/ivf",
      resultsDir = s"$root/results", appId = "perfbench",
      centroids = centroids, threshold = Threshold, compactEvery = CompactEvery)

    // Untimed warm-up: one batch and one lookup through a throwaway
    // pipeline, so the timed series does not pay first-execution compiles.
    val warm = config(s"${ctx.out}/ingest/warm-up")
    CheckpointScope.withScope(spark.sparkContext) {
      IngestPipeline.processBatch(spark, batch(-1), warm, 0L)
        .write.mode("overwrite").partitionBy("__batch").parquet(warm.resultsDir)
      graft.dedup.IncrementalDedup.lookupPairs(spark, warm.dedupIndex, probe(-1),
        "text", "doc_id", Threshold).collect()
    }

    val batches = ArrayBuffer[Rec]()
    val lookups = ArrayBuffer[Rec]()
    val passes = ArrayBuffer[Rec]()
    var p = 0
    while (ctx.morePasses(p)) {
      val traced = ctx.traced(p)
      if (traced) ctx.tr.attach()
      val root = s"${ctx.out}/ingest/pass-$p"
      val cfg = config(root)
      val t0 = System.nanoTime()
      for (i <- 0 until nBatches) {
        val stages = scala.collection.mutable.Map[String, Double]()
        def timed(stage: String)(f: => Unit): Unit = {
          val s0 = System.nanoTime(); f
          stages(stage) = stages.getOrElse(stage, 0.0) + (System.nanoTime() - s0) / 1e9
        }
        val rec = ctx.op(traced, Map("pass" -> p, "batch" -> i)) { _ =>
          val hook = if (traced) Some((s: String, sec: Double) =>
            stages(s) = stages.getOrElse(s, 0.0) + sec) else None
          val out = IngestPipeline.processBatch(spark, batch(i), cfg, i.toLong, hook)
          timed("write")(out.write.mode("overwrite").partitionBy("__batch")
            .parquet(cfg.resultsDir))
          timed("compact")(IngestPipeline.maintenance(spark, cfg, i.toLong))
        }
        batches += (if (traced) rec + ("stages" -> stages.toMap) else rec)
        // read for the check, before the timed lookup
        val probeIds = probe(i).select("doc_id").collect().map(_.getLong(0))
        var hits = Set.empty[Long]
        val look = ctx.op(traced, Map("pass" -> p, "batch" -> i)) { _ =>
          hits = graft.dedup.IncrementalDedup.lookupPairs(spark, cfg.dedupIndex,
              probe(i), "text", "doc_id", Threshold)
            .collect().filter(_.getDouble(2) >= Threshold).map(_.getLong(0)).toSet
        }
        lookups += look + ("missing" -> probeIds.count(id => !hits.contains(id)))
      }
      val wall = (System.nanoTime() - t0) / 1e9
      if (traced) ctx.tr.detach()
      val indexRows = try graft.sources.VersionedTable.read(spark, cfg.dedupIndex).count()
                      catch { case _: Throwable => -1L }
      passes += Map("pass" -> p, "traced" -> traced, "wall_s" -> wall,
        "root" -> root, "dedup_index_rows" -> indexRows)
      p += 1
    }
    Map("ops" -> batches.toSeq, "lookups" -> lookups.toSeq, "passes" -> passes.toSeq)
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
  }
}
