package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Benchmark decontamination for a training corpus: flag corpus documents
  * that share word n-grams with a held-out benchmark/eval set, so they can
  * be dropped before training (the overlap would leak eval answers into
  * the model).
  *
  * Standard practice (the reference has nothing like it; this is
  * north-star pipeline surface) is n-gram collision against the benchmark:
  * a corpus doc is contaminated when it contains >= `minOverlap` distinct
  * n-grams that also occur in some benchmark doc. Production settings use
  * long n-grams (8-13 words) precisely because they are near-unique; the
  * testdata oracle uses n=3 over short synthetic docs.
  *
  * 100 TB shape: the benchmark side is small (10^3..10^6 docs) — its
  * distinct (bench_id, shingle) table is BROADCAST, so the corpus is
  * touched in a single scan-side hash join with no corpus shuffle before
  * the per-pair count. Hot shingles are capped on the BENCH side: a
  * boilerplate n-gram present in > `maxBenchDf` benchmark docs is
  * non-identifying (and would fan every matching corpus row out
  * `benchDf`-fold), so it is dropped before the join — the same
  * common-shingle suppression as [[Dedup.ngramJaccardPairs]].
  */
object Decontaminate {

  /** Pinned shingle width per (table, version, commit identity) — see
    * [[probeBenchIndex]]. The key carries the commit's data-dir UUID
    * (ADVICE r14): "committed versions are immutable" does not survive
    * a table DELETED and rebuilt at the same path to the same version
    * with a different width — a (table, version)-only key would then
    * silently serve the stale width and every contamination probe would
    * shingle at the wrong n. The UUID is minted per commit, so a
    * rebuild always misses the memo. Size-capped (a long-running driver
    * touching many bench indexes must not grow it without bound).
    */
  private val widthMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private val WidthMemoCap = 4096

  /** All (corpus doc, benchmark doc) pairs sharing >= `minOverlap`
    * distinct word n-grams. Columns: doc_id, bench_id, n_overlap.
    *
    * [[Dedup.shingles]] emits DISTINCT shingles per doc, so after explode
    * both sides are unique on (id, shingle) and a plain count equals the
    * distinct-intersection size.
    */
  def overlapPairs(corpus: DataFrame, bench: DataFrame,
                   textCol: String, idCol: String,
                   benchTextCol: String, benchIdCol: String,
                   n: Int = 3, minOverlap: Int = 2,
                   maxBenchDf: Int = 1000): DataFrame = {
    val bsh = bench.select(col(benchIdCol).cast("long").as("bench_id"),
      explode(Dedup.shingles(lower(col(benchTextCol)), n)).as("s"))
    // Bench-side DF cap: window shares the hash partitioning of the
    // subsequent broadcast build; the bench table is small so this is a
    // cheap pre-pass, and it bounds join fan-out for every corpus row.
    val capped = bsh
      .withColumn("__df", count(lit(1)).over(Window.partitionBy(col("s"))))
      .filter(col("__df") <= maxBenchDf)
      .drop("__df")
    overlapsWith(capped, corpus, textCol, idCol, n, minOverlap)
  }

  /** The (doc_id, bench_id, n_overlap) pairs of `corpus` docs sharing
    * >= `minOverlap` distinct n-grams with the broadcast `(s, bench_id)`
    * shingle table `benchSide`. */
  private def overlapsWith(benchSide: DataFrame, corpus: DataFrame,
                           textCol: String, idCol: String,
                           n: Int, minOverlap: Int): DataFrame =
    corpus.select(col(idCol).cast("long").as("doc_id"),
        explode(Dedup.shingles(lower(col(textCol)), n)).as("s"))
      .join(broadcast(benchSide), "s")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).cast("long").as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)

  /** [[flag]]'s verdict from overlap `pairs`: each doc's worst benchmark
    * doc (highest overlap, then lowest bench id), with every clean
    * `corpus` doc kept as nulls when `keepClean`. */
  private def worstPerDoc(pairs: DataFrame, corpus: DataFrame, idCol: String,
                          keepClean: Boolean): DataFrame = {
    val worst = pairs.groupBy(col("doc_id"))
      .agg(max(col("n_overlap")).as("max_overlap"),
        min_by(col("bench_id"),
          struct((-col("n_overlap")).as("neg"), col("bench_id"))).as("worst_bench_id"))
      .withColumn("contaminated", lit(true))
    if (!keepClean) worst
    else corpus.select(col(idCol).cast("long").as("doc_id"))
      .join(worst, Seq("doc_id"), "left")
      .na.fill(Map("contaminated" -> false))
  }

  /** Per-corpus-doc verdict: worst overlapping benchmark doc and whether
    * the doc should be dropped. Columns: doc_id, contaminated,
    * max_overlap, worst_bench_id (nulls for clean docs if `keepClean`).
    */
  def flag(corpus: DataFrame, bench: DataFrame,
           textCol: String, idCol: String,
           benchTextCol: String, benchIdCol: String,
           n: Int = 3, minOverlap: Int = 2,
           maxBenchDf: Int = 1000, keepClean: Boolean = true): DataFrame =
    worstPerDoc(overlapPairs(corpus, bench, textCol, idCol,
      benchTextCol, benchIdCol, n, minOverlap, maxBenchDf), corpus, idCol, keepClean)

  /** Build the PERSISTED benchmark fingerprint index — the ingest face
    * of decontamination: the capped `(s, bench_id)` shingle table is
    * computed ONCE (eval sets change rarely) and committed as a
    * [[graft.sources.VersionedTable]]; every ingest batch then probes
    * it ([[probeBenchIndex]]) without re-shingling the benchmark. The
    * shingle width `n` is stored IN the rows (a constant column, free
    * under RLE) rather than in a sidecar file, so the probe can never
    * read rows shingled under one width with metadata claiming another
    * — the data and its geometry commit atomically, no intent protocol
    * needed. Rebuilds are overwrites (quiesce probes across an
    * n-changing rebuild, or pin probe versions); returns the committed
    * version.
    */
  def buildBenchIndex(spark: org.apache.spark.sql.SparkSession,
                      bench: DataFrame, textCol: String, idCol: String,
                      table: String, n: Int = 3,
                      maxBenchDf: Int = 1000): Long = {
    val bsh = bench.select(col(idCol).cast("long").as("bench_id"),
      explode(Dedup.shingles(lower(col(textCol)), n)).as("s"))
    val (capped, rows) = graft.sources.CheckpointScope.pinMeasured(bsh
      .withColumn("__df", count(lit(1)).over(Window.partitionBy(col("s"))))
      .filter(col("__df") <= maxBenchDf)
      .select(col("s"), col("bench_id"), lit(n).as("n")), count(lit(1)))
    val files = math.max(1L, rows / 400000L).toInt
    graft.sources.VersionedTable.commit(
      (if (files <= 1) capped.coalesce(1)
       else capped.repartitionByRange(files, col("s")))
        .sortWithinPartitions(col("s")),
      table, "overwrite", None, None, expectedVersion = None)
  }

  /** Per-batch contamination gate against a persisted benchmark index —
    * [[flag]]'s semantics served by [[buildBenchIndex]]'s table: the
    * batch is shingled at the INDEX's pinned width, the (small by
    * contract — an eval set, not a corpus) index side broadcasts, and
    * each doc gets its worst-overlapping benchmark doc. `version` pins
    * the index snapshot (default latest); the index is a STATIC input
    * like pinned centroids — a rebuild mid-stream changes what a
    * replayed batch reports, so rebuild at a quiesce or pass an
    * explicit version from the ingest loop. Output matches [[flag]]:
    * `doc_id, max_overlap, worst_bench_id, contaminated` (clean docs
    * present with nulls when `keepClean`).
    */
  def probeBenchIndex(spark: org.apache.spark.sql.SparkSession,
                      corpus: DataFrame, textCol: String, idCol: String,
                      table: String, minOverlap: Int = 2,
                      version: Option[Long] = None,
                      keepClean: Boolean = true): DataFrame = {
    val ver = version.getOrElse(
      graft.sources.VersionedTable.latestVersion(table))
    require(ver >= 0, s"no benchmark index at $table — buildBenchIndex first")
    val idx = graft.sources.VersionedTable.readVersion(spark, table, ver)
    // pinned shingle width, read ONCE per commit identity per JVM: a
    // probe-per-batch ingest gate must not pay a distinct-shuffle job
    // for a constant (ADVICE r13) — one min/max agg (map-side, no
    // exchange) keeps the mixed-width refusal, and the memo makes later
    // batches free. Keyed by the snapshot's newest data-dir UUID, not
    // just (table, version): a delete-and-rebuild reaching the same
    // version mints a fresh UUID, so a stale width is never served
    val fp = graft.sources.VersionedTable.snapshotClosure(table, ver)
      .last.dataDir
    if (widthMemo.size > WidthMemoCap) widthMemo.clear()
    val n = widthMemo.computeIfAbsent(s"$table@$ver@$fp", { _ =>
      val mm = idx.agg(min(col("n")), max(col("n"))).head()
      require(mm.getInt(0) == mm.getInt(1),
        s"mixed shingle widths in $table: ${mm.getInt(0)}..${mm.getInt(1)} — rebuild")
      Integer.valueOf(mm.getInt(0))
    })
    worstPerDoc(overlapsWith(idx.select(col("s"), col("bench_id")), corpus,
      textCol, idCol, n, minOverlap), corpus, idCol, keepClean)
  }
}
