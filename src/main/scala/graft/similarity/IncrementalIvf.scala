package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

/** Incremental IVF: the persisted, append-only face of [[Ivf]] — the
  * embedding-side mirror of [[graft.dedup.IncrementalDedup]]. A 100 TB
  * vector corpus is not re-indexed because a batch arrived: centroids
  * are trained ONCE (on the first ingest, or any representative
  * sample), pinned, and every later batch is assigned scan-side against
  * those pinned centroids and APPENDED to a
  * [[graft.sources.VersionedTable]] — ingest N+1 never re-assigns or
  * re-reads ingest N. Per-batch cost is O(batch × nCells × dim), all
  * map-side.
  *
  * Index row schema: `id: long, cell_id: int, vec: array<double>,
  * batch: long` — plus `codes: array<int>` when a PQ codebook is
  * pinned (r13). Storing the assignment (not just the vector) is the
  * incremental win at query time too: search filters `cell_id` on the
  * SCAN — written out partitioned/bucketed by `cell_id` the probe
  * becomes partition pruning — instead of re-running the argmin over
  * the whole corpus per query. With codes stored, [[searchTopKAdc]]
  * never reads the float vectors at all: at 100 TB the raw embeddings
  * ARE the scan cost, and the m-byte codes column under a pinned
  * codebook is what makes the probe read nProbe/nCells of almost
  * nothing.
  *
  * Pinned centroids drift as the distribution shifts; [[assignStats]]
  * is the refusal-style guard (the adaptive-dedup pattern): per-batch
  * mean/max assignment distance, compared across batches, says
  * "retrain" BEFORE recall silently decays. Retraining writes a new
  * index (new table), cut over atomically by the caller — the old
  * index stays queryable throughout (time travel preserves even its
  * history).
  */
object IncrementalIvf {

  /** Assign `batch` against the pinned centroids and append it to the
    * index atomically. `(txnApp, txn)` makes re-ingest idempotent
    * ([[VersionedTable.txnPin]]): a replayed batch appends nothing.
    *
    * With `codebook` the rows also carry the PQ codes
    * (`codes: array<int>`, [[Pq.encodeCol]] against the pinned
    * codebook) — the 100 TB query path: [[searchTopKAdc]] then answers
    * probes from `(id, cell_id, codes)` alone and NEVER reads the
    * float vectors, which at scale are the scan cost
    * (SCALING.md's own argument; VERDICT r12 missing #2). The codebook
    * is PINNED like the centroids: the first codes-carrying append
    * saves it to `<table>_codebook`, every later one is checked
    * against the saved copy and refuses loudly on drift — codes
    * encoded under two different codebooks in one table would silently
    * corrupt every ADC distance.
    */
  def addBatch(spark: SparkSession, batch: DataFrame, embCol: String,
               idCol: String, cents: Seq[Ivf.Centroid], table: String,
               batchId: Long, txnApp: Option[String] = None,
               txn: Option[Long] = None,
               codebook: Option[Pq.Codebook] = None): Unit = {
    if (!VersionedTable.txnPin(table, txnApp, txn).replayed) {
      codebook.foreach(pinCodebook(spark, _, codebookTable(table)))
      val base = batch
        .select(col(idCol).cast("long").as("id"),
          Similarity.toDouble(col(embCol)).cast("array<double>").as("vec"))
        .withColumn("cell_id", Ivf.assignCell(col("vec"), cents))
      val rows = codebook.fold(
        base.select(col("id"), col("cell_id"),
          col("vec").cast("array<double>").as("vec"),
          lit(batchId).as("batch")))(cb =>
        base.select(col("id"), col("cell_id"),
          col("vec").cast("array<double>").as("vec"),
          Pq.encodeCol(col("vec"), cb).cast("array<int>").as("codes"),
          lit(batchId).as("batch")))
        // CLUSTER the append by cell: one shuffle of the batch (O(batch),
        // the cost an ingest already pays elsewhere) makes every data
        // file's row groups carry tight cell_id min/max stats, so
        // searchTopK's `cell_id IN (probes)` pushdown PRUNES unprobed
        // cells at the parquet scan — the probe reads ~nProbe/nCells of
        // the index instead of filtering a full scan. This is the
        // file-layout half of the partition-pruning story SCALING.md
        // describes; unclustered legacy commits still read correctly
        // (stats just span all cells and prune nothing).
        .repartition(col("cell_id"))
        .sortWithinPartitions(col("cell_id"))
      VersionedTable.commit(rows, table, "append", txn, txnApp,
        expectedVersion = None)
    }
  }

  /** Top-k cosine over the persisted index at `version` (default:
    * latest): probe the nProbe cells nearest the query (computed
    * driver-side over the centroid table), exact-cosine only rows whose
    * STORED `cell_id` is probed. Output: `id, cos_sim`.
    */
  def searchTopK(spark: SparkSession, table: String,
                 cents: Seq[Ivf.Centroid], query: DataFrame,
                 queryEmbCol: String, k: Int, nProbe: Int,
                 version: Option[Long] = None): DataFrame = {
    val df = VersionedTable.read(spark, table, version)
    val qVec = Ivf.queryVector(query, queryEmbCol)
    val probes = Ivf.nearestCellIds(cents, qVec, nProbe)
    val q = broadcast(query
      .select(Similarity.toDouble(col(queryEmbCol)).as("__q"))
      .withColumn("__qn", Similarity.norm(col("__q"))))
    df.select(col("id"), col("cell_id"), col("vec"))
      .filter(col("cell_id").isin(probes: _*))
      .crossJoin(q)
      .select(col("id"),
        round(graft.functions.DotProduct.dotProduct(col("vec"), col("__q"))
          / (Similarity.norm(col("vec")) * col("__qn")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("id"))
      .limit(k)
  }

  /** Structured Streaming ingest: each micro-batch is assigned against
    * the pinned centroids and appended with `(appId, batchId)` txn
    * identity, so checkpoint replays append nothing — the index is
    * exactly-once. The vector stream becomes a continuously queryable
    * ANN index (each committed version a consistent snapshot).
    */
  def streamingSink(vecs: DataFrame, embCol: String, idCol: String,
                    cents: Seq[Ivf.Centroid], table: String, appId: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        addBatch(batch.sparkSession, batch, embCol, idCol, cents, table,
          batchId, txnApp = Some(appId), txn = Some(batchId))
    }

  /** Embedding-cosine near-duplicate probe of a whole BATCH against the
    * persisted index — the semantic-dedup ingest gate: for each batch
    * doc, the single best indexed neighbour (highest exact cosine, ties
    * to the lower id) among the rows of its `nProbe` nearest cells,
    * kept only when that cosine (rounded to 6, the oracle grid) clears
    * `threshold`. Output: `id, near_id, cos_sim` — at most one row per
    * batch doc; docs with no neighbour over the bar are absent (the
    * caller left-joins).
    *
    * Distributed end to end, unlike [[searchTopK]]'s one-vector
    * driver-side probe: cell assignment is the scan-side
    * [[Ivf.probeCells]] expression, candidates come from ONE `cell_id`
    * equi-join, and the probed-cell set (≤ nCells ints — the centroid
    * seq is already driver-sized) is collected and PUSHED into the
    * index scan so the cell-clustered layout prunes unprobed row
    * groups, exactly as searchTopK's plan does. The read pins
    * `version` (default latest), so an ingest gate evaluating lazily
    * after its own batch commits stays pure — same rule as every other
    * pinned index read. Recall is IVF's contract: a true neighbour
    * assigned to an unprobed cell is missed; raise `nProbe` to trade
    * read volume for recall.
    */
  def nearDupPairs(spark: SparkSession, batch: DataFrame, embCol: String,
                   idCol: String, cents: Seq[Ivf.Centroid], table: String,
                   threshold: Double, nProbe: Int = 1,
                   version: Option[Long] = None,
                   batchRows: Option[Long] = None): DataFrame = {
    val ver = version.getOrElse(VersionedTable.latestVersion(table))
    if (ver < 0) {
      val sp = spark; import sp.implicits._
      return Seq.empty[(Long, Long, Double)].toDF("id", "near_id", "cos_sim")
    }
    val cand = nearDupPairsCandidates(spark, batch, embCol, idCol, cents,
        table, nProbe, Some(ver), batchRows)
      .filter(col("cos_sim") >= threshold)
    import org.apache.spark.sql.expressions.Window
    cand.withColumn("__rn", row_number().over(Window.partitionBy(col("id"))
        .orderBy(col("cos_sim").desc, col("near_id"))))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Spec hooks: the coarse codes-only scan and the candidate-pruned
    * float fetch of the last [[nearDupPairsAdc]] on this JVM — plan
    * asserts pin that the coarse leg NEVER reads `vec` and the re-rank
    * leg reads only the surviving candidates. Test-introspection only.
    */
  private[graft] var lastAdcCoarseScan: Option[DataFrame] = None
  private[graft] var lastAdcRerankScan: Option[DataFrame] = None

  /** The CODED face of [[nearDupPairs]] — the 100 TB semantic gate: a
    * two-phase probe over a codes-carrying index (rows appended with
    * `addBatch(codebook = ...)`) that never reads the index's float
    * vectors except for the handful of candidates that survive the
    * coarse phase.
    *
    *   1. COARSE: each probe doc computes its m×k ADC lookup table
    *      scan-side ([[Pq.adcLutCol]]), joins the probed cells' rows
    *      reading `(id, cell_id, codes)` ONLY, and keeps its
    *      `adcCandidates` nearest candidates by ADC distance (ties →
    *      lower id). At scale this phase's read is nProbe/nCells of an
    *      m-byte code column — the raw embeddings, which ARE the scan
    *      cost at 100 TB, stay unread.
    *   2. RE-RANK: the survivors' float vectors are fetched
    *      candidate-pruned (bounded In-pushdown on `id`, the doc-store
    *      fetch discipline; an id semi-join past the bound), the exact
    *      rounded cosine is computed for those pairs only, and the
    *      float path's threshold + (cos desc, id asc) top-1 rule
    *      finishes identically.
    *
    * Output and semantics match [[nearDupPairs]] whenever each probe's
    * true best ≥-threshold neighbour ranks within `adcCandidates` by
    * ADC in a probed cell — the recall contract is (nProbe, ADC top-R):
    * raise `adcCandidates` to trade re-rank fetch volume for coarse
    * recall, exactly as nProbe trades scan volume for cell recall.
    */
  def nearDupPairsAdc(spark: SparkSession, batch: DataFrame, embCol: String,
                      idCol: String, cents: Seq[Ivf.Centroid], table: String,
                      threshold: Double, cb: Pq.Codebook,
                      adcCandidates: Int = 32, nProbe: Int = 1,
                      version: Option[Long] = None,
                      batchRows: Option[Long] = None): DataFrame = {
    require(adcCandidates >= 1, s"adcCandidates must be >= 1, got $adcCandidates")
    val ver = version.getOrElse(VersionedTable.latestVersion(table))
    if (ver < 0) {
      val sp = spark; import sp.implicits._
      return Seq.empty[(Long, Long, Double)].toDF("id", "near_id", "cos_sim")
    }
    val snap = VersionedTable.readVersion(spark, table, ver)
    require(snap.columns.contains("codes"),
      s"$table carries no PQ codes at version $ver — the coded gate reads " +
        "codes only; append with addBatch(codebook = ...) or use the " +
        "float-path nearDupPairs")
    // one probe-side materialization feeds everything: the probed-cell
    // collect, the coarse join (cells + LUT), and the re-rank (vector +
    // norm) — the batch is scanned once however many consumers follow
    val q0 = batch
      .select(col(idCol).cast("long").as("id"),
        Similarity.toDouble(col(embCol)).cast("array<double>").as("__q"))
      .withColumn("__cells", Ivf.probeCells(col("__q"), cents, nProbe))
      .withColumn("__qn", Similarity.norm(col("__q")))
      .withColumn("__lut", Pq.adcLutCol(col("__q"), cb))
      .localCheckpoint()
    val cells = q0.select(explode(col("__cells")).as("c")).distinct()
      .collect().map(_.getInt(0)).toSeq // bounded by nCells
    val idxCodes = snap
      .select(col("id").as("near_id"), col("cell_id"), col("codes"))
    val prunedCodes =
      if (cells.isEmpty) idxCodes.filter(lit(false))
      else idxCodes.filter(col("cell_id").isin(cells: _*))
    lastAdcCoarseScan = Some(prunedCodes)
    // coarse ADC top-R per probe: the join projection computes the
    // m-lookup fold and immediately drops the LUT, so the window
    // exchange shuffles slim (id, near_id, __adc) rows — never the
    // probe vectors or tables
    // the exploded coarse frame has batch × nProbe rows, each carrying
    // the m×k LUT — the byte-heavy face of the broadcast bound
    val coarse = probeSide(q0
        .select(col("id"), explode(col("__cells")).as("cell_id"), col("__lut")),
        adcProbeRowBytes(cb), batchRows.map(_ * nProbe))
      .join(prunedCodes, Seq("cell_id"))
      .filter(col("near_id") =!= col("id"))
      .select(col("id"), col("near_id"),
        Pq.adcDistFromLut(col("codes"), col("__lut")).as("__adc"))
    import org.apache.spark.sql.expressions.Window
    val surv = coarse
      .withColumn("__rn", row_number().over(Window.partitionBy(col("id"))
        .orderBy(col("__adc"), col("near_id"))))
      .filter(col("__rn") <= adcCandidates)
      .select(col("id"), col("near_id"))
      .localCheckpoint() // feeds the candidate-id collect AND the join
    // candidate-pruned float fetch: bounded In-pushdown (row-group
    // pruning on the id-clustered layout); id semi-join past the bound
    // — never a wrong answer, just unpruned
    val candIds = surv.select(col("near_id")).distinct()
      .limit(graft.dedup.IncrementalDedup.MaxPayloadIdCollect + 1).collect()
      .map(_.getLong(0))
    val vecs = snap.select(col("id").as("near_id"), col("vec"))
    val fetched =
      if (candIds.isEmpty) vecs.filter(lit(false))
      else if (candIds.length <= graft.dedup.IncrementalDedup.MaxPayloadIdCollect)
        vecs.filter(col("near_id").isin(candIds.toSeq: _*))
      else vecs.join(surv.select(col("near_id")).distinct(), Seq("near_id"),
        "leftsemi")
    lastAdcRerankScan = Some(fetched)
    val cand = surv
      .join(q0.select(col("id"), col("__q"), col("__qn")), Seq("id"))
      .join(fetched, Seq("near_id"))
      .select(col("id"), col("near_id"),
        round(graft.functions.DotProduct.dotProduct(col("vec"), col("__q"))
          / (Similarity.norm(col("vec")) * col("__qn")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
    cand.withColumn("__rn", row_number().over(Window.partitionBy(col("id"))
        .orderBy(col("cos_sim").desc, col("near_id"))))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Preflight for the semantic near-dup gate: the measured fraction of
    * CANDIDATE pairs a probe admits at `threshold` over a bounded,
    * deterministic sample of the index probing itself — the guard that
    * turns the r13 degenerate-regime finding (a collapsed embedding
    * space where ANY usable threshold admits a constant fraction of the
    * corpus, so the gate's top-1 window ingests O(batch × index) pairs)
    * into engine behavior instead of operator folklore. Cost is
    * bounded: `sampleProbes` probe vectors (the lowest-id rows — a
    * column-pruned TakeOrdered, no shuffle) against their probed cells
    * only. Returns 0.0 when the sample yields no candidate pairs.
    */
  def semanticAdmissionFraction(spark: SparkSession, table: String,
                                cents: Seq[Ivf.Centroid], threshold: Double,
                                nProbe: Int = 1, sampleProbes: Int = 64,
                                version: Option[Long] = None): Double = {
    val ver = version.getOrElse(VersionedTable.latestVersion(table))
    if (ver < 0) return 0.0
    val probes = VersionedTable.readVersion(spark, table, ver)
      .select(col("id"), col("vec"))
      .orderBy(col("id")).limit(sampleProbes)
    val pairs = nearDupPairsCandidates(spark, probes, "vec", "id", cents,
      table, nProbe, Some(ver), batchRows = Some(sampleProbes.toLong))
    val agg = pairs
      .agg(count(lit(1)).as("n"),
        sum(when(col("cos_sim") >= threshold, 1L).otherwise(0L)).as("adm"))
      .head()
    val n = agg.getLong(0)
    if (n == 0L) 0.0 else agg.getLong(1).toDouble / n
  }

  /** All (probe, candidate, exact rounded cosine) rows of a batch's
    * probed cells — [[nearDupPairs]] WITHOUT the threshold filter and
    * top-1 window (its candidate stage, exposed for admission
    * measurement).
    */
  private def nearDupPairsCandidates(spark: SparkSession, batch: DataFrame,
                                     embCol: String, idCol: String,
                                     cents: Seq[Ivf.Centroid], table: String,
                                     nProbe: Int, version: Option[Long],
                                     batchRows: Option[Long] = None): DataFrame = {
    val ver = version.getOrElse(VersionedTable.latestVersion(table))
    val q = batch
      .select(col(idCol).cast("long").as("id"),
        Similarity.toDouble(col(embCol)).cast("array<double>").as("__q"))
      .withColumn("cell_id",
        explode(Ivf.probeCells(col("__q"), cents, nProbe)))
      .withColumn("__qn", Similarity.norm(col("__q")))
      .localCheckpoint()
    val cells = q.select(col("cell_id")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val idx = VersionedTable.readVersion(spark, table, ver)
      .select(col("id").as("near_id"), col("cell_id"), col("vec"))
    val pruned =
      if (cells.isEmpty) idx.filter(lit(false))
      else idx.filter(col("cell_id").isin(cells: _*))
    probeSide(q, floatProbeRowBytes(cents), batchRows.map(_ * nProbe))
      .join(pruned, Seq("cell_id"))
      .filter(col("near_id") =!= col("id"))
      .select(col("id"), col("near_id"),
        round(graft.functions.DotProduct.dotProduct(col("vec"), col("__q"))
          / (Similarity.norm(col("vec")) * col("__qn")), 6).as("cos_sim"))
  }

  /** Probe batches at or under this row count are BROADCAST into the
    * candidate join; see [[probeSide]]. ~256k rows of 64-dim doubles +
    * probe metadata ≈ 150 MB — comfortably a driver/executor broadcast,
    * far past any micro-batch.
    */
  val MaxProbeBroadcastRows: Long = 1L << 18

  /** Byte budget for the probe-side broadcast — the second axis of the
    * bound (ADVICE r14): [[MaxProbeBroadcastRows]] alone only accounts
    * for the float path's slim rows, but the CODED path's probe frame
    * carries a per-row m×k ADC lookup table, so bytes scale with the
    * codebook, not just rows — at m=64, k=256 each row adds ~128 KB and
    * a near-row-bound batch would broadcast hundreds of GB. The
    * effective row bound is min(rows bound, bytes bound / bytes-per-row)
    * so BOTH faces stay inside one executor-broadcast budget.
    */
  val MaxProbeBroadcastBytes: Long = 150L << 20

  /** Pin the PROBE side as the candidate join's build side — the r13
    * gates-on drift, attributed r14: left to estimates, Catalyst sized
    * the probe leg from its UPSTREAM plan (a pipeline's docs snapshot
    * descends from a corpus-scale scan + join, so its checkpoint
    * inherits a huge sizeInBytes even though it holds one micro-batch)
    * and flipped the build side to the INDEX leg — re-broadcasting the
    * ENTIRE pruned index every batch, a per-probe cost that grows
    * O(index) forever (+1 s/batch measured; the differential plan pair
    * is in BENCH_PIPELINE_GATES_r14.json). The probe side is the
    * bounded side BY CONTRACT (a micro-batch vs an unbounded index), so
    * under [[MaxProbeBroadcastRows]] AND [[MaxProbeBroadcastBytes]]
    * (rows × `bytesPerRow` — the caller states the frame's real row
    * width, LUT included) it is hinted broadcast. `knownRows` spares
    * the sizing count when the caller already knows the batch size (an
    * ingest pipeline counts its snapshot once anyway — the gate then
    * adds zero extra jobs); absent, one local scan of the probe
    * checkpoint decides. A probe PAST either bound (bulk backfill, or a
    * wide-codebook ADC frame) falls back to planner choice: at that
    * scale the asymmetry that justifies the pin no longer holds.
    */
  private def probeSide(q: DataFrame, bytesPerRow: Long,
                        knownRows: Option[Long] = None): DataFrame = {
    val rows = knownRows.getOrElse(q.count())
    if (rows <= probeBroadcastRowBound(bytesPerRow)) broadcast(q) else q
  }

  /** The effective probe-broadcast row bound for a frame of
    * `bytesPerRow`-wide rows: min(row bound, byte budget / row width).
    * Exposed for the spec that pins the ADVICE-r14 arithmetic.
    */
  private[graft] def probeBroadcastRowBound(bytesPerRow: Long): Long =
    math.min(MaxProbeBroadcastRows,
      MaxProbeBroadcastBytes / math.max(1L, bytesPerRow))

  /** Conservative on-wire bytes of one float-path probe row: the query
    * vector (`dim` doubles) + id/cell/norm + array headers. */
  private[graft] def floatProbeRowBytes(cents: Seq[Ivf.Centroid]): Long =
    8L * cents.headOption.map(_.values.length).getOrElse(64) + 64L

  /** Conservative on-wire bytes of one coded-path coarse probe row: the
    * m×k ADC LUT doubles dominate; id/cell/headers ride along. */
  private[graft] def adcProbeRowBytes(cb: Pq.Codebook): Long =
    8L * cb.m * cb.k + 64L

  /** Centroids persisted as a VersionedTable (`cell_id: int, values:
    * array<double>`) so a restarted query/ingest process can reload the
    * pinned centroids its index rows were assigned under — and time
    * travel pairs an old index snapshot with the exact centroid set of
    * its era after a [[retrain]] cutover.
    */
  def saveCentroids(spark: SparkSession, cents: Seq[Ivf.Centroid],
                    table: String): Long = {
    import spark.implicits._
    VersionedTable.commit(
      cents.map(c => (c.cellId, c.values)).toDF("cell_id", "values"),
      table, "overwrite", None, None, expectedVersion = None)
  }

  def loadCentroids(spark: SparkSession, table: String,
                    version: Option[Long] = None): Seq[Ivf.Centroid] = {
    val df = VersionedTable.read(spark, table, version)
    df.select(col("cell_id"), col("values")).collect()
      .map(r => Ivf.Centroid(r.getInt(0), r.getSeq[Double](1)))
      .sortBy(_.cellId).toSeq
  }

  /** Path of the pinned-codebook table kept beside a codes-carrying
    * index: `<table>_codebook`. Row schema: `s: int, code: int,
    * values: array<double>` — one row per (subspace, code) centroid.
    */
  def codebookTable(table: String): String =
    table.stripSuffix("/") + "_codebook"

  /** Persist a PQ codebook (overwrite — cutover happens with
    * [[retrain]], never by mutating a live codebook in place).
    */
  def saveCodebook(spark: SparkSession, cb: Pq.Codebook,
                   table: String): Long = {
    import spark.implicits._
    VersionedTable.commit(
      (for { s <- 0 until cb.m; c <- 0 until cb.k }
        yield (s, c, cb.cents(s)(c))).toDF("s", "code", "values"),
      table, "overwrite", None, None, expectedVersion = None)
  }

  def loadCodebook(spark: SparkSession, table: String,
                   version: Option[Long] = None): Pq.Codebook = {
    val df = VersionedTable.read(spark, table, version)
    val rows = df.select(col("s"), col("code"), col("values")).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toIndexedSeq)
      .toMap
    val m = rows.keys.map(_._1).max + 1
    val k = rows.keys.map(_._2).max + 1
    Pq.Codebook(m, k, rows((0, 0)).length,
      (0 until m).map(s => (0 until k).map(c => rows((s, c)))))
  }

  /** The codebook pinning discipline (mirrors the centroid table): the
    * FIRST codes-carrying append saves the codebook; every later one
    * must match the saved copy exactly — parquet round-trips doubles
    * bit-exactly, so structural equality is the right check — because
    * codes encoded under two codebooks in one table would silently
    * corrupt every ADC distance. Refuses loudly on drift; [[retrain]]
    * is the sanctioned cutover (new table, new codebook, atomic per
    * client).
    *
    * First-writer-wins under concurrency: the first save is pinned to
    * land at version 0 (`expectedVersion = Some(-1)`), so two racing
    * first appends with DIFFERENT codebooks cannot clobber each other
    * — the loser's conflict exception re-reads the landed codebook and
    * either proceeds (same content) or refuses loudly, BEFORE its
    * index rows commit codes encoded under the losing codebook.
    */
  private def pinCodebook(spark: SparkSession, cb: Pq.Codebook,
                          table: String): Unit = {
    def requireSame(): Unit = require(loadCodebook(spark, table) == cb,
      s"codebook drift: the codebook passed to addBatch differs from the " +
        s"one pinned in $table — retrain to a NEW table to change codebooks")
    if (VersionedTable.latestVersion(table) < 0) {
      import spark.implicits._
      try VersionedTable.commit(
        (for { s <- 0 until cb.m; c <- 0 until cb.k }
          yield (s, c, cb.cents(s)(c))).toDF("s", "code", "values"),
        table, "overwrite", None, None, expectedVersion = Some(-1L))
      catch {
        case _: java.util.ConcurrentModificationException => requireSame()
      }
    } else requireSame()
  }

  /** Top-k by asymmetric-distance computation over the persisted index
    * at `version`: probe the nProbe nearest cells, rank by the ADC
    * fold over the STORED codes. The scan reads `(id, cell_id, codes)`
    * ONLY — never the float vectors, which is the point at 100 TB: the
    * probe's read is nProbe/nCells of an m-byte-per-row code column,
    * not of the raw embeddings. Output: `id, adc_dist` (ties → lowest
    * id), exactly [[Pq.adcTopK]]'s contract over the probed cells.
    */
  def searchTopKAdc(spark: SparkSession, table: String,
                    cents: Seq[Ivf.Centroid], cb: Pq.Codebook,
                    query: DataFrame, queryEmbCol: String, k: Int,
                    nProbe: Int, version: Option[Long] = None): DataFrame = {
    val df = VersionedTable.read(spark, table, version)
    val qVec = Ivf.queryVector(query, queryEmbCol)
    val probes = Ivf.nearestCellIds(cents, qVec, nProbe)
    df.select(col("id"), col("cell_id"), col("codes"))
      // codes can only be null for a row whose embedding was null at
      // ingest (the append-schema contract forbids mixing codeless and
      // coded commits in one table); a null ADC distance would sort
      // NULLS FIRST and poison the top-k, so such rows are excluded —
      // and the IsNotNull pushes to the scan for free
      .filter(col("cell_id").isin(probes: _*) && col("codes").isNotNull)
      .select(col("id"), Pq.adcDistCol(col("codes"), cb, qVec).as("adc_dist"))
      .orderBy(col("adc_dist"), col("id"))
      .limit(k)
  }

  final case class RetrainResult(cents: Seq[Ivf.Centroid],
                                 newVersion: Long,
                                 centroidsVersion: Long,
                                 sourceVersion: Long,
                                 codebook: Option[Pq.Codebook] = None)

  /** Retrain-and-cutover (the answer to [[assignStats]] saying the
    * pinned centroids have drifted): train FRESH centroids on a sample
    * of the current index snapshot, re-assign the whole snapshot in ONE
    * distributed pass, and commit it to `newTable` (version 0 of a new
    * index) with the new centroids in `<newTable>_centroids`. The old
    * index is never touched — it stays queryable (and time-travelable)
    * during and after the retrain; the caller cuts clients over to
    * `(newTable, result.cents)` when ready, which is atomic per client.
    *
    * Cost shape at 100 TB: training is O(sample × iters) (the sample
    * fraction bounds the Lloyd's scans), the re-assign is one map-side
    * pass over the snapshot (O(corpus × nCells × dim), no shuffle — the
    * same per-row work an original bulk build pays once), and the
    * commit is the parquet write. Nothing is quadratic and nothing
    * iterates over the full corpus more than the one re-assign pass.
    *
    * Concurrency: the snapshot is PINNED at `sourceVersion` before
    * training. Batches appended to the OLD table after that version are
    * not in the new index — either quiesce ingest across the cutover,
    * or replay the tail (`VersionedTable.changesBetween` /
    * re-[[addBatch]] with the same txn identities, which is idempotent
    * on the new table too).
    */
  /** PQ leg of a [[retrain]]: train an (m, k) codebook with `iters`
    * Lloyd steps on the same snapshot sample and store codes beside
    * the re-assigned cells.
    */
  final case class PqSpec(m: Int, k: Int, iters: Int = 0)

  def retrain(spark: SparkSession, table: String, newTable: String,
              nCells: Int, iters: Int, sampleFraction: Double,
              seed: Long = 42L, quantize: Option[Int] = None,
              pq: Option[PqSpec] = None): RetrainResult = {
    require(sampleFraction > 0.0 && sampleFraction <= 1.0,
      s"sampleFraction must be in (0, 1], got $sampleFraction")
    val sourceVersion = VersionedTable.latestVersion(table)
    require(sourceVersion >= 0, s"nothing to retrain: $table is empty")
    val snap = VersionedTable.readVersion(spark, table, sourceVersion)
      .select(col("id"), col("vec"))
    val sample =
      if (sampleFraction >= 1.0) snap
      else snap.sample(withReplacement = false, sampleFraction, seed)
    val cents = Ivf.trainCentroids(sample, "vec", "id", nCells, iters, quantize)
    // the codebook cuts over WITH the centroids: both are trained on
    // the same pinned sample and land pinned beside the new table, so
    // a client that switches to (newTable, cents, cb) can never mix
    // eras of either
    val cb = pq.map(p => Pq.train(sample, "vec", "id", p.m, p.k, p.iters))
    val assigned = snap.withColumn("cell_id", Ivf.assignCell(col("vec"), cents))
    val reassigned = cb.fold(
        assigned.select(col("id"), col("cell_id"),
          col("vec").cast("array<double>").as("vec"), lit(0L).as("batch")))(c =>
        assigned.select(col("id"), col("cell_id"),
          col("vec").cast("array<double>").as("vec"),
          Pq.encodeCol(col("vec"), c).cast("array<int>").as("codes"),
          lit(0L).as("batch")))
      // same cell-clustered layout as addBatch: probe-time row-group
      // pruning holds from version 0 of the new index
      .repartition(col("cell_id"))
      .sortWithinPartitions(col("cell_id"))
    // codebook pinned BEFORE any codes-carrying rows exist (the same
    // order addBatch uses): a crash between the data commit and a
    // later codebook save would leave coded rows with an UNPINNED
    // codebook table, letting a future addBatch pin a different
    // codebook as if it were first — the exact mixing the drift guard
    // refuses. Crash after this save and before the data commit is the
    // safe direction: an empty table with a pinned codebook, and a
    // retried retrain's saveCodebook is an overwrite.
    cb.foreach(saveCodebook(spark, _, codebookTable(newTable)))
    val v = VersionedTable.commit(reassigned, newTable, "overwrite",
      None, None, expectedVersion = None)
    val cv = saveCentroids(spark, cents, newTable.stripSuffix("/") + "_centroids")
    RetrainResult(cents, v, cv, sourceVersion, cb)
  }

  /** Txn-app identity of in-place retrain commits: the index overwrite
    * a retrain lands is tagged `(RetrainApp, newVersion)`, and the
    * centroid-era resolution below validates an era ONLY against a
    * commit carrying this app at exactly the era's version — a
    * maintenance compactBy overwrite (or any user commit) occupying
    * the same slot can never falsely validate a dangling era.
    */
  val RetrainApp = "__graft_ivf_retrain"

  /** The centroid sidecar of an era-managed index. Same path the
    * retrain-to-new-table flow writes, so `loadCentroids` keeps
    * working unmodified (latest era = latest version).
    */
  def centroidsTable(table: String): String =
    table.stripSuffix("/") + "_centroids"

  /** Seed the centroid-era sidecar (era 0 = the centroids the index's
    * first rows were assigned under). Idempotent and first-writer-wins:
    * the commit is pinned to land at version 0, a racing seeder's
    * conflict is swallowed (era 0 already exists — whoever landed it,
    * the resolution below serves it). No-op when the sidecar already
    * has any commit.
    */
  def seedCentroidsEra(spark: SparkSession, cents: Seq[Ivf.Centroid],
                       indexTable: String): Unit = {
    val ct = centroidsTable(indexTable)
    if (VersionedTable.latestVersion(ct) >= 0) return
    import spark.implicits._
    try VersionedTable.commit(
      cents.map(c => (c.cellId, c.values)).toDF("cell_id", "values"),
      ct, "overwrite", Some(0L), Some(RetrainApp),
      expectedVersion = Some(-1L))
    catch { case _: java.util.ConcurrentModificationException => () }
  }

  /** The centroid era a read of index `version` must probe under —
    * the crash-safe pairing rule of [[retrainInPlace]]'s cutover: every
    * era commit in the sidecar is tagged with the index version its
    * reassignment LANDS at (`txn = E`; the seed era is `E = 0`), and an
    * era counts only when validated — `E = 0`, or the index log holds a
    * commit at exactly version E carrying [[RetrainApp]]. A retrain
    * that crashed after writing its era but before its index overwrite
    * leaves a DANGLING era that nothing ever validates (no later commit
    * can reuse its slot: versions grow monotonically), so readers keep
    * probing under the era the rows actually carry — the silent
    * wrong-modulus window the postings nb-intent closes, closed the
    * same way. Among validated eras the newest with `E <= version`
    * wins; rows are wholly one era per snapshot because a retrain
    * reassigns EVERYTHING in one overwrite.
    */
  def centroidsFor(spark: SparkSession, indexTable: String,
                   version: Long): Seq[Ivf.Centroid] = {
    val ct = centroidsTable(indexTable)
    val eras = VersionedTable.history(ct)
      .filter(c => c.txnApp.contains(RetrainApp) && c.txn.nonEmpty)
    require(eras.nonEmpty,
      s"no centroid eras in $ct — seed one (seedCentroidsEra) before " +
        "era-resolved reads")
    // validation fast path: txnMaxes is O(checkpoint-tail) and a
    // retrain's txn EQUALS its landing version by construction
    // (expectedVersion pins the slot), so the era matching the app's
    // max txn is landed without walking the index log. Only an era
    // BELOW the max (a pinned read under an old era, with a dangling
    // failed attempt in between — rare) needs the full-history check;
    // merely txn <= max must NOT validate (the dangling attempt's txn
    // can sit below a later landed one).
    val maxLanded = VersionedTable.txnMaxes(indexTable).get(RetrainApp)
    lazy val iHistory = VersionedTable.history(indexTable)
    val validated = eras.filter { e =>
      val t = e.txn.get
      t == 0L || maxLanded.contains(t) || iHistory.exists(c =>
        c.version == t && c.txnApp.contains(RetrainApp))
    }
    val pick = validated.filter(_.txn.get <= version) match {
      case Seq() => validated.minBy(e => (e.txn.get, e.version)) // pre-first-batch reads
      case vs => vs.maxBy(e => (e.txn.get, e.version))
    }
    loadCentroids(spark, ct, Some(pick.version))
  }

  /** Newest validated era — what an APPEND (or a latest-snapshot probe)
    * assigns/probes under. */
  def activeCentroids(spark: SparkSession, indexTable: String): Seq[Ivf.Centroid] =
    centroidsFor(spark, indexTable, Long.MaxValue)

  /** In-place retrain-and-cutover: train fresh centroids on a sample of
    * the CURRENT snapshot, reassign every row, and OVERWRITE the same
    * index — the cutover that holds per-cell fill constant as the
    * corpus grows without asking clients to switch table paths
    * ([[retrain]] remains the sanctioned cross-table flow, and the only
    * one for PQ-coded indexes: codes pair with a codebook era the same
    * way rows pair with centroids, and this method refuses coded
    * indexes rather than manage two sidecars' windows at once).
    *
    * Crash-safety is [[centroidsFor]]'s era protocol: the new era
    * commits to the sidecar FIRST (tagged with the index version the
    * reassignment will land at), then the reassigned rows commit
    * conflict-checked at exactly that slot (`expectedVersion` — a
    * concurrent addBatch landing first turns the race into a loud
    * retry over the fresher snapshot, never a silent erasure of its
    * rows). A crash between the two leaves a dangling era that no
    * reader ever validates. SINGLE-WRITER cadences only, like the
    * postings auto-rebucket — and that includes APPENDS: the conflict
    * check protects an append that lands BEFORE this overwrite, but an
    * append that read the old era and lands AFTER it commits rows
    * bucketed under the wrong geometry (its era read and its commit
    * are not atomic) — quiesce ingest across the retrain, or run it
    * from the ingest loop's own maintenance slot as
    * [[graft.pipelines.IngestPipeline.maintenance]] does.
    */
  def retrainInPlace(spark: SparkSession, table: String, nCells: Int,
                     iters: Int, sampleFraction: Double, seed: Long = 42L,
                     quantize: Option[Int] = None,
                     attempts: Int = 8): Seq[Ivf.Centroid] = {
    require(sampleFraction > 0.0 && sampleFraction <= 1.0,
      s"sampleFraction must be in (0, 1], got $sampleFraction")
    val ct = centroidsTable(table)
    // loud serialization of concurrent maintenance (VERDICT r13 #2):
    // two racing retrains would each train + reassign O(index) before
    // the second loses its conflict-checked commit — refuse at the
    // door instead. The era protocol below is unchanged and still the
    // correctness line.
    graft.sources.MaintenanceLease.withLease(table, "retrainInPlace") {
    var left = attempts
    while (true) {
      val base = VersionedTable.latestVersion(table)
      require(base >= 0, s"nothing to retrain: $table is empty")
      val snap = VersionedTable.readVersion(spark, table, base)
      require(!snap.columns.contains("codes"),
        s"$table carries PQ codes — in-place retrain would need a paired " +
          "codebook cutover; use retrain(newTable) for coded indexes")
      val rows = snap.select(col("id"), col("vec"), col("batch"))
        .localCheckpoint() // pin the sample AND the reassignment input
      val sample =
        if (sampleFraction >= 1.0) rows
        else rows.sample(withReplacement = false, sampleFraction, seed)
      val cents = Ivf.trainCentroids(sample, "vec", "id", nCells, iters,
        quantize)
      import spark.implicits._
      VersionedTable.commit(
        cents.map(c => (c.cellId, c.values)).toDF("cell_id", "values"),
        ct, "overwrite", Some(base + 1), Some(RetrainApp),
        expectedVersion = None)
      val reassigned = rows
        .withColumn("cell_id", Ivf.assignCell(col("vec"), cents))
        .select(col("id"), col("cell_id"),
          col("vec").cast("array<double>").as("vec"), col("batch"))
        .repartition(col("cell_id"))
        .sortWithinPartitions(col("cell_id"))
      try {
        VersionedTable.commit(reassigned, table, "overwrite",
          Some(base + 1), Some(RetrainApp), expectedVersion = Some(base))
        return cents
      } catch {
        case e: java.util.ConcurrentModificationException =>
          left -= 1
          // the just-written era dangles; centroidsFor never validates
          // it, and a later attempt's overwrite supersedes it as latest
          if (left <= 0) throw e
      }
    }
    Seq.empty // unreachable
    }
  }

  /** Per-batch assignment-distance stats over the index — the drift
    * guard. A rising `mean_dist` across batches means the pinned
    * centroids no longer describe the incoming distribution: retrain
    * and cut over. Output: `batch, n, mean_dist, max_dist`.
    */
  def assignStats(spark: SparkSession, table: String,
                  cents: Seq[Ivf.Centroid]): DataFrame = {
    val arr = Ivf.centroidMatrix(cents)
    val dist = sqrt(aggregate(
      zip_with(col("vec"), element_at(arr, col("cell_id") + 1),
        (x, y) => (x - y) * (x - y)),
      lit(0.0), _ + _))
    VersionedTable.read(spark, table)
      .select(col("batch"), dist.as("__d"))
      .groupBy(col("batch"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("__d")), 6).as("mean_dist"),
        round(max(col("__d")), 6).as("max_dist"))
  }
}
