package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{CheckpointScope, Parquet, VersionedTable}

/** Incremental MinHash-LSH dedup index — the APPROXIMATE-candidate
  * member of the incremental ingest family (exact AllPairs prefix
  * index → [[IncrementalDedup]]; this object trades the prefix
  * postings for banded MinHash buckets).
  *
  * Why it exists beside the exact index: the exact index's per-doc
  * footprint is the shingle payload — O(doc length) strings that the
  * verify stage must eventually fetch. At 100 TB, very long documents
  * make both the index storage and the candidate-verify reads
  * payload-bound. A MinHash row is O(bands) CONSTANT-size longs per
  * doc (`bands` band-bucket hashes of a k-long signature), so the
  * whole index stays slim no matter how long the documents are; the
  * candidate join is a (band, bucket) equi-join between the batch's
  * band rows and the index's; and exact verification fetches the FEW
  * candidate documents' text from the durable doc store (the lake
  * that already holds every ingested document) — candidate-pruned,
  * never O(corpus). The price is LSH recall: a true pair that shares
  * no band bucket is missed, the standard banded-MinHash contract
  * (same recall surface as the batch `Dedup.minhashCandidates`, whose
  * completeness on the testdata is measured and certificate-gated in
  * q_dedup_minhash).
  *
  * Index row schema: `bucket: long, band: int, id: long, batch: long`
  * — one row per (doc, band). Rows are range-clustered by `bucket` at
  * every write, so a trickle ingest's `bucket IN (batch buckets)`
  * pushdown prunes at parquet row-group level: the per-ingest index
  * READ is O(matching buckets + candidates), the posting-list cost
  * shape, with no separate sidecar to keep coherent (the band rows
  * ARE the doc's whole index entry, committed atomically).
  *
  * Transactional discipline is [[IncrementalDedup]]'s verbatim: the
  * index is a [[VersionedTable]]; reads pin the pre-append version (a
  * replayed `(txnApp, txn)` batch pins BELOW its original commit, so
  * statuses are pure and the index gains no second copy). The doc
  * store is assumed immutable-by-id (a doc lake's append contract) —
  * a replayed verify re-fetches identical text.
  *
  * Reference anchor: the banded-signature layout follows the public
  * MinHash-LSH construction (Broder 1997; Leskovec–Rajaraman–Ullman
  * ch. 3) — the same family the batch path implements.
  */
object IncrementalMinHash {

  /** Signature-geometry pin: `k bands` written beside the index at
    * first commit. Band buckets are hashes of signature SLICES, so two
    * geometries in one table silently partition the candidate space —
    * a doc indexed under (64, 16) can never meet a probe banded under
    * (128, 32). Refuses loudly on drift, like the IVF codebook pin.
    */
  private[graft] def geometryPath(indexTable: String): java.nio.file.Path =
    java.nio.file.Paths.get(indexTable, "_graft_minhash_kb")

  private def requireGeometry(indexTable: String, k: Int, bands: Int,
                              got: (Int, Int)): Unit =
    require(got == ((k, bands)),
      s"minhash geometry drift: index $indexTable was built with " +
        s"(k=${got._1}, bands=${got._2}), got (k=$k, bands=$bands) — " +
        "rebuild to a NEW table to change the signature geometry")

  /** First-writer-wins: the move does NOT replace an existing pin, so
    * two first-commit writers racing with DIFFERENT geometries cannot
    * clobber each other — whoever lands first owns the table and the
    * loser's require fires before it commits any rows banded under the
    * losing geometry (the last-writer-wins variant would leave earlier
    * rows bucketed under a geometry the pin no longer describes —
    * silent missed candidates, the nb-sidecar bug class).
    */
  private[graft] def pinGeometry(indexTable: String, k: Int, bands: Int): Unit = {
    val p = geometryPath(indexTable)
    readGeometry(indexTable) match {
      case Some(got) => requireGeometry(indexTable, k, bands, got)
      case None =>
        java.nio.file.Files.createDirectories(p.getParent)
        val tmp = p.resolveSibling(s".${p.getFileName}.${java.util.UUID.randomUUID()}")
        java.nio.file.Files.write(tmp, s"$k $bands".getBytes("UTF-8"))
        // AtomicClaim, not ATOMIC_MOVE: a POSIX atomic move is rename(),
        // which silently REPLACES an existing target — hard-link
        // creation is the atomic fail-if-exists primitive, with a
        // checked non-replacing move on link-less filesystems
        // (FUSE/object-store mounts — ADVICE r13 portability)
        try graft.sources.AtomicClaim.claim(p, tmp)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            requireGeometry(indexTable, k, bands, readGeometry(indexTable)
              .getOrElse(throw new IllegalStateException(
                s"unreadable geometry pin at $p")))
        } finally java.nio.file.Files.deleteIfExists(tmp)
    }
  }

  private[graft] def readGeometry(indexTable: String): Option[(Int, Int)] = {
    val p = geometryPath(indexTable)
    if (!java.nio.file.Files.isRegularFile(p)) None
    else scala.util.Try {
      val parts = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        .trim.split("\\s+")
      (parts(0).toInt, parts(1).toInt)
    }.toOption
  }

  /** Cross-writer duplicate reconciliation for the MinHash face — the
    * [[IncrementalDedup.reconcile]] contract over a band-row index:
    * re-pair ONLY the docs whose band rows committed in `(fromVersion,
    * toVersion]` (the race window — bounded, never the whole index),
    * cluster them, and emit every member of each multi-member cluster
    * as `id, batch, cluster`. Feed the result to
    * [[IncrementalDedup.applyReconciliation]] (the schema and the
    * min-id-still-kept keeper rule are shared). The band rows carry no
    * payload, so the sweep re-reads the window docs' TEXT from the doc
    * store (one id-semi-join — O(window), the same fetch discipline as
    * ingest verify), re-signs them under the index's PINNED geometry,
    * and runs the banded-candidate + exact-verify pass within the
    * window. Idempotent for the same window and decisions.
    */
  def reconcile(spark: SparkSession, indexTable: String, docStore: DataFrame,
                textCol: String, idCol: String, fromVersion: Long,
                toVersion: Long, threshold: Double, n: Int = 3,
                maxBucket: Int = 1000): DataFrame = {
    val window = VersionedTable.snapshotClosure(indexTable, toVersion)
      .filter(_.version > fromVersion)
      .map(c => Parquet.read(spark,
        java.nio.file.Paths.get(indexTable, c.dataDir).toString))
      .reduceOption(_.unionByName(_))
      .map(_.select(col("id"), col("batch")).distinct().localCheckpoint())
    window match {
      case None =>
        val sp = spark; import sp.implicits._
        Seq.empty[(Long, Long, Long)].toDF("id", "batch", "cluster")
      case Some(ids) =>
        val (k, bands) = readGeometry(indexTable).getOrElse(
          throw new IllegalStateException(
            s"no pinned geometry at ${geometryPath(indexTable)} — " +
              "reconcile sweeps an ingested index, which always pins one"))
        val docs = docStore
          .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
          .join(ids.select(col("id").as("doc_id")), Seq("doc_id"), "leftsemi")
        val sigs = Dedup.minhashSignatures(docs, "text", "doc_id", k)
          .localCheckpoint()
        val pairs = Dedup.jaccardOnPairs(docs, "text", "doc_id",
            Dedup.minhashCandidatesFromSigs(sigs, k, bands, maxBucket),
            "id_a", "id_b", n)
          .filter(col("jaccard") >= threshold)
          .select(col("id_a"), col("id_b")).localCheckpoint()
        val clusters = IncrementalDedup.componentsOf(spark,
          ids.select(col("id")), pairs)
        val multi = clusters.groupBy(col("cluster"))
          .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
          .select(col("cluster"))
        ids.join(clusters.join(multi, Seq("cluster")), Seq("id"))
          .select(col("id"), col("batch"), col("cluster"))
    }
  }

  /** Band rows of a signature table: (id, band, bucket) with
    * `bucket = xxhash64(band, signature slice)` — bit-identical to the
    * banding inside [[Dedup.minhashCandidatesFromSigs]], so the
    * within-batch and vs-index candidate spaces agree.
    */
  private def bandRows(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    sigs.select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(b, slice(col("sig"), b * rows + 1, lit(rows))))))
      .select(col("id"), col("pos").cast("int").as("band"),
        col("col").as("bucket"))
  }

  /** Bucket-range clustering for an index write (the postings-layout
    * write discipline): contiguous `bucket` ranges per file, so parquet
    * row-group min/max stats make the trickle probe's
    * `bucket IN (...)` pushdown skip everything outside the batch's
    * bucket set. Small batches write one file with zero extra shuffle.
    */
  private def clusterBands(b: DataFrame, estRows: Long): DataFrame = {
    val files = math.max(1L, estRows / 400000L).toInt
    (if (files <= 1) b.coalesce(1)
     else b.repartitionByRange(files, col("bucket")))
      .sortWithinPartitions(col("bucket"), col("band"))
  }

  /** Spec hook: the index-side band scan of the last processBatch on
    * this JVM (plan asserts check the bucket In-filter reaches
    * PushedFilters). Test-introspection only.
    */
  private[graft] var lastIndexBands: Option[DataFrame] = None

  /** Ingest one batch: status every doc against the index-so-far and
    * the batch itself, then append the batch's band rows atomically.
    * Returns `id, batch, status` with status in {kept,
    * dup_within_batch, dup_of_index} — [[IncrementalDedup.processBatch]]'s
    * contract, under LSH-candidate recall instead of exact AllPairs.
    * Null-text docs are absent from the output (they have no
    * signature), matching the batch minhash path.
    *
    * `docStore` is the durable corpus relation (`idCol`, `textCol` at
    * minimum) holding every PREVIOUSLY ingested document — the verify
    * stage fetches the candidate ids' text from it (bounded
    * [[IncrementalDedup.MaxPayloadIdCollect]] In-pushdown fetch; past
    * the bound, an id equi-join — never a wrong answer, just unpruned).
    * Candidates are verified by EXACT n-gram Jaccard, so est-jaccard
    * noise never flips a status; only band recall bounds completeness.
    */
  def processBatch(spark: SparkSession, batch: DataFrame, textCol: String,
                   idCol: String, indexTable: String, docStore: DataFrame,
                   threshold: Double, batchId: Long, k: Int = 64,
                   bands: Int = 16, n: Int = 3, maxBucket: Int = 1000,
                   txnApp: Option[String] = None,
                   txn: Option[Long] = None): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    pinGeometry(indexTable, k, bands)
    val (sigs, nRows) = CheckpointScope.pinMeasured(
      Dedup.minhashSignatures(batch, textCol, idCol, k), count(lit(1)))
    val docs = batch.select(col(idCol).cast("long").as("__id"),
      col(textCol).as("__text"))

    // replay detection + version pinning ([[VersionedTable.txnPin]])
    val pin = VersionedTable.txnPin(indexTable, txnApp, txn)
    val ver = pin.readVersion

    val bb = bandRows(sigs, k, bands).localCheckpoint()

    // ---- within-batch pairs: banded candidates + exact verify -------
    val withinEdges = Dedup.jaccardOnPairs(docs, "__text", "__id",
        Dedup.minhashCandidatesFromSigs(sigs, k, bands, maxBucket),
        "id_a", "id_b", n)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"))

    // ---- vs-index pairs: band equi-join + exact verify --------------
    val crossVerified: Option[DataFrame] =
      if (ver < 0) { lastIndexBands = None; None }
      else {
        val (idx, verified) = probeIndex(spark, indexTable, ver, bb, nRows,
          bands, docs, docStore, textCol, idCol, threshold, n)
        lastIndexBands = Some(idx)
        Some(verified)
      }

    val withinCk = withinEdges.localCheckpoint()
    val comp = IncrementalDedup.componentsOf(spark,
      sigs.select(col("id")), withinCk)
    val dupIdx = crossVerified.map(_.select(col("id_new")).distinct()
      .withColumn("__dup", lit(true)).localCheckpoint())

    if (!pin.replayed)
      VersionedTable.commit(
        clusterBands(bb.withColumn("batch", lit(batchId)), nRows * bands),
        indexTable, "append", txn, txnApp, expectedVersion = None)

    val statused = dupIdx.fold(comp.withColumn("__dup", lit(false)))(d =>
      comp.join(d, comp("id") === d("id_new"), "left")
        .withColumn("__dup", coalesce(col("__dup"), lit(false))))
    statused.select(comp("id"), lit(batchId).as("batch"),
      when(col("__dup"), lit("dup_of_index"))
        .when(comp("id") === col("cluster"), lit("kept"))
        .otherwise(lit("dup_within_batch")).as("status"))
  }

  /** Read-only near-duplicate lookup against a persisted MinHash index
    * — the query-time face, mirroring
    * [[IncrementalDedup.lookupPairs]]: band-bucket candidates against
    * the index pinned at `version`, exact-verified via the doc store,
    * nothing committed. Output: `id_new, id_old, jaccard,
    * n_shared_bands` for every candidate pair with exact Jaccard ≥ t.
    */
  def lookupPairs(spark: SparkSession, indexTable: String, probe: DataFrame,
                  textCol: String, idCol: String, docStore: DataFrame,
                  threshold: Double, k: Int = 64, bands: Int = 16,
                  n: Int = 3,
                  version: Option[Long] = None): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val ver = version.getOrElse(VersionedTable.latestVersion(indexTable))
    if (ver < 0) {
      val sp = spark; import sp.implicits._
      return Seq.empty[(Long, Long, Double, Long)]
        .toDF("id_new", "id_old", "jaccard", "n_shared_bands")
    }
    // validate-only: a read path must never CREATE the pin (it could
    // stamp the caller's geometry onto a table whose rows were banded
    // under another one). ver >= 0 here, and every ingest pins before
    // its first commit, so a missing pin means a damaged table.
    requireGeometry(indexTable, k, bands, readGeometry(indexTable)
      .getOrElse(throw new IllegalStateException(
        s"no pinned geometry at ${geometryPath(indexTable)} — " +
          "lookup probes an ingested index, which always pins one")))
    val (sigs, nRows) = CheckpointScope.pinMeasured(
      Dedup.minhashSignatures(probe, textCol, idCol, k), count(lit(1)))
    val docs = probe.select(col(idCol).cast("long").as("__id"),
      col(textCol).as("__text"))
    val bb = bandRows(sigs, k, bands).localCheckpoint()
    probeIndex(spark, indexTable, ver, bb, nRows, bands, docs,
      docStore, textCol, idCol, threshold, n)._2
  }

  /** The index side of a probe, shared by [[processBatch]] and
    * [[lookupPairs]]: the batch's band rows `bb` (of `nRows` docs)
    * against the index pinned at `ver`, exact-verified through the doc
    * store. Returns the index band scan it read (bucket-pruned for a
    * trickle batch) and the verified pairs `id_new, id_old, jaccard,
    * n_shared_bands` with exact Jaccard ≥ `threshold`. `docs` carries
    * the probe's own `__id, __text`.
    */
  private def probeIndex(spark: SparkSession, indexTable: String, ver: Long,
                         bb: DataFrame, nRows: Long, bands: Int,
                         docs: DataFrame, docStore: DataFrame, textCol: String,
                         idCol: String, threshold: Double,
                         n: Int): (DataFrame, DataFrame) = {
    // trickle-regime bucket prune (the postings-probe gate): a small
    // batch collects its ≤ nRows×bands bucket hashes (bounded by the
    // pushdown conversion limit) and pushes them to the index scan; a
    // bulk batch's vocabulary covers the bucket space anyway, so it
    // reads the slim band rows whole.
    val idx0 = VersionedTable.readVersion(spark, indexTable, ver)
    val idx =
      if (nRows * bands > IncrementalDedup.MaxPayloadIdCollect) idx0
      else {
        val bs = bb.select(col("bucket")).distinct()
          .collect().map(_.getLong(0)).toSeq
        if (bs.isEmpty) idx0.filter(lit(false))
        else idx0.filter(col("bucket").isin(bs: _*))
      }
    val cand = bb.join(
        idx.select(col("band"), col("bucket"), col("id").as("id_old")),
        Seq("band", "bucket"))
      .groupBy(col("id").as("id_new"), col("id_old"))
      .agg(count(lit(1)).as("n_shared_bands"))
      .localCheckpoint()
    // exact verify: fetch ONLY the candidate index docs' text from the
    // doc store (bounded In-pushdown; id equi-join past the bound),
    // union the probe docs, one jaccardOnPairs pass
    val candIds = cand.select(col("id_old")).distinct()
      .limit(IncrementalDedup.MaxPayloadIdCollect + 1).collect()
      .map(_.getLong(0))
    val store = docStore.select(col(idCol).cast("long").as("__id"),
      col(textCol).as("__text"))
    val fetched =
      if (candIds.isEmpty) store.filter(lit(false))
      else if (candIds.length <= IncrementalDedup.MaxPayloadIdCollect)
        store.filter(col("__id").isin(candIds.toSeq: _*))
      else store.join(cand.select(col("id_old").as("__id")).distinct(),
        Seq("__id"), "leftsemi")
    val verified = Dedup.jaccardOnPairs(docs.unionByName(fetched), "__text",
        "__id", cand, "id_new", "id_old", n, carry = Seq("n_shared_bands"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a").as("id_new"), col("id_b").as("id_old"),
        col("jaccard"), col("n_shared_bands"))
    (idx, verified)
  }

  /** Compact the index: fold every commit into one bucket-range-
    * clustered overwrite (conflict-checked RMW via
    * [[VersionedTable.compactBy]]) — file/dir growth bounded, row-group
    * stats re-tightened. No modulus to re-scale here: `bucket` is the
    * full 64-bit band hash, so range pruning sharpens as file count
    * grows instead of needing a bucket-count cutover.
    */
  def compactIndex(spark: SparkSession, indexTable: String): Unit = {
    if (VersionedTable.latestVersion(indexTable) < 0) return
    // loud serialization of concurrent maintenance (VERDICT r13 #2);
    // the RMW commit stays conflict-checked regardless
    graft.sources.MaintenanceLease.withLease(indexTable, "compactIndex") {
    val files = math.max(1L,
      VersionedTable.read(spark, indexTable).count() / 400000L).toInt
    VersionedTable.compactBy(spark, indexTable)(df =>
      df.repartitionByRange(files, col("bucket"))
        .sortWithinPartitions(col("bucket"), col("band")))
    }
  }
}
