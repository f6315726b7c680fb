package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{Dedup, IncrementalDedup}
import graft.sources.VersionedTable

class IncrementalDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("graft-incdedup-spec")
      .toString + "/index"

  private val base = "the quick brown fox jumps over the lazy dog again and again today"
  private val nearDup = base.replace("today", "tonight") // J = 10/12 ≈ 0.833
  private val other = "completely different content about spark query engines and shuffles"
  private val third = "yet another unrelated paragraph describing immigration analytics fixtures"

  test("processBatch: within-batch clusters, index matches, precedence") {
    val t = freshTable()
    // batch 0: 0=base, 2=other, 4=base (within-batch exact dup of 0)
    val b0 = Seq((0L, base), (2L, other), (4L, base)).toDF("doc_id", "text")
    val r0 = IncrementalDedup.processBatch(spark, b0, "text", "doc_id",
        t, threshold = 0.5, batchId = 0L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(r0 == Map(
      0L -> (0L, "kept"), 2L -> (0L, "kept"), 4L -> (0L, "dup_within_batch")))

    // batch 1: 1=nearDup of indexed 0 (0.571 >= 0.5), 3=copy of indexed 2
    //          AND min of within-cluster {3, 9} (precedence check),
    //          5=fresh, 9=copy of 3
    val b1 = Seq((1L, nearDup), (3L, other), (5L, third), (9L, other))
      .toDF("doc_id", "text")
    val r1 = IncrementalDedup.processBatch(spark, b1, "text", "doc_id",
        t, threshold = 0.5, batchId = 1L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(r1 == Map(
      1L -> (1L, "dup_of_index"), 3L -> (1L, "dup_of_index"),
      5L -> (1L, "kept"), 9L -> (1L, "dup_of_index")))

    // the index recorded every doc seen, both batches
    val idx = VersionedTable.read(spark, t)
    assert(idx.count() == 7)
    assert(idx.select("batch").distinct().as[Long].collect().toSet == Set(0L, 1L))
  }

  test("statuses are pinned to the pre-append index snapshot") {
    val t = freshTable()
    val b0 = Seq((0L, base), (2L, other)).toDF("doc_id", "text")
    val b1 = Seq((1L, base)).toDF("doc_id", "text")
    val r0 = IncrementalDedup.processBatch(spark, b0, "text", "doc_id",
      t, threshold = 0.5, batchId = 0L)
    val r1 = IncrementalDedup.processBatch(spark, b1, "text", "doc_id",
      t, threshold = 0.5, batchId = 1L)
    // r0 is evaluated AFTER batch 1 committed; its docs must still be
    // statused against the EMPTY index batch 0 actually saw
    assert(r1.filter(col("status") === "dup_of_index").count() == 1)
    assert(r0.filter(col("status") === "dup_of_index").count() == 0)
    assert(r0.filter(col("status") === "kept").count() == 2)
  }

  test("(txnApp, txn) makes the index append idempotent under replay") {
    val t = freshTable()
    val b0 = Seq((0L, base), (2L, other)).toDF("doc_id", "text")
    def run() = IncrementalDedup.processBatch(spark, b0, "text", "doc_id",
      t, threshold = 0.5, batchId = 0L,
      txnApp = Some("ingest-app"), txn = Some(0L)).collect()
    val first = run().map(r => (r.getLong(0), r.getString(2))).toSet
    val replay = run().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(first == replay) // statuses are pure
    assert(VersionedTable.read(spark, t).count() == 2) // no second copy
  }

  test("crossPairs under the fixed hash order is complete vs brute force") {
    // adversarial corpus: heavy shingle overlap at varying sizes, so
    // prefixes are cut at different lengths on the two sides
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    def doc(seed: Int, len: Int): String =
      (0 until len).map(i => words((seed * 7 + i * 3) % words.size)).mkString(" ")
    val oldDocs = (0L until 12L).map(i => (i, doc(i.toInt, 6 + (i % 5).toInt)))
    val newDocs = (100L until 112L).map(i => (i, doc((i - 97).toInt, 5 + (i % 6).toInt)))
    val t = 0.5
    val oldRows = IncrementalDedup.indexRows(
      oldDocs.toDF("doc_id", "text"), "text", "doc_id", t)
    val newRows = IncrementalDedup.indexRows(
      newDocs.toDF("doc_id", "text"), "text", "doc_id", t)
    val got = IncrementalDedup.crossPairs(newRows, oldRows, t)
      .select("id_new", "id_old")
      .as[(Long, Long)].collect().toSet

    def sh(text: String): Set[String] = {
      val w = text.toLowerCase.split(" ")
      if (w.length < 3) Set(w.mkString(" "))
      else w.sliding(3).map(_.mkString(" ")).toSet
    }
    val brute = (for {
      (ni, nt) <- newDocs; (oi, ot) <- oldDocs
      a = sh(nt); b = sh(ot)
      j = a.intersect(b).size.toDouble / a.union(b).size
      if j >= t
    } yield (ni, oi)).toSet
    assert(brute.nonEmpty, "degenerate test: no cross pairs at all")
    assert(got == brute)
  }

  test("batchPairs == brute force on seeded random corpora x threshold grid") {
    // adversarial generator: tiny vocab + geometric lengths forces
    // heavy shingle sharing, boundary-length docs (< 3 words), and
    // batch/index size asymmetry; seeded, so failures replay
    val rng = new scala.util.Random(421)
    val words = Seq("a", "b", "c", "d", "e", "f")
    def doc(): String = {
      val len = 1 + rng.nextInt(12)
      (0 until len).map(_ => words(rng.nextInt(words.size))).mkString(" ")
    }
    def sh(text: String): Set[String] = {
      val w = text.toLowerCase.split(" ")
      if (w.length < 3) Set(w.mkString(" "))
      else w.sliding(3).map(_.mkString(" ")).toSet
    }
    for (t <- Seq(0.3, 0.5, 0.8); trial <- 0 until 3) {
      val nNew = 8 + rng.nextInt(25)
      val nOld = rng.nextInt(25)
      val newDocs = (0L until nNew.toLong).map(i => (i, doc()))
      val oldDocs = (1000L until (1000L + nOld)).map(i => (i, doc()))
      val newRows = IncrementalDedup.indexRows(
        newDocs.toDF("doc_id", "text"), "text", "doc_id", t)
      val idx =
        if (nOld == 0) None
        else Some(IncrementalDedup.indexRows(
          oldDocs.toDF("doc_id", "text"), "text", "doc_id", t))
      val got = IncrementalDedup.batchPairs(newRows, idx, t)
        .select(col("id_new"), col("id_old"), col("within"))
        .as[(Long, Long, Boolean)].collect().toSet
      def j(a: Set[String], b: Set[String]): Double =
        a.intersect(b).size.toDouble / a.union(b).size
      val wantWithin = (for {
        (ia, ta) <- newDocs; (ib, tb) <- newDocs
        if ia < ib && j(sh(ta), sh(tb)) >= t
      } yield (ia, ib, true)).toSet
      val wantCross = (for {
        (ia, ta) <- newDocs; (ib, tb) <- oldDocs
        if j(sh(ta), sh(tb)) >= t
      } yield (ia, ib, false)).toSet
      assert(got == wantWithin ++ wantCross,
        s"t=$t trial=$trial nNew=$nNew nOld=$nOld: " +
          s"missing=${(wantWithin ++ wantCross) -- got} extra=${got -- (wantWithin ++ wantCross)}")
    }
  }

  test("batchPairs hot-token grid == brute force on planted stop-shingle corpora (VERDICT r9 #1)") {
    // every doc shares the 3-word window "zz yy xx" -> one shingle sits
    // in >50% of prefixes (short docs put most shingles in the prefix),
    // exactly the Zipf-hot bucket the grid path exists for. Tiny caps
    // force EVERY shared token through the grid; chunk sizes 1/2/3
    // exercise degenerate cells, and the index/no-index split covers
    // both rhs compositions.
    val rng = new scala.util.Random(777)
    val words = Seq("a", "b", "c", "d")
    def doc(): String = "zz yy xx " + (0 until (1 + rng.nextInt(10)))
      .map(_ => words(rng.nextInt(words.size))).mkString(" ")
    def sh(text: String): Set[String] = {
      val w = text.toLowerCase.split(" ")
      if (w.length < 3) Set(w.mkString(" "))
      else w.sliding(3).map(_.mkString(" ")).toSet
    }
    def j(a: Set[String], b: Set[String]): Double =
      a.intersect(b).size.toDouble / a.union(b).size
    for (t <- Seq(0.3, 0.6); (cap, chunk) <- Seq((1, 1), (2, 3), (3, 2));
         nOld <- Seq(0, 20)) {
      val newDocs = (0L until 25L).map(i => (i, doc()))
      val oldDocs = (1000L until (1000L + nOld)).map(i => (i, doc()))
      val newRows = IncrementalDedup.indexRows(
        newDocs.toDF("doc_id", "text"), "text", "doc_id", t)
      val idx =
        if (nOld == 0) None
        else Some(IncrementalDedup.indexRows(
          oldDocs.toDF("doc_id", "text"), "text", "doc_id", t))
      // maxHotCollect = 0 forces the distributed anti/semi-join
      // membership (the adversarial too-many-hot-tokens fallback);
      // the default exercises the inlined-isin path — both must agree
      // with brute force
      val mhc = if (chunk == 2) 0 else IncrementalDedup.DefaultMaxHotCollect
      val got = IncrementalDedup.batchPairs(newRows, idx, t,
          hotTokenCap = cap, hotChunk = chunk, maxHotCollect = mhc)
        .select(col("id_new"), col("id_old"), col("within"))
        .as[(Long, Long, Boolean)].collect().toSet
      val want = (for {
        (ia, ta) <- newDocs; (ib, tb) <- newDocs
        if ia < ib && j(sh(ta), sh(tb)) >= t
      } yield (ia, ib, true)).toSet ++ (for {
        (ia, ta) <- newDocs; (ib, tb) <- oldDocs
        if j(sh(ta), sh(tb)) >= t
      } yield (ia, ib, false)).toSet
      assert(want.exists(_._3), s"degenerate: no within pairs t=$t")
      assert(got == want,
        s"t=$t cap=$cap chunk=$chunk nOld=$nOld: " +
          s"missing=${want -- got} extra=${got -- want}")
    }
  }

  test("hot-token grid bounds shuffle volume on a planted stop-shingle corpus") {
    // 1200 docs ALL sharing one hot shingle, doc sizes spread wide so
    // the size-banded cells prune: the uncapped equi-join would drag
    // ~1200²/2 = 720k candidate rows through one bucket; the grid +
    // row-level positional/size pruning must stay well under that.
    val docs = (0L until 1200L).map { i =>
      val len = 3 + (i % 40L).toInt * 3 // sizes 3..120 words
      (i, "zz yy xx " + (0 until len).map(k => s"w${i}_$k").mkString(" "))
    }
    val t = 0.7
    val rows = IncrementalDedup.indexRows(
      docs.toDF("doc_id", "text"), "text", "doc_id", t).localCheckpoint()
    var nPairs = -1L
    val shuffled = TestSpark.shuffleRecordsOf {
      nPairs = IncrementalDedup.batchPairs(rows, None, t,
        hotTokenCap = 64, hotChunk = 64).count()
    }
    assert(nPairs == 0L) // unique tails: nothing verifies
    val nTokens = rows.agg(sum(size(col("prefix")))).head.getLong(0)
    // tokens ride the exchange a bounded number of times (explodes,
    // freq counts, grid replication); the quadratic bucket would add
    // ~720k pair rows on top of the ~nTokens-scale traffic
    assert(shuffled < 12L * nTokens && shuffled < 300000L,
      s"hot-token ingest shuffled $shuffled records for $nTokens prefix tokens")
  }

  // ---- r12: hot-token count-table proof battery (VERDICT r11 #1) ----

  /** Planted stop-shingle corpus: every doc shares "zz yy xx", so that
    * shingle is hot at tiny caps; random tails vary sizes. Seeded.
    */
  private def plantedCorpus(seed: Int, n: Int, base: Long)
      : Seq[(Long, String)] = {
    val rng = new scala.util.Random(seed)
    val words = Seq("a", "b", "c", "d")
    (0L until n.toLong).map(i => (base + i, "zz yy xx " +
      (0 until (1 + rng.nextInt(10)))
        .map(_ => words(rng.nextInt(words.size))).mkString(" ")))
  }

  private def bruteSh(text: String): Set[String] = {
    val w = text.toLowerCase.split(" ")
    if (w.length < 3) Set(w.mkString(" "))
    else w.sliding(3).map(_.mkString(" ")).toSet
  }

  private def brutePairs(newDocs: Seq[(Long, String)],
                         oldDocs: Seq[(Long, String)],
                         t: Double): Set[(Long, Long, Boolean)] = {
    def j(a: Set[String], b: Set[String]): Double =
      a.intersect(b).size.toDouble / a.union(b).size
    (for {
      (ia, ta) <- newDocs; (ib, tb) <- newDocs
      if ia < ib && j(bruteSh(ta), bruteSh(tb)) >= t
    } yield (ia, ib, true)).toSet ++ (for {
      (ia, ta) <- newDocs; (ib, tb) <- oldDocs
      if j(bruteSh(ta), bruteSh(tb)) >= t
    } yield (ia, ib, false)).toSet
  }

  test("hot detection via count table does ZERO passes over the index at plan build (r11 #1a)") {
    val t = 0.3
    val newDocs = plantedCorpus(11, 20, 0L)
    val oldDocs = plantedCorpus(12, 20, 1000L)
    val newRows = IncrementalDedup.indexRows(
      newDocs.toDF("doc_id", "text"), "text", "doc_id", t).localCheckpoint()
    val idxRows = IncrementalDedup.indexRows(
      oldDocs.toDF("doc_id", "text"), "text", "doc_id", t).localCheckpoint()
    val counts = IncrementalDedup.batchTokenCounts(idxRows).localCheckpoint()

    // every evaluated index row trips the accumulator — an opaque UDF
    // filter can't be pruned or constant-folded away
    val acc = spark.sparkContext.longAccumulator("idx-evals")
    val touch = udf { (_: Long) => acc.add(1); true }
    val tracked = idxRows.filter(touch(col("id")))

    // cap=1 forces hot detection to actually engage (the planted token
    // IS hot) — the eager plan-build collect must read ONLY the batch
    // counts and the count table, never the index
    val viaCounts = IncrementalDedup.batchPairs(newRows, Some(tracked), t,
      hotTokenCap = 1, hotChunk = 2,
      maxHotCollect = IncrementalDedup.DefaultMaxHotCollect,
      indexTokenCounts = Some(counts), IncrementalDedup.HotInputs())
    assert(acc.value == 0L,
      s"plan build evaluated ${acc.value} index rows despite the count table")
    val got = viaCounts.select(col("id_new"), col("id_old"), col("within"))
      .as[(Long, Long, Boolean)].collect().toSet
    assert(acc.value > 0L, "the returned plan never read the index at all")
    assert(got == brutePairs(newDocs, oldDocs, t))

    // the frequency-bound fast path is even stronger: zero eager jobs,
    // zero index evaluations at plan build
    acc.reset()
    IncrementalDedup.batchPairs(newRows, Some(tracked), t,
      hotTokenCap = 1024, hotChunk = 1024,
      maxHotCollect = IncrementalDedup.DefaultMaxHotCollect,
      indexTokenCounts = None,
      IncrementalDedup.HotInputs(batchMaxFreq = Some(16L),
        indexMaxCnt = Some(16L)))
    assert(acc.value == 0L, "bound fast path evaluated the index eagerly")

    // negative control: NO count table and no bounds → the one-shot
    // recount is the documented fallback and must scan the index
    acc.reset()
    IncrementalDedup.batchPairs(newRows, Some(tracked), t,
      hotTokenCap = 1, hotChunk = 2,
      maxHotCollect = IncrementalDedup.DefaultMaxHotCollect,
      indexTokenCounts = None, IncrementalDedup.HotInputs())
    assert(acc.value > 0L,
      "recount fallback unexpectedly skipped the index — control is broken")
  }

  test("count-table overload == recount overload == brute force, incl. stale/lying tables (r11 #1b)") {
    val t = 0.3
    val newDocs = plantedCorpus(21, 25, 0L)
    val oldDocs = plantedCorpus(22, 20, 1000L)
    val newRows = IncrementalDedup.indexRows(
      newDocs.toDF("doc_id", "text"), "text", "doc_id", t).localCheckpoint()
    val idxRows = IncrementalDedup.indexRows(
      oldDocs.toDF("doc_id", "text"), "text", "doc_id", t).localCheckpoint()
    val trueCnt = IncrementalDedup.batchTokenCounts(idxRows).localCheckpoint()
    val want = brutePairs(newDocs, oldDocs, t)
    assert(want.nonEmpty)

    // the scaladoc's claim, proven: counts steer ROUTING only, so a
    // true, inflated, zeroed, or half-missing table all yield the exact
    // pair set (over-counts over-route into the exact grid; under-counts
    // leave hot tokens in the exact equi-join)
    val variants: Seq[(String, Option[org.apache.spark.sql.DataFrame])] = Seq(
      "true" -> Some(trueCnt),
      "inflated" -> Some(trueCnt.withColumn("cnt", col("cnt") * 1000 + 7)),
      "zeroed" -> Some(trueCnt.withColumn("cnt", lit(0L))),
      "half-missing" -> Some(trueCnt.filter(xxhash64(col("g")) % 2 === 0)),
      "recount" -> None)
    for ((name, cnt) <- variants; cap <- Seq(1, 3)) {
      val got = IncrementalDedup.batchPairs(newRows, Some(idxRows), t,
        hotTokenCap = cap, hotChunk = 2,
        maxHotCollect = IncrementalDedup.DefaultMaxHotCollect,
        indexTokenCounts = cnt, IncrementalDedup.HotInputs())
        .select(col("id_new"), col("id_old"), col("within"))
        .as[(Long, Long, Boolean)].collect().toSet
      assert(got == want, s"variant=$name cap=$cap: " +
        s"missing=${want -- got} extra=${got -- want}")
    }

    // lying frequency BOUNDS force the skip path on a genuinely hot
    // corpus — exactness must survive mis-routing in both directions
    val lied = IncrementalDedup.batchPairs(newRows, Some(idxRows), t,
      hotTokenCap = 1, hotChunk = 2,
      maxHotCollect = IncrementalDedup.DefaultMaxHotCollect,
      indexTokenCounts = None,
      IncrementalDedup.HotInputs(batchMaxFreq = Some(0L),
        indexMaxCnt = Some(0L)))
      .select(col("id_new"), col("id_old"), col("within"))
      .as[(Long, Long, Boolean)].collect().toSet
    assert(lied == want)

    // and a supplied batchFreq frame is used verbatim on the hot path
    val viaBatchFreq = IncrementalDedup.batchPairs(newRows, Some(idxRows), t,
      hotTokenCap = 1, hotChunk = 2,
      maxHotCollect = IncrementalDedup.DefaultMaxHotCollect,
      indexTokenCounts = Some(trueCnt),
      IncrementalDedup.HotInputs(
        batchFreq = Some(IncrementalDedup.batchTokenCounts(newRows))))
      .select(col("id_new"), col("id_old"), col("within"))
      .as[(Long, Long, Boolean)].collect().toSet
    assert(viaBatchFreq == want)
  }

  test("processBatch maintains the count table == rebuildTokenFreq of the final index (r11 #1b)") {
    val t = freshTable()
    val tfT = IncrementalDedup.tokenFreqTable(t)
    for (b <- 0 to 2) {
      val docs = plantedCorpus(30 + b, 15, b * 1000L).toDF("doc_id", "text")
      IncrementalDedup.processBatch(spark, docs, "text", "doc_id",
        t, threshold = 0.5, batchId = b.toLong)
    }
    val maintained = IncrementalDedup.tokenCounts(spark, t)
      .as[(String, Long)].collect().toMap
    val fromIndex = IncrementalDedup.batchTokenCounts(
        VersionedTable.read(spark, t))
      .as[(String, Long)].collect().toMap
    assert(maintained == fromIndex)

    // the sidecar hint is an upper bound on the merged max throughout,
    // and compaction tightens it to exactly the max
    val trueMax = fromIndex.values.max
    assert(IncrementalDedup.readMaxCntHint(tfT).exists(_ >= trueMax))
    IncrementalDedup.compactTokenFreq(spark, t)
    assert(IncrementalDedup.readMaxCntHint(tfT).contains(trueMax))
    // compaction folded the partials without changing the merged counts
    val compacted = IncrementalDedup.tokenCounts(spark, t)
      .as[(String, Long)].collect().toMap
    assert(compacted == fromIndex)
    // ...and to one partial row per token
    assert(VersionedTable.read(spark, tfT).count() == fromIndex.size)
  }

  test("compactTokenFreq: no-op on a missing table, lossless under racing appends") {
    val t = freshTable()
    // legacy index with no count table: compact must be a silent no-op
    IncrementalDedup.compactTokenFreq(spark, t) // must not throw
    assert(VersionedTable.latestVersion(IncrementalDedup.tokenFreqTable(t)) == -1L)

    // racing appender: partials keep landing while compactions run; the
    // conflict-checked RMW must never lose an appended partial
    val tfT = IncrementalDedup.tokenFreqTable(t)
    val nBatches = 12
    val appender = new Thread(() => {
      for (b <- 0 until nBatches) {
        val part = Seq(("tok", 1L, b.toLong), (s"only$b", 2L, b.toLong))
          .toDF("g", "cnt", "batch")
        VersionedTable.commit(part, tfT, "append", None, None,
          expectedVersion = None)
        Thread.sleep(5)
      }
    })
    appender.start()
    // attempts high enough that a continuously-racing appender can't
    // exhaust the RMW retry budget (the default 8 is tuned for the
    // streaming sink's between-batches cadence, not a hammer loop)
    try while (appender.isAlive)
      IncrementalDedup.compactTokenFreq(spark, t, attempts = 1000)
    finally appender.join()
    IncrementalDedup.compactTokenFreq(spark, t)
    val merged = IncrementalDedup.tokenCounts(spark, t)
      .as[(String, Long)].collect().toMap
    val want = (0 until nBatches).map(b => s"only$b" -> 2L).toMap +
      ("tok" -> nBatches.toLong)
    assert(merged == want)
    assert(IncrementalDedup.readMaxCntHint(tfT).contains(nBatches.toLong))
  }

  test("rebuildTokenFreq migrates a legacy index; batchPairs agrees either way") {
    val t = 0.5
    val table = freshTable()
    // legacy: signature rows committed directly, no count table
    val oldDocs = plantedCorpus(41, 20, 1000L)
    val legacyRows = IncrementalDedup.indexRows(
      oldDocs.toDF("doc_id", "text"), "text", "doc_id", t)
    VersionedTable.commit(legacyRows.withColumn("batch", lit(0L)),
      table, "append", None, None, expectedVersion = None)

    val v = IncrementalDedup.rebuildTokenFreq(spark, table)
    assert(v >= 0)
    val rebuilt = IncrementalDedup.tokenCounts(spark, table)
      .as[(String, Long)].collect().toMap
    val truth = IncrementalDedup.batchTokenCounts(
        VersionedTable.read(spark, table))
      .as[(String, Long)].collect().toMap
    assert(rebuilt == truth)
    assert(IncrementalDedup.readMaxCntHint(
      IncrementalDedup.tokenFreqTable(table)).contains(truth.values.max))

    // the migrated table routes identically to a recount
    val newDocs = plantedCorpus(42, 15, 0L)
    val newRows = IncrementalDedup.indexRows(
      newDocs.toDF("doc_id", "text"), "text", "doc_id", t).localCheckpoint()
    val idx = VersionedTable.read(spark, table)
      .select(col("id"), col("sz"), col("sh"), col("shh"), col("prefix"))
    val got = IncrementalDedup.batchPairs(newRows, Some(idx), t,
      hotTokenCap = 2, hotChunk = 2,
      maxHotCollect = IncrementalDedup.DefaultMaxHotCollect,
      indexTokenCounts = Some(IncrementalDedup.tokenCounts(spark, table)),
      IncrementalDedup.HotInputs())
      .select(col("id_new"), col("id_old"), col("within"))
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got == brutePairs(newDocs, oldDocs, t))
  }

  test("count-table commits are replay-idempotent under (txnApp, txn); pre-upgrade batches backfill") {
    val t = freshTable()
    val tfT = IncrementalDedup.tokenFreqTable(t)
    val b0 = Seq((0L, base), (2L, other)).toDF("doc_id", "text")
    def ingest0() = IncrementalDedup.processBatch(spark, b0, "text",
      "doc_id", t, threshold = 0.5, batchId = 0L,
      txnApp = Some("app"), txn = Some(0L)).collect()
    ingest0()
    val afterFirst = IncrementalDedup.tokenCounts(spark, t)
      .as[(String, Long)].collect().toMap
    val hintAfterFirst = IncrementalDedup.readMaxCntHint(tfT)
    val tfRowsAfterFirst = VersionedTable.read(spark, tfT).count()
    ingest0() // replay: neither partials nor hint may move
    assert(VersionedTable.read(spark, tfT).count() == tfRowsAfterFirst)
    assert(IncrementalDedup.tokenCounts(spark, t)
      .as[(String, Long)].collect().toMap == afterFirst)
    assert(IncrementalDedup.readMaxCntHint(tfT) == hintAfterFirst)

    // pre-upgrade batch: index row landed under (app, 1) WITHOUT a
    // count-table commit (simulates an index built before the table
    // existed); a later batch then commits under (app, 2)
    val preRows = IncrementalDedup.indexRows(
      Seq((100L, third)).toDF("doc_id", "text"), "text", "doc_id", 0.5)
    VersionedTable.commit(preRows.withColumn("batch", lit(1L)),
      t, "append", Some(1L), Some("app"), expectedVersion = None)
    IncrementalDedup.processBatch(spark,
      Seq((200L, nearDup)).toDF("doc_id", "text"), "text", "doc_id",
      t, threshold = 0.5, batchId = 2L,
      txnApp = Some("app"), txn = Some(2L))

    // replaying the pre-upgrade batch must BACKFILL its partials even
    // though the per-app max txn (2) already covers txn 1 — the exact-
    // membership path (ADVICE r11); and the backfill itself replays
    // idempotently
    def replayPre() = IncrementalDedup.processBatch(spark,
      Seq((100L, third)).toDF("doc_id", "text"), "text", "doc_id",
      t, threshold = 0.5, batchId = 1L,
      txnApp = Some("app"), txn = Some(1L))
    replayPre().collect()
    val afterBackfill = IncrementalDedup.tokenCounts(spark, t)
      .as[(String, Long)].collect().toMap
    val truth = IncrementalDedup.batchTokenCounts(
        VersionedTable.read(spark, t))
      .as[(String, Long)].collect().toMap
    assert(afterBackfill == truth,
      "backfill did not reconcile the count table with the index")
    assert(VersionedTable.read(spark, t).count() == 4) // no index dupes
    val rowsBefore = VersionedTable.read(spark, tfT).count()
    replayPre().collect()
    assert(VersionedTable.read(spark, tfT).count() == rowsBefore,
      "second replay of the backfilled batch double-appended partials")
  }

  test("streamingSink: exactly-once statuses + index across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val t = freshTable()
    val resultsDir = java.nio.file.Files
      .createTempDirectory("graft-incdedup-stream").toString + "/results"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-incdedup-ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val q = IncrementalDedup.streamingSink(
        mem.toDF().toDF("doc_id", "text"), "text", "doc_id",
        t, resultsDir, appId = "stream-app", threshold = 0.5)
      .option("checkpointLocation", ckpt).start()
    try {
      mem.addData((0L, base), (2L, other), (4L, base))
      q.processAllAvailable()
      mem.addData((1L, nearDup), (5L, third))
      q.processAllAvailable()
    } finally q.stop()

    val res = spark.read.parquet(resultsDir)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("status")).toMap
    assert(res == Map(
      0L -> "kept", 2L -> "kept", 4L -> "dup_within_batch",
      1L -> "dup_of_index", 5L -> "kept"))
    // index holds every doc seen, once each, across both micro-batches
    assert(VersionedTable.read(spark, t).count() == 5)
    assert(VersionedTable.latestVersion(t) == 1L)

    // simulated checkpoint replay of micro-batch 1: same (appId, batchId)
    // txn → the partition is rewritten with identical statuses and the
    // index gains nothing
    val replayBatch = Seq((1L, nearDup), (5L, third)).toDF("doc_id", "text")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    IncrementalDedup.processBatch(spark, replayBatch, "text", "doc_id",
        t, threshold = 0.5, batchId = 1L,
        txnApp = Some("stream-app"), txn = Some(1L))
      .withColumn("__batch", lit(1L))
      .write.mode("overwrite").partitionBy("__batch").parquet(resultsDir)
    val replayed = spark.read.parquet(resultsDir)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("status")).toMap
    assert(replayed == res)
    assert(VersionedTable.read(spark, t).count() == 5)
    assert(VersionedTable.latestVersion(t) == 1L)
  }

  test("retry after counts-committed-index-crashed window succeeds and stays exactly-once") {
    // The DESIGNED crash window: partials land (counts commit first),
    // the index commit never happens. The retry arrives with the same
    // (app, txn): index-side replay is false, tf-side replay is TRUE
    // via the txnMaxes shortcut — this path must recover (skip the tf
    // append, commit the index, correct statuses), not throw. A
    // regression here wedges the stream permanently: the code once
    // called .get on the index-path-only tf history in exactly this
    // branch.
    val t = freshTable()
    IncrementalDedup.processBatch(spark,
      Seq((0L, base), (2L, other)).toDF("doc_id", "text"),
      "text", "doc_id", t, threshold = 0.5, batchId = 0L,
      txnApp = Some("crashy"), txn = Some(0L)).collect()

    // simulate the window for txn 1: commit ONLY the partials
    val b1 = Seq((1L, nearDup), (5L, third)).toDF("doc_id", "text")
    val rows1 = IncrementalDedup.indexRows(b1, "text", "doc_id", 0.5)
    val tf = IncrementalDedup.tokenFreqTable(t)
    VersionedTable.commit(
      IncrementalDedup.batchTokenCounts(rows1).withColumn("batch", lit(1L)),
      tf, "append", Some(1L), Some("crashy"), expectedVersion = None)
    val tfVerAfterCrash = VersionedTable.latestVersion(tf)
    val idxVerAfterCrash = VersionedTable.latestVersion(t)

    // the retry: same (app, txn) — must not throw, must commit the
    // index exactly once, must NOT double-append the partials
    val r1 = IncrementalDedup.processBatch(spark, b1, "text", "doc_id",
        t, threshold = 0.5, batchId = 1L,
        txnApp = Some("crashy"), txn = Some(1L)).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(r1 == Map(1L -> "dup_of_index", 5L -> "kept"), r1.toString)
    assert(VersionedTable.latestVersion(t) == idxVerAfterCrash + 1)
    assert(VersionedTable.latestVersion(tf) == tfVerAfterCrash)
    assert(VersionedTable.read(spark, t).count() == 4)
    // and the maintained counts still equal a full rebuild
    val maintained = IncrementalDedup.tokenCounts(spark, t)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    IncrementalDedup.rebuildTokenFreq(spark, t)
    val rebuilt = IncrementalDedup.tokenCounts(spark, t)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(maintained == rebuilt)
  }

  test("concurrent multi-writer ingests: no lost commits, deterministic statuses, tf converges") {
    // Two ingest streams (different appIds) race processBatch on ONE
    // index — the multi-stream 100 TB operating mode. Writer content is
    // fully disjoint (and each carries its own within-batch dup + a
    // near-dup of the pre-seeded index), so every status is
    // deterministic REGARDLESS of commit interleaving: cross-writer dup
    // detection inside the race window is eventual by design (a writer
    // sees the other only if its pin lands after the other's commit),
    // and the claimSlot retry means neither commit can be lost.
    val t = freshTable()
    IncrementalDedup.processBatch(spark,
      Seq((0L, base), (2L, other)).toDF("doc_id", "text"),
      "text", "doc_id", t, threshold = 0.5, batchId = 0L,
      txnApp = Some("seed"), txn = Some(0L)).collect()

    val bA = Seq((10L, third), (11L, nearDup), (12L, third))
      .toDF("doc_id", "text") // 12 dup-within of 10; 11 near-dups seed 0
    // one appended word: 8 of 9 shingles shared with seed 2 (J = 8/9)
    val otherDup = other + " daily"
    val fresh = "entirely fresh text about columnar layouts and row groups"
    val bB = Seq((20L, fresh), (21L, otherDup), (22L, fresh))
      .toDF("doc_id", "text")
      // 22 dup-within of 20; 21 near-dups seed 2 (dup_of_index wins
      // over within-batch per the precedence rule)

    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val fA = Future(IncrementalDedup.processBatch(spark, bA, "text",
      "doc_id", t, threshold = 0.5, batchId = 1L,
      txnApp = Some("writerA"), txn = Some(1L)).collect())
    val fB = Future(IncrementalDedup.processBatch(spark, bB, "text",
      "doc_id", t, threshold = 0.5, batchId = 1L,
      txnApp = Some("writerB"), txn = Some(1L)).collect())
    val rA = Await.result(fA, Duration.Inf)
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val rB = Await.result(fB, Duration.Inf)
      .map(r => r.getLong(0) -> r.getString(2)).toMap

    assert(rA == Map(10L -> "kept", 11L -> "dup_of_index",
      12L -> "dup_within_batch"), rA)
    assert(rB == Map(20L -> "kept", 21L -> "dup_of_index",
      22L -> "dup_within_batch"), rB.toString)

    // no lost commits on either table: every doc indexed exactly once,
    // both writers' txns in the log, versions contiguous
    assert(VersionedTable.read(spark, t).count() == 8)
    val txns = VersionedTable.history(t).flatMap(_.txnApp)
    assert(txns.count(_ == "writerA") == 1 && txns.count(_ == "writerB") == 1)
    assert(VersionedTable.latestVersion(t) == 2L)

    // the maintained count table converged to the truth of the final
    // index despite racing partials commits (and the last-writer-wins
    // maxcnt hint is correctness-irrelevant — the lying-bounds spec)
    val maintained = IncrementalDedup.tokenCounts(spark, t)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    IncrementalDedup.rebuildTokenFreq(spark, t)
    val rebuilt = IncrementalDedup.tokenCounts(spark, t)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(maintained == rebuilt)

    // replay either writer: no new commit, same statuses (single-writer
    // replay purity holds per app stream)
    val rA2 = IncrementalDedup.processBatch(spark, bA, "text", "doc_id",
        t, threshold = 0.5, batchId = 1L,
        txnApp = Some("writerA"), txn = Some(1L)).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(rA2.keySet == rA.keySet)
    assert(rA2(12L) == "dup_within_batch" && rA2(10L) == "kept")
    assert(VersionedTable.latestVersion(t) == 2L)
  }

  // ---- r13: posting-list layout (VERDICT r12 directive #1) -------------

  /** Unique-text corpus: doc i is 15 words only doc i uses, so every
    * shingle is globally unique — no dups, maximal vocab growth. */
  private def uniqueDocs(from: Long, n: Int) =
    (from until from + n).map(i =>
      (i, (0 until 15).map(k => s"u${i}w$k").mkString(" ")))
      .toDF("doc_id", "text")

  /** Small parquet row groups for the duration of `body`, so bucket-
    * range files carry many row groups and the In(b)/In(id) pushdown's
    * row-group pruning is observable at spec scale (production files
    * get the same effect from their natural 128 MB row-group count).
    */
  private def withSmallRowGroups[A](body: => A): A = {
    val hc = spark.sparkContext.hadoopConfiguration
    val oldB = hc.get("parquet.block.size")
    val oldP = hc.get("parquet.page.size")
    hc.setInt("parquet.block.size", 8192)
    hc.setInt("parquet.page.size", 2048)
    try body
    finally {
      if (oldB == null) hc.unset("parquet.block.size") else hc.set("parquet.block.size", oldB)
      if (oldP == null) hc.unset("parquet.page.size") else hc.set("parquet.page.size", oldP)
    }
  }

  test("processBatch wires bucket-pruned postings + candidate-pruned payload (r12 #1)") {
    val t = freshTable()
    val pt = IncrementalDedup.postingsTable(t)
    (0 until 3).foreach { b =>
      IncrementalDedup.processBatch(spark, uniqueDocs(b * 300L, 300),
        "text", "doc_id", t, threshold = 0.6, batchId = b.toLong)
        .write.format("noop").mode("overwrite").save()
    }

    // one tiny batch: 1 exact dup of an indexed doc + 2 novel docs
    def tiny(from: Long) = uniqueDocs(from, 2).unionByName(
      Seq((from + 2L, (0 until 15).map(k => s"u0w$k").mkString(" ")))
        .toDF("doc_id", "text"))

    val r = IncrementalDedup.processBatch(spark, tiny(9000L), "text",
        "doc_id", t, threshold = 0.6, batchId = 100L)
      .collect().map(x => x.getLong(0) -> x.getString(2)).toMap
    assert(r(9002L) == "dup_of_index" && r(9000L) == "kept", r)

    // the candidate join's index leg IS the postings scan, with the
    // bucket set AND the snapshot-version bound pushed into parquet —
    // never a posexplode over the doc table
    val tokPlan = IncrementalDedup.lastIndexTok.get
      .queryExecution.executedPlan.toString
    assert(tokPlan.contains("_postings"), tokPlan.take(3000))
    assert(tokPlan.contains("PushedFilters"), tokPlan.take(3000))
    assert(tokPlan.contains("In(b"), tokPlan.take(3000))
    assert(tokPlan.contains("LessThanOrEqual(v"), tokPlan.take(3000))
    assert(!tokPlan.contains("Generate")) // no explode anywhere in the leg

    // the verify payload read is pruned to the ONE candidate id — the
    // In(id) pushdown rides the id-sorted index files' row-group stats
    val payPlan = IncrementalDedup.lastPayloadIdx.get
      .queryExecution.executedPlan.toString
    assert(payPlan.contains("In(id") || payPlan.contains("EqualTo(id"),
      payPlan.take(3000))

    // a CLEAN batch (no cross candidates) reads ZERO payload: the
    // pruned frame folds to an empty local relation — no file scan
    IncrementalDedup.processBatch(spark, uniqueDocs(9100L, 3), "text",
      "doc_id", t, threshold = 0.6, batchId = 101L).collect()
    val cleanPlan = IncrementalDedup.lastPayloadIdx.get
      .queryExecution.executedPlan.toString
    assert(!cleanPlan.contains("FileScan"), cleanPlan.take(3000))

    // and the postings table really carries one row per (doc, prefix
    // token) of every batch, bucketed over the pinned bucket count
    val nb = IncrementalDedup.readPostingsBuckets(pt).get
    val p = VersionedTable.read(spark, pt)
    val prefixTokens = VersionedTable.read(spark, t)
      .agg(sum(size(col("prefix")))).head.getLong(0)
    assert(p.count() == prefixTokens)
    assert(p.agg(max(col("b"))).head.getInt(0) < nb)
    assert(p.agg(min(col("b"))).head.getInt(0) >= 0)
  }

  test("postings candidate read pushes bucket + version filters into the parquet scan") {
    withSmallRowGroups {
      val t = freshTable()
      val pt = IncrementalDedup.postingsTable(t)
      (0 until 2).foreach { b =>
        IncrementalDedup.processBatch(spark, uniqueDocs(b * 300L, 300),
          "text", "doc_id", t, threshold = 0.6, batchId = b.toLong)
          .write.format("noop").mode("overwrite").save()
      }
      val nb = IncrementalDedup.readPostingsBuckets(pt).get
      val buckets = Seq(0, 1, 2, 3, 4, 5, 6, 7)
      // the exact frame processBatch builds for the candidate index leg
      val pruned = VersionedTable.read(spark, pt)
        .filter(col("v") <= lit(1L) && col("b").isin(buckets.map(Integer.valueOf): _*))
      pruned.collect()
      val plan = pruned.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters"), plan.take(2000))
      assert(plan.contains("In(b"), plan.take(2000))
      assert(plan.contains("LessThanOrEqual(v"), plan.take(2000))
      // row groups outside the probed buckets are skipped: the scan
      // materializes close to the matching rows, far under the table
      val scans = pruned.queryExecution.executedPlan.collectLeaves()
        .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      assert(scans.nonEmpty)
      val scanned = scans.map(_.metrics("numOutputRows").value).sum
      val total = VersionedTable.read(spark, pt).count()
      val matching = VersionedTable.read(spark, pt)
        .filter(col("b").isin(buckets: _*)).count()
      assert(scanned < total / 2,
        s"scan read $scanned of $total postings for ${buckets.size}/$nb buckets")
      assert(scanned < 6 * matching + 500,
        s"scan read $scanned rows vs $matching matching")
    }
  }

  test("postings crash-window heal: uncovered doc commits still dedup exactly") {
    val t = freshTable()
    val pt = IncrementalDedup.postingsTable(t)
    val b0 = Seq((0L, base), (2L, other)).toDF("doc_id", "text")
    IncrementalDedup.processBatch(spark, b0, "text", "doc_id", t,
      threshold = 0.5, batchId = 0L).collect()
    // simulate the crash window: doc rows committed, postings commit
    // lost — a raw append of signature rows with NO postings
    val rows1 = IncrementalDedup.indexRows(
      Seq((4L, third)).toDF("doc_id", "text"), "text", "doc_id", 0.5)
    val v1 = VersionedTable.commit(rows1.withColumn("batch", lit(1L)),
      t, "append", None, None, expectedVersion = None)
    assert(VersionedTable.txnMaxes(pt)
      .get(IncrementalDedup.PostingsApp).exists(_ < v1))

    // an ingest with a dup of the UNCOVERED doc must still catch it
    val r2 = IncrementalDedup.processBatch(spark,
        Seq((6L, third), (8L, base)).toDF("doc_id", "text"),
        "text", "doc_id", t, threshold = 0.5, batchId = 2L)
      .collect().map(x => x.getLong(0) -> x.getString(2)).toMap
    assert(r2 == Map(6L -> "dup_of_index", 8L -> "dup_of_index"), r2)
    // ...and its postings commit HEALED the gap: coverage reaches the
    // new head, so the next ingest reads postings only
    val covered = VersionedTable.txnMaxes(pt)(IncrementalDedup.PostingsApp)
    assert(covered == VersionedTable.latestVersion(t),
      s"coverage $covered vs ${VersionedTable.latestVersion(t)}")
    // healed postings carry the crashed commit's version tag
    assert(VersionedTable.read(spark, pt)
      .filter(col("v") === v1).count() > 0)
  }

  test("legacy index auto-migrates postings on first ingest; rebuildPostings agrees") {
    val t = freshTable()
    val pt = IncrementalDedup.postingsTable(t)
    // a pre-postings index: raw signature appends, no sidecars at all
    Seq(Seq((0L, base), (2L, other)), Seq((4L, third))).zipWithIndex
      .foreach { case (docs, b) =>
        VersionedTable.commit(
          IncrementalDedup.indexRows(docs.toDF("doc_id", "text"),
            "text", "doc_id", 0.5).withColumn("batch", lit(b.toLong)),
          t, "append", None, None, expectedVersion = None)
      }
    assert(VersionedTable.latestVersion(pt) < 0)

    val r = IncrementalDedup.processBatch(spark,
        Seq((6L, nearDup), (8L, other)).toDF("doc_id", "text"),
        "text", "doc_id", t, threshold = 0.5, batchId = 5L)
      .collect().map(x => x.getLong(0) -> x.getString(2)).toMap
    assert(r == Map(6L -> "dup_of_index", 8L -> "dup_of_index"), r)
    // the ingest's postings commit covered the whole legacy history
    assert(VersionedTable.txnMaxes(pt)(IncrementalDedup.PostingsApp)
      == VersionedTable.latestVersion(t))
    // postings rows exist for every legacy doc commit version
    val vs = VersionedTable.read(spark, pt)
      .select(col("v")).distinct().as[Long].collect().toSet
    assert(Set(0L, 1L).subsetOf(vs), vs)

    // explicit rebuild on a second legacy copy == the lazy migration
    val t2 = freshTable()
    Seq(Seq((0L, base), (2L, other)), Seq((4L, third))).zipWithIndex
      .foreach { case (docs, b) =>
        VersionedTable.commit(
          IncrementalDedup.indexRows(docs.toDF("doc_id", "text"),
            "text", "doc_id", 0.5).withColumn("batch", lit(b.toLong)),
          t2, "append", None, None, expectedVersion = None)
      }
    IncrementalDedup.rebuildPostings(spark, t2)
    val r2 = IncrementalDedup.processBatch(spark,
        Seq((6L, nearDup), (8L, other)).toDF("doc_id", "text"),
        "text", "doc_id", t2, threshold = 0.5, batchId = 5L)
      .collect().map(x => x.getLong(0) -> x.getString(2)).toMap
    assert(r2 == r)
  }

  test("lookupPairs: read-only probe finds its dups, commits nothing, pins versions") {
    val t = freshTable()
    IncrementalDedup.processBatch(spark,
      Seq((0L, base), (2L, other)).toDF("doc_id", "text"),
      "text", "doc_id", t, threshold = 0.5, batchId = 0L).collect()
    val vIdx = VersionedTable.latestVersion(t)
    val vPt = VersionedTable.latestVersion(IncrementalDedup.postingsTable(t))
    val vTf = VersionedTable.latestVersion(IncrementalDedup.tokenFreqTable(t))

    val got = IncrementalDedup.lookupPairs(spark, t,
        Seq((11L, nearDup), (13L, third)).toDF("doc_id", "text"),
        "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((11L, 0L)), got) // nearDup matches indexed 0; third matches nothing

    // READ-ONLY: no table moved
    assert(VersionedTable.latestVersion(t) == vIdx)
    assert(VersionedTable.latestVersion(IncrementalDedup.postingsTable(t)) == vPt)
    assert(VersionedTable.latestVersion(IncrementalDedup.tokenFreqTable(t)) == vTf)

    // version pinning: a probe at version 0 after MORE ingests still
    // answers against the old snapshot
    IncrementalDedup.processBatch(spark,
      Seq((4L, third)).toDF("doc_id", "text"),
      "text", "doc_id", t, threshold = 0.5, batchId = 1L).collect()
    val pinned = IncrementalDedup.lookupPairs(spark, t,
        Seq((15L, third)).toDF("doc_id", "text"),
        "text", "doc_id", threshold = 0.5, version = Some(vIdx))
      .collect()
    assert(pinned.isEmpty, pinned.mkString(",")) // third wasn't indexed at v0
    val latest = IncrementalDedup.lookupPairs(spark, t,
        Seq((15L, third)).toDF("doc_id", "text"),
        "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(latest == Set((15L, 4L)), latest)

    // empty index: empty result, correct schema
    val none = IncrementalDedup.lookupPairs(spark, freshTable(),
      Seq((1L, base)).toDF("doc_id", "text"), "text", "doc_id", 0.5)
    assert(none.collect().isEmpty)
    assert(none.columns.toSeq == Seq("id_new", "id_old", "jaccard"))
  }

  test("replay pinned BELOW a compactIndex stays pure and exact (r13 review #1)") {
    // the found-and-fixed wedge: compactIndex rebuilds the postings as
    // one overwrite whose rows all carry v = the compacted head, so a
    // checkpoint replay pinned below it saw an EMPTY index leg (v <= pin
    // matched nothing, the coverage tag suppressed the heal) and
    // silently re-statused its dups as kept. The rebuild floor now
    // routes such pins to the full-closure heal.
    val t = freshTable()
    IncrementalDedup.processBatch(spark,
      Seq((0L, base), (2L, other)).toDF("doc_id", "text"),
      "text", "doc_id", t, threshold = 0.5, batchId = 0L,
      txnApp = Some("app"), txn = Some(0L)).collect()
    val r1 = IncrementalDedup.processBatch(spark,
        Seq((1L, nearDup), (3L, third)).toDF("doc_id", "text"),
        "text", "doc_id", t, threshold = 0.5, batchId = 1L,
        txnApp = Some("app"), txn = Some(1L))
      .collect().map(x => x.getLong(0) -> x.getString(2)).toMap
    assert(r1 == Map(1L -> "dup_of_index", 3L -> "kept"), r1)

    IncrementalDedup.compactIndex(spark, t)

    // replay batch 1: pinned below its original commit, which is below
    // the compaction — statuses must be byte-identical to the original
    val r1b = IncrementalDedup.processBatch(spark,
        Seq((1L, nearDup), (3L, third)).toDF("doc_id", "text"),
        "text", "doc_id", t, threshold = 0.5, batchId = 1L,
        txnApp = Some("app"), txn = Some(1L))
      .collect().map(x => x.getLong(0) -> x.getString(2)).toMap
    assert(r1b == r1, s"replay after compaction diverged: $r1b vs $r1")
    // and a FRESH ingest (pinned at the compacted head) still works off
    // the rebuilt postings
    val r2 = IncrementalDedup.processBatch(spark,
        Seq((5L, base)).toDF("doc_id", "text"),
        "text", "doc_id", t, threshold = 0.5, batchId = 2L,
        txnApp = Some("app"), txn = Some(2L))
      .collect().map(x => x.getLong(0) -> x.getString(2)).toMap
    assert(r2 == Map(5L -> "dup_of_index"), r2)
  }

  test("rebuildPostings re-buckets under a quiesced cutover; dedup stays exact") {
    val t = freshTable()
    val pt = IncrementalDedup.postingsTable(t)
    IncrementalDedup.processBatch(spark,
      Seq((0L, base), (2L, other)).toDF("doc_id", "text"),
      "text", "doc_id", t, threshold = 0.5, batchId = 0L).collect()
    assert(IncrementalDedup.readPostingsBuckets(pt)
      .contains(IncrementalDedup.DefaultPostingsBuckets))

    // quiesced re-bucket (no ingest in flight): rows AND sidecar move
    // to the new modulus together
    IncrementalDedup.rebuildPostings(spark, t, newBuckets = Some(64))
    assert(IncrementalDedup.readPostingsBuckets(pt).contains(64))
    assert(VersionedTable.read(spark, pt)
      .agg(max(col("b"))).head.getInt(0) < 64)

    // the next ingest probes under the new modulus and still catches
    // its dup
    val r = IncrementalDedup.processBatch(spark,
        Seq((1L, nearDup), (3L, third)).toDF("doc_id", "text"),
        "text", "doc_id", t, threshold = 0.5, batchId = 1L)
      .collect().map(x => x.getLong(0) -> x.getString(2)).toMap
    assert(r == Map(1L -> "dup_of_index", 3L -> "kept"), r)
    // the bound that keeps the bucket probe pushdown-convertible
    intercept[IllegalArgumentException] {
      IncrementalDedup.rebuildPostings(spark, t,
        newBuckets = Some(IncrementalDedup.MaxPayloadIdCollect + 1))
    }
  }

  test("re-bucket crash windows never leave the sidecar modulus disagreeing with the rows") {
    val t = freshTable()
    val pt = IncrementalDedup.postingsTable(t)
    IncrementalDedup.processBatch(spark,
      Seq((0L, base), (2L, other)).toDF("doc_id", "text"),
      "text", "doc_id", t, threshold = 0.5, batchId = 0L).collect()
    val nbOld = IncrementalDedup.DefaultPostingsBuckets
    assert(IncrementalDedup.readPostingsBuckets(pt).contains(nbOld))

    // window 1 — crash BEFORE the re-bucket commit: only the intent
    // file survives. Readers must IGNORE it (rows still carry the old
    // modulus) and the probe must still catch its dup.
    IncrementalDedup.writeNbIntent(pt, 64, VersionedTable.latestVersion(pt))
    assert(IncrementalDedup.readPostingsBuckets(pt).contains(nbOld),
      "a not-landed intent must not change the effective modulus")
    val r1 = IncrementalDedup.processBatch(spark,
        Seq((1L, nearDup)).toDF("doc_id", "text"),
        "text", "doc_id", t, threshold = 0.5, batchId = 1L)
      .collect().map(x => x.getLong(0) -> x.getString(2)).toMap
    assert(r1 == Map(1L -> "dup_of_index"), r1)
    // readers never delete a not-landed intent (it may belong to a
    // rebuild mid-commit); only the next rebuild clears it
    assert(java.nio.file.Files.isRegularFile(
      IncrementalDedup.postingsNbIntentPath(pt)))

    // window 2 — crash AFTER the commit, BEFORE the nb finalize:
    // reconstruct the exact on-disk state by running the full cutover
    // (which also clears window 1's stale intent), then rolling the nb
    // file back and re-creating the landed intent. Readers must HEAL:
    // resolve to the new modulus, finalize the nb file, drop the intent.
    IncrementalDedup.rebuildPostings(spark, t, newBuckets = Some(64))
    assert(!java.nio.file.Files.isRegularFile(
      IncrementalDedup.postingsNbIntentPath(pt)),
      "a completed rebuild must clear its intent")
    val landedAt = VersionedTable.latestVersion(pt)
    IncrementalDedup.writePostingsBuckets(pt, nbOld) // roll back the finalize
    IncrementalDedup.writeNbIntent(pt, 64, landedAt - 1)
    assert(IncrementalDedup.readPostingsBuckets(pt).contains(64),
      "a landed intent must heal the sidecar to the committed modulus")
    assert(!java.nio.file.Files.isRegularFile(
      IncrementalDedup.postingsNbIntentPath(pt)),
      "healing must consume the intent")
    assert(IncrementalDedup.readPostingsBuckets(pt).contains(64),
      "the heal must be durable, not per-read")
    val r2 = IncrementalDedup.processBatch(spark,
        Seq((5L, base)).toDF("doc_id", "text"),
        "text", "doc_id", t, threshold = 0.5, batchId = 2L)
      .collect().map(x => x.getLong(0) -> x.getString(2)).toMap
    assert(r2 == Map(5L -> "dup_of_index"), r2)
  }

  test("compactIndex autoRebucket grows the modulus to hold per-bucket fill; dedup stays exact") {
    val t = freshTable()
    val pt = IncrementalDedup.postingsTable(t)
    // distinct docs so postings volume comfortably exceeds 1 row/bucket
    // at the default modulus
    val corpus = Seq.tabulate(40)(i => (i.toLong * 2,
      s"wholly distinct document number $i discussing topic ${i * 7} " +
        s"with words like alpha$i beta$i gamma$i delta$i epsilon$i"))
    IncrementalDedup.processBatch(spark, corpus.toDF("doc_id", "text"),
      "text", "doc_id", t, threshold = 0.5, batchId = 0L).collect()
    val before = IncrementalDedup.readPostingsBuckets(pt).get
    assert(before == IncrementalDedup.DefaultPostingsBuckets)
    val postRows = VersionedTable.read(spark, pt).count()
    assert(postRows > before, s"fixture too small: $postRows postings")

    // fill target of 1 row/bucket forces growth (capped at the pushdown
    // bound); rows and sidecar move together
    IncrementalDedup.compactIndex(spark, t, autoRebucket = true,
      postingsPerBucket = 1L)
    val after = IncrementalDedup.readPostingsBuckets(pt).get
    assert(after > before && after <= IncrementalDedup.MaxPayloadIdCollect,
      s"expected growth past $before, got $after")
    assert(VersionedTable.read(spark, pt)
      .agg(max(col("b"))).head.getInt(0) < after)

    // monotone: a later compaction with a huge fill target (ceil-divide
    // overflow regression) never shrinks the modulus back
    IncrementalDedup.compactIndex(spark, t, autoRebucket = true,
      postingsPerBucket = Long.MaxValue)
    assert(IncrementalDedup.readPostingsBuckets(pt).contains(after))

    // the next trickle ingest probes under the grown modulus and still
    // catches its dup against the re-bucketed index
    val r = IncrementalDedup.processBatch(spark,
        Seq((999L, corpus(3)._2 + " tail"), (1001L, base))
          .toDF("doc_id", "text"),
        "text", "doc_id", t, threshold = 0.5, batchId = 1L)
      .collect().map(x => x.getLong(0) -> x.getString(2)).toMap
    assert(r == Map(999L -> "dup_of_index", 1001L -> "kept"), r)
  }

  test("reconcile settles cross-writer racing copies: exactly one kept (r12 missing #3)") {
    // two writers ingest the SAME doc simultaneously. Depending on the
    // commit interleaving the race either materializes (both kept) or
    // resolves at ingest (one saw the other: dup_of_index) — the sweep
    // + apply must leave EXACTLY ONE kept copy in every interleaving,
    // which is precisely why applyReconciliation picks the survivor
    // from the decisions (min id among still-kept members), not
    // blindly the cluster min.
    val t = freshTable()
    IncrementalDedup.processBatch(spark,
      Seq((0L, base)).toDF("doc_id", "text"), "text", "doc_id", t,
      threshold = 0.5, batchId = 0L,
      txnApp = Some("seed"), txn = Some(0L)).collect()
    val raceFrom = VersionedTable.latestVersion(t)

    val raceText = "two writers commit this very same document at the very same moment"
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val fA = Future(IncrementalDedup.processBatch(spark,
      Seq((30L, raceText), (31L, third)).toDF("doc_id", "text"),
      "text", "doc_id", t, threshold = 0.5, batchId = 1L,
      txnApp = Some("writerA"), txn = Some(1L)).collect())
    val fB = Future(IncrementalDedup.processBatch(spark,
      Seq((40L, raceText), (41L, other)).toDF("doc_id", "text"),
      "text", "doc_id", t, threshold = 0.5, batchId = 1L,
      txnApp = Some("writerB"), txn = Some(1L)).collect())
    val decisions = (Await.result(fA, Duration.Inf)
        ++ Await.result(fB, Duration.Inf))
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSeq.toDF("id", "batch", "status")

    val corrections = IncrementalDedup.reconcile(spark, t, raceFrom,
      VersionedTable.latestVersion(t), threshold = 0.5)
    // the racing pair forms one cluster; the disjoint docs none
    val correctedIds = corrections.select(col("id")).as[Long].collect().toSet
    assert(correctedIds == Set(30L, 40L), correctedIds)

    val fixed = IncrementalDedup.applyReconciliation(decisions, corrections)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("status")).toMap
    assert(Seq(30L, 40L).count(fixed(_) == "kept") == 1, fixed)
    assert(fixed(31L) == "kept" && fixed(41L) == "kept", fixed)
    // idempotent: re-applying the same corrections changes nothing
    val again = IncrementalDedup.applyReconciliation(
        IncrementalDedup.applyReconciliation(decisions, corrections),
        corrections)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("status")).toMap
    assert(again == fixed)
  }

  test("maxcnt hint is monotonic under concurrent writers (r12 finding #3)") {
    val tf = IncrementalDedup.tokenFreqTable(freshTable())
    IncrementalDedup.writeMaxCntHint(tf, 10L)
    // two racing writers bump concurrently from the same base — with
    // per-writer files neither can clobber the other: the global max
    // ends >= BOTH writers' bounds (the single-file scheme kept only
    // the last writer's)
    val t1 = new Thread(() => IncrementalDedup.bumpOwnHint(tf, 150L))
    val t2 = new Thread(() => IncrementalDedup.bumpOwnHint(tf, 90L))
    t1.start(); t2.start(); t1.join(); t2.join()
    val h = IncrementalDedup.readMaxCntHint(tf)
    assert(h.exists(_ >= 150L), h)
    // a writer tightening its OWN bound keeps others' intact
    IncrementalDedup.bumpOwnHint(tf, 40L) // this thread's file only
    assert(IncrementalDedup.readMaxCntHint(tf).exists(_ >= 150L))
    // the exact reset clears every per-writer file
    IncrementalDedup.writeMaxCntHint(tf, 7L)
    assert(IncrementalDedup.readMaxCntHint(tf).contains(7L))
  }

  test("maxcnt hint self-heal: a drifted hint past the hot cap compacts once enough appends amortize it (ADVICE r12)") {
    import spark.implicits._
    // a DIRECT processBatch caller with no compaction cadence: the
    // Σ-of-batch-maxes hint only grows, and past DefaultHotTokenCap it
    // silently parks every ingest in the exact-grid path even when the
    // true max is stone cold — the self-heal folds the partials and
    // exact-resets the hint once >= 16 appends amortize the fold
    val t = java.nio.file.Files.createTempDirectory("graft-hint-heal")
      .toString + "/index"
    def batch(b: Int) = Seq(
      (b * 10L, s"alpha$b beta$b gamma$b delta$b epsilon$b zeta$b"),
      (b * 10L + 1, s"eta$b theta$b iota$b kappa$b lambda$b mu$b"))
      .toDF("doc_id", "text")
    (0 until 17).foreach { b =>
      IncrementalDedup.processBatch(spark, batch(b), "text", "doc_id", t,
        threshold = 0.6, batchId = b.toLong)
    }
    val tf = IncrementalDedup.tokenFreqTable(t)
    assert(VersionedTable.appendsSinceOverwrite(tf) >= 16,
      s"${VersionedTable.appendsSinceOverwrite(tf)}")
    // simulate the drifted state a months-long direct caller reaches
    // (the hint files ARE the durable state, so constructing it is the
    // reconcile-style deterministic reconstruction, not a mock)
    IncrementalDedup.writeMaxCntHint(tf,
      IncrementalDedup.DefaultHotTokenCap + 5000L)
    // next ingest: heal fires BEFORE the batch — partials folded
    // (overwrite at head), hint exact-reset to the true cold max
    IncrementalDedup.processBatch(spark, batch(17), "text", "doc_id", t,
      threshold = 0.6, batchId = 17L)
    val healed = IncrementalDedup.readMaxCntHint(tf)
    assert(healed.exists(_ <= IncrementalDedup.DefaultHotTokenCap),
      s"hint not healed: $healed")
    assert(VersionedTable.appendsSinceOverwrite(tf) <= 1,
      "tf partials were not folded by the self-heal")
    // and a genuinely cold corpus is back on the zero-job fast path:
    // the healed hint + a tiny batch max proves cold
    assert(healed.exists(_ + 2 <= IncrementalDedup.DefaultHotTokenCap))
  }
}
