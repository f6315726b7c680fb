package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.similarity.{Pq, Similarity}

class DedupSimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again today"
  private val nearDup = base.replace("today", "tonight")           // 1-word edit
  private val unrelated = "completely different content about spark query engines and shuffles"

  private lazy val docs = Seq(
    (0L, base), (1L, nearDup), (2L, unrelated), (3L, base)          // 3 = exact dup of 0
  ).toDF("doc_id", "text")

  test("exactByContent groups identical texts under one canonical id") {
    val out = Dedup.exactByContent(docs, "text", "doc_id").collect()
    assert(out.length == 3)
    val dupGroup = out.find(_.getLong(2) == 2L).get
    assert(dupGroup.getLong(1) == 0L) // keep_id = min(0, 3)
  }

  test("shingles builds distinct word n-grams; short docs collapse to one") {
    val sh = docs.select(Dedup.shingles(col("text"), 3)).head.getSeq[String](0)
    assert(sh.contains("the quick brown") && sh.contains("quick brown fox"))
    val short = Seq((0L, "one two")).toDF("doc_id", "text")
      .select(Dedup.shingles(col("text"), 3)).head.getSeq[String](0)
    assert(short == Seq("one two"))
  }

  test("minhashCandidates finds near-dups and exact dups, skips unrelated") {
    val pairs = Dedup.minhashCandidates(docs, "text", "doc_id")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.contains((0L, 3L)) && pairs((0L, 3L)) == 1.0)  // exact dup
    assert(pairs.contains((0L, 1L)) && pairs((0L, 1L)) > 0.5)   // near dup
    assert(!pairs.keySet.exists { case (a, b) => a == 2L || b == 2L }) // unrelated never pairs
  }

  test("simhashPairs finds near-dups within hamming<=3, skips unrelated") {
    val pairs = Dedup.simhashPairs(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((0L, 3L)))   // exact dup -> hamming 0
    assert(pairs.find(p => (p._1, p._2) == ((0L, 3L))).get._3 == 0L)
    assert(!keys.exists { case (a, b) => a == 2L || b == 2L })
  }

  test("ngramJaccardPairs computes exact jaccard on known sets") {
    val bucketed = docs.withColumn("bk", lit("b"))
    val out = Dedup.ngramJaccardPairs(bucketed, "text", "doc_id", Seq("bk"), 3, 0.1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out((0L, 3L)) == 1.0)
    // base has 11 distinct 3-shingles; the last-word edit changes exactly 1
    // -> |A∩B| = 10, |A∪B| = 12, jaccard = 10/12
    assert(math.abs(out((0L, 1L)) - 10.0 / 12.0) < 1e-12)
  }

  test("cosine: known vectors") {
    val df = Seq((Array(1.0f, 0.0f), Array(0.0f, 1.0f)), (Array(1.0f, 1.0f), Array(1.0f, 1.0f)))
      .toDF("a", "b")
    val sims = df.select(Similarity.cosine(
      Similarity.toDouble(col("a")), Similarity.toDouble(col("b")))).as[Double].collect()
    assert(math.abs(sims(0)) < 1e-12 && math.abs(sims(1) - 1.0) < 1e-12)
  }

  test("bruteForceTopK: self-match first on real embeddings (sf0.001)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val top = Similarity.bruteForceTopK(emb, "embedding", "vec_id",
      emb.filter(col("vec_id") === 0), "embedding", 5).collect()
    assert(top.head.getLong(0) == 0L && top.head.getDouble(1) == 1.0)
    assert(top.length == 5)
    val sims = top.map(_.getDouble(1)).toSeq
    assert(sims == sims.sorted.reverse)
  }

  test("lshTopK achieves reasonable recall vs brute force on sf0.001") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") === 0)
    val brute = Similarity.bruteForceTopK(emb, "embedding", "vec_id", q, "embedding", 10)
      .collect().map(_.getLong(0)).toSet
    val lsh = Similarity.lshTopK(emb, "embedding", "vec_id", q, "embedding", 10,
      planes = 16, probeSlack = 6).collect().map(_.getLong(0)).toSet
    // ANN is approximate; with generous multi-probe we expect >= 40% recall
    assert((brute & lsh).size >= 4, s"recall too low: ${(brute & lsh).size}/10")
  }

  test("cosinePairs respects the bucket boundary") {
    val df = Seq(
      (0L, 0, Array(1.0f, 0.0f)), (1L, 0, Array(1.0f, 0.01f)),
      (2L, 1, Array(1.0f, 0.0f))).toDF("vec_id", "label", "embedding")
    val pairs = Similarity.cosinePairs(df, "embedding", "vec_id", "label", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)))  // 2 is cosine-identical to 0 but in another bucket
  }

  test("cosinePairs: degenerate buckets are sub-bucketed (bounded, not dropped); default cap is identity here") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // cap below every bucket size -> pairs still flow through the
    // SubBuckets split path, bounded LINEARLY (<= n*cap over the two
    // passes), never the m^2/2 of an uncapped degenerate bucket
    val n = emb.count()
    val subCount = Similarity.cosinePairs(emb, "embedding", "vec_id", "label", -2.0,
      maxBucket = 8).count()
    assert(subCount > 0 && subCount <= n * 8)
    // the default cap (1000) binds nowhere on the testdata: identical to
    // an effectively-unbounded cap
    val def_ = Similarity.cosinePairs(emb, "embedding", "vec_id", "label", 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val unb = Similarity.cosinePairs(emb, "embedding", "vec_id", "label", 0.35,
      maxBucket = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(def_ == unb && def_.nonEmpty)
  }

  test("cosinePairs/semDedup reject a non-integral id column") {
    val df = Seq(("a", 0, Array(1.0f, 0.0f)), ("b", 0, Array(1.0f, 0.01f)))
      .toDF("vec_id", "label", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      Similarity.cosinePairs(df, "embedding", "vec_id", "label", 0.9)
    }
    assert(e1.getMessage.contains("integral"))
    val e2 = intercept[IllegalArgumentException] {
      Similarity.semDedup(df, "embedding", "vec_id", "label", 0.9)
    }
    assert(e2.getMessage.contains("integral"))
  }

  test("IVF: train is deterministic, search recall vs brute force on sf0.001") {
    import graft.similarity.Ivf
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") === 0)
    val cents = Ivf.trainCentroids(emb, "embedding", "vec_id", nCells = 8, iters = 2)
    assert(cents.length == 8 && cents.head.values.length == 64)
    val cents2 = Ivf.trainCentroids(emb, "embedding", "vec_id", nCells = 8, iters = 2)
    assert(cents == cents2)                               // fully deterministic
    val brute = Similarity.bruteForceTopK(emb, "embedding", "vec_id", q, "embedding", 10)
      .collect().map(_.getLong(0)).toSet
    val ivf = Ivf.searchTopK(emb, cents, "embedding", "vec_id", q, "embedding", 10, nProbe = 4)
      .collect().map(_.getLong(0)).toSet
    assert(ivf.contains(0L))                              // query vector found
    assert((brute & ivf).size >= 4, s"recall ${(brute & ivf).size}/10")
  }

  test("IVF quantized training: 1e-6 grid centroids, Lloyd SSE non-increasing, raw path intact") {
    import graft.similarity.Ivf
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = Ivf.trainCentroids(emb, "embedding", "vec_id",
      nCells = 4, iters = 2, quantize = Some(6))
    // every trained coordinate sits exactly on the 1e-6 grid (replayable)
    assert(cents.flatMap(_.values).forall(v => (v * 1e6).round / 1e6 == v))
    // Lloyd monotonicity survives quantization at this granularity:
    // SSE under 2 iterations <= SSE under the init centroids
    def sse(cs: Seq[Ivf.Centroid]): Double = {
      val data = emb.select(Similarity.toDouble(col("embedding")).as("__e"))
      data.select(Ivf.assignCell(col("__e"), cs).as("c"), col("__e")).collect().map { r =>
        val e = r.getSeq[Double](1); val c = cs(r.getInt(0)).values
        e.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum
      }.sum
    }
    val init = Ivf.trainCentroids(emb, "embedding", "vec_id", nCells = 4, iters = 0)
    assert(sse(cents) <= sse(init), "quantized Lloyd increased SSE")
    // quantize=None default unchanged: raw means off the grid in general
    val raw = Ivf.trainCentroids(emb, "embedding", "vec_id", nCells = 4, iters = 2)
    assert(raw.flatMap(_.values).exists(v => (v * 1e6).round / 1e6 != v))
  }

  test("KCenter: farthest-first trajectory, tie to lowest id, duplicate corpus stays distinct") {
    import graft.similarity.KCenter
    // line positions 0, 1, 10, 11: greedy = start 0, then 11 (d=121),
    // then the 1-vs-10 tie (both min-dist 1) breaks to the lower id
    val line = Seq((1L, Array(0.0f)), (2L, Array(1.0f)),
      (3L, Array(10.0f)), (4L, Array(11.0f))).toDF("vec_id", "embedding")
    val seeds = KCenter.greedySeeds(line, "embedding", "vec_id", k = 3)
    assert(seeds.map(_.id) == Seq(1L, 4L, 2L))
    assert(seeds.map(_.dist) == Seq(0.0, 121.0, 1.0))
    // all-duplicates corpus: exclusion still yields k distinct ids
    val dup = Seq((7L, Array(2.0f)), (8L, Array(2.0f))).toDF("vec_id", "embedding")
    val ds = KCenter.greedySeeds(dup, "embedding", "vec_id", k = 2)
    assert(ds.map(_.id) == Seq(7L, 8L) && ds(1).dist == 0.0)
    // k=1 is just the lowest id, no scan rounds
    assert(KCenter.greedySeeds(line, "embedding", "vec_id", k = 1).map(_.id) == Seq(1L))
    intercept[IllegalArgumentException] {
      KCenter.greedySeeds(line, "embedding", "vec_id", k = 0)
    }
  }

  test("Mmr: diversity beats the duplicate at moderate lambda; pure relevance at lambda=1") {
    import graft.similarity.Mmr
    // 1 and 2 are exact duplicates; 3 is equally relevant but diverse
    val cands = Seq(
      (1L, Array(1.0f, 0.3f)), (2L, Array(1.0f, 0.3f)),
      (3L, Array(1.0f, -0.3f))).toDF("vec_id", "embedding")
    val q = Seq(1.0, 0.0)
    val relOrder = Mmr.rerank(cands, "embedding", "vec_id", q, k = 3, lambda = 1.0)
    assert(relOrder.map(_.id) == Seq(1L, 2L, 3L)) // equal rel: ties break by id
    val diverse = Mmr.rerank(cands, "embedding", "vec_id", q, k = 3, lambda = 0.5)
    assert(diverse.map(_.id) == Seq(1L, 3L, 2L), // diversity demotes the duplicate
      diverse.toString)
    // scores are non-increasing along the greedy trajectory at fixed lambda=1
    assert(relOrder.map(_.score) == relOrder.map(_.score).sorted.reverse)
    intercept[IllegalArgumentException] {
      Mmr.rerank(cands, "embedding", "vec_id", q, k = 3, lambda = 1.5)
    }
  }

  test("Mmr.rerank outside any scope leaves no persisted RDD behind") {
    import graft.similarity.Mmr
    val sc = spark.sparkContext
    val cands = Seq(
      (1L, Array(1.0f, 0.3f)), (2L, Array(1.0f, 0.3f)),
      (3L, Array(1.0f, -0.3f))).toDF("vec_id", "embedding")
    val before = sc.getPersistentRDDs.keySet.toSet
    val picks = Mmr.rerank(cands, "embedding", "vec_id", Seq(1.0, 0.0), k = 3, lambda = 0.5)
    assert(picks.map(_.id) == Seq(1L, 3L, 2L))
    val left = sc.getPersistentRDDs.keySet.toSet -- before
    left.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    assert(left.isEmpty, s"rerank left ${left.size} persisted RDDs")
  }

  test("Dbscan: core/border/noise roles, labels flow only through cores, CC contrast") {
    import graft.similarity.Dbscan
    val ids = (1L to 8L).toDF("id")
    // clique {1,2,3}: all core at minPts=2; tail 3-4: 4 is border;
    // chain 5-6-7: 6 core, 5/7 border; isolated 8: noise
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (5L, 6L), (6L, 7L)).toDF("a", "b")
    val out = Dbscan.dbscan(ids, "id", pairs, "a", "b", minPts = 2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L) == ("core", 1L) && out(2L) == ("core", 1L) && out(3L) == ("core", 1L))
    assert(out(4L) == ("border", 1L))
    assert(out(6L) == ("core", 6L))
    assert(out(5L) == ("border", 6L) && out(7L) == ("border", 6L))
    assert(out(8L) == ("noise", -1L))
    // the CC-chaining failure DBSCAN exists to avoid: a sparse pair is
    // noise (neither endpoint dense), while plain clusters() merges it
    val sparse = Seq((20L, 21L)).toDF("a", "b")
    val d2 = Dbscan.dbscan(Seq(20L, 21L).toDF("id"), "id", sparse, "a", "b", minPts = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d2 == Map(20L -> "noise", 21L -> "noise"))
    intercept[IllegalArgumentException] {
      Dbscan.dbscan(ids, "id", pairs, "a", "b", minPts = 0)
    }
  }

  test("Sq8: codes bounded, extremes pinned, midpoint decode within the cell-width bound") {
    import graft.similarity.Sq8
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val b = Sq8.trainBounds(emb, "embedding", 64)
    assert(b.mins.length == 64 && b.maxs.zip(b.mins).forall { case (h, l) => h >= l })
    val enc = Sq8.encode(emb, "embedding", "vec_id", b)
    val rows = enc.select($"codes", $"recon_err").collect()
    assert(rows.forall(_.getSeq[Int](0).forall(c => c >= 0 && c <= 255)))
    // midpoint decode error: per dim at most (range/255/2)^2 ... except the
    // top cell, whose width can reach 2*range/255 (x == max lands in it);
    // use the safe half-cell-of-double-width bound
    val bound = b.maxs.zip(b.mins).map { case (h, l) => math.pow((h - l) / 255.0, 2) }.sum
    assert(rows.forall(_.getDouble(1) <= bound), "reconstruction error above cell bound")
    // a degenerate constant dimension encodes 0 and decodes exactly
    val const = Seq((1L, Array(1.5f, 2.0f)), (2L, Array(1.5f, 3.0f)))
      .toDF("vec_id", "embedding")
    val cb = Sq8.trainBounds(const, "embedding", 2)
    val crow = Sq8.encode(const, "embedding", "vec_id", cb)
      .orderBy($"vec_id").select($"codes").collect()
    assert(crow(0).getSeq[Int](0).head == 0 && crow(1).getSeq[Int](0).head == 0)
  }

  test("SimHash: native scan expression == SimHashAgg == column-composed, and it is exchange-free") {
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
    val native = Dedup.simhash(real, "text", "doc_id")
    val viaExpr = native
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaAgg = Dedup.simhashViaAgg(real, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaCols = Dedup.simhashViaColumns(real, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaExpr.size == 500 && viaExpr == viaAgg && viaExpr == viaCols)
    // the structural win: signatures are scan-stage — no Exchange at
    // any corpus size (the aggregate forms shuffle vote buffers)
    assert(!native.queryExecution.executedPlan.toString.contains("Exchange"))
    // empty and multi-space texts agree across all three forms too
    import spark.implicits._
    val edges = Seq((1L, ""), (2L, "a  b"), (3L, "x")).toDF("doc_id", "text")
    val e1 = Dedup.simhash(edges, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val e2 = Dedup.simhashViaAgg(edges, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(e1 == e2)
  }

  test("MinHashSig: native scan expression == MinHashAgg signatures, and it is exchange-free") {
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
    val native = Dedup.minhashSignatures(real, "text", "doc_id", 16)
    val viaExpr = native.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaAgg = Dedup.minhashSignaturesViaAgg(real, "text", "doc_id", 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaExpr.size == 500 && viaExpr == viaAgg)
    assert(!native.queryExecution.executedPlan.toString.contains("Exchange"))
    // short / multi-space / empty texts: same whole-text fallback
    import spark.implicits._
    val edges = Seq((1L, ""), (2L, "a  b"), (3L, "one two three four"))
      .toDF("doc_id", "text")
    val e1 = Dedup.minhashSignatures(edges, "text", "doc_id", 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val e2 = Dedup.minhashSignaturesViaAgg(edges, "text", "doc_id", 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(e1 == e2)
  }

  test("WordShingles expression equals the built-in composition on real docs") {
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), lower(col("text")).as("t"))
    val native = real.select(col("doc_id"), Dedup.shingles(col("t"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val builtin = real.select(col("doc_id"), Dedup.shinglesViaBuiltins(col("t"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(native.size == 500 && native == builtin)
    // edge cases: short text, double spaces, empty string
    val edges = Seq("one two", "a  b c d", "").toDF("t")
    val n2 = edges.select(Dedup.shingles(col("t"), 3).as("x")).collect().map(_.getSeq[String](0))
    val b2 = edges.select(Dedup.shinglesViaBuiltins(col("t"), 3).as("x")).collect().map(_.getSeq[String](0))
    assert(n2.toSeq == b2.toSeq)
  }

  test("clusters: min-label propagation finds connected components") {
    val ids = (1L to 9L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val got = Dedup.clusters(ids, pairs, "doc_id", "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L->1L, 2L->1L, 3L->1L, 4L->4L, 5L->5L, 6L->6L, 7L->7L, 8L->7L, 9L->9L))
  }

  test("dedupCorpus: exact + fuzzy dups clustered, canonical kept") {
    val out = Dedup.dedupCorpus(docs, "text", "doc_id", minEstJaccard = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // docs: 0=base, 1=near-dup of 0, 2=unrelated, 3=exact dup of 0
    assert(out(0L) == ((0L, true)))
    assert(out(1L) == ((0L, false)))
    assert(out(3L) == ((0L, false)))
    assert(out(2L) == ((2L, true)))
  }

  test("dedupCorpusVerified: exact verify keeps true dups, kills estimate-only pairs") {
    val out = Dedup.dedupCorpusVerified(docs, "text", "doc_id", minJaccard = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // same truth as dedupCorpus on this corpus: {0,1,3} cluster, 2 alone
    assert(out(0L) == ((0L, true)))
    assert(out(1L) == ((0L, false)))
    assert(out(3L) == ((0L, false)))
    assert(out(2L) == ((2L, true)))
    // a raised exact threshold ABOVE the true jaccard (10/12) splits the
    // near-dup but keeps the byte-identical pair — the verify stage is
    // really judging exact jaccard, not the minhash estimate
    val strict = Dedup.dedupCorpusVerified(docs, "text", "doc_id", minJaccard = 0.95)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(strict(3L) == 0L && strict(1L) == 1L)
  }

  test("minhash est_jaccard approximates exact jaccard on the known near-dup") {
    val est = Dedup.minhashCandidates(docs, "text", "doc_id")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // exact jaccard of (0,1) is 10/12 = 0.8333; k=64 minhash stderr ~ 0.05
    assert(math.abs(est((0L, 1L)) - 10.0 / 12.0) < 0.15,
      s"estimator off: ${est((0L, 1L))}")
  }

  test("ngramJaccardPairs: hot-shingle DF cap bounds pair generation") {
    // 50 docs all sharing ONE hot shingle ("common shingle here"), each
    // with otherwise-unique filler: uncapped, that single shingle emits
    // 50*49/2 = 1225 pairs; with the DF cap below 50 it is suppressed and
    // no pair survives — the quadratic blowup is structurally bounded.
    val hot = Seq.tabulate(50)(i =>
      (i.toLong, s"common shingle here unique$i filler$i words$i end$i")).toDF("doc_id", "text")
      .withColumn("bk", lit("b"))
    val uncapped = Dedup.ngramJaccardPairs(hot, "text", "doc_id", Seq("bk"), 3, 0.01,
      maxShingleDf = Int.MaxValue)
    assert(uncapped.count() == 1225)
    val capped = Dedup.ngramJaccardPairs(hot, "text", "doc_id", Seq("bk"), 3, 0.01,
      maxShingleDf = 10)
    assert(capped.count() == 0)
    // the DF filter is really in the plan, pre-aggregation
    assert(capped.queryExecution.executedPlan.toString.contains("__df"))
    // and the default cap (1000) is far above the real-corpus max DF, so
    // results are bit-identical to the uncapped form on real documents
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
    val a = Dedup.ngramJaccardPairs(real, "text", "doc_id", Seq("lang", "source"), 3, 0.5)
    val b = Dedup.ngramJaccardPairs(real, "text", "doc_id", Seq("lang", "source"), 3, 0.5,
      maxShingleDf = Int.MaxValue)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("minhashCandidates: degenerate boilerplate bucket is sub-bucketed, not collected whole") {
    // 300 byte-identical docs collide in every band bucket — the exact
    // shape that would otherwise collect 300 signatures into one
    // aggregation buffer and emit 300*299/2 pairs per band. Under the
    // SubBuckets split every collect_list buffer holds <= maxBucket
    // members and pair work is linear: pairs still flow (recall floor)
    // but stay within n*cap.
    val boiler = Seq.tabulate(300)(i =>
      (i.toLong, "exact same boilerplate text repeated in every document")).toDF("doc_id", "text")
    val capped = Dedup.minhashCandidates(boiler, "text", "doc_id", maxBucket = 100).count()
    assert(capped > 0 && capped < 300L * 299 / 2 && capped <= 300L * 100)
    // under the cap the same corpus yields the full pair set
    assert(Dedup.minhashCandidates(boiler, "text", "doc_id").count() == 300L * 299 / 2)
    // real-corpus results are unchanged by the default cap
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
    val a = Dedup.minhashCandidates(real, "text", "doc_id")
    val b = Dedup.minhashCandidates(real, "text", "doc_id", maxBucket = Int.MaxValue)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("simhashPairs: degenerate boilerplate piece bucket is sub-bucketed, not joined quadratically") {
    // identical docs collide in every (chunk, piece) bucket — the shape
    // that would otherwise emit m^2/2 join pairs per chunk at scale;
    // sub-bucketing keeps pairs flowing within the linear n*cap bound
    val boiler = Seq.tabulate(300)(i =>
      (i.toLong, "exact same boilerplate text repeated in every document")).toDF("doc_id", "text")
    val capped = Dedup.simhashPairs(boiler, "text", "doc_id", maxDist = 7, maxBucket = 100).count()
    assert(capped > 0 && capped < 300L * 299 / 2 && capped <= 300L * 100)
    assert(Dedup.simhashPairs(boiler, "text", "doc_id", maxDist = 7).count() == 300L * 299 / 2)
    // real-corpus results unchanged by the default cap
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
    val a = Dedup.simhashPairs(real, "text", "doc_id", maxDist = 7)
    val b = Dedup.simhashPairs(real, "text", "doc_id", maxDist = 7, maxBucket = Int.MaxValue)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("simhashDedupAdaptive escalates the radius when the margin breaks, recovering pairs a fixed radius misses") {
    // 80-word base; variant(k) changes k spread-out words. Measured on
    // these fixed texts: hamming(base, v1) = 7 — AT the radius-7 cut, so
    // the 2-bit margin probe fails and the radius escalates to 15 —
    // and hamming(base, v9) = 10 with jaccard 0.51: invisible to the
    // fixed radius 7, found at 15.
    val words = (0 until 40).map(i => s"w$i token$i").mkString(" ").split(" ").toSeq
    def variant(k: Int): String = words.zipWithIndex.map { case (w, i) =>
      if (i % 8 == 0 && i / 8 < k) s"CHANGED$i" else w }.mkString(" ")
    val corpus = Seq((0L, words.mkString(" ")), (1L, variant(1)), (9L, variant(9)))
      .toDF("doc_id", "text")
    val (verified, radius) = Dedup.simhashDedupAdaptive(corpus, "text", "doc_id", minJaccard = 0.3)
    assert(radius == 15, s"expected escalation to 15, got $radius")
    val pairs = verified.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 9L)), pairs)
    // the fixed radius misses exactly that pair
    val fixed = Dedup.jaccardOnPairs(corpus, "text", "doc_id",
        Dedup.simhashPairs(corpus, "text", "doc_id", maxDist = 7),
        "id_a", "id_b", 3).filter(col("jaccard") >= 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!fixed.contains((0L, 9L)) && fixed.contains((0L, 1L)), fixed)
    // a corpus whose pairs keep the margin stays at the first radius
    val calm = Seq((0L, words.mkString(" ")), (5L, variant(5))).toDF("doc_id", "text")
    assert(Dedup.simhashDedupAdaptive(calm, "text", "doc_id", 0.3)._2 == 7)
    // radii must be chunk-aligned and ascending
    intercept[IllegalArgumentException](
      Dedup.simhashDedupAdaptive(calm, "text", "doc_id", 0.3, radii = Seq(6)))
    // the volume guard: when the wider radius' candidate bound exceeds
    // the per-doc budget, escalation is refused — the margin-breaking
    // corpus stays at radius 7 and the beyond-radius pair stays missing
    // (the warned, bounded-cost outcome; minhash is the right tool then)
    val (guarded, gRadius) = Dedup.simhashDedupAdaptive(
      corpus, "text", "doc_id", minJaccard = 0.3, maxCandidatesPerDoc = 0)
    assert(gRadius == 7, s"volume guard should refuse escalation, got $gRadius")
    val gPairs = guarded.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!gPairs.contains((0L, 9L)) && gPairs.contains((0L, 1L)), gPairs)
  }

  test("deriveMinhashBanding follows the banding theorem") {
    // k=64 at jaccard 0.3: (16,4) catches only 12% — the theorem picks
    // (32,2), the first split reaching 95%
    assert(Dedup.deriveMinhashBanding(64, 0.3) == 32)
    // at jaccard 0.8 the classic (16,4) default IS the derived answer
    assert(Dedup.deriveMinhashBanding(64, 0.8) == 16)
    // no divisor split reaches the target -> rows=1 fallback
    assert(Dedup.deriveMinhashBanding(4, 0.05) == 4)
    intercept[IllegalArgumentException](Dedup.deriveMinhashBanding(64, 1.5))
  }

  test("minhashDedupAdaptive: derived banding is recall-superset, margin escalates, volume-guarded") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // halving rows-per-band can only ADD candidates: a pair matching a
    // 4-row band matches both its 2-row halves
    val sigs = Dedup.minhashSignatures(docs, "text", "doc_id", 64).localCheckpoint()
    val at16 = Dedup.minhashCandidatesFromSigs(sigs, 64, 16).select("id_a", "id_b")
    val at32 = Dedup.minhashCandidatesFromSigs(sigs, 64, 32).select("id_a", "id_b")
    assert(at16.exceptAll(at32).isEmpty)

    // the adaptive path on the real corpus: no escalation (margin holds
    // at the derived b=32) and the verified output matches the fixed
    // q_dedup_minhash regime exactly (both have complete recall here)
    val (adaptive, b) = Dedup.minhashDedupAdaptive(docs, "text", "doc_id", minJaccard = 0.3)
    assert(b == 32, s"expected the derived banding 32, got $b")
    val fixed = Dedup.jaccardOnPairs(docs, "text", "doc_id",
        Dedup.minhashCandidates(docs, "text", "doc_id").select("id_a", "id_b"),
        "id_a", "id_b", 3).filter(col("jaccard") >= 0.3)
    val aSet = adaptive.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fSet = fixed.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(aSet == fSet, s"adaptive $aSet vs fixed $fSet")

    // an unreachable margin walks the divisor ladder to its widest rung
    // (64 one-row bands) and returns with the loud-warning path...
    val tiny = Seq((0L, (0 until 40).map(i => s"w$i").mkString(" ")),
        (1L, (0 until 40).map(i => if (i == 7) "CHANGED" else s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    assert(Dedup.minhashDedupAdaptive(tiny, "text", "doc_id", 0.3,
      marginBands = 1000)._2 == 64)
    // ...unless the volume guard refuses the escalation budget
    assert(Dedup.minhashDedupAdaptive(tiny, "text", "doc_id", 0.3,
      marginBands = 1000, maxCandidatesPerDoc = 0)._2 == 32)
  }

  test("Pq: seed self-reconstruction, code ranges, Lloyd monotonicity, ADC self-rank") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cb0 = Pq.train(emb, "embedding", "vec_id", m = 8, k = 16)
    assert(cb0.m == 8 && cb0.k == 16 && cb0.dsub == 8)
    val enc = Pq.encode(emb, "embedding", "vec_id", cb0).cache()
    val rows = enc.collect()
    assert(rows.forall { r =>
      val c = r.getSeq[Int](1); c.length == 8 && c.forall(x => x >= 0 && x < 16) })
    // a seed vector is its own codeword: vec 0 encodes to (0,...,0), error 0
    val v0 = rows.find(_.getLong(0) == 0L).get
    assert(v0.getSeq[Int](1).forall(_ == 0) && v0.getDouble(2) == 0.0)
    // one Lloyd step never increases total reconstruction error
    val cb1 = Pq.train(emb, "embedding", "vec_id", m = 8, k = 16, iters = 1)
    def totErr(cb: Pq.Codebook): Double =
      Pq.encode(emb, "embedding", "vec_id", cb)
        .agg(sum(col("recon_err"))).head.getDouble(0)
    assert(totErr(cb1) <= totErr(cb0) + 1e-6, s"${totErr(cb1)} vs ${totErr(cb0)}")
    // ADC: the query vector ranks itself first at distance 0, and the
    // approximate top-10 overlaps the exact squared-L2 top-10
    val qv = emb.filter(col("vec_id") === 0)
      .select(Similarity.toDouble(col("embedding"))).head.getSeq[Double](0).toIndexedSeq
    val adc = Pq.adcTopK(enc, "vec_id", cb0, qv, topK = 10).collect()
    assert(adc.head.getLong(0) == 0L && adc.head.getDouble(1) == 0.0)
    assert(adc.map(_.getDouble(1)).sliding(2).forall(p => p(0) <= p(1)))
    val qlit = array(qv.map(lit): _*)
    val exact = emb.select(col("vec_id"),
        aggregate(zip_with(Similarity.toDouble(col("embedding")), qlit,
          (x, y) => (x - y) * (x - y)), lit(0.0), _ + _).as("d2"))
      .orderBy(col("d2"), col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    assert(adc.map(_.getLong(0)).count(exact) >= 3, adc.mkString(","))
    // IVF-PQ: with the query's own cell probed, the composition still
    // self-ranks vec 0 first at 0, stays sorted, and returns only rows
    // whose full-ADC distance it reproduces exactly (same codes path)
    val coarse = graft.similarity.Ivf.trainCentroids(
      emb, "embedding", "vec_id", nCells = 8, iters = 0)
    val ivfpq = Pq.ivfPqTopK(emb, "embedding", "vec_id", coarse, cb0, qv,
      topK = 10, nProbe = 4).collect()
    assert(ivfpq.head.getLong(0) == 0L && ivfpq.head.getDouble(1) == 0.0)
    assert(ivfpq.map(_.getDouble(1)).sliding(2).forall(p => p(0) <= p(1)))
    val fullAdc = Pq.adcTopK(enc, "vec_id", cb0, qv, topK = Int.MaxValue)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ivfpq.forall(r => fullAdc(r.getLong(0)) == r.getDouble(1)))
    enc.unpersist()
  }

  test("keepBest keeps each cluster's top-scoring member, ties to lowest id") {
    val comp = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L))
      .toDF("id", "cluster")
    val scores = Seq((1L, 0.5), (2L, 0.9), (3L, 0.9), (7L, 0.1))
      .toDF("id", "score")
    val out = Dedup.keepBest(comp, scores).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    // 2 and 3 tie at 0.9 -> lowest id wins; the min-id member 1 loses
    assert(out == Map(1L -> false, 2L -> true, 3L -> false, 7L -> true))
  }

  test("containmentOnPairs: embedded document scores 1 on containment while jaccard stays low") {
    // A's shingles = {one two three, two three four}; B holds both plus 3
    // more -> c(a→b)=1, c(b→a)=2/5, jaccard=2/5
    val docs2 = Seq(
      (1L, "one two three four"),
      (2L, "zero one two three four five six")).toDF("doc_id", "text")
    val r = Dedup.containmentOnPairs(docs2, "text", "doc_id",
      Seq((1L, 2L)).toDF("id_a", "id_b"), "id_a", "id_b", 3).head
    assert(r.getAs[Double]("containment_a") == 1.0)
    assert(r.getAs[Double]("containment_b") == 0.4)
    assert(r.getAs[Double]("jaccard") == 0.4)
    // disjoint pair: all three metrics 0 (verify form must still answer)
    val z = Dedup.containmentOnPairs(docs, "text", "doc_id",
      Seq((0L, 2L)).toDF("id_a", "id_b"), "id_a", "id_b", 3).head
    assert(z.getAs[Double]("containment_a") == 0.0 &&
      z.getAs[Double]("containment_b") == 0.0 && z.getAs[Double]("jaccard") == 0.0)
  }

  test("jaccardOnPairs agrees with ngramJaccardPairs on the pairs both see") {
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
    // generate-from-shingles form, low threshold so several pairs survive
    val gen = Dedup.ngramJaccardPairs(real, "text", "doc_id", Seq("lang", "source"), 3, 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(gen.nonEmpty)
    // verify-on-pairs form fed exactly those candidate pairs
    val cand = gen.keys.toSeq.toDF("id_a", "id_b")
    val ver = Dedup.jaccardOnPairs(real, "text", "doc_id", cand, "id_a", "id_b", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(ver == gen)
    // and on a pair with NO shared shingles it reports 0 (generate form
    // would never emit it — verify form must still answer)
    val zero = Dedup.jaccardOnPairs(docs, "text", "doc_id",
      Seq((0L, 2L)).toDF("id_a", "id_b"), "id_a", "id_b", 3)
      .collect().map(_.getDouble(2))
    assert(zero.toSeq == Seq(0.0))
  }

  test("clusters converges on a chain longer than the old iteration cap") {
    // path graph 1-2-3-...-12: diameter 11, one-hop-per-iteration label
    // propagation must keep iterating to the fixpoint (ADVICE fix)
    val ids = (1L to 12L).toDF("doc_id")
    val chain = (1L to 11L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.clusters(ids, chain, "doc_id", "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.toSet == Set(1L), s"chain split: $got")
  }

  test("lshTopK probe-enumeration equals the full-scan hamming filter") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") === 0)
    val viaProbes = Similarity.lshTopK(emb, "embedding", "vec_id", q, "embedding", 10,
      planes = 16, probeSlack = 3).collect().toSeq
    val viaScan = Similarity.lshTopKViaScanFilter(emb, "embedding", "vec_id", q, "embedding", 10,
      planes = 16, probeSlack = 3).collect().toSeq
    assert(viaProbes == viaScan)
    assert(Similarity.probeBuckets(0L, 16, 3).size == 697) // sum C(16, 0..3)
  }

  test("DotProduct throws on length mismatch (matching-dim contract)") {
    val bad = Seq((Array(1.0, 2.0, 3.0), Array(1.0, 2.0))).toDF("a", "b")
    val e = intercept[Exception] {
      bad.select(graft.functions.DotProduct.dotProduct(col("a"), col("b"))).collect()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8).map(_.getMessage).toSeq
    assert(chain(e).exists(m => m != null && m.contains("equal-length")), chain(e).toString)
  }

  test("IVF layout: writing partitioned by cell_id makes probe filters prune partitions") {
    import graft.similarity.Ivf
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = Ivf.trainCentroids(emb, "embedding", "vec_id", nCells = 4, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    emb.withColumn("cell_id",
        Ivf.assignCell(Similarity.toDouble(col("embedding")), cents))
      .write.mode("overwrite").partitionBy("cell_id").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("cell_id") === 0)
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters: [isnotnull(cell_id"), scan)
    assert(pruned.count() > 0)
    val cells = new java.io.File(dir).listFiles().count(_.getName.startsWith("cell_id="))
    assert(cells > 1, s"expected multiple cell partitions, got $cells")
  }

  test("clustersStar matches clusters() on random graphs incl. singletons") {
    val rnd = new scala.util.Random(7)
    val n = 200
    val ids = (0L until n).toDF("id")
    val pairs = Seq.fill(150)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (x, y) => x != y }.toDF("id_a", "id_b")
    val viaHop = Dedup.clusters(ids, pairs, "id", "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    val viaStar = Dedup.clustersStar(ids, pairs, "id", "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(viaStar == viaHop)
    // no edges at all -> every id is its own cluster
    val empty = Dedup.clustersStar(ids, pairs.limit(0), "id", "id_a", "id_b")
      .as[(Long, Long)].collect()
    assert(empty.forall { case (i, c) => i == c } && empty.length == n)
  }

  test("clustersStar contracts a 128-node chain in O(log n) rounds") {
    val n = 128
    val ids = (0L until n).toDF("id")
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, rounds) =
      Dedup.clustersStarWithRounds(ids, chain, "id", "id_a", "id_b")
    val got = labels.as[(Long, Long)].collect()
    assert(got.length == n && got.forall(_._2 == 0L))
    // one-hop propagation needs ~n rounds on a chain; star contraction is
    // logarithmic (plus the fixpoint-detection round)
    assert(rounds <= 12, s"expected O(log n) rounds, took $rounds")
  }

  test("knnGraph: planted neighbors rank first; cross-bucket pairs never appear") {
    import graft.similarity.Similarity
    val vecs = Seq(
      (0L, "a", Array(1.0f, 0.0f)), (1L, "a", Array(0.9f, 0.1f)),   // near pair
      (2L, "a", Array(0.0f, 1.0f)),                                  // far, same bucket
      (3L, "b", Array(1.0f, 0.0f))                                   // identical to 0 but other bucket
    ).toDF("vec_id", "label", "embedding")
    val g = Similarity.knnGraph(vecs, "embedding", "vec_id", "label", k = 1)
      .select(col("id"), col("nbr")).as[(Long, Long)].collect().toMap
    assert(g(0L) == 1L && g(1L) == 0L)   // mutual nearest within bucket a
    assert(g(2L) == 0L || g(2L) == 1L)   // far vec still gets a same-bucket neighbor
    assert(!g.contains(3L))               // singleton bucket emits nothing
    // an oversized bucket is sub-bucketed, not dropped: cap=2 over the
    // 3-member bucket gives pass-0 chunks {0,1},{2} and the stitching
    // chunk {1,2}, so every member still gets a neighbor (the old
    // formulation returned ZERO rows here)
    val capped = Similarity.knnGraph(vecs, "embedding", "vec_id", "label", k = 1, maxBucket = 2)
      .select(col("id"), col("nbr")).as[(Long, Long)].collect().toMap
    assert(capped.keySet == Set(0L, 1L, 2L))
    assert(capped(0L) == 1L && capped(2L) == 1L) // only same-chunk candidates
  }

  test("recall-margin certificate: fires at sf0.001 when enforced, gated off for bench") {
    // sf0.001's verified near-dup pairs reach signature hamming 7 — the
    // maxDist=7 margin (<= 5) is exhausted there, so the enforced query
    // must fail LOUDLY with its named message...
    assert(Certificates.enforce, "certificates must default to enforced")
    val thrown = try {
      SparkEntry.queries("q_dedup_simhash")(spark, "/root/testdata/sf0.001").count()
      None
    } catch { case t: Throwable =>
      Some(Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(5)
        .exists(c => Option(c.getMessage).exists(_.contains("precondition violated"))))
    }
    assert(thrown.contains(true), "expected the named precondition failure")
    // ...and the bench gate must run the same pipeline to completion
    Certificates.enforce = false
    try assert(SparkEntry.queries("q_dedup_simhash")(spark, "/root/testdata/sf0.001").count() > 0)
    finally Certificates.enforce = true
  }

  test("Decontaminate flags the doc embedding a benchmark answer, not clean docs") {
    import graft.dedup.Decontaminate
    val bench = Seq((100L, "what is the capital of france paris obviously"))
      .toDF("bench_id", "btext")
    val corpus = Seq(
      (0L, "some training prose then what is the capital of france paris obviously end"),
      (1L, "totally unrelated words about spark shuffles and hash joins"),
      (2L, "the capital exists somewhere")  // 1 shared shingle < minOverlap
    ).toDF("doc_id", "text")
    val out = Decontaminate.flag(corpus, bench, "text", "doc_id", "btext", "bench_id",
      n = 3, minOverlap = 2).collect()
      .map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("contaminated"))).toMap
    assert(out(0L) && !out(1L) && !out(2L))
    val pairs = Decontaminate.overlapPairs(corpus, bench, "text", "doc_id",
      "btext", "bench_id", n = 3, minOverlap = 2).collect()
    assert(pairs.length == 1 && pairs.head.getLong(0) == 0L
      && pairs.head.getLong(1) == 100L && pairs.head.getLong(2) >= 5)
  }

  test("Decontaminate bench-side DF cap drops boilerplate shingles") {
    import graft.dedup.Decontaminate
    // every bench doc starts with the same boilerplate trigram window;
    // with the cap at 1, only each doc's unique tail shingles survive
    val bench = (0L until 5L).map(i =>
      (i, s"standard header boilerplate unique answer number $i")).toDF("bench_id", "btext")
    val corpus = Seq((7L, "standard header boilerplate but otherwise clean text here")
    ).toDF("doc_id", "text")
    val uncapped = Decontaminate.overlapPairs(corpus, bench, "text", "doc_id",
      "btext", "bench_id", n = 3, minOverlap = 1, maxBenchDf = 1000)
    assert(uncapped.count() == 5)  // boilerplate matches every bench doc
    val capped = Decontaminate.overlapPairs(corpus, bench, "text", "doc_id",
      "btext", "bench_id", n = 3, minOverlap = 1, maxBenchDf = 1)
    assert(capped.count() == 0)    // capped: boilerplate suppressed, no fan-out
  }

  test("bench index rebuilt at the same path to the same version never serves the stale width (ADVICE r14)") {
    import graft.dedup.Decontaminate
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bench-rebuild").toString + "/bench"
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("bench_id", "btext")
    // corpus doc shares the BIGRAM "alpha beta" but no trigram
    val corpus = Seq((1L, "alpha beta unrelated tail words here"))
      .toDF("doc_id", "text")
    Decontaminate.buildBenchIndex(spark, bench, "btext", "bench_id", dir, n = 3)
    def probe() = Decontaminate.probeBenchIndex(spark, corpus, "text",
        "doc_id", dir, minOverlap = 1)
      .collect().map(r => r.getLong(0) ->
        r.getBoolean(r.fieldIndex("contaminated"))).toMap
    assert(!probe()(1L), "no shared trigram: clean at n=3") // memoizes width 3
    // delete the whole table and rebuild AT THE SAME PATH to the same
    // version with a DIFFERENT width — the memo must miss (the commit's
    // data-dir UUID is fresh), not silently shingle the probe at n=3
    def rmTree(root: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.exists(root))
        java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    rmTree(java.nio.file.Paths.get(dir))
    val v2 = Decontaminate.buildBenchIndex(spark, bench, "btext", "bench_id",
      dir, n = 2)
    assert(v2 == 0L, s"rebuild must land at the same version 0, got $v2")
    assert(probe()(1L), "rebuilt n=2 index must flag the shared bigram — " +
      "a stale memoized width was served")
  }

  test("crossSetNearDups flags a planted duplicate of a bench vector, exact cosines") {
    import graft.similarity.Similarity
    val bench = Seq((100L, Seq(1.0f, 0.0f)), (101L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Seq(2.0f, 0.0f)),   // colinear with bench 100 -> cos 1.0
      (2L, Seq(1.0f, 1.0f)),   // 45 degrees from both -> cos 0.707107, tie -> bench 100
      (3L, Seq(-1.0f, 0.0f)))  // opposite -> best is 0.0 vs bench 101
      .toDF("vec_id", "embedding")
    val out = Similarity.crossSetNearDups(corpus, bench, "embedding", "vec_id", 0.9)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(out(1L) == ((100L, 1.0, true)))
    assert(out(2L) == ((100L, 0.707107, false))) // tie broken toward lower bench id
    assert(out(3L) == ((101L, 0.0, false)))
  }

  test("crossSetNearDups: bench broadcasts and the best-match reduce collapses map-side") {
    import graft.similarity.Similarity
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val df = Similarity.crossSetNearDups(
      emb.filter(col("vec_id") % 50 =!= 0), emb.filter(col("vec_id") % 50 === 0),
      "embedding", "vec_id", 0.5)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan) // corpus never shuffles for the join
    assert(plan.contains("partial_max"), plan) // per-corpus-row reduce before the exchange
  }

  test("jaccardJoinExact: hand pairs with known Jaccard; threshold boundary inclusive") {
    import graft.dedup.Dedup
    // shingle sets (3-grams): d1/d2 differ in last token -> J = 2/4 = 0.5;
    // d3 is a verbatim copy of d1 -> J = 1.0; d4 unrelated
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c d x"),
      (3L, "a b c d e"), (4L, "q r s t u")).toDF("doc_id", "text")
    val at05 = Dedup.jaccardJoinExact(docs, "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(at05((1L, 3L)) == 1.0)
    assert(at05((1L, 2L)) == 0.5 && at05((2L, 3L)) == 0.5) // boundary kept
    assert(!at05.contains((1L, 4L)))
    val at06 = Dedup.jaccardJoinExact(docs, "text", "doc_id", threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(at06 == Set((1L, 3L))) // 0.5 pairs pruned
  }

  test("jaccardJoinExact is complete: differential vs brute force at two thresholds") {
    import graft.dedup.Dedup
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val sets = docs.select($"doc_id",
      Dedup.shingles(lower($"text"), 3).as("sh"))
    for (t <- Seq(0.4, 0.7)) {
      val fast = Dedup.jaccardJoinExact(docs, "text", "doc_id", threshold = t)
      val a = sets.select($"doc_id".as("id_a"), $"sh".as("sa"))
      val brute = a.crossJoin(sets.select($"doc_id".as("id_b"), $"sh".as("sb")))
        .filter($"id_a" < $"id_b")
        .withColumn("__i", size(array_intersect($"sa", $"sb")).cast("long"))
        .withColumn("__u", size($"sa") + size($"sb") - $"__i")
        .filter($"__i".cast("double") >= lit(t) * $"__u".cast("double"))
        .select($"id_a", $"id_b", round($"__i".cast("double") / $"__u", 6).as("jaccard"))
      assert(fast.exceptAll(brute).isEmpty && brute.exceptAll(fast).isEmpty,
        s"prefix filter diverged from brute force at t=$t")
      assert(fast.count() > 0, s"degenerate test at t=$t")
    }
  }

  test("jaccardJoinExact prefix keeps |s| - ceil(t|s|) + 1 rarest shingles (candidate bound)") {
    import graft.dedup.Dedup
    // 10 identical docs + 1 outlier: every shared shingle has df 10 or 11,
    // prefixes at t=0.8 are 1/5 of each set, candidates stay clique-sized
    val docs = ((1L to 10L).map(i => (i, "w1 w2 w3 w4 w5 w6 w7")) :+ (11L, "z1 z2 z3"))
      .toDF("doc_id", "text")
    val out = Dedup.jaccardJoinExact(docs, "text", "doc_id", threshold = 0.8)
    assert(out.count() == 45) // the 10-clique, outlier excluded
    assert(out.filter($"jaccard" =!= 1.0).isEmpty)
  }
}
