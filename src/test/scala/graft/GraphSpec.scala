package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.{Hits, LabelProp, LinkPrediction, PageRank}
import graft.similarity.EmbedStats

/** PageRank and embedding second-moment statistics. */
class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pageRank: 2-cycle holds the uniform fixed point, isolated node settles at (1-d)/N") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val r = PageRank.pageRank(edges, "src", "dst", nodes, "id")
      .collect().map(row => row.getLong(0) -> row.getDouble(1)).toMap
    // the 2-cycle passes its full rank back and forth: 1/3 is stationary
    assert(r(1L) == 0.333333 && r(2L) == 0.333333)
    // isolated node: no in-edges, every iteration resets it to (1-d)/N
    assert(r(3L) == 0.05)
  }

  test("hopDistance: BFS levels on a diamond-with-cycle; unreachable nodes absent") {
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 0L))
      .toDF("src", "dst")
    val got = graft.graph.Bfs.hopDistance(edges, "src", "dst", Seq(0L), maxHops = 4)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    // early stop: a generous bound terminates once the frontier drains,
    // and nodes not in the edge list never appear
    val wide = graft.graph.Bfs.hopDistance(edges, "src", "dst", Seq(0L), maxHops = 50)
      .as[(Long, Long)].collect().toMap
    assert(wide == got)
    // multi-source: minimum level over the seed set wins
    val multi = graft.graph.Bfs.hopDistance(edges, "src", "dst", Seq(0L, 3L), maxHops = 4)
      .as[(Long, Long)].collect().toMap
    assert(multi(3L) == 0L && multi(4L) == 1L && multi(1L) == 1L)
  }

  test("personalizedPageRank: chain from the seed decays by damping per hop") {
    val edges = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val nodes = (0L to 2L).toDF("id")
    val r = PageRank.personalizedPageRank(edges, "src", "dst", nodes, "id",
        seeds = Seq(0L), iterations = 3)
      .collect().map(row => row.getLong(0) -> row.getDouble(1)).toMap
    // hand-unrolled: r3 = (0.15, 0.85*0.15, 0.85^2*0.15)
    assert(r(0L) == 0.15 && r(1L) == 0.1275 && r(2L) == 0.108375)
  }

  test("weightedPageRank: uniform weights reduce to plain pageRank") {
    val e = Seq((1L, 2L, 1.0), (2L, 1L, 1.0), (1L, 3L, 1.0), (3L, 1L, 1.0))
      .toDF("src", "dst", "w")
    val nodes = (1L to 3L).toDF("id")
    val plain = PageRank.pageRank(e, "src", "dst", nodes, "id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val weighted = PageRank.weightedPageRank(e, "src", "dst", "w", nodes, "id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(plain == weighted)
  }

  test("textRank keywords: path graph concentrates rank on the middle term, ties break lexicographically") {
    val docs = Seq("aaa bbb ccc", "x y").toDF("text") // 'x','y' drop (minLen)
    val got = graft.text.TextRank.keywords(docs, "text", minLen = 3,
        iterations = 3, topK = 20)
      .as[(String, Double, Long)].collect().toSeq
    assert(got.map(_._1) == Seq("bbb", "aaa", "ccc")) // symmetric tie: aaa < ccc
    assert(got.map(_._3) == Seq(1L, 2L, 3L))
    assert(got(1)._2 == got(2)._2 && got(0)._2 > got(1)._2)
  }

  test("silhouette: pure clusters score 1, a mislabeled point scores -1") {
    val rows = Seq(
      (1L, 0, Seq(1.0f, 0.0f)), (2L, 0, Seq(1.0f, 0.0f)),
      (3L, 1, Seq(-1.0f, 0.0f)), (4L, 1, Seq(-1.0f, 0.0f)))
      .toDF("vec_id", "label", "embedding")
    val got = graft.similarity.Silhouette
      .simplified(rows, "embedding", "vec_id", "label")
      .select("vec_id", "sil").as[(Long, Double)].collect().toMap
    assert(got.values.forall(_ == 1.0))
    // point 5 carries label 0 but sits ON cluster 1's centroid
    val noisy = rows.unionByName(
      Seq((5L, 0, Seq(-1.0f, 0.0f))).toDF("vec_id", "label", "embedding"))
    val g2 = graft.similarity.Silhouette
      .simplified(noisy, "embedding", "vec_id", "label")
      .select("vec_id", "sil").as[(Long, Double)].collect().toMap
    assert(g2(5L) == -1.0)
    assert(g2(3L) == 1.0 && g2(4L) == 1.0)
  }

  test("daviesBouldin: hand-computed scatter/ratio; tight far clusters score near 0") {
    val rows = Seq(
      (1L, 0, Seq(1.0f, 0.0f)), (2L, 0, Seq(1.0f, 0.2f)),
      (3L, 1, Seq(-1.0f, 0.0f)), (4L, 1, Seq(-1.0f, 0.0f)))
      .toDF("vec_id", "label", "embedding")
    val got = graft.similarity.Silhouette
      .daviesBouldin(rows, "embedding", "label")
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Double]("s2"), r.getAs[Double]("r_max"), r.getLong(4))).toMap
    def r6(x: Double) = math.rint((x + 1e-12) * 1e6) / 1e6
    // label 0: centroid (1e6, 1e5), each point 1e10 away (squared)
    assert(got(0L)._1 == 1.0e10 && got(1L)._1 == 0.0)
    val d2 = 2.0e6 * 2.0e6 + 1.0e5 * 1.0e5
    assert(got(0L)._2 == r6(1.0e10 / d2) && got(1L)._2 == r6(1.0e10 / d2))
    assert(got(0L)._3 == 1L && got(1L)._3 == 0L)
  }

  test("pageRank: a sink-pointing star concentrates rank on the hub") {
    // 4 spokes all point at node 0; node 0 points back at node 1
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L), (0L, 1L))
      .toDF("src", "dst")
    val nodes = (0L to 4L).toDF("id")
    val r = PageRank.pageRank(edges, "src", "dst", nodes, "id")
      .collect().map(row => row.getLong(0) -> row.getDouble(1)).toMap
    assert(r(0L) > r(1L) && r(1L) > r(2L)) // hub > its target > plain spokes
    assert(r(2L) == r(3L) && r(3L) == r(4L)) // symmetric spokes tie exactly
  }

  test("pageRank rejects bad iteration/damping parameters") {
    val e = Seq((1L, 2L)).toDF("src", "dst")
    val n = Seq(1L, 2L).toDF("id")
    intercept[IllegalArgumentException](PageRank.pageRank(e, "src", "dst", n, "id", iterations = 0))
    intercept[IllegalArgumentException](PageRank.pageRank(e, "src", "dst", n, "id", damping = 1.0))
    intercept[IllegalArgumentException](PageRank.pageRank(e, "src", "dst", n, "id", tolerance = -1.0))
  }

  test("pageRank: dangling redistribution conserves total rank; default drops it") {
    // 0 -> 1 -> 2, and 2 is dangling (no out-edges)
    val edges = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val nodes = (0L to 2L).toDF("id")
    def total(redistribute: Boolean): Double =
      PageRank.pageRank(edges, "src", "dst", nodes, "id", iterations = 5,
          redistributeDangling = redistribute)
        .agg(sum(col("pagerank"))).head.getDouble(0)
    // redistributed: total rank is conserved at 1 (up to rounding)
    assert(math.abs(total(true) - 1.0) < 1e-4)
    // plain Brin-Page form: node 2's mass is dropped each round
    assert(total(false) < 0.9)
  }

  test("pageRank: L1-delta early stop ends before the iteration bound, same ranks") {
    // edgeless graph: every rank is exactly (1-d)/N from iteration 1 on,
    // so the delta hits 0 at iteration 2 — far before the bound of 50
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val nodes = (0L to 9L).toDF("id")
    val (stopped, iters) = PageRank.pageRankWithIters(edges, "src", "dst",
      nodes, "id", iterations = 50, damping = 0.85,
      redistributeDangling = false, tolerance = 1e-12)
    assert(iters < 5, s"expected early stop, ran $iters rounds")
    val full = PageRank.pageRank(edges, "src", "dst", nodes, "id",
      iterations = 6, damping = 0.85)
    val a = stopped.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = full.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a == b)
  }

  test("gramMatrix: exact upper-triangle second moments and dimension means") {
    val df = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val g = EmbedStats.gramMatrix(df, "embedding", dim = 2)
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
    assert(g((0, 0)) == ((10.0, 2.0, 2L)))
    assert(g((0, 1)) == ((14.0, 2.0, 2L)))
    assert(g((1, 1)) == ((20.0, 3.0, 2L)))
    assert(g.size == 3) // strictly upper triangle + diagonal, no (1,0)
  }

  test("gramMatrixAgg is row-identical to the explode-form gramMatrix on the real corpus") {
    val df = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val a = EmbedStats.gramMatrixAgg(df, "embedding", dim = 64)
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
    val b = EmbedStats.gramMatrix(df, "embedding", dim = 64)
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
    assert(a.keySet == b.keySet && a.size == 64 * 65 / 2)
    a.foreach { case (k, (g, m, n)) =>
      val (g2, m2, n2) = b(k)
      // both round to 6dp; summation order may differ by ulps underneath
      assert(math.abs(g - g2) <= 1e-6 && math.abs(m - m2) <= 1e-6 && n == n2, s"$k")
    }
  }

  test("gramMatrixAgg skips null, ragged, and null-element arrays instead of mis-indexing") {
    val df = Seq(
      (1L, Seq[java.lang.Float](1.0f, 2.0f)), (2L, Seq[java.lang.Float](3.0f, 4.0f)),
      (3L, Seq[java.lang.Float](9.0f)), (4L, null.asInstanceOf[Seq[java.lang.Float]]),
      (5L, Seq[java.lang.Float](7.0f, null))) // null ELEMENT: would read as 0.0, must skip
      .toDF("vec_id", "embedding")
    val g = EmbedStats.gramMatrixAgg(df, "embedding", dim = 2)
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
    assert(g((0, 0)) == ((10.0, 2.0, 2L))) // rows 3, 4 and 5 contribute nothing
    assert(g((0, 1)) == ((14.0, 2.0, 2L)))
    assert(g((1, 1)) == ((20.0, 3.0, 2L)))
  }

  test("gramMatrixAgg exchange carries one moment blob per partition, not entry rows") {
    // file splits: a one-partition read would need no exchange at all
    val plan = TestSpark.withFileSplits {
      val df = Tables.embeddings(spark, "/root/testdata/sf0.001")
      EmbedStats.gramMatrixAgg(df, "embedding", dim = 64).queryExecution.executedPlan.toString
    }
    assert(plan.contains("ObjectHashAggregate") && plan.contains("partial_gram_agg"), plan)
    // the Generate (explode to entry rows) sits ABOVE the single-partition
    // exchange: entries exist only after the final merge
    val exIdx = plan.indexOf("Exchange SinglePartition")
    val genIdx = plan.indexOf("Generate")
    assert(exIdx >= 0 && genIdx >= 0 && genIdx < exIdx, plan)
  }

  test("pca: recovers the dominant axis of a stretched 2-D cloud, components orthonormal") {
    // points spread along (1,1): top component must be ~(0.707, 0.707)
    val pts = (-20 to 20).map(t => (t.toLong, Seq(t.toFloat, t.toFloat + (t % 3) * 0.1f)))
    val df = pts.toDF("vec_id", "embedding")
    val (means, comps, eigs) = EmbedStats.pca(df, "embedding", dim = 2, m = 2)
    assert(math.abs(comps(0)(0) - math.sqrt(0.5)) < 0.02
      && math.abs(comps(0)(1) - math.sqrt(0.5)) < 0.02, comps(0).toSeq)
    assert(eigs(0) > eigs(1) && eigs(1) >= -1e-9) // descending, PSD
    val dot = comps(0).zip(comps(1)).map { case (a, b) => a * b }.sum
    assert(math.abs(dot) < 1e-9) // orthogonal
    comps.foreach { v =>
      assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-9) // unit norm
    }
    assert(math.abs(means(0) - 0.0) < 1e-6)
  }

  test("pcaProject: per-component score variance matches the eigenvalue, descending") {
    val df = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val (_, _, eigs) = EmbedStats.pca(df, "embedding", dim = 64, m = 3)
    val proj = EmbedStats.pcaProject(df, "embedding", "vec_id", dim = 64, m = 3)
    val rows = proj.collect()
    def popVar(xs: Array[Double]): Double = {
      val mu = xs.sum / xs.length
      xs.map(x => (x - mu) * (x - mu)).sum / xs.length
    }
    for (c <- 0 until 3) {
      val v = popVar(rows.map(_.getDouble(c + 1)))
      assert(math.abs(v - eigs(c)) / eigs(c) < 0.01, s"pc${c + 1}: var=$v eig=${eigs(c)}")
    }
    // the projection itself is a zero-shuffle scan (model rides as literals)
    val plan = proj.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("triangleStats: hand graph — shared-edge triangles, leaf node, exact coefficients") {
    import graft.graph.Triangles
    // K4 on {1,2,3,4} minus edge (1,4), plus leaf 5 off node 4:
    // triangles (1,2,3) and (2,3,4); edge (2,3) is shared
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("a", "b")
    val out = Triangles.triangleStats(edges, "a", "b").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((2L, 1L, 1.0)))          // deg 2, one triangle, cc = 1
    assert(out(2L) == ((3L, 2L, 0.666667)))     // 2·2/(3·2) = 2/3
    assert(out(3L) == ((3L, 2L, 0.666667)))
    assert(out(4L) == ((3L, 1L, 0.333333)))     // 2·1/(3·2) = 1/3
    assert(out(5L) == ((1L, 0L, 0.0)))          // leaf: no pair of neighbors
  }

  test("triangleStats: normalizes direction/duplicates/self-loops; triple-counts nothing") {
    import graft.graph.Triangles
    val messy = Seq((2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L), (3L, 3L), (1L, 3L))
      .toDF("a", "b") // one triangle, every edge duplicated or reversed + a self-loop
    val out = Triangles.triangleStats(messy, "a", "b").collect()
    assert(out.length == 3)
    assert(out.forall(r => r.getLong(1) == 2L && r.getLong(2) == 1L && r.getDouble(3) == 1.0))
  }

  test("triangleStats matches brute-force closure counting on the corpus pair graph") {
    import graft.graph.Triangles
    val pairs = graft.similarity.Similarity.cosinePairs(
      Tables.embeddings(spark, "/root/testdata/sf0.001"),
      "embedding", "vec_id", "label", threshold = 0.15)
    val out = Triangles.triangleStats(pairs, "id_a", "id_b")
    // brute force: count closed wedges via a 3-way self-join on a<b<c
    val e = pairs.select(least($"id_a", $"id_b").as("a"), greatest($"id_a", $"id_b").as("b"))
      .distinct()
    val brute = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"), col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .count()
    val total = out.agg(sum($"triangles")).head().getLong(0)
    assert(total == 3 * brute, s"sum of per-node counts must be 3x the $brute triangles")
  }

  test("kCore: hand graph — triangle survives 2-core, tail chain peels off in cascade") {
    import graft.graph.KCore
    // triangle {1,2,3} + chain 3-4-5: peeling drops 5, then 4; the
    // triangle is the 2-core with in-core degree 2 everywhere
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val core = KCore.kCore(pairs, "a", "b", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // k=3: no node has 3 neighbors, everything peels
    assert(KCore.kCore(pairs, "a", "b", k = 3).count() == 0)
    // direction/duplicate/self-loop normalization: same graph, noisy input
    val noisy = pairs.unionAll(Seq((2L, 1L), (3L, 3L)).toDF("a", "b"))
    assert(KCore.kCore(noisy, "a", "b", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("kCore matches driver-side iterative peeling on the corpus pair graph") {
    import graft.graph.KCore
    val pairs = graft.similarity.Similarity.cosinePairs(
      Tables.embeddings(spark, "/root/testdata/sf0.001"),
      "embedding", "vec_id", "label", threshold = 0.2)
    val out = KCore.kCore(pairs, "id_a", "id_b", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: plain Scala peel over the collected edge list
    val edges = pairs.select($"id_a", $"id_b").as[(Long, Long)].collect()
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }.toSet
    var adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var nodes = adj.keySet
    var changed = true
    while (changed) {
      val keep = nodes.filter(n => (adj(n) & nodes).size >= 2)
      changed = keep != nodes
      nodes = keep
    }
    val expect = nodes.map(n => n -> (adj(n) & nodes).size.toLong).toMap
    assert(out == expect, "distributed peel diverged from driver-side peel")
    assert(out.nonEmpty, "degenerate test: empty 2-core")
  }

  test("modularity: closed-form hand values — components 0.5, one blob 0, singletons -1/3") {
    import graft.graph.Modularity
    // two disjoint triangles
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L)).toDF("a", "b")
    def q(lab: Seq[(Long, Long)]): (Long, Long, Double) = {
      val r = Modularity.modularity(e, "a", "b", lab.toDF("id", "c"), "id", "c").head()
      (r.getLong(0), r.getLong(1), r.getDouble(3))
    }
    // partition = the two components: Q = 2 * (3/6 - (6/12)^2) = 0.5
    val comp = q(Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 4L))
    assert(comp == ((6L, 6L, 0.5)))
    // everything in one cluster: Q = 6/6 - 1 = 0 (no structure explained)
    assert(q((1L to 6L).map(_ -> 1L))._3 == 0.0)
    // every node its own cluster: Q = 6 * (0 - (2/12)^2) = -1/6
    val single = q((1L to 6L).map(i => i -> i))
    assert(single._2 == 0L && single._3 == -0.166667)
    // normalization: duplicate/reversed edges and self-loops change nothing
    val noisy = e.unionAll(Seq((2L, 1L), (3L, 3L)).toDF("a", "b"))
    assert(Modularity.modularity(noisy, "a", "b",
      Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 4L).toDF("id", "c"),
      "id", "c").head().getDouble(3) == 0.5)
  }

  test("adamicAdar scores non-adjacent distance-2 pairs and excludes edges") {
    // 4-cycle 1-2-3-4-1: diagonals (1,3) and (2,4) share two degree-2
    // neighbors each -> aa = 2/ln(2); adjacent pairs must not appear
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("s", "d")
    val got = LinkPrediction.adamicAdar(e, "s", "d")
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    val aa = BigDecimal(2.0 / math.log(2.0) + 1e-12)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.keySet == Set((1L, 3L), (2L, 4L)))
    assert(got((1L, 3L)) == ((2L, aa)) && got((2L, 4L)) == ((2L, aa)))
  }

  test("adamicAdar maxDegree excludes hub centers from wedge generation") {
    // star center 0 with 5 leaves: every leaf pair is a wedge through 0
    val e = (1L to 5L).map(i => (0L, i)).toDF("s", "d")
    assert(LinkPrediction.adamicAdar(e, "s", "d").count() == 10L)
    // capping below the hub's degree removes all wedges - loudly empty,
    // not quadratically expensive
    assert(LinkPrediction.adamicAdar(e, "s", "d", maxDegree = 4).count() == 0L)
  }

  test("labelPropagation: two triangles with one bridge keep separate communities") {
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("s", "d")
    val nodes = (1L to 6L).toDF("id")
    val got = LabelProp.labelPropagation(e, "s", "d", nodes, "id", iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // each triangle converges to its own minimum label: the bridge is a
    // minority vote and never wins
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L)
    assert(Set(got(4L), got(5L), got(6L)).size == 1 && got(4L) != 1L)
  }

  test("labelPropagation: isolated node keeps its own label") {
    val e = Seq((1L, 2L)).toDF("s", "d")
    val got = LabelProp.labelPropagation(e, "s", "d", (1L to 3L).toDF("id"), "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(3L) == 3L)
    // the lone edge is the documented synchronous-update oscillation:
    // the endpoints swap labels every round, deterministically
    assert(Set(got(1L), got(2L)) == Set(1L, 2L))
  }

  test("hits: in-star concentrates authority on the center, hubs on the leaves") {
    val e = (1L to 4L).map(i => (i, 0L)).toDF("s", "d")
    val nodes = (0L to 4L).toDF("id")
    val got = Hits.hits(e, "s", "d", nodes, "id")
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getDouble(2)))).toMap
    // authority mass is entirely on node 0; hub mass splits evenly over
    // the four leaves (L2-normalized: each 1/2)
    assert(got(0L) == ((0.0, 1.0)))
    (1L to 4L).foreach(i => assert(got(i) == ((0.5, 0.0))))
  }

  test("generation loops keep only pinned inputs + last generation") {
    import graft.dedup.Dedup
    import graft.graph.{Bfs, Hierarchy, KCore}
    val sc = spark.sparkContext
    // a 12-node path: every loop below runs >= 5 steps on it (PageRank,
    // LabelProp and Hits by their iteration count; KCore peels two ends
    // per round at k = 2; Bfs, the one-hop label propagation and the
    // star contraction advance along it; Hierarchy doubles 5 times)
    val path = (1L to 11L).map(i => (i, i + 1)).toDF("s", "d")
    val nodes = (1L to 12L).toDF("id")
    val parents = (1L to 12L).map(i => (i, if (i == 1L) None else Some(i - 1))).toDF("id", "p")
    val longPath = (1L to 63L).map(i => (i, i + 1)).toDF("s", "d")
    // (operator, frames it pins once besides its generations, run)
    val loops: Seq[(String, Int, () => DataFrame)] = Seq(
      ("pageRank", 1, () => PageRank.pageRank(path, "s", "d", nodes, "id", iterations = 6)),
      ("weightedPageRank", 1, () => PageRank.weightedPageRank(
        path.withColumn("w", lit(2.0)), "s", "d", "w", nodes, "id", iterations = 6)),
      ("personalizedPageRank", 1, () => PageRank.personalizedPageRank(
        path, "s", "d", nodes, "id", Seq(1L), iterations = 6)),
      ("labelPropagation", 1, () => LabelProp.labelPropagation(path, "s", "d", nodes, "id",
        iterations = 6)),
      ("hits", 1, () => Hits.hits(path, "s", "d", nodes, "id", iterations = 6)),
      ("resolve", 0, () => Hierarchy.resolve(parents, "id", "p", maxDepth = 32)),
      ("kCore", 0, () => KCore.kCore(path, "s", "d", k = 2)),
      ("hopDistance", 1, () => Bfs.hopDistance(path, "s", "d", Seq(1L), maxHops = 6)),
      ("clusters", 0, () => Dedup.clusters(nodes, path, "id", "s", "d")),
      ("clustersStar", 0, () => Dedup.clustersStar(
        (1L to 64L).toDF("id"), longPath, "id", "s", "d")))
    val leaks = loops.flatMap { case (name, inputs, run) =>
      val before = sc.getPersistentRDDs.keySet.toSet
      run().collect()
      // outside any scope nothing else frees blocks (unpersist removes
      // ids from the registry synchronously), so the survivors are what
      // the loop kept: its inputs and its last generation
      val survived = sc.getPersistentRDDs.keySet.toSet -- before
      survived.foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
      if (survived.size <= inputs + 1) None
      else Some(s"$name kept ${survived.size} (bound ${inputs + 1})")
    }
    assert(leaks.isEmpty, leaks.mkString("; "))
  }

  test("gramMatrix shuffles k^2-bounded partials, not row-scaled data") {
    val df = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val plan = EmbedStats.gramMatrix(df, "embedding", dim = 64)
      .queryExecution.executedPlan.toString
    // partial aggregate below the exchange: map-side combine caps each
    // partition's shuffle contribution at k^2 rows
    assert(plan.contains("HashAggregate"))
    assert("HashAggregate".r.findAllIn(plan).length >= 2)
    assert(plan.contains("Generate")) // the posexplode stays codegen-adjacent
  }

  test("powerIterationFp aligns with the breeze top eigendirection of the Gram") {
    // powerIterationFp iterates the raw (uncentered) Gram — compare
    // against an exact eigensolve of that same matrix.
    val df = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val vfp = EmbedStats.powerIterationFp(df, "embedding", dim = 64, iters = 64)
    val rows = df.select("embedding").collect()
      .map(_.getSeq[Float](0).map(x => math.round(x.toDouble * 1000).toDouble).toArray)
    val gram = breeze.linalg.DenseMatrix.tabulate(64, 64) { (i, j) =>
      rows.map(r => r(i) * r(j)).sum
    }
    val es = breeze.linalg.eigSym(gram)
    val top = Array.tabulate(64)(i => es.eigenvectors(i, 63)) // ascending order
    val v = vfp.map(_.toDouble)
    val nv = math.sqrt(v.map(x => x * x).sum)
    val cos = math.abs(v.zip(top).map { case (a, b) => a * b }.sum / nv)
    assert(cos > 0.98, s"fixed-point eigenvector diverges: cos=$cos")
  }

  test("powerIterationFp is invariant to partitioning (exact integers)") {
    val df = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val a = EmbedStats.powerIterationFp(df, "embedding", dim = 64)
    val b = EmbedStats.powerIterationFp(df.repartition(13), "embedding", dim = 64)
    assert(a.toSeq == b.toSeq)
  }

  test("powerProjectFp scores are the exact integer dot products") {
    val df = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val v = EmbedStats.powerIterationFp(df, "embedding", dim = 64)
    val scores = EmbedStats.powerProjectFp(df, "embedding", "vec_id", dim = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val hand = df.select("vec_id", "embedding").collect().map { r =>
      val e = r.getSeq[Float](1)
      r.getLong(0) -> e.zipWithIndex.map { case (x, i) =>
        math.round(x.toDouble * 1000) * v(i)
      }.sum
    }.toMap
    assert(scores == hand)
  }
  test("hierarchy: pointer doubling resolves root/depth in log rounds; guards fire") {
    import graft.graph.Hierarchy
    // binary-tree parents: 0 is root (parent = self)
    val nodes = (0L to 40L).map(i => (i, i / 2)).toDF("id", "parent")
    val r = Hierarchy.resolve(nodes, "id", "parent", maxDepth = 16)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r(0L) == ((0L, 0L)))
    assert(r(1L) == ((0L, 1L)))
    assert(r(40L) == ((0L, 6L))) // 40->20->10->5->2->1->0: six hops
    // null parent is also a root
    val two = Seq((10L, null.asInstanceOf[java.lang.Long]), (11L, java.lang.Long.valueOf(10L)))
      .toDF("id", "parent")
    val r2 = Hierarchy.resolve(two, "id", "parent")
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r2(10L) == ((10L, 0L)) && r2(11L) == ((10L, 1L)))
    // depth overrun: chain of 9 with maxDepth 4 (2 rounds -> 4-hops known)
    val chain = (0L to 9L).map(i => (i, math.max(0L, i - 1))).toDF("id", "parent")
    intercept[IllegalArgumentException](
      Hierarchy.resolve(chain, "id", "parent", maxDepth = 4))
    // a 2-cycle never stabilizes
    val cyc = Seq((1L, 2L), (2L, 1L)).toDF("id", "parent")
    intercept[IllegalArgumentException](
      Hierarchy.resolve(cyc, "id", "parent", maxDepth = 8))
  }
}
