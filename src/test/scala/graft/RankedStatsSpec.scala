package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{HypothesisTests, RankedStats, TimeSeries}

/** Rank-statistics machinery ([[graft.operators.RankedStats]],
  * [[graft.operators.HypothesisTests]], CUSUM): the sharded cumsum
  * against a single-window reference, closed-form test statistics, and
  * the BH step-up on a hand-checked example.
  */
class RankedStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("withCumulative matches a single-partition window cumsum on a multi-shard histogram") {
    // large enough that 8 shards are all populated — the regression case
    // for the two-branch range-boundary disagreement (each branch of the
    // un-checkpointed plan sampled its own boundaries and ~75% of rows
    // got a wrong cumulative)
    val hist = spark.range(1, 5000)
      .select((col("id") % 997).cast("double").as("v"))
      .groupBy("v").agg(count(lit(1)).as("t"))
    TestSpark.withShufflePartitions(8) {
      val got = RankedStats.withCumulative(hist, Nil, "v", Seq("t"))
        .select(col("v"), col("__cum_t"))
      val want = hist.withColumn("__cum_t",
        sum(col("t")).over(Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("v"), col("__cum_t"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    }
  }

  test("withCumulative keeps groups independent") {
    val hist = Seq(("a", 1.0, 2L), ("a", 2.0, 3L), ("b", 1.0, 5L), ("b", 3.0, 7L))
      .toDF("g", "v", "t")
    val got = TestSpark.withShufflePartitions(4) {
      RankedStats.withCumulative(hist, Seq("g"), "v", Seq("t"))
        .select(col("g"), col("v"), col("__cum_t")).as[(String, Double, Long)]
        .collect().toSet
    }
    assert(got == Set(("a", 1.0, 2L), ("a", 2.0, 5L), ("b", 1.0, 5L), ("b", 3.0, 12L)))
  }

  test("withCumulative: __cum and __tot equal a global-window reference under 1, 3 and 8 shards") {
    // 7 (group, value) rows: 8 shards leaves some empty, 3 splits group
    // a across shards, and group b is a single row
    val hist = Seq(("a", 1.0, 2L, 1L), ("a", 2.0, 3L, 0L), ("a", 4.0, 1L, 1L),
      ("a", 9.0, 5L, 2L), ("b", 3.0, 7L, 7L), ("c", -1.0, 4L, 0L), ("c", 6.0, 2L, 2L))
      .toDF("g", "v", "t", "p")
    val byValue = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byGroup = Window.partitionBy(col("g"))
    val cols = Seq("g", "v", "__cum_t", "__cum_p", "__tot_t", "__tot_p")
    val want = hist
      .withColumn("__cum_t", sum(col("t")).over(byValue))
      .withColumn("__cum_p", sum(col("p")).over(byValue))
      .withColumn("__tot_t", sum(col("t")).over(byGroup))
      .withColumn("__tot_p", sum(col("p")).over(byGroup))
      .select(cols.map(col): _*).collect().toSet
    for (n <- Seq(1, 3, 8)) {
      val got = TestSpark.withShufflePartitions(n) {
        RankedStats.withCumulative(hist, Seq("g"), "v", Seq("t", "p"))
          .select(cols.map(col): _*).collect().toSet
      }
      assert(got == want, s"diverged at $n shards")
    }
  }

  test("Percentiles.exact / weightedExact equal the builtin percentile; an all-NULL group is absent") {
    import graft.operators.Percentiles
    val df = Seq(("a", Some(3.0), 2L), ("a", Some(1.0), 1L), ("a", Some(3.0), 4L),
      ("a", Some(7.5), 1L), ("a", Some(-2.0), 3L), ("a", Some(10.0), 1L), ("a", None, 5L),
      ("b", Some(4.0), 6L), ("n", None, 1L), ("n", None, 2L))
      .toDF("g", "v", "w")
    val ps = Seq(0.0, 0.1, 0.25, 0.5, 0.9, 1.0)
    val psSql = ps.mkString("array(", ", ", ")")
    def builtin(args: String) = df.groupBy("g").agg(expr(s"percentile($args)").as("q"))
      .filter(col("q").isNotNull).as[(String, Seq[Double])].collect().toMap
    val want = builtin(s"v, $psSql")
    val wantW = builtin(s"v, $psSql, w")
    assert(want.keySet == Set("a", "b") && wantW.keySet == Set("a", "b"))
    for (n <- Seq(1, 3, 8)) TestSpark.withShufflePartitions(n) {
      val got = Percentiles.exact(df, Seq("g"), "v", ps, "q")
        .as[(String, Seq[Double])].collect().toMap
      val gotW = Percentiles.weightedExact(df, Seq("g"), "v", "w", ps, "q")
        .as[(String, Seq[Double])].collect().toMap
      assert(got == want, s"exact diverged at $n shards")
      assert(gotW == wantW, s"weightedExact diverged at $n shards")
    }
  }

  test("gini: uniform mass scores 0, fully concentrated mass scores (n-1)/n") {
    val uniform = Seq.fill(8)(("s", 10.0)).toDF("g", "x")
    val gu = RankedStats.gini(uniform, Seq("g"), "x").select("gini").head.getDouble(0)
    assert(gu == 0.0)
    val conc = (Seq.fill(7)(("s", 0.0)) :+ ("s", 100.0)).toDF("g", "x")
    val gc = RankedStats.gini(conc, Seq("g"), "x").select("gini").head.getDouble(0)
    assert(gc == 0.875) // (n-1)/n with n=8
  }

  test("gini rejects negative values loudly") {
    val df = Seq(("s", -1.0), ("s", 5.0)).toDF("g", "x")
    val e = intercept[Exception] {
      RankedStats.gini(df, Seq("g"), "x").collect()
    }
    assert(e.getMessage.contains("non-negative"))
  }

  test("ksTest: identical samples give D=0; disjoint ranges give D=1") {
    val same = (1 to 50).flatMap(i => Seq(("a", i.toDouble), ("b", i.toDouble)))
      .toDF("side", "v")
    val r0 = HypothesisTests.ksTest(same, "side", "v", "a", "b").head
    assert(r0.getAs[Double]("ks_d") == 0.0)
    val apart = ((1 to 30).map(i => ("a", i.toDouble))
      ++ (100 to 140).map(i => ("b", i.toDouble))).toDF("side", "v")
    val r1 = HypothesisTests.ksTest(apart, "side", "v", "a", "b").head
    assert(r1.getAs[Double]("ks_d") == 1.0)
    assert(r1.getAs[Long]("n_a") == 30L && r1.getAs[Long]("n_b") == 41L)
  }

  test("mannWhitneyU: a stochastically smaller side gives U=0; swap symmetry holds") {
    val df = ((1 to 10).map(i => ("a", i.toDouble))
      ++ (20 to 34).map(i => ("b", i.toDouble))).toDF("side", "v")
    val r = HypothesisTests.mannWhitneyU(df, "side", "v", "a", "b").head
    // every A value ranks below every B value: R_a = 55, U = 55 - 55 = 0
    assert(r.getAs[Double]("u_stat") == 0.0)
    val sw = HypothesisTests.mannWhitneyU(df, "side", "v", "b", "a").head
    assert(sw.getAs[Double]("u_stat") == 150.0) // n_a*n_b - 0
  }

  test("ksTest / mannWhitneyU: an empty side yields null statistics, not NaN") {
    // every row lands on side a; side b is empty — the degenerate case
    // the null-on-degenerate convention covers (NaN would poison any
    // downstream aggregate silently)
    val df = (1 to 5).map(i => ("a", i.toDouble)).toDF("side", "v")
    val ks = HypothesisTests.ksTest(df, "side", "v", "a", "b").head
    assert(ks.getAs[Long]("n_a") == 5L && ks.getAs[Long]("n_b") == 0L)
    assert(ks.isNullAt(ks.fieldIndex("ks_d")) && ks.isNullAt(ks.fieldIndex("ks_z")))
    val mw = HypothesisTests.mannWhitneyU(df, "side", "v", "a", "b").head
    assert(mw.isNullAt(mw.fieldIndex("u_stat")) && mw.isNullAt(mw.fieldIndex("mw_z")))
  }

  test("mannWhitneyU midranks: all-tied samples give U = n_a*n_b/2 and a null z") {
    val df = (1 to 12).map(i => (if (i % 2 == 0) "a" else "b", 7.0)).toDF("side", "v")
    val r = HypothesisTests.mannWhitneyU(df, "side", "v", "a", "b").head
    assert(r.getAs[Double]("u_stat") == 18.0) // 6*6/2
    assert(r.isNullAt(r.fieldIndex("mw_z"))) // sigma = 0: no defined z
  }

  test("spearman: monotone gives 1, reversed gives -1, one tie matches sqrt(3)/2") {
    // perfect monotone (nonlinear): rho = 1; reversed: rho = -1
    val mono = Seq((1.0, 1.0), (2.0, 4.0), (3.0, 9.0)).toDF("x", "y")
    assert(TestSpark.withShufflePartitions(2) {
      HypothesisTests.spearman(mono, Nil, "x", "y").head.getAs[Double]("rho")
    } == 1.0)
    val rev = Seq((1.0, 9.0), (2.0, 4.0), (3.0, 1.0)).toDF("x", "y")
    assert(HypothesisTests.spearman(rev, Nil, "x", "y")
      .head.getAs[Double]("rho") == -1.0)
    // x = {1,1,2}: midranks {1.5,1.5,3}; known closed form sqrt(3)/2
    val tied = Seq((1.0, 1.0), (1.0, 2.0), (2.0, 3.0)).toDF("x", "y")
    val r = HypothesisTests.spearman(tied, Nil, "x", "y").head
    assert(r.getAs[Long]("n") == 3L)
    assert(r.getAs[Double]("rho") ==
      math.rint((math.sqrt(3.0) / 2 + 1e-12) * 1e6) / 1e6)
  }

  test("spearman: constant column nulls rho; groups are independent") {
    val df = Seq(("a", 1.0, 5.0), ("a", 2.0, 5.0), ("a", 3.0, 5.0),
      ("b", 1.0, 2.0), ("b", 2.0, 3.0), ("b", 3.0, 1.0)).toDF("g", "x", "y")
    val rows = HypothesisTests.spearman(df, Seq("g"), "x", "y")
      .orderBy("g").collect()
    assert(rows(0).isNullAt(rows(0).fieldIndex("rho"))) // constant y in a
    // b: ranks x {1,2,3}, y {2,3,1} -> rho = 1 - 6*(1+1+4)/(3*8) = -0.5
    assert(rows(1).getAs[Double]("rho") == -0.5)
  }

  test("bhReject: hand-checked step-up including a rejected-by-tie block") {
    // m=5, q=0.25: thresholds k*q/m = .05,.10,.15,.20,.25
    // sorted p = .01,.04,.04,.30,.50 -> ties at .04 top out at k=3
    // (.04 <= .15), so p* = .04 and three rejections
    val df = Seq((1L, 0.01), (2L, 0.04), (3L, 0.04), (4L, 0.30), (5L, 0.50))
      .toDF("id", "p")
    val got = HypothesisTests.bhReject(df, "p", q = 0.25)
      .select(col("id"), col("rejected")).as[(Long, Boolean)].collect().toMap
    assert(got == Map(1L -> true, 2L -> true, 3L -> true, 4L -> false, 5L -> false))
  }

  test("bhReject: nothing admissible rejects nothing") {
    val df = Seq((1L, 0.8), (2L, 0.9)).toDF("id", "p")
    val got = HypothesisTests.bhReject(df, "p", q = 0.05)
      .select("rejected").as[Boolean].collect()
    assert(got.forall(!_))
  }

  test("cusum follows the Page recurrence and resets after sub-target runs") {
    // target 10, slack 0: y = x - 10. S: 2,0,5,11 -> alarm at the last
    val df = Seq((1L, 1, 12.0), (1L, 2, 7.0), (1L, 3, 15.0), (1L, 4, 16.0))
      .toDF("k", "i", "x")
    val got = TimeSeries.cusum(df, Seq("k"), Seq("i"), "x",
        target = 10.0, slack = 0.0, threshold = 10.0)
      .orderBy("i").select("cusum", "alarm").as[(Double, Boolean)].collect()
    assert(got.map(_._1).toSeq == Seq(2.0, 0.0, 5.0, 11.0))
    assert(got.map(_._2).toSeq == Seq(false, false, false, true))
  }

  test("cusum keys are independent") {
    val df = Seq((1L, 1, 100.0), (2L, 1, 0.0), (2L, 2, 0.0))
      .toDF("k", "i", "x")
    val got = TimeSeries.cusum(df, Seq("k"), Seq("i"), "x",
        target = 1.0, slack = 0.0, threshold = 50.0)
      .select(col("k"), col("cusum")).as[(Long, Double)].collect().toSet
    assert(got == Set((1L, 99.0), (2L, 0.0)))
  }

  private def round6(x: Double): Double = math.rint((x + 1e-12) * 1e6) / 1e6

  test("mcnemar: hand-counted cells, chi2, and continuity correction") {
    // n00=3, n01=2, n10=6, n11=4; null-flag rows drop
    val rows = Seq.fill(3)((Some(false), Some(false))) ++
      Seq.fill(2)((Some(false), Some(true))) ++
      Seq.fill(6)((Some(true), Some(false))) ++
      Seq.fill(4)((Some(true), Some(true))) :+ ((None: Option[Boolean], Some(true)))
    val r = graft.operators.PairedTests.mcnemar(rows.toDF("a", "b"), "a", "b").head
    assert((r.getAs[Long]("n00"), r.getAs[Long]("n01"),
      r.getAs[Long]("n10"), r.getAs[Long]("n11")) == ((3L, 2L, 6L, 4L)))
    assert(r.getAs[Double]("mcnemar_chi2") == 2.0) // (6-2)^2 / 8
    assert(r.getAs[Double]("mcnemar_cc") == 1.125) // (4-1)^2 / 8
  }

  test("mcnemar: no discordant pairs yields null statistics") {
    val r = graft.operators.PairedTests.mcnemar(
      Seq((true, true), (false, false)).toDF("a", "b"), "a", "b").head
    assert(r.isNullAt(r.fieldIndex("mcnemar_chi2")))
    assert(r.isNullAt(r.fieldIndex("mcnemar_cc")))
  }

  test("wilcoxonSignedRank: untied example, zero pairs dropped") {
    // d = +1,+2,+3,-4 (plus a zero pair that drops): W+ = 1+2+3 = 6,
    // n = 4, mean = 5, sigma^2 = 4*5*9/24 = 7.5
    val df = Seq((2.0, 1.0), (4.0, 2.0), (6.0, 3.0), (1.0, 5.0), (5.0, 5.0))
      .toDF("x", "y")
    val r = graft.operators.PairedTests.wilcoxonSignedRank(df, "x", "y").head
    assert(r.getAs[Long]("n") == 4L)
    assert(r.getAs[Double]("w_plus") == 6.0)
    assert(r.getAs[Double]("wsr_z") == round6(1.0 / math.sqrt(7.5)))
  }

  test("wilcoxonSignedRank: tied |d| block uses midranks and the tie correction") {
    // d = +1,-1,+2: midranks {1.5,1.5,3}, W+ = 4.5, n = 3,
    // sigma^2 = 3*4*7/24 - (2^3-2)/48 = 3.375
    val df = Seq((2.0, 1.0), (1.0, 2.0), (5.0, 3.0)).toDF("x", "y")
    val r = TestSpark.withShufflePartitions(2) {
      graft.operators.PairedTests.wilcoxonSignedRank(df, "x", "y").head
    }
    assert(r.getAs[Long]("n") == 3L)
    assert(r.getAs[Double]("w_plus") == 4.5)
    assert(r.getAs[Double]("wsr_z") == round6(1.5 / math.sqrt(3.375)))
  }

  test("levene: hand-computed F over scaled deviations; equal-spread degenerate is null") {
    // a: {0,2,4} -> z = {2,0,2}; b: {0,8} -> z = {4,4}
    // SSB = 112/15... spelled: sq = 16/3 + 32, S = 12, Q = 40 -> F = 9.6
    val df = Seq(("a", 0.0), ("a", 2.0), ("a", 4.0), ("b", 0.0), ("b", 8.0))
      .toDF("g", "v")
    val r = HypothesisTests.levene(df, "g", "v").head
    assert(r.getAs[Long]("k") == 2L && r.getAs[Long]("n") == 5L)
    assert(r.getAs[Double]("w_stat") == 9.6)
    // both groups internally constant in |deviation| -> SSW = 0 -> null
    val deg = Seq(("a", 1.0), ("a", 3.0), ("b", 2.0), ("b", 4.0)).toDF("g", "v")
    val r2 = HypothesisTests.levene(deg, "g", "v").head
    assert(r2.isNullAt(r2.fieldIndex("w_stat")))
  }

  test("friedman: untied classic gives chi2 = corrected = 8; incomplete blocks drop; all-tied nulls") {
    // 4 blocks, 3 treatments, same ordering everywhere: R = (4, 8, 12)
    val rows = for (b <- 1 to 4; (t, v) <- Seq(("A", 1.0), ("B", 2.0), ("C", 3.0)))
      yield (b.toLong, t, v + b) // +b keeps within-block order, varies values
    val df = rows.toDF("blk", "trt", "v")
    val r = graft.operators.PairedTests.friedman(df, "blk", "trt", "v").head
    assert(r.getAs[Long]("n") == 4L && r.getAs[Long]("k") == 3L)
    assert(r.getAs[Double]("q_stat") == 8.0)
    assert(r.getAs[Double]("q_corrected") == 8.0)
    // a block missing a treatment drops without changing the statistic
    val extra = df.unionByName(Seq((9L, "A", 1.0)).toDF("blk", "trt", "v"))
    val r2 = graft.operators.PairedTests.friedman(extra, "blk", "trt", "v").head
    assert(r2.getAs[Long]("n") == 4L && r2.getAs[Double]("q_stat") == 8.0)
    // every block fully tied: A = C -> null statistics
    val tied = (for (b <- 1 to 2; t <- Seq("A", "B", "C")) yield (b.toLong, t, 5.0))
      .toDF("blk", "trt", "v")
    val r3 = graft.operators.PairedTests.friedman(tied, "blk", "trt", "v").head
    assert(r3.isNullAt(r3.fieldIndex("q_stat")))
  }

  test("cochranQ: hand-counted 4x3 gives Q = 3; all-success denominator nulls") {
    val rows = Seq(
      (1L, "A", true), (1L, "B", true), (1L, "C", false),
      (2L, "A", true), (2L, "B", false), (2L, "C", false),
      (3L, "A", true), (3L, "B", true), (3L, "C", true),
      (4L, "A", false), (4L, "B", false), (4L, "C", false))
    val r = graft.operators.PairedTests.cochranQ(
      rows.toDF("blk", "trt", "x"), "blk", "trt", "x").head
    assert(r.getAs[Long]("n") == 4L && r.getAs[Long]("k") == 3L)
    assert(r.getAs[Double]("q_stat") == 3.0) // 2*(3*14-36)/(3*6-14)
    val allPass = rows.map { case (b, t, _) => (b, t, true) }
    val rp = graft.operators.PairedTests.cochranQ(
      allPass.toDF("blk", "trt", "x"), "blk", "trt", "x").head
    assert(rp.isNullAt(rp.fieldIndex("q_stat")))
  }

  test("effectSizes: separated triples give d = -3, g = -2.4, cliff = -1") {
    val df = (Seq(1.0, 2.0, 3.0).map(("a", _)) ++ Seq(4.0, 5.0, 6.0).map(("b", _)))
      .toDF("side", "v")
    val r = HypothesisTests.effectSizes(df, "side", "v", "a", "b").head
    assert(r.getAs[Double]("cohen_d") == -3.0)
    assert(r.getAs[Double]("hedges_g") == round6(-3.0 * (1.0 - 3.0 / 15.0)))
    assert(r.getAs[Double]("cliff_delta") == -1.0)
  }

  test("mahalanobis2: symmetric cross scores corners equally, center zero; collinear nulls") {
    val df = Seq((1L, 0.0, 0.0), (2L, 2.0, 0.0), (3L, 0.0, 2.0),
      (4L, 2.0, 2.0), (5L, 1.0, 1.0)).toDF("id", "x", "y")
    val got = graft.operators.Robust.mahalanobis2(df, "x", "y")
      .select("id", "maha2").as[(Long, Double)].collect().toMap
    assert(got(5L) == 0.0)
    assert(Seq(1L, 2L, 3L, 4L).forall(got(_) == 2.0))
    val coll = Seq((1L, 1.0, 2.0), (2L, 2.0, 4.0), (3L, 3.0, 6.0)).toDF("id", "x", "y")
    val r = graft.operators.Robust.mahalanobis2(coll, "x", "y")
      .select("maha2").collect()
    assert(r.forall(_.isNullAt(0)))
  }

  test("twoProportionTest: hand z and Wilson interval; empty side nulls") {
    // a: 8/10, b: 4/10 -> pool 0.6
    val rows = (1 to 10).map(i => ("a", i <= 8)) ++ (1 to 10).map(i => ("b", i <= 4))
    val r = HypothesisTests.twoProportionTest(rows.toDF("g", "s"), "g", "s", "a", "b").head
    assert((r.getAs[Long]("n_a"), r.getAs[Long]("x_a"),
      r.getAs[Long]("n_b"), r.getAs[Long]("x_b")) == ((10L, 8L, 10L, 4L)))
    val se = math.sqrt(0.6 * 0.4 * (1.0 / 10 + 1.0 / 10))
    assert(r.getAs[Double]("z_stat") == round6((0.8 - 0.4) / se))
    val (nd, z2) = (10.0, 1.96 * 1.96)
    val denom = 1.0 + z2 / nd
    val center = (0.8 + z2 / (nd * 2)) / denom
    val half = 1.96 * math.sqrt(0.8 * (1.0 - 0.8) / nd + z2 / (nd * nd * 4)) / denom
    assert(r.getAs[Double]("ci_a_lo") == round6(center - half))
    assert(r.getAs[Double]("ci_a_hi") == round6(center + half))
    val one = HypothesisTests.twoProportionTest(
      Seq(("a", true)).toDF("g", "s"), "g", "s", "a", "b").head
    assert(one.isNullAt(one.fieldIndex("z_stat")))
    assert(one.isNullAt(one.fieldIndex("p_b")))
  }

  test("partialCorr: additive independent confound yields partial = 1; constant column nulls") {
    // y = x + z with x independent of z: controlling z reveals the exact link
    val df = Seq((0.0, 0.0, 0.0), (0.0, 1.0, 1.0), (1.0, 0.0, 1.0), (1.0, 1.0, 2.0))
      .toDF("x", "z", "y")
    val r = HypothesisTests.partialCorr(df, "x", "y", "z").head
    assert(r.getAs[Double]("r_xz") == 0.0)
    assert(r.getAs[Double]("r_partial") == 1.0)
    val const = Seq((1.0, 2.0, 5.0), (1.0, 3.0, 5.0)).toDF("x", "y", "z")
    val rc = HypothesisTests.partialCorr(const, "x", "y", "z").head
    assert(rc.isNullAt(rc.fieldIndex("r_partial")))
  }

  test("oddsRatio2x2: uncorrected cells give the closed-form OR/CI; zero cell corrects") {
    // n11=6, n10=2, n01=3, n00=9: OR = 54/6 = 9
    val rows = Seq.fill(6)((true, true)) ++ Seq.fill(2)((true, false)) ++
      Seq.fill(3)((false, true)) ++ Seq.fill(9)((false, false))
    val r = HypothesisTests.oddsRatio2x2(rows.toDF("e", "o"), "e", "o").head
    val se = math.sqrt(1.0 / 6 + 1.0 / 2 + 1.0 / 3 + 1.0 / 9)
    assert(r.getAs[Double]("odds_ratio") == 9.0)
    assert(r.getAs[Double]("log_or") == round6(math.log(9.0)))
    assert(r.getAs[Double]("se_log_or") == round6(se))
    assert(r.getAs[Double]("ci_lo") == round6(math.exp(math.log(9.0) - 1.96 * se)))
    assert(r.getAs[Double]("ci_hi") == round6(math.exp(math.log(9.0) + 1.96 * se)))
    // risk ratio = (6/8) / (3/12) = 3
    assert(r.getAs[Double]("risk_ratio") == 3.0)
    assert(!r.getAs[Boolean]("corrected"))
    // a zero cell fires Haldane-Anscombe on ALL cells and nulls the RR
    val z = Seq.fill(4)((true, true)) ++ Seq.fill(2)((false, false))
    val rz = HypothesisTests.oddsRatio2x2(z.toDF("e", "o"), "e", "o").head
    assert(rz.getAs[Boolean]("corrected"))
    assert(rz.isNullAt(rz.fieldIndex("risk_ratio")))
    // corrected OR = (4.5*2.5)/(0.5*0.5) = 45
    assert(rz.getAs[Double]("odds_ratio") == 45.0)
  }
}
