package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Winnow
import graft.operators.{Calibration, HypothesisTests, Markov}

/** Hand-checked examples for the k-group tests (Kruskal–Wallis H,
  * one-way ANOVA F), classifier calibration (reliability bins + ECE),
  * the Markov transition matrix, and the winnowing fingerprint
  * guarantee (any shared run of ≥ w+k−1 tokens shares a fingerprint).
  */
class StatsModelsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("kruskalWallis matches the hand-computed tie-free H") {
    // groups a={1,2}, b={3,4}, c={5,6}: ranks 1..6, R_a=3, R_b=7, R_c=11
    // H = 12/(6*7) * (9/2 + 49/2 + 121/2) - 3*7 = 12/42*89.5 - 21
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0),
      ("c", 5.0), ("c", 6.0)).toDF("g", "v")
    val r = TestSpark.withShufflePartitions(2) {
      HypothesisTests.kruskalWallis(df, "g", "v").head
    }
    assert(r.getAs[Long]("k") == 3L && r.getAs[Long]("n") == 6L)
    val want = math.rint((12.0 / 42.0 * 89.5 - 21.0 + 1e-12) * 1e6) / 1e6
    assert(r.getAs[Double]("h_stat") == want)
    assert(r.getAs[Double]("h_corrected") == want) // no ties: corr = 1
  }

  test("kruskalWallis tie correction divides by 1 - sum(t^3-t)/(N^3-N); all-tied is null") {
    // a={1,1}, b={2,2}: midranks 1.5,1.5,3.5,3.5; R_a=3, R_b=7
    // H = 12/(4*5)*(9/2+49/2) - 15 = 2.4; ties: two blocks of 2 ->
    // sum(t^3-t)=12, corr = 1 - 12/60 = 0.8 -> H' = 3.0
    val df = Seq(("a", 1.0), ("a", 1.0), ("b", 2.0), ("b", 2.0)).toDF("g", "v")
    val r = TestSpark.withShufflePartitions(2) {
      HypothesisTests.kruskalWallis(df, "g", "v").head
    }
    assert(r.getAs[Double]("h_stat") == 2.4 && r.getAs[Double]("h_corrected") == 3.0)
    val tied = Seq(("a", 5.0), ("b", 5.0), ("b", 5.0)).toDF("g", "v")
    assert(HypothesisTests.kruskalWallis(tied, "g", "v").head.isNullAt(3))
  }

  test("anovaF matches the hand-computed decomposition") {
    // a={1,2,3}, b={5,6,7}: means 2 and 6, grand 4
    // SSB = 3*(2-4)^2 + 3*(6-4)^2 = 24; SSW = 2 + 2 = 4
    // F = (24/1)/(4/4) = 24
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 5.0), ("b", 6.0), ("b", 7.0)).toDF("g", "v")
    val r = HypothesisTests.anovaF(df, "g", "v").head
    assert(r.getAs[Long]("k") == 2L && r.getAs[Long]("n") == 6L)
    assert(r.getAs[Double]("ss_between") == 24.0)
    assert(r.getAs[Double]("ss_within") == 4.0)
    assert(r.getAs[Double]("f_stat") == 24.0)
  }

  test("anovaF nulls F when SSW = 0 (constant groups)") {
    val df = Seq(("a", 2.0), ("a", 2.0), ("b", 7.0), ("b", 7.0)).toDF("g", "v")
    val r = HypothesisTests.anovaF(df, "g", "v").head
    assert(r.getAs[Double]("ss_within") == 0.0 && r.isNullAt(4))
  }

  test("welchT matches the hand-computed unequal-variance example") {
    // a={1,2,3}: mean 2, var 1; b={2,4,6}: mean 4, var 4
    // se2 = 1/3 + 4/3; t = -2/sqrt(5/3); dof = (5/3)^2/((1/9+16/9)/2) = 50/17
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 2.0), ("b", 4.0), ("b", 6.0), ("c", 99.0)).toDF("g", "v")
    val r = HypothesisTests.welchT(df, "g", "v", "a", "b").head
    assert(r.getAs[Long]("n_a") == 3L && r.getAs[Long]("n_b") == 3L)
    assert(r.getAs[Double]("mean_a") == 2.0 && r.getAs[Double]("mean_b") == 4.0)
    def r6(x: Double) = math.rint((x + 1e-12) * 1e6) / 1e6
    assert(r.getAs[Double]("t_stat") == r6(-2.0 / math.sqrt(5.0 / 3.0)))
    assert(r.getAs[Double]("dof") == r6(50.0 / 17.0))
  }

  test("welchT nulls t and dof when a side has n < 2") {
    val df = Seq(("a", 1.0), ("b", 2.0), ("b", 3.0)).toDF("g", "v")
    val r = HypothesisTests.welchT(df, "g", "v", "a", "b").head
    assert(r.getAs[Long]("n_a") == 1L)
    assert(r.isNullAt(r.fieldIndex("t_stat")) && r.isNullAt(r.fieldIndex("dof")))
  }

  test("chiSquare matches the hand-computed 2x2 table; nulls drop") {
    // O: (x,p)=10 (x,q)=20 (y,p)=30 (y,q)=40; N=100
    // rows x=30 y=70; cols p=40 q=60; E = 12,18,28,42
    // chi2 = 4/12 + 4/18 + 4/28 + 4/42; V = sqrt(chi2/(100*1))
    val rows = Seq.fill(10)(("x", "p")) ++ Seq.fill(20)(("x", "q")) ++
      Seq.fill(30)(("y", "p")) ++ Seq.fill(40)(("y", "q")) ++
      Seq((null, "p"), ("x", null)) // dropped
    val df = rows.toDF("a", "b")
    val r = HypothesisTests.chiSquare(df, "a", "b").head
    assert(r.getAs[Long]("n") == 100L && r.getAs[Long]("r") == 2L &&
      r.getAs[Long]("c") == 2L && r.getAs[Long]("dof") == 1L)
    val chi = 4.0 / 12 + 4.0 / 18 + 4.0 / 28 + 4.0 / 42
    assert(r.getAs[Double]("chi2") == math.rint((chi + 1e-12) * 1e6) / 1e6)
    assert(r.getAs[Double]("cramers_v") ==
      math.rint((math.sqrt(chi / 100.0) + 1e-12) * 1e6) / 1e6)
  }

  test("chiSquare with a single row-category: chi2 = 0, V null (dof = 0)") {
    // r=1 makes every E = colTot*N/N = O, so chi2 = 0 and V undefined
    val df = Seq(("x", "p"), ("x", "p"), ("x", "q")).toDF("a", "b")
    val r = HypothesisTests.chiSquare(df, "a", "b").head
    assert(r.getAs[Long]("dof") == 0L && r.getAs[Double]("chi2") == 0.0)
    assert(r.isNullAt(r.fieldIndex("cramers_v")))
  }

  test("cohenKappa: hand-computed 2x2 agreement; disjoint labels give kappa 0; pe=1 nulls") {
    import graft.operators.Calibration
    // (x,x)x3 (x,y)x1 (y,y)x2: po=5/6; rows x=4,y=2; cols x=3,y=3
    // pe = (4*3 + 2*3)/36 = 1/2; kappa = (5/6 - 1/2)/(1/2) = 2/3
    val df = Seq(("x", "x"), ("x", "x"), ("x", "x"), ("x", "y"),
      ("y", "y"), ("y", "y")).toDF("a", "b")
    val r = Calibration.cohenKappa(df, "a", "b").head
    def r6(v: Double) = math.rint((v + 1e-12) * 1e6) / 1e6
    assert(r.getAs[Long]("n") == 6L && r.getAs[Long]("n_agree") == 5L)
    assert(r.getAs[Double]("po") == r6(5.0 / 6) && r.getAs[Double]("pe") == 0.5)
    assert(r.getAs[Double]("kappa") == r6((5.0 / 6 - 0.5) / 0.5))
    // disjoint label alphabets: po=0, pe=0 (full-outer product), kappa=0
    val disj = Seq(("x", "z"), ("x", "z")).toDF("a", "b")
    assert(Calibration.cohenKappa(disj, "a", "b").head.getAs[Double]("kappa") == 0.0)
    // one shared constant label: pe=1 -> kappa null (vacuous agreement)
    val const = Seq(("x", "x"), ("x", "x")).toDF("a", "b")
    val c = Calibration.cohenKappa(const, "a", "b").head
    assert(c.getAs[Double]("po") == 1.0 && c.isNullAt(c.fieldIndex("kappa")))
  }

  test("calibration bins, gaps, and ECE on a hand-checked example") {
    // bin 1 (0.1-0.2): scores {0.1, 0.15}, labels {1, 0} -> conf 0.125, acc 0.5
    // bin 9 (0.9-1.0]: scores {0.9, 1.0}, labels {1, 1} -> conf 0.95, acc 1.0
    // ECE = (2*0.375 + 2*0.05)/4 = 0.2125
    val df = Seq((0.1, true), (0.15, false), (0.9, true), (1.0, true))
      .toDF("p", "y")
    val rows = Calibration.calibration(df, "p", "y", bins = 10)
      .orderBy("bin").collect()
    assert(rows.length == 2)
    val b1 = rows(0)
    assert(b1.getAs[Long]("bin") == 1L && b1.getAs[Long]("n") == 2L)
    assert(b1.getAs[Double]("confidence") == 0.125)
    assert(b1.getAs[Double]("accuracy") == 0.5)
    assert(b1.getAs[Double]("gap") == 0.375)
    val b9 = rows(1)
    assert(b9.getAs[Long]("bin") == 9L) // p=1.0 clamps into the top bin
    assert(b9.getAs[Double]("gap") == 0.05)
    assert(rows.forall(_.getAs[Double]("ece") == 0.2125))
  }

  test("rocAuc: hand-computed midrank AUC and distinct-threshold AP with ties") {
    // pos {0.9, 0.7, 0.5}, neg {0.8, 0.5, 0.3, 0.1}
    // pairwise wins: 4 + 3 + 2.5 (one tie at 0.5) = 9.5 -> AUC = 9.5/12
    // AP thresholds desc: 0.9 (P=1/1), 0.7 (P=2/3), 0.5 (P=3/5)
    val df = Seq((0.9, true), (0.7, true), (0.5, true),
      (0.8, false), (0.5, false), (0.3, false), (0.1, false)).toDF("p", "y")
    val r = TestSpark.withShufflePartitions(2)(Calibration.rocAuc(df, "p", "y").head)
    def r6(v: Double) = math.rint((v + 1e-12) * 1e6) / 1e6
    assert(r.getAs[Long]("n") == 7L && r.getAs[Long]("n_pos") == 3L &&
      r.getAs[Long]("n_neg") == 4L)
    assert(r.getAs[Double]("auc") == r6(9.5 / 12))
    assert(r.getAs[Double]("ap") == r6((1.0 + 2.0 / 3 + 3.0 / 5) / 3))
  }

  test("rocAuc: perfect separation, reversal, and one-class nulls") {
    val perfect = Seq((0.9, true), (0.8, true), (0.2, false), (0.1, false))
      .toDF("p", "y")
    val rp = Calibration.rocAuc(perfect, "p", "y").head
    assert(rp.getAs[Double]("auc") == 1.0 && rp.getAs[Double]("ap") == 1.0)
    // every negative outscores every positive: AUC 0, AP = 1/2
    val rev = Seq((0.1, true), (0.9, false)).toDF("p", "y")
    val rr = Calibration.rocAuc(rev, "p", "y").head
    assert(rr.getAs[Double]("auc") == 0.0 && rr.getAs[Double]("ap") == 0.5)
    // one-class inputs: ranking vs the absent class is undefined -> null
    // AUC; AP stays defined (trivially 1) only when positives exist
    val op = Calibration.rocAuc(
      Seq((0.5, true), (0.7, true)).toDF("p", "y"), "p", "y").head
    assert(op.isNullAt(op.fieldIndex("auc")) && op.getAs[Double]("ap") == 1.0)
    val on = Calibration.rocAuc(Seq((0.5, false)).toDF("p", "y"), "p", "y").head
    assert(on.isNullAt(on.fieldIndex("auc")) && on.isNullAt(on.fieldIndex("ap")))
  }

  test("markov transition matrix: exact counts and row-normalized probabilities") {
    // user 1: a->b->a->b ; user 2: a->a
    val df = Seq((1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "a"), (1L, 4L, "b"),
      (2L, 1L, "a"), (2L, 2L, "a")).toDF("u", "t", "s")
    val got = Markov.transitionMatrix(df, Seq("u"), Seq("t"), "s")
      .select("from_state", "to_state", "n", "p")
      .as[(String, String, Long, Double)].collect().toSet
    assert(got == Set(("a", "b", 2L, 0.666667), ("a", "a", 1L, 0.333333),
      ("b", "a", 1L, 1.0)))
  }

  test("winnowing guarantee: a shared run of w+k-1 tokens shares a fingerprint") {
    // k=3, w=4: any common substring of >= 6 tokens must collide
    val shared = "alpha bravo charlie delta echo foxtrot"
    val df = Seq(
      (1L, s"unique one two three $shared tail1 tail2 tail3"),
      (2L, s"$shared other words entirely different here now"),
      (3L, "nothing in common with the rest at all zzz"))
      .toDF("doc_id", "text")
    val fp = Winnow.fingerprints(df, "doc_id", "text", k = 3, w = 4)
    val byDoc = fp.groupBy("id").agg(collect_set("fp").as("fps"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(byDoc(1L).toSet.intersect(byDoc(2L).toSet).nonEmpty)
    assert(byDoc(3L).toSet.intersect(byDoc(1L).toSet ++ byDoc(2L).toSet).isEmpty)
    // short-document rule: fewer than w k-grams keeps the global min
    val short = Seq((9L, "just four tokens here")).toDF("doc_id", "text")
    assert(Winnow.fingerprints(short, "doc_id", "text", k = 3, w = 4).count() == 1L)
    // sub-k documents produce no fingerprints (and no crash)
    val tiny = Seq((8L, "two words")).toDF("doc_id", "text")
    assert(Winnow.fingerprints(tiny, "doc_id", "text", k = 3, w = 4).count() == 0L)
  }

  test("winnow candidatePairs excludes oversized fingerprint buckets loudly-by-doc") {
    // 30 docs all sharing one boilerplate sentence; maxBucket=10 drops
    // that bucket, so no pairs form from boilerplate alone
    val docs = (0 until 30).map(i =>
      (i.toLong, s"common boiler plate sentence shared by all plus unique$i"))
      .toDF("doc_id", "text")
    val pairs = Winnow.candidatePairs(docs, "doc_id", "text",
      k = 3, w = 4, minShared = 1, maxBucket = 10)
    assert(pairs.count() == 0L)
  }
}
