package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.LogReg

/** Fixed-point logistic-regression training ([[graft.ml.LogReg]]). */
class MlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Linearly separable 2-class data: class 1 iff x1 > 0. Values kept
    * off the 1e-6 grid boundaries so quantization is unambiguous. */
  private def separable(n: Int) = {
    val rows = (0 until n).map { i =>
      val x1 = if (i % 2 == 0) 0.4 + 0.001 * (i % 7) else -0.4 - 0.001 * (i % 7)
      val x2 = 0.1 * ((i % 5) - 2)
      val label = if (x1 > 0) 1 else 0
      (i.toLong, Seq(x1.toFloat, x2.toFloat), label)
    }
    rows.toDF("id", "emb", "label")
  }

  test("trainFp separates linearly separable data") {
    val df = separable(200)
    val w = LogReg.trainFp(df, "emb", "label", positive = 1, dim = 2,
      iters = 20, lr = 0.5)
    assert(w.length == 3)
    // the x1 weight must dominate and be positive; all 200 rows classified
    assert(w(1) > 0)
    val scored = LogReg.scoreFp(df, "emb", "id", w)
      .join(df.select(col("id"), col("label").cast("long").as("y")), "id")
    val acc = scored.filter(col("pred") === col("y")).count() / 200.0
    assert(acc >= 0.99, s"accuracy $acc")
  }

  test("trainFp is bit-identical across partitionings (order-free exact sums)") {
    val df = separable(151)
    val w3 = LogReg.trainFp(df.repartition(3), "emb", "label", 1, 2, 6, 0.5)
    val w17 = LogReg.trainFp(df.repartition(17), "emb", "label", 1, 2, 6, 0.5)
    assert(w3.toSeq == w17.toSeq)
  }

  test("trainFp: iteration 1 from zero weights moves the bias by the class imbalance") {
    // with w=0 every p is exactly 0.5, so the bias gradient is
    // sum(0.5 - y): n/2 - positives — a hand-computable first step
    val df = Seq(
      (0L, Seq(0.25f, 0.0f), 1), (1L, Seq(-0.25f, 0.0f), 0),
      (2L, Seq(0.125f, 0.0f), 0), (3L, Seq(-0.125f, 0.0f), 0)
    ).toDF("id", "emb", "label")
    val w = LogReg.trainFp(df, "emb", "label", positive = 1, dim = 2,
      iters = 1, lr = 0.5)
    // bias grad = (0.5-1) + 0.5 + 0.5 + 0.5 = 1.0 → mean 0.25, step -0.125
    assert(w(0) == -125000L)
    // x1 grad = (-.5)(.25) + (.5)(-.25) + (.5)(.125) + (.5)(-.125)
    //         = -0.25 → mean -0.0625, step +0.03125
    assert(w(1) == 31250L)
    assert(w(2) == 0L)
  }

  test("trainFp rejects empty input, bad iters, and oversized features") {
    val empty = Seq.empty[(Long, Seq[Float], Int)].toDF("id", "emb", "label")
    intercept[IllegalArgumentException](
      LogReg.trainFp(empty, "emb", "label", 1, 2, 1, 0.5))
    val one = Seq((0L, Seq(0.1f, 0.1f), 1)).toDF("id", "emb", "label")
    intercept[IllegalArgumentException](
      LogReg.trainFp(one, "emb", "label", 1, 2, 0, 0.5))
    val big = Seq((0L, Seq(500.0f, 0.1f), 1)).toDF("id", "emb", "label")
    intercept[IllegalArgumentException](
      LogReg.trainFp(big, "emb", "label", 1, 2, 1, 0.5))
  }

  test("naiveBayes: hand-checked counts, smoothing, and priors on a tiny corpus") {
    import graft.ml.NaiveBayes
    val docs = Seq(
      (0L, "a a b", "x"), (1L, "a b", "x"), (2L, "c c", "y")
    ).toDF("doc_id", "text", "lang")
    val (priors, lik) = NaiveBayes.model(docs, "text", "lang")
    val pr = priors.collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    // priors: x = ln(2/3), y = ln(1/3), snapped to 1e-6
    assert(math.abs(pr("x") - math.log(2.0 / 3.0)) < 1e-6)
    assert(math.abs(pr("y") - math.log(1.0 / 3.0)) < 1e-6)
    val ll = lik.collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(ll.size == 6) // dense: 3 vocab terms x 2 classes
    // class x: 5 tokens, V=3 -> denominator 8; 'a' seen 3x
    assert(ll(("x", "a"))._1 == 3L)
    assert(math.abs(ll(("x", "a"))._2 - math.log(4.0 / 8.0)) < 1e-6)
    // unseen (y, a): cnt 0, add-one floor over denominator 2+3
    assert(ll(("y", "a"))._1 == 0L)
    assert(math.abs(ll(("y", "a"))._2 - math.log(1.0 / 5.0)) < 1e-6)
  }

  test("naiveBayes: separable vocabularies classify the training corpus perfectly") {
    import graft.ml.NaiveBayes
    val docs = (0 until 60).map { i =>
      val cls = Seq("en", "fr", "de")(i % 3)
      val words = cls match {
        case "en" => "the cat sat here"
        case "fr" => "le chat assis ici"
        case _    => "die katze sass hier"
      }
      (i.toLong, words, cls)
    }.toDF("doc_id", "text", "lang")
    val (priors, lik) = NaiveBayes.model(docs, "text", "lang")
    val scored = NaiveBayes.score(docs, "doc_id", "text", priors, lik)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    assert(scored.filter(col("pred") === col("lang")).count() == 60)
    // exactly one prediction per doc
    assert(scored.count() == 60)
  }

  test("naiveBayes: exact score tie breaks to the lexicographically first class") {
    import graft.ml.NaiveBayes
    // perfectly symmetric classes: every doc's score ties across x and y
    val docs = Seq((0L, "a", "x"), (1L, "a", "y")).toDF("doc_id", "text", "lang")
    val (priors, lik) = NaiveBayes.model(docs, "text", "lang")
    val preds = NaiveBayes.score(docs, "doc_id", "text", priors, lik)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(preds(0L) == "x" && preds(1L) == "x")
  }

  test("scoreFp margin sign matches p >= 0.5 and ships the model as a literal") {
    val df = separable(60)
    val w = LogReg.trainFp(df, "emb", "label", 1, 2, 10, 0.5)
    val out = LogReg.scoreFp(df, "emb", "id", w)
    assert(out.columns.toSeq == Seq("id", "score_fp", "pred"))
    out.collect().foreach { r =>
      assert((r.getLong(1) >= 0) == (r.getLong(2) == 1L))
    }
    // zero shuffles: the scoring plan has no Exchange
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  private def round6(x: Double): Double = math.rint((x + 1e-12) * 1e6) / 1e6

  test("targetEncodeLoo: hand-checked shrinkage; own label excluded") {
    // cat a: y = {1,1,0} (n=3, S=2); cat b: y = {0} (n=1); prior = 2/4
    val df = Seq((1L, "a", true), (2L, "a", true), (3L, "a", false),
      (4L, "b", false)).toDF("id", "cat", "y")
    val got = graft.ml.FeatureEng.targetEncodeLoo(df, "id", "cat", "y", m = 2.0)
      .select("id", "te").as[(Long, Double)].collect().toMap
    // row 1 (y=1): (2-1 + 2*0.5)/(2+2) = 0.5 ; row 3 (y=0): (2+1)/4 = 0.75
    assert(got(1L) == 0.5 && got(2L) == 0.5 && got(3L) == 0.75)
    // singleton cat b: (0-0+1)/(0+2) = 0.5 — smoothing carries it
    assert(got(4L) == 0.5)
  }

  test("featureHash: deterministic indices in range, signed, collisions summed") {
    val df = Seq((1L, "en", "web"), (2L, "en", "web"), (3L, "de", "print"))
      .toDF("id", "lang", "source")
    val got = graft.ml.FeatureEng.featureHash(df, "id", Seq("lang", "source"), dim = 8)
      .as[(Long, Long, Long)].collect()
    // |v| <= n_features; a zero-sum collision (two features, same index,
    // opposite signs) is legitimate and kept — both engines agree on it
    assert(got.forall { case (_, idx, v) => idx >= 0 && idx < 8 && math.abs(v) <= 2 })
    // identical inputs hash identically
    val by1 = got.filter(_._1 == 1L).map(t => (t._2, t._3)).toSet
    val by2 = got.filter(_._1 == 2L).map(t => (t._2, t._3)).toSet
    assert(by1 == by2 && by1.nonEmpty)
  }

  test("scaleFeatures: z and minmax on a hand case; constant group nulls both z and range") {
    val df = Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "a", 3.0),
      (4L, "b", 5.0), (5L, "b", 5.0)).toDF("id", "g", "v")
    val got = graft.ml.FeatureEng.scaleFeatures(df, "id", Seq("g"), "v")
      .select("id", "z", "minmax")
      .collect().map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(got(1L) == ((Some(-1.0), Some(0.0))))
    assert(got(2L) == ((Some(0.0), Some(0.5))))
    assert(got(3L) == ((Some(1.0), Some(1.0))))
    assert(got(4L) == ((None, None)) && got(5L) == ((None, None)))
  }

  test("stump: clean split found with exact child purities; constant feature yields null threshold") {
    // v=1 -> all negative, v=2 -> all positive: threshold 1, split gini 0
    val df = Seq((1.0, false), (1.0, false), (2.0, true), (2.0, true))
      .toDF("f", "y")
    val r = graft.ml.Stump.train(df, "f", "y").head
    assert(r.getAs[Double]("threshold") == 1.0)
    assert(r.getAs[Double]("gini_split") == 0.0)
    assert(r.getAs[Double]("gini_base") == 0.5)
    assert(r.getAs[Long]("n_left") == 2L && r.getAs[Long]("n_right") == 2L)
    assert(r.getAs[Double]("p_left") == 0.0 && r.getAs[Double]("p_right") == 1.0)
    val const = Seq((5.0, true), (5.0, false)).toDF("f", "y")
    val rc = graft.ml.Stump.train(const, "f", "y").head
    assert(rc.isNullAt(rc.fieldIndex("threshold")))
  }

  test("conformal interval on an exact plane collapses to q_hat = 0 with full coverage") {
    // y = 2 + 3*x1 - x2 exactly: zero residuals on any split
    val pts = for (i <- 0 until 8; j <- 0 until 4)
      yield (i.toLong * 4 + j, i.toDouble, j.toDouble, 2.0 + 3.0 * i - j)
    val df = pts.toDF("id", "x1", "x2", "y")
    val r = graft.ml.Conformal.ols2Interval(df, Seq("id"), "x1", "x2", "y",
      alpha = 0.1).head
    assert(r.getAs[Long]("n_train") + r.getAs[Long]("n_cal") == 32L)
    assert(r.getAs[Long]("n_cal") > 0L)
    assert(r.getAs[Double]("q_hat") == 0.0)
    assert(r.getAs[Double]("coverage_cal") == 1.0)
  }

  test("cvOls2: exact plane recovers per-fold coefficients with zero MSE; folds partition rows") {
    val pts = for (i <- 0 until 10; j <- 0 until 4)
      yield (i.toLong * 4 + j, i.toDouble, j.toDouble, 2.0 + 3.0 * i - j)
    val got = graft.ml.CrossVal.cvOls2(pts.toDF("id", "x1", "x2", "y"),
      Seq("id"), "x1", "x2", "y", folds = 4).collect()
    assert(got.length == 4)
    assert(got.map(_.getAs[Long]("n_test")).sum == 40L)
    got.foreach { r =>
      assert(r.getAs[Long]("n_train") + r.getAs[Long]("n_test") == 40L)
      assert(r.getAs[Double]("b0") == 2.0 && r.getAs[Double]("b1") == 3.0)
      assert(r.getAs[Double]("mse") == 0.0)
    }
  }

  test("cvOls2: each fold's model equals ols2 fitted on that fold's complement") {
    // a noisy plane on the 2-decimal grid, so every fit has residuals
    val pts = (0 until 60).map { i =>
      val (x1, x2) = ((i % 7) + 0.25 * (i % 3), (i * i % 11) * 0.5)
      val noise = ((i * 37) % 5 - 2) * 0.01
      (i.toLong, x1, x2, math.rint((1.5 + 2.0 * x1 - 0.75 * x2 + noise) * 100) / 100)
    }
    val df = pts.toDF("id", "x1", "x2", "y")
    val folds = 3
    val cv = graft.ml.CrossVal.cvOls2(df, Seq("id"), "x1", "x2", "y", folds)
      .collect()
    assert(cv.length == folds)
    // the fold rule cvOls2 documents: md5 arithmetic on the id columns
    val fold = conv(substring(md5(concat_ws("_", col("id").cast("string"))),
      1, 8), 16, 10).cast("long") % folds
    cv.foreach { r =>
      val f = r.getAs[Long]("fold")
      val ref = graft.ml.Ols.ols2(df.filter(fold =!= f), "x1", "x2", "y").head
      assert(r.getAs[Long]("n_train") == ref.getAs[Long]("n"), s"fold $f")
      Seq("b0", "b1", "b2").foreach { b =>
        assert(!ref.isNullAt(ref.fieldIndex(b)), s"fold $f $b")
        assert(r.getAs[Double](b) == ref.getAs[Double](b), s"fold $f $b")
      }
    }
  }

  test("poisson trainFp: hand-computed first step; bias-only model converges to ln(mean)") {
    import graft.ml.Poisson
    // y = {3, 5}, bias-only: iter 1 from w=0 has lambda=1, rl=(1-y)*1e6,
    // g = -6e12, w0 -> 0.015625 * 3 * 1e6 = 46875
    val df = Seq((Seq(1000000L), 3000000L), (Seq(1000000L), 5000000L))
      .toDF("xl", "yl")
    val w1 = Poisson.trainFp(df, "xl", "yl", dims = 1, iters = 1, lr = 0.015625)
    assert(w1(0) == 46875L)
    // GD converges to the MLE: bias = ln(mean y) = ln 4
    val wStar = Poisson.trainFp(df, "xl", "yl", dims = 1, iters = 20, lr = 0.25)
    assert(math.abs(wStar(0) / 1e6 - math.log(4.0)) < 0.01)
    // partitioning invariance (exact integer gradient sums)
    val wRep = Poisson.trainFp(df.repartition(7), "xl", "yl",
      dims = 1, iters = 20, lr = 0.25)
    assert(wRep.toSeq == wStar.toSeq)
  }

  test("ridge2: shrinks toward zero as lambda grows and solves the collinear design ols2 rejects") {
    val pts = for (i <- 0 until 5; j <- 0 until 5)
      yield (i.toDouble, j.toDouble, 2.0 + 3.0 * i - 1.0 * j)
    val df = pts.toDF("x1", "x2", "y")
    val small = graft.ml.Ols.ridge2(df, "x1", "x2", "y", lambda = 0.001).head
    val big = graft.ml.Ols.ridge2(df, "x1", "x2", "y", lambda = 1e6).head
    // tiny lambda ~ OLS; huge lambda crushes the slopes
    assert(math.abs(small.getAs[Double]("b1") - 3.0) < 0.01)
    assert(math.abs(big.getAs[Double]("b1")) < 0.1)
    // x2 = 2*x1 is singular for OLS but solvable under ridge
    val coll = (0 until 6).map(i => (i.toDouble, 2.0 * i, i * 1.5))
      .toDF("x1", "x2", "y")
    val rr = graft.ml.Ols.ridge2(coll, "x1", "x2", "y", lambda = 1.0).head
    assert(!rr.isNullAt(rr.fieldIndex("b1")))
  }

  test("ols2By: per-group fits match independent ols2 runs") {
    val pts = (for (i <- 0 until 6; j <- 0 until 3) yield Seq(
      ("a", i.toDouble, j.toDouble, 1.0 + 2.0 * i + 3.0 * j),
      ("b", i.toDouble, j.toDouble, 5.0 - 1.0 * i + 0.5 * j))).flatten
    val df = pts.toDF("g", "x1", "x2", "y")
    val grouped = graft.ml.Ols.ols2By(df, Seq("g"), "x1", "x2", "y")
      .collect().map(r => r.getString(0) ->
        (r.getAs[Double]("b0"), r.getAs[Double]("b1"), r.getAs[Double]("b2"))).toMap
    assert(grouped("a") == ((1.0, 2.0, 3.0)))
    assert(grouped("b") == ((5.0, -1.0, 0.5)))
  }

  test("ols2 recovers exact plane coefficients and flags a collinear design") {
    // y = 2 + 3*x1 - 1*x2 exactly: r2 = 1, coefficients exact
    val pts = for (i <- 0 until 5; j <- 0 until 5)
      yield (i.toDouble, j.toDouble, 2.0 + 3.0 * i - 1.0 * j)
    val r = graft.ml.Ols.ols2(pts.toDF("x1", "x2", "y"), "x1", "x2", "y").head
    assert(r.getAs[Double]("b0") == 2.0 && r.getAs[Double]("b1") == 3.0
      && r.getAs[Double]("b2") == round6(-1.0))
    assert(r.getAs[Double]("r2") == 1.0)
    // x2 = 2*x1: singular normal matrix -> null coefficients
    val col2 = (0 until 6).map(i => (i.toDouble, 2.0 * i, i * 1.5))
    val rs = graft.ml.Ols.ols2(col2.toDF("x1", "x2", "y"), "x1", "x2", "y").head
    assert(rs.isNullAt(rs.fieldIndex("b1")) && rs.isNullAt(rs.fieldIndex("r2")))
  }

  // ---- GradAgg: the single-pass training gradient ----

  /** The explode form GradAgg replaces, verbatim from the old trainFp. */
  private def explodeGrad(df: org.apache.spark.sql.DataFrame): Map[Int, java.math.BigDecimal] =
    df.select(col("rl"), posexplode(col("xl")).as(Seq("j", "x")))
      .groupBy(col("j"))
      .agg(sum((col("rl") * col("x")).cast("decimal(38,0)")).as("g"))
      .collect().map(r => r.getInt(0) ->
        (if (r.isNullAt(1)) null else r.getDecimal(1))).toMap

  private def gradAggMap(df: org.apache.spark.sql.DataFrame, dims: Int)
      : Map[Int, java.math.BigDecimal] =
    df.agg(graft.functions.GradAgg.gradAgg(col("rl"), col("xl"), dims))
      .head().getSeq[org.apache.spark.sql.Row](0)
      .map(r => r.getInt(0) ->
        (if (r.isNullAt(1)) null else r.getDecimal(1))).toMap

  test("gradAgg matches the explode-form gradient on clean data, any partitioning") {
    val rows = (0 until 517).map { i =>
      (((i % 13) - 6).toLong * 100000L,
        Seq(1000000L, (i % 97).toLong * 1234567L - 50000000L, i.toLong))
    }
    val df = rows.toDF("rl", "xl")
    val a = explodeGrad(df)
    assert(gradAggMap(df, 3) == a)
    assert(gradAggMap(df.repartition(17), 3) == a)
  }

  test("gradAgg mirrors explode-form NULL semantics: null xl row, null element, null rl") {
    val df = Seq(
      (java.lang.Long.valueOf(3L), Seq[java.lang.Long](10L, 20L)),
      (java.lang.Long.valueOf(5L), Seq[java.lang.Long](1L, null)), // null element: slot 1 skips it
      (null.asInstanceOf[java.lang.Long], Seq[java.lang.Long](7L, 7L)), // null rl: groups exist, no sums
      (java.lang.Long.valueOf(2L), null.asInstanceOf[Seq[java.lang.Long]]) // null row: nothing
    ).toDF("rl", "xl")
    val a = explodeGrad(df)
    val b = gradAggMap(df, 2)
    assert(b == a, s"$b vs $a")
    // all-null slot evals to a NULL sum, like sum over the exploded rows
    val allNull = Seq((null.asInstanceOf[java.lang.Long], Seq[java.lang.Long](1L)))
      .toDF("rl", "xl")
    assert(gradAggMap(allNull, 1) == Map(0 -> null))
    assert(explodeGrad(allNull) == Map(0 -> null))
  }

  test("gradAgg 128-bit slots stay exact past long range (the decimal(38,0) parity)") {
    // 200 rows of 3e9 * 1e8 = 3e17 each: sum 6e19 overflows a long
    val df = (0 until 200).map(_ => (3000000000L, Seq(100000000L)))
      .toDF("rl", "xl")
    val g = gradAggMap(df, 1)(0)
    assert(g == new java.math.BigDecimal("60000000000000000000"))
    assert(explodeGrad(df)(0) == g)
    // and the negative side
    val dfn = (0 until 200).map(_ => (-3000000000L, Seq(100000000L)))
      .toDF("rl", "xl")
    assert(gradAggMap(dfn, 1)(0) == new java.math.BigDecimal("-60000000000000000000"))
  }

  test("gradAgg product overflow fails fast (ANSI parity with the replaced multiply)") {
    val df = Seq((Long.MaxValue, Seq(2L))).toDF("rl", "xl")
    val e = intercept[Exception](gradAggMap(df, 1))
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(_.isInstanceOf[ArithmeticException]), e.toString)
  }

  test("gradAgg exchange carries one blob per partition, not exploded rows") {
    val df = separable(200)
    // trainFp's gradient plan, reconstructed standalone
    val xl = concat(array(lit(1000000L)),
      transform(col("emb"), x => round(x.cast("double") * 1000000.0).cast("long")))
    val q = df.select(lit(1L).as("rl"), xl.as("xl"))
      .agg(graft.functions.GradAgg.gradAgg(col("rl"), col("xl"), 3))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") && plan.contains("partial_grad_agg"), plan)
    assert(!plan.contains("Generate"), plan) // no posexplode anywhere
  }
}
