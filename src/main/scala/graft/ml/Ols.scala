package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Two-feature ordinary least squares with intercept, solved in closed
  * form from the normal equations by Cramer's rule — the multivariate
  * step up from the built-in `regr_slope`/`regr_intercept` pair (which
  * [[graft.SparkEntry]] exposes as q_regression for the 1-feature
  * case). Two features cover the workhorse audits — "does y track x1
  * once x2 is controlled for?" — without needing an iterative solver;
  * for wider designs use [[LogReg]]-style fixed-point GD.
  *
  * Scale shape: ONE corpus scan into a 1-row aggregate of the nine
  * sufficient statistics (n, Σx1, Σx2, Σx1², Σx2², Σx1x2, Σy, Σx1y,
  * Σx2y), all in DECIMAL(18,2)-products (exact for 2-decimal data, so
  * order-independent); the 3×3 Cramer solve and the R² identity
  * SSE = Σy² − b0Σy − b1Σx1y − b2Σx2y are scalar double arithmetic on
  * that single row. Nothing iterates, nothing is collected.
  */
object Ols {

  private def det3(a11: Column, a12: Column, a13: Column,
                   a21: Column, a22: Column, a23: Column,
                   a31: Column, a32: Column, a33: Column): Column =
    a11 * (a22 * a33 - a23 * a32) - a12 * (a21 * a33 - a23 * a31) +
      a13 * (a21 * a32 - a22 * a31)

  /** The nine sufficient statistics of a two-regressor fit over
    * `__x1`, `__x2`, `__y`: `n` plus the sums named `<prefix>s1`,
    * `s2`, `s11`, `s22`, `s12`, `sy`, `s1y`, `s2y`.
    */
  private[ml] def sums(prefix: String): Seq[Column] = Seq(
    count(lit(1)).as("n"),
    sum(col("__x1")).as(s"${prefix}s1"), sum(col("__x2")).as(s"${prefix}s2"),
    sum(col("__x1") * col("__x1")).as(s"${prefix}s11"),
    sum(col("__x2") * col("__x2")).as(s"${prefix}s22"),
    sum(col("__x1") * col("__x2")).as(s"${prefix}s12"),
    sum(col("__y")).as(s"${prefix}sy"),
    sum(col("__x1") * col("__y")).as(s"${prefix}s1y"),
    sum(col("__x2") * col("__y")).as(s"${prefix}s2y"))

  /** Cramer solve of the 3×3 normal equations A·b = rhs with
    * A = [[n, s1, s2], [s1, s11, s12], [s2, s12, s22]] and
    * rhs = (sy, s1y, s2y); `stat` reads one statistic by its bare name
    * as a double. `lambda` (ridge) adds to the two feature diagonal
    * entries only. Returns `det` and the unrounded (b0, b1, b2); det3
    * spells the cofactor expansion identically in the SQL oracles.
    */
  private[ml] def cramer(stat: String => Column, lambda: Option[Double] = None)
      : (Column, Column, Column, Column) = {
    val nD = stat("n")
    val (r11, r22) = lambda.fold((stat("s11"), stat("s22")))(l =>
      (stat("s11") + l, stat("s22") + l))
    val det = det3(nD, stat("s1"), stat("s2"),
      stat("s1"), r11, stat("s12"), stat("s2"), stat("s12"), r22)
    val det0 = det3(stat("sy"), stat("s1"), stat("s2"),
      stat("s1y"), r11, stat("s12"), stat("s2y"), stat("s12"), r22)
    val det1 = det3(nD, stat("sy"), stat("s2"),
      stat("s1"), stat("s1y"), stat("s12"), stat("s2"), stat("s2y"), r22)
    val det2 = det3(nD, stat("s1"), stat("sy"),
      stat("s1"), r11, stat("s1y"), stat("s2"), stat("s12"), stat("s2y"))
    (det, det0 / det, det1 / det, det2 / det)
  }

  /** A reported coefficient: null when the design is singular, else
    * rounded 6 with the exact-tie nudge. */
  private[ml] def coef(det: Column, b: Column): Column =
    when(det === 0.0, lit(null).cast("double"))
      .otherwise(round(b + lit(1e-12), 6))

  /** The one fit behind [[ols2]], [[ridge2]] and [[ols2By]]: a (possibly
    * ungrouped — `df.agg` is `groupBy().agg`) aggregate of the
    * sufficient statistics plus Σy², then the Cramer solve per row.
    */
  private def fit2(df: DataFrame, groupCols: Seq[String], x1Col: String,
                   x2Col: String, yCol: String,
                   lambda: Option[Double]): DataFrame = {
    def d2(c: String) = col(c).cast("decimal(18,2)")
    val gcols = groupCols.map(col)
    val base = df.filter(col(x1Col).isNotNull && col(x2Col).isNotNull
        && col(yCol).isNotNull)
      .select(gcols :+ d2(x1Col).as("__x1") :+ d2(x2Col).as("__x2")
        :+ d2(yCol).as("__y"): _*)
    val aggs = sums("__") :+ sum(col("__y") * col("__y")).as("__syy")
    val totals = base.groupBy(gcols: _*).agg(aggs.head, aggs.tail: _*)
    def dd(c: String) = col(if (c == "n") c else s"__$c").cast("double")
    val (det, b0, b1, b2) = cramer(dd, lambda)
    val sse = dd("syy") - b0 * dd("sy") - b1 * dd("s1y") - b2 * dd("s2y")
    val sst = dd("syy") - dd("sy") * dd("sy") / dd("n")
    totals.select(gcols ++ Seq(col("n"),
      coef(det, b0).as("b0"), coef(det, b1).as("b1"), coef(det, b2).as("b2"),
      when(det === 0.0 || sst === 0.0, lit(null).cast("double"))
        .otherwise(round(lit(1.0) - sse / sst + lit(1e-12), 6)).as("r2")): _*)
  }

  /** One output row: `n`, `b0` (intercept), `b1`, `b2`, `r2` (rounded
    * 6). Null coefficients when the design is singular (|det| = 0 —
    * e.g. a constant or perfectly collinear feature); `r2` null then
    * too, or when SST = 0 (constant target).
    */
  def ols2(df: DataFrame, x1Col: String, x2Col: String, yCol: String): DataFrame =
    fit2(df, Nil, x1Col, x2Col, yCol, None)

  /** Ridge variant of [[ols2]]: the normal matrix gets +λ on the two
    * FEATURE diagonal entries (s11, s22 — the intercept is
    * conventionally unpenalized), shrinking coefficients toward 0 and
    * keeping collinear designs solvable (λ > 0 makes the matrix
    * positive definite whenever features aren't constant-zero). Same
    * one-aggregate dataflow and Cramer solve; `r2` reports the ridge
    * fit's residual against the same SST via SSE = Σy² − b·(Σy, Σx1y,
    * Σx2y) — valid because the SSE identity only needs the fitted b.
    *
    * One output row: `n`, `b0`, `b1`, `b2`, `r2` (rounded 6).
    */
  def ridge2(df: DataFrame, x1Col: String, x2Col: String, yCol: String,
             lambda: Double): DataFrame = {
    require(lambda > 0, s"lambda must be > 0, got $lambda (use ols2 for 0)")
    fit2(df, Nil, x1Col, x2Col, yCol, Some(lambda))
  }

  /** Per-group [[ols2]]: one grouped aggregate of the sufficient
    * statistics, then the Cramer solve per group row — k independent
    * regressions for the price of one scan (the fold trick of
    * [[CrossVal]] without the complement subtraction). Output: one
    * row per group with the [[ols2]] columns.
    */
  def ols2By(df: DataFrame, groupCols: Seq[String], x1Col: String,
             x2Col: String, yCol: String): DataFrame = {
    require(groupCols.nonEmpty, "use ols2 for the ungrouped fit")
    fit2(df, groupCols, x1Col, x2Col, yCol, None)
  }
}
