package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** k-fold cross-validation for the [[Ols]] model — the honest
  * generalization readout (in-sample R² flatters): each fold's model
  * trains on the OTHER folds and is scored on its own rows.
  *
  * The trick that makes CV one-pass: OLS needs only sufficient
  * statistics, and sums are additive — so ONE fold-grouped aggregate
  * of the nine sums yields every fold's TRAINING statistics as
  * (total − fold) without rescanning anything. k Cramer solves are
  * scalar arithmetic on a k-row table; test scoring joins each row to
  * its own fold's model (k-row broadcast).
  *
  * Exactness: sums ride DECIMAL(18,2) products (the [[Ols.ols2]]
  * discipline); the rounded-6 coefficients are re-cast to
  * DECIMAL(18,6) so residuals, their squares, and the per-fold SSE
  * are EXACT decimals — the MSE is order-independent even though
  * residuals aren't half-integers. Fold assignment is md5 arithmetic
  * (engine-portable, partitioning-invariant).
  */
object CrossVal {

  /** Per fold: `fold`, `n_train`, `n_test`, `b0`, `b1`, `b2` (trained
    * WITHOUT the fold, rounded 6; null if that training design is
    * singular), `mse` (exact-decimal test SSE / n_test, rounded 6;
    * null when the model is null). Null feature/label rows drop.
    */
  def cvOls2(df: DataFrame, idCols: Seq[String], x1Col: String, x2Col: String,
             yCol: String, folds: Int = 5): DataFrame = {
    require(folds >= 2, s"folds must be >= 2, got $folds")
    require(idCols.nonEmpty, "need id columns for the deterministic folds")
    def d2(c: String) = col(c).cast("decimal(18,2)")
    val fold = conv(substring(md5(concat_ws("_",
        idCols.map(c => col(c).cast("string")): _*)), 1, 8), 16, 10)
      .cast("long") % folds
    // widened: the parquet scan's few splits (one, for a listing under
    // openCostInBytes, which Parquet.read claims as one partition) would
    // otherwise cap BOTH decimal aggregate passes through the checkpoint;
    // widened fans even a claimed scan out to Parallelism.shards
    // (graft.operators.Parallelism; sums are order-free exact decimals)
    val base = graft.operators.Parallelism.widened(
        df.filter(col(x1Col).isNotNull && col(x2Col).isNotNull
          && col(yCol).isNotNull)
        .select(fold.as("fold"), d2(x1Col).as("__x1"), d2(x2Col).as("__x2"),
          d2(yCol).as("__y")))
      .localCheckpoint() // the sums aggregate and the scoring join share it
    val sums = Ols.sums("")
    val perFold = base.groupBy(col("fold")).agg(sums.head, sums.tail: _*)
    val names = Seq("n", "s1", "s2", "s11", "s22", "s12", "sy", "s1y", "s2y")
    val tot = perFold.agg(names.map(c => sum(col(c)).as(s"t_$c")).head,
      names.map(c => sum(col(c)).as(s"t_$c")).tail: _*)
    // training stats = total − this fold, all exact decimals/longs
    val train = perFold.crossJoin(broadcast(tot))
      .select(col("fold") +: col("n").as("n_test") +:
        names.map(c => (col(s"t_$c") - col(c)).as(s"tr_$c")): _*)
    val (det, b0, b1, b2) = Ols.cramer(c => col(s"tr_$c").cast("double"))
    val models = train.select(col("fold"), col("n_test"),
      col("tr_n").as("n_train"), Ols.coef(det, b0).as("b0"),
      Ols.coef(det, b1).as("b1"), Ols.coef(det, b2).as("b2"))
    // exact-decimal residuals from the 6-dp coefficients. Each b·x
    // product is cast down to DECIMAL(18,8) BEFORE the subtraction
    // chain: the naive three-term sum pushes Spark's add-precision
    // past 38 and the planner silently drops a scale digit
    // (allowPrecisionLoss), which drifts the SSE ~1e-3 per 1e4 rows.
    // Requires |b·x| and |resid| < 10^10 (true by orders of magnitude
    // for priced data; the coefficients are 6-dp literals).
    def b6(c: String) = col(c).cast("decimal(18,6)")
    def p18(c: Column) = c.cast("decimal(18,8)")
    val resid = p18(col("__y").cast("decimal(18,8)") - b6("b0")
      - p18(b6("b1") * col("__x1")) - p18(b6("b2") * col("__x2")))
    val sse = base.join(broadcast(models), "fold")
      .groupBy(col("fold"))
      .agg(sum(resid * resid).as("__sse"))
    models.join(sse, Seq("fold"), "left")
      .select(col("fold"), col("n_train"), col("n_test"),
        col("b0"), col("b1"), col("b2"),
        // mse is ~1e9 for priced targets: double ulp there (~1.2e-7)
        // sits UNDER the 6-decimal grid, and the (38,16)->double
        // conversion of the exact SSE can land 1 ulp apart across
        // engines — round 3, comfortably above the conversion noise
        when(col("b0").isNull, lit(null).cast("double"))
          .otherwise(round(col("__sse").cast("double")
            / col("n_test").cast("double") + lit(1e-9), 3)).as("mse"))
  }
}
