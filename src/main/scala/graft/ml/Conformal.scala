package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.RankedStats

/** Split-conformal prediction intervals for the [[Ols]] model —
  * distribution-free ±q bands with finite-sample coverage ≥ 1−α under
  * exchangeability (Vovk et al.; the modern "how wrong can the
  * regression be?" wrapper that needs no residual-normality story).
  *
  * Protocol: a deterministic md5-parity split partitions rows into a
  * train half (fits the [[Ols.ols2]] closed form) and a calibration
  * half; q̂ is the ⌈(n_cal+1)(1−α)⌉-th smallest absolute residual on
  * the calibration half; ŷ ± q̂ is the interval.
  *
  * Scale shape: the split predicate is scan-stage md5 arithmetic (the
  * engine-portable [[FeatureEng.featureHash]] discipline); the model
  * is a 1-row broadcast; residuals reduce to a distinct-value
  * histogram + sharded cumsum ([[RankedStats.withCumulative]]) so the
  * order statistic needs no global sort; coverage is one conditional
  * count. Exact integers everywhere counts matter.
  */
object Conformal {

  /** One output row: `n_train`, `n_cal`, `q_hat` (the conformal
    * radius, rounded 6), `coverage_cal` (fraction of calibration
    * residuals ≤ q̂ — ≈ 1−α by construction, the sanity readout;
    * rounded 6). Rows with null features/label drop before the split.
    */
  def ols2Interval(df: DataFrame, idCols: Seq[String],
                   x1Col: String, x2Col: String, yCol: String,
                   alpha: Double = 0.1): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    require(idCols.nonEmpty, "need id columns for the deterministic split")
    val even = conv(substring(md5(concat_ws("_",
        idCols.map(c => col(c).cast("string")): _*)), 1, 8), 16, 10)
      .cast("long") % 2 === 0
    // materialize the split ONCE: the md5 flag and the narrow feature
    // projection would otherwise be recomputed by the training
    // aggregate, the calibration residuals, and the coverage pass
    val keep = df.filter(col(x1Col).isNotNull && col(x2Col).isNotNull
        && col(yCol).isNotNull)
      .select(col(x1Col), col(x2Col), col(yCol), even.as("__even"))
      .localCheckpoint()
    val train = keep.filter(col("__even"))
    val cal = keep.filter(!col("__even"))
    val model = Ols.ols2(train, x1Col, x2Col, yCol)
      .select(col("n").as("n_train"), col("b0"), col("b1"), col("b2"))
    val resid = cal.crossJoin(broadcast(model))
      .select(col("n_train"),
        abs(col(yCol).cast("double") - (col("b0")
          + col("b1") * col(x1Col).cast("double")
          + col("b2") * col(x2Col).cast("double"))).as("__r"))
      .localCheckpoint() // histogram + coverage both read it
    val hist = resid.groupBy(col("__r")).agg(count(lit(1)).as("__t"))
    // k-th order statistic: smallest residual whose cumulative count
    // reaches k = ceil((n+1)(1-alpha)); k > n (tiny calibration set)
    // degenerates to the max residual
    val n = col("__tot___t")
    val q = RankedStats.withCumulative(hist, Nil, "__r", Seq("__t"))
      .select(col("__r"), col("__cum___t"),
        least(ceil((n + 1) * lit(1.0 - alpha)), n).as("__k"))
      .filter(col("__cum___t") >= col("__k"))
      .agg(min(col("__r")).as("__q"))
    resid.crossJoin(broadcast(q))
      .agg(min(col("n_train")).as("n_train"), count(lit(1)).as("n_cal"),
        min(col("__q")).as("__qv"),
        sum(when(col("__r") <= col("__q"), 1L).otherwise(0L)).as("__cov"))
      .select(col("n_train"), col("n_cal"),
        round(col("__qv") + lit(1e-12), 6).as("q_hat"),
        round(col("__cov").cast("double") / col("n_cal").cast("double")
          + lit(1e-12), 6).as("coverage_cal"))
  }
}
