package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed quality-classifier training: full-batch logistic
  * regression by FIXED-POINT gradient descent — the trainable half of
  * the curation stack (classifier-based corpus filtering; the scoring
  * half is [[graft.text.Curation]]'s classifier-score filter). The
  * reference pipeline has no learned component (etl.py is pure ETL);
  * this is north-star surface for a training-data engine, where
  * "train a small scorer ON the corpus, then filter BY it" is a
  * first-class loop.
  *
  * Engine-exactness (the [[graft.similarity.EmbedStats.powerIterationFp]]
  * recipe, extended to a nonlinear model):
  *   - features quantize once to 1e-6-resolution longs, with a constant
  *     1.0 (= 1,000,000) prepended as the bias feature (j = 0);
  *   - the margin z is a pure-integer dot product at 1e-12 scale
  *     (exact, summation-order-free);
  *   - the ONLY float step, sigmoid(z), is snapped straight back to the
  *     1e-6 long grid — a 1-ulp libm difference between engines lands
  *     on the same grid point except within ~1e-10 of a rounding
  *     boundary (the repo-wide round-to-grid argument);
  *   - per-row gradient contributions r·x are exact long products,
  *     summed as DECIMAL(38,0) so the total is exact and order-free at
  *     any row count (no silent long overflow at scale);
  *   - the weight update runs in doubles ON EXACT INTEGER INPUTS
  *     (IEEE ops on identical operands are deterministic), then snaps
  *     back to the 1e-6 grid via HALF_UP — bit-identical to DuckDB's
  *     round().
  * Every iteration is therefore bit-replayable by a SQL oracle, and
  * the result is independent of partitioning, AQE, and row order.
  *
  * Scale shape: one quantization scan feeding a localCheckpoint, then
  * per iteration ONE aggregation over the checkpointed rows
  * ([[graft.functions.GradAgg]]: dims multiply-adds per row into an
  * exact 128-bit-per-slot blob, map-side partials merge element-wise).
  * The driver holds only the (dim+1)-vector; at 1000 executors the
  * per-iteration cost is a scan + one ~2 KB blob per partition over
  * the exchange, and iterations don't re-read parquet.
  */
object LogReg {

  private val Scale = 1000000L

  /** Bias-extended quantized feature vector: [1e6, round(x_1·1e6), …]. */
  private def xlCol(embCol: String): Column =
    concat(array(lit(Scale)),
      transform(col(embCol), x => round(x.cast("double") * 1000000.0).cast("long")))

  /** Train dim+1 fixed-point weights (index 0 = bias, 1e-6 scale).
    * `positive` maps the multi-class label to the binary target
    * (one-vs-rest). lr must be exactly representable in binary
    * (0.5, 0.25, 1.0, …) so both engines multiply by the same double. */
  def trainFp(df: DataFrame, embCol: String, labelCol: String,
              positive: Int, dim: Int, iters: Int, lr: Double): Array[Long] = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dim >= 1, s"dim must be >= 1, got $dim")
    fixedPointGd(df.select(xlCol(embCol).as("xl"),
        when(col(labelCol) === positive, lit(Scale)).otherwise(lit(0L)).as("yl")),
      dim + 1, iters, lr)(z => round(lit(1000000.0) / (lit(1.0) + exp(-z))).cast("long"))
  }

  /** The fixed-point gradient-descent loop shared by the GLMs here and
    * in [[Poisson]]: `xy` holds the quantized features `xl` (bias
    * first) and the 1e-6-scaled target `yl`; `link` maps the double
    * margin z to the prediction snapped to the 1e-6 long grid (the
    * model's ONLY float step). Checkpoints `xy`, checks the
    * exact-integer margin headroom, then runs `iters` updates of
    * w −= lr·Σ(pred − y)·x / n, each re-snapped HALF_UP.
    */
  private[ml] def fixedPointGd(xy: DataFrame, dims: Int, iters: Int, lr: Double)
                              (link: Column => Column): Array[Long] = {
    val base = xy.localCheckpoint()
    val stats = base.agg(count(lit(1)), max(aggregate(
      transform(col("xl"), x => abs(x)), lit(0L), (a, x) => greatest(a, x)))).head()
    val n = stats.getLong(0)
    require(n > 0, "trainFp: empty input")
    require(stats.getLong(1) <= 100000000L,
      "trainFp: a quantized feature exceeds 1e8 — the exact-integer " +
        "margin headroom assumes O(1)-magnitude features; normalize first")
    val w = Array.fill(dims)(0L)
    var t = 0
    while (t < iters) {
      val wLit = typedLit(w.toSeq)
      // codegen fixed-point dot (graft.functions.LongDot) — the
      // interpreted aggregate(zip_with) fold this replaces boxed every
      // element per row per iteration; values/NULLs identical
      val zfp = graft.functions.LongDot.longDot(col("xl"), wLit)
      val pl = link(zfp.cast("double") / lit(1.0e12))
      // single-pass gradient ([[graft.functions.GradAgg]]): the explode
      // form it replaces materialized (dims) aggregation rows per input
      // row and shuffled (dims) groups per partition; this folds rl·x
      // into one exact 128-bit accumulator blob per partition. Values
      // identical: exact integer sums are order-free, and eval converts
      // to the same DECIMAL(38,0).
      val g = base.select((pl - col("yl")).as("rl"), col("xl"))
        .agg(graft.functions.GradAgg.gradAgg(col("rl"), col("xl"), dims))
        .head().getSeq[org.apache.spark.sql.Row](0)
      g.foreach { r =>
        val j = r.getInt(0)
        if (!r.isNullAt(1)) {
          val gd = r.getDecimal(1).doubleValue
          val wNew = (w(j).toDouble / 1000000.0 - lr * (gd / 1.0e12 / n)) * 1000000.0
          w(j) = new java.math.BigDecimal(wNew)
            .setScale(0, java.math.RoundingMode.HALF_UP).longValue
        }
      }
      t += 1
    }
    w
  }

  /** Score every row with trained fixed-point weights: score_fp is the
    * exact integer margin at 1e-12 scale (positive ⇔ p ≥ 0.5), pred the
    * thresholded class. Zero shuffles — the model ships as a plan
    * literal into the scan stage. */
  def scoreFp(df: DataFrame, embCol: String, idCol: String,
              w: Array[Long]): DataFrame = {
    val wLit = typedLit(w.toSeq)
    df.select(col(idCol),
        graft.functions.LongDot.longDot(xlCol(embCol), wLit).as("score_fp"))
      .withColumn("pred", (col("score_fp") >= 0L).cast("long"))
  }
}
