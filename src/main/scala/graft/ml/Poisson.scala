package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Poisson regression (log-link GLM) by fixed-point full-batch
  * gradient descent — the COUNT model beside [[LogReg]]'s classifier:
  * events per user-segment, tokens per document bucket, defects per
  * batch. Gradient of the Poisson NLL is Σ(λ − y)·x with λ = exp(z) —
  * the same shape as logistic's Σ(σ(z) − y)·x with exp in place of
  * sigmoid, so the whole [[LogReg]] exactness recipe carries over:
  *
  *   - the caller supplies PRE-QUANTIZED features `xl` (1e-6 longs,
  *     bias 1e6 at index 0 — built in the scan stage) and the count
  *     target as yl = y·1e6;
  *   - z is an exact integer dot at 1e-12 scale; the ONLY float step,
  *     exp(min(z, zClip)), snaps straight back to the 1e-6 grid (the
  *     clip bounds the rate at e^zClip so a transient overshoot
  *     cannot overflow the grid — documented, mirrored by the oracle);
  *   - per-row (λl − yl)·x products are exact longs summed as
  *     DECIMAL(38,0); the weight update runs in doubles on exact
  *     inputs and re-snaps HALF_UP.
  *
  * Per iteration: ONE aggregation over the checkpointed rows
  * ([[graft.functions.GradAgg]] — dims multiply-adds per row into an
  * exact 128-bit-per-slot blob, merged element-wise); the driver holds
  * the weight vector only. lr must be binary-exact (2^-k).
  */
object Poisson {

  /** Train `dims` fixed-point weights over quantized features. */
  def trainFp(df: DataFrame, xlCol: String, ylCol: String,
              dims: Int, iters: Int, lr: Double,
              zClip: Double = 5.0): Array[Long] = {
    require(iters >= 1 && dims >= 1, s"bad iters=$iters dims=$dims")
    require(zClip > 0, s"zClip must be > 0, got $zClip")
    // the shared [[LogReg.fixedPointGd]] loop with the clipped-exp link
    LogReg.fixedPointGd(df.select(col(xlCol).as("xl"), col(ylCol).cast("long").as("yl")),
      dims, iters, lr)(z => round(lit(1000000.0) * exp(least(z, lit(zClip)))).cast("long"))
  }

  /** Score rows with trained weights: `score_fp` (exact 1e-12 margin)
    * and `lambda_fp` (the grid-snapped predicted rate ·1e6, clipped at
    * e^zClip like training). Zero shuffles — the model is a literal. */
  def scoreFp(df: DataFrame, xlCol: String, w: Array[Long],
              zClip: Double = 5.0): DataFrame = {
    val wLit = typedLit(w.toSeq)
    val zfp = graft.functions.LongDot.longDot(col(xlCol), wLit)
    df.withColumn("score_fp", zfp)
      .withColumn("lambda_fp",
        round(lit(1000000.0) * exp(least(col("score_fp").cast("double")
          / lit(1.0e12), lit(zClip)))).cast("long"))
  }
}
