package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Robust statistics gates — the numeric-column analogue of the text
  * quality filters: winsorization (clip to in-group percentile bounds)
  * and median/MAD outlier flagging, the two standard cleanups before a
  * numeric feature feeds training.
  *
  * Scale design: both operators reduce the corpus to a GROUP-SIZED
  * bounds table, broadcast it back, and apply pure row-local
  * arithmetic — the corpus itself never shuffles. The bounds come from
  * [[Percentiles]] (distinct-value-histogram exact percentile), so no
  * stage buffers a whole group in one task and parallelism is not
  * bounded by the group count — the two weaknesses of the buffer-all
  * `percentile` aggregate this replaced. For MAD the deviation
  * histogram is derived FROM the value histogram (distinct values, not
  * rows), so the corpus is aggregated once for both passes.
  */
object Robust {

  /** Append `<valCol>_w`: `valCol` clipped to the [lo, hi] in-group
    * percentiles. */
  def winsorize(df: DataFrame, groupCol: String, valCol: String,
                lo: Double, hi: Double): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi, "need 0 <= lo < hi <= 1")
    val bounds = Percentiles.exact(df, Seq(groupCol), valCol, Seq(lo, hi), "__b")
      .select(col(groupCol),
        element_at(col("__b"), 1).as("__lo"), element_at(col("__b"), 2).as("__hi"))
    df.join(broadcast(bounds), groupCol)
      .withColumn(s"${valCol}_w",
        least(greatest(col(valCol), col("__lo")), col("__hi")))
      .drop("__lo", "__hi")
  }

  /** Append `robust_z` (0.6745 · (x − median) / MAD, null when MAD = 0)
    * and `is_outlier` (|robust_z| > k). Median/MAD instead of mean/std:
    * the flag itself must not be dragged by the outliers it hunts.
    */
  def robustOutliers(df: DataFrame, groupCol: String, valCol: String,
                     k: Double = 3.5): DataFrame = {
    val hist = Percentiles.histogram(df, Seq(groupCol), valCol)
    val med = Percentiles.fromHistogram(hist, Seq(groupCol), "__v", "__cnt",
        Seq(0.5), "__m")
      .select(col(groupCol), element_at(col("__m"), 1).as("__med"))
    // |value − median| multiset re-aggregated from the DISTINCT-VALUE
    // histogram: ties in deviation just add their counts.
    val devHist = hist.join(broadcast(med), groupCol)
      .select(col(groupCol), abs(col("__v") - col("__med")).as("__v"), col("__cnt"))
      .groupBy(col(groupCol), col("__v"))
      .agg(sum(col("__cnt")).as("__cnt"))
    val mad = Percentiles.fromHistogram(devHist, Seq(groupCol), "__v", "__cnt",
        Seq(0.5), "__m")
      .select(col(groupCol), element_at(col("__m"), 1).as("__mad"))
    val z = when(col("__mad") > 0,
      lit(0.6745) * (col(valCol) - col("__med")) / col("__mad"))
    df.join(broadcast(med), groupCol).join(broadcast(mad), groupCol)
      .withColumn("robust_z", z)
      .withColumn("is_outlier", coalesce(abs(col("robust_z")) > k, lit(false)))
      .drop("__med", "__mad")
  }

  /** Per-group trimmed mean: the mean over values inside the
    * [lo, hi] percentile band — the robust location estimate between
    * the mean (outlier-dragged) and the median (throws away most of
    * the data). Values exactly ON an edge are kept (both engines
    * agree: edges are identical doubles).
    *
    * Scale shape: edges from [[Percentiles.exact]] as a group-sized
    * broadcast; the trimmed sum rides DECIMAL(18,2) (exact,
    * order-free) over one scan. Output: groupCol, `n_used`,
    * `trimmed_mean` (rounded 6; null when the band is empty).
    */
  def trimmedMean(df: DataFrame, groupCol: String, valCol: String,
                  lo: Double, hi: Double): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi, "need 0 <= lo < hi <= 1")
    val bounds = Percentiles.exact(df, Seq(groupCol), valCol, Seq(lo, hi), "__b")
      .select(col(groupCol),
        element_at(col("__b"), 1).as("__lo"), element_at(col("__b"), 2).as("__hi"))
    val v = col(valCol).cast("double")
    df.join(broadcast(bounds), groupCol)
      .filter(v >= col("__lo") && v <= col("__hi"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_used"),
        sum(col(valCol).cast("decimal(18,2)")).as("__s"))
      .select(col(groupCol), col("n_used"),
        round(col("__s").cast("double") / col("n_used").cast("double")
          + lit(1e-12), 6).as("trimmed_mean"))
  }

  /** Append `maha2`: the squared bivariate Mahalanobis distance of
    * (x, y) from the corpus mean under the sample covariance — the
    * joint-outlier score the per-column [[robustOutliers]] misses (a
    * row can be ordinary in each margin but impossible jointly, e.g. a
    * tiny order at a huge price). d² = (v_y·dx² − 2·c_xy·dx·dy +
    * v_x·dy²)/det with the 2×2 inverse in closed form; null when the
    * covariance is singular (constant or perfectly collinear columns).
    *
    * Scale shape: the five moments ride ONE DECIMAL(18,2)
    * map-side-combined aggregate (exact for 2-decimal data —
    * order-independent parameters, the same discipline as
    * [[graft.ml.FeatureEng.scaleFeatures]]); the 1-row parameter table
    * broadcasts back onto a single scan of pure row-local arithmetic.
    * Requires n ≥ 3 (sample covariance); fewer rows null the score.
    */
  def mahalanobis2(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    def d2(c: String) = col(c).cast("decimal(18,2)")
    val mom = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .agg(count(lit(1)).as("__n"),
        sum(d2(xCol)).as("__sx"), sum(d2(yCol)).as("__sy"),
        sum(d2(xCol) * d2(xCol)).as("__sxx"),
        sum(d2(yCol) * d2(yCol)).as("__syy"),
        sum(d2(xCol) * d2(yCol)).as("__sxy"))
    val nD = col("__n").cast("double")
    def dd(c: String) = col(c).cast("double")
    val mx = dd("__sx") / nD
    val my = dd("__sy") / nD
    val vx = (dd("__sxx") - dd("__sx") * dd("__sx") / nD) / (nD - 1)
    val vy = (dd("__syy") - dd("__sy") * dd("__sy") / nD) / (nD - 1)
    val cxy = (dd("__sxy") - dd("__sx") * dd("__sy") / nD) / (nD - 1)
    val params = mom.select(col("__n"), mx.as("__mx"), my.as("__my"),
      vx.as("__vx"), vy.as("__vy"), cxy.as("__cxy"),
      (vx * vy - cxy * cxy).as("__det"))
    val dx = col(xCol).cast("double") - col("__mx")
    val dy = col(yCol).cast("double") - col("__my")
    val maha = (col("__vy") * dx * dx - lit(2.0) * col("__cxy") * dx * dy
      + col("__vx") * dy * dy) / col("__det")
    df.crossJoin(broadcast(params))
      .withColumn("maha2",
        when(col("__n") < 3 || col("__det") === 0.0, lit(null).cast("double"))
          .otherwise(maha))
      .drop("__n", "__mx", "__my", "__vx", "__vy", "__cxy", "__det")
  }
}
