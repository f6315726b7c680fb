package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact interpolated percentiles from a distinct-value histogram — the
  * scale-safe replacement for the buffer-all `percentile` aggregate.
  *
  * Spark's exact `percentile` collects every (value -> count) of a group
  * into ONE in-memory aggregation buffer and sorts it in the final stage:
  * memory is O(group distinct values) in a single task and parallelism is
  * bounded by the number of groups (3 tasks for a 3-group corpus). At
  * 100 TB that final stage is the whole job, and a heavy group OOMs it.
  *
  * This operator computes the identical result as a dataflow: a
  * groupBy(group, value) histogram, the cumulative counts and group
  * totals of [[RankedStats.withCumulative]] (range-sharded two-level
  * prefix sum; its scaladoc carries the checkpoint and partition-count
  * caveats), then interpolation. The rows covering rank
  * floor(p*(n-1)) / ceil(p*(n-1)) are selected by
  * `cum - cnt <= rank < cum` and interpolated with Spark's own formula,
  * so results are bit-identical to `percentile(col, p)` (interpolation
  * special cases included).
  *
  * No stage buffers more than a shard of distinct values; no stage's
  * parallelism is bounded by the group count alone.
  */
object Percentiles {

  /** (groupCols..., `__v` double, `__cnt` long) distinct-value histogram;
    * nulls dropped (matching the `percentile` aggregate's null handling).
    */
  def histogram(df: DataFrame, groupCols: Seq[String], valCol: String): DataFrame =
    df.select(groupCols.map(col) :+ col(valCol).cast("double").as("__v"): _*)
      .filter(col("__v").isNotNull)
      .groupBy(groupCols.map(col) :+ col("__v"): _*)
      .agg(count(lit(1)).as("__cnt"))

  /** Exact percentiles `ps` of `valCol` per group: one row per group with
    * an `out` array<double> column ordered like `ps` — the histogram form
    * of `groupBy(group).agg(percentile(valCol, array(ps)))`. Groups whose
    * values are all null vanish (the aggregate form would emit null).
    */
  def exact(df: DataFrame, groupCols: Seq[String], valCol: String,
            ps: Seq[Double], out: String = "percentiles"): DataFrame =
    fromHistogram(histogram(df, groupCols, valCol), groupCols, "__v", "__cnt", ps, out)

  /** Weighted exact percentiles: each row's value counts `weightCol`
    * times — identical semantics (interpolation included) to the builtin
    * `percentile(valCol, ps, weightCol)` frequency form, but through the
    * histogram dataflow, so neither memory nor parallelism degrades with
    * group size. Rows with null value or non-positive weight are dropped
    * (the builtin errors on negative frequency; a streaming-friendly
    * gate beats a data-dependent throw at scale).
    */
  def weightedExact(df: DataFrame, groupCols: Seq[String], valCol: String,
                    weightCol: String, ps: Seq[Double],
                    out: String = "percentiles"): DataFrame = {
    val hist = df.select(groupCols.map(col)
        :+ col(valCol).cast("double").as("__v")
        :+ col(weightCol).cast("long").as("__w"): _*)
      .filter(col("__v").isNotNull && col("__w") > 0)
      .groupBy(groupCols.map(col) :+ col("__v"): _*)
      .agg(sum(col("__w")).as("__cnt"))
    fromHistogram(hist, groupCols, "__v", "__cnt", ps, out)
  }

  /** Percentiles from a pre-aggregated (value, weight) histogram — the
    * multiset {valCol repeated cntCol times} per group. Exposed so
    * derived histograms (e.g. |value - median| deviations for MAD) can be
    * re-aggregated at distinct-value cost instead of rescanning the
    * corpus. `hist` must have at most one row per (group, value); value
    * must be double-typed and non-null; counts positive.
    */
  def fromHistogram(hist: DataFrame, groupCols: Seq[String], valCol: String,
                    cntCol: String, ps: Seq[Double],
                    out: String = "percentiles"): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1),
      "percentiles must be in [0, 1]")
    val gcols = groupCols.map(col)
    val cum = col(s"__cum_$cntCol")
    val n = col(s"__tot_$cntCol")

    // Per requested percentile p: 0-indexed position p*(n-1); the rows
    // whose cumulative range covers floor/ceil of it carry the two keys.
    val aggs = max(n).as("__nn") +: ps.zipWithIndex.flatMap { case (p, i) =>
      val pos = lit(p) * (n - 1).cast("double")
      val loRank = floor(pos).cast("long")
      val hiRank = ceil(pos).cast("long")
      val from = cum - col(cntCol)
      Seq(
        max(when(from <= loRank && loRank < cum, col(valCol))).as(s"__vl$i"),
        max(when(from <= hiRank && hiRank < cum, col(valCol))).as(s"__vu$i"))
    }
    val agged = RankedStats.withCumulative(hist, groupCols, valCol, Seq(cntCol))
      .groupBy(gcols: _*).agg(aggs.head, aggs.tail: _*)
    // Spark Percentile.getPercentile interpolation, special cases and
    // operation order included: integral position or equal keys -> lower
    // key; else (higher - pos) * lower + (pos - lower) * higher.
    val vals = ps.zipWithIndex.map { case (p, i) =>
      val pos = lit(p) * (col("__nn") - 1).cast("double")
      val lo = floor(pos)
      val hi = ceil(pos)
      val vl = col(s"__vl$i")
      val vu = col(s"__vu$i")
      when(lo === hi || vl === vu, vl)
        .otherwise((hi - pos) * vl + (pos - lo) * vu)
    }
    agged.select(gcols :+ array(vals: _*).as(out): _*)
  }
}
