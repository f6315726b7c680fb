package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Order statistics over a distinct-value histogram — the shared
  * dataflow under every rank- and percentile-based operator (two-sample
  * tests, Gini concentration, BH multiple-testing control, exact
  * percentiles, the Zipf rank fit).
  *
  * The naive formulation of every rank statistic is a GLOBAL window
  * (`row_number() over (order by value)`): one task sorts the corpus. At
  * 100 TB that task is the job. [[withCumulative]] provides the same
  * cumulative counts as a two-level prefix sum:
  *
  *   1. the caller reduces rows to a distinct-value histogram (groupBy
  *      value — parallel everywhere, map-side partials, output is
  *      |distinct values| rows, not |corpus|);
  *   2. the histogram is range-sharded on (group, value) so each shard
  *      holds a contiguous value range (`repartitionByRange`);
  *   3. cumulative sums run WITHIN each shard (parallelism = groups ×
  *      shards, spillable window), and a broadcast of per-shard totals
  *      (groups × shards rows, cumsum'd over shard ids) lifts local
  *      sums to global ones.
  *
  * Rank statistics then come out of arithmetic over the cumulative
  * columns: for a value with count t and cumulative total c, its block
  * of ranks is (c-t, c] — enough to evaluate sums of any per-rank
  * polynomial exactly, tied blocks included, without materializing one
  * row per rank.
  */
object RankedStats {

  /** The range-sharded two-level prefix sum. Takes a histogram with at
    * most one row per (group, value) and appends, per count column `c`:
    *
    *   - `__cum_<c>`: the inclusive cumulative sum of `c`, ordered by
    *     `valueCol` ascending within each group;
    *   - `__tot_<c>`: the group's total of `c`, identical on every row
    *     of the group. Consumers read it for n instead of
    *     re-aggregating the histogram; it comes off the groups × shards
    *     offsets table the kernel builds anyway.
    *
    * `valueCol` may be any orderable type. Ranking by a unique key (for
    * example `struct(-cnt, token)` with a count column of `1L`) makes
    * `__cum_<c>` a dense 1-based rank. The shard count is
    * [[Parallelism.shards]].
    *
    * Two caveats hold for every two-level prefix sum over a RANGE
    * exchange, and this is the one place that handles them:
    *
    *   - The range-sharded frame must be checkpointed. The local-cumsum
    *     and offsets branches both read it, and unmaterialized each
    *     would re-instantiate the range exchange. RangePartitioner
    *     samples its boundaries with a seed per RDD instantiation, so
    *     two branches can disagree on which shard a row belongs to and
    *     silently corrupt every stitched cumulative sum (observed:
    *     ~2500/3310 rows wrong; the two exchanges are not reused because
    *     each branch prunes different columns). The localCheckpoint
    *     makes the shard id a fact, not a replay, and costs one
    *     histogram-sized materialization.
    *   - The window exchange needs an explicit partition count
    *     ([[Parallelism.shards]], the AQE byte-coalescing trap): a ~5 MB
    *     histogram of 594k rows otherwise measured as ONE task sorting
    *     and summing everything.
    *
    * Two-level prefix sums whose shard id is arithmetic on the key
    * ([[Sampling.globalShuffleOrder]], [[graft.text.Pack.chunkAssignments]])
    * have no range exchange and need neither pin.
    */
  def withCumulative(hist: DataFrame, groupCols: Seq[String], valueCol: String,
                     cntCols: Seq[String]): DataFrame = {
    val nShards = Parallelism.shards(hist.sparkSession)
    val gcols = groupCols.map(col)
    // capture the shard id BEFORE the window's hash exchange moves rows
    val ranged = hist
      .repartitionByRange(nShards, gcols :+ col(valueCol): _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()

    val wLoc = Window.partitionBy(gcols :+ col("__pid"): _*).orderBy(col(valueCol))
    val local = cntCols.foldLeft(ranged.repartition(nShards, gcols :+ col("__pid"): _*)) {
      (d, c) => d.withColumn(s"__l_$c", sum(col(c)).over(wLoc))
    }

    val wGroup = Window.partitionBy(gcols: _*)
    val wOff = wGroup.orderBy(col("__pid")).rowsBetween(Window.unboundedPreceding, -1)
    val shardTotals = cntCols.map(c => sum(col(c)).as(s"__t_$c"))
    val offsets = ranged
      .groupBy(gcols :+ col("__pid"): _*)
      .agg(shardTotals.head, shardTotals.tail: _*)
      .select(gcols ++ (col("__pid") +: cntCols.flatMap(c => Seq(
        coalesce(sum(col(s"__t_$c")).over(wOff), lit(0L)).as(s"__o_$c"),
        sum(col(s"__t_$c")).over(wGroup).as(s"__tot_$c")))): _*)

    cntCols.foldLeft(local.join(broadcast(offsets), groupCols :+ "__pid")) {
        (d, c) => d.withColumn(s"__cum_$c", col(s"__l_$c") + col(s"__o_$c"))
      }
      .drop("__pid")
      .drop(cntCols.flatMap(c => Seq(s"__l_$c", s"__o_$c")): _*)
  }

  /** Quantile normalization: append `q_uniform` = midrank/(n+1) per
    * group — the rank-to-(0,1) map that makes any two columns
    * comparable regardless of their marginal distributions (the step
    * before copula-style joins, rank-based blending, or feeding a
    * scale-free feature to a model). midrank/(n+1) keeps the output
    * strictly inside (0,1) (the Weibull plotting position), ties share
    * one value.
    *
    * Scale shape: the distinct-value histogram + sharded cumsum build
    * a rank TABLE (histogram-sized); rows join it on (group, value) —
    * the [[HypothesisTests.spearman]] dataflow for one variable.
    * Midranks are exact half-integers; one double division per row.
    */
  def quantileNormalize(df: DataFrame, groupCols: Seq[String], valCol: String): DataFrame = {
    val gcols = groupCols.map(col)
    val hist = df.filter(col(valCol).isNotNull)
      .groupBy(gcols :+ col(valCol): _*).agg(count(lit(1)).as("__t"))
    val t = col("__t").cast("double")
    val midrank = (col("__cum___t") - col("__t")).cast("double") + (t + 1) / 2
    val ranks = withCumulative(hist, groupCols, valCol, Seq("__t"))
      .select(gcols :+ col(valCol) :+
        (midrank / (col("__tot___t") + 1).cast("double")).as("__qu"): _*)
    df.join(ranks, groupCols :+ valCol)
      .withColumn("q_uniform", round(col("__qu") + lit(1e-12), 6))
      .drop("__qu")
  }

  /** Gini coefficient of `valCol` per group — the standard corpus-audit
    * concentration measure (how unevenly tokens/bytes spread over
    * documents or sources; 0 = uniform, →1 = one row holds everything).
    *
    * Computed from the histogram: with rows sorted ascending, G =
    * (2·Σᵢ i·xᵢ) / (n·Σx) − (n+1)/n. A tied block of value v spanning
    * ranks (c−t, c] contributes v·(t·(c−t) + t(t+1)/2) to Σ i·xᵢ —
    * every term an exact integer (sums stay below 2^53), so the result
    * is independent of both partitioning and tie order. Requires
    * non-negative values (the usual Gini domain; negative rows would
    * make the denominator meaningless) and skips null values.
    *
    * Output: groupCols..., `n` (row count), `gini` (rounded to 6).
    */
  def gini(df: DataFrame, groupCols: Seq[String], valCol: String): DataFrame = {
    val gcols = groupCols.map(col)
    val hist = df
      .select(gcols :+ col(valCol).cast("double").as("__v"): _*)
      .filter(col("__v").isNotNull)
      .groupBy(gcols :+ col("__v"): _*)
      .agg(count(lit(1)).as("__t"))
    val cum = withCumulative(hist, groupCols, "__v", Seq("__t"))
    val t = col("__t").cast("double")
    val before = (col("__cum___t") - col("__t")).cast("double")
    cum.groupBy(gcols: _*)
      .agg(sum(col("__t")).as("n"),
        sum(col("__v") * (t * before + t * (t + 1) / 2)).as("__ws"),
        sum(col("__v") * t).as("__tot"),
        min(col("__v")).as("__min"))
      .select(gcols ++ Seq(col("n"),
        when(col("__min") < 0, raise_error(concat(lit("gini requires non-negative values; got min="),
          col("__min"))))
          .otherwise(round(lit(2.0) * col("__ws") / (col("n") * col("__tot"))
            - (col("n") + 1).cast("double") / col("n") + lit(1e-12), 6)).as("gini")): _*)
  }
}
