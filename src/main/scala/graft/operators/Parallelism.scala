package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session parallelism for CPU-dense operators.
  *
  * [[shards]] is the one read of the session's shuffle-partition count
  * (`spark.sql.shuffle.partitions`) behind every explicit partition
  * count in the operators.
  *
  * The AQE byte-coalescing trap is why those counts are explicit. AQE
  * sizes a shuffle read by BYTES (`advisoryPartitionSizeInBytes`), so
  * an exchange whose rows are byte-light but CPU-dense — a verify join
  * running a per-pair levenshtein, a window sorting and summing a
  * histogram, a rank join feeding a moment aggregate — gets its read
  * merged into one or a few partitions, and the per-row work runs on
  * one task while the other cores idle. `repartition(shards(spark),
  * keys)` pins the distribution: AQE never coalesces a repartition
  * with an explicit count. At scale this is the same exchange the join
  * or window needs anyway, so it adds no work. Measured cases:
  * [[FuzzyJoin]]'s verify stage and [[RankedStats.withCumulative]]'s
  * window exchange. [[HypothesisTests.spearman]]'s join spine pins the
  * same way against the estimate-driven variant: a broadcast of both
  * big sides that left the whole join on one task.
  *
  * Scan parallelism has the same blindness at the other end. Parquet
  * split planning packs files by BYTES (`maxPartitionBytes`, with a
  * 4 MB `openCostInBytes` floor per file), so a ~10 MB table scans as
  * ~3 splits — and every downstream stage of an operator that pins
  * that scan with `localCheckpoint` inherits 3-way parallelism, even on
  * a 32-core session running decimal-heavy aggregation passes
  * (measured: q_cv_ols ran its checkpoint + two aggregate passes as
  * 3-task stages of ~1 s executor time each). Bytes-based splitting is
  * right at scale; it is blind to per-row CPU on small inputs.
  *
  * The byte-light rule goes the other way on purpose, for frames too
  * small for any split to pay: a frame that holds at most the session's
  * `spark.sql.files.openCostInBytes` (4 MB by default) is claimed as ONE
  * partition (`SinglePartition`), so its aggregates, windows and
  * sort-merge joins plan no exchange and AQE runs no query-stage job for
  * one. One partition holds every key's rows already, so a claim changes
  * plans, never results. Two kinds of frame are claimed:
  *  - a parquet read whose listed data files total at most the bound:
  *    [[graft.sources.Parquet.read]] returns it `coalesce(1)`. The bound
  *    is Spark's own split rule — a file of at most `openCostInBytes` is
  *    never split, whatever the core count — so a one-file listing loses
  *    no scan parallelism; a multi-file one loses its per-file splits.
  *    [[graft.sources.Parquet.DropClaims]] drops a claim two branches of
  *    one plan share (only an exchange is reused across branches) or an
  *    explode sits above;
  *  - a checkpoint of one partition whose blocks store at most the bound,
  *    as the block manager counts them:
  *    [[graft.sources.CheckpointScope.ClaimOnePartition]]. Spark plans a
  *    checkpoint as `UnknownPartitioning`, and the optimizer's size
  *    estimate of one is its lineage's, not its data's. A shared
  *    checkpoint keeps its claim: re-reading it is a block read.
  * The price: the frame and the narrow operators above it run as one
  * task, and `SinglePartition` carries on through every aggregate,
  * window and join above it until an explicit repartition, where AQE
  * would have spread an exchange of more than `minPartitionSize` (1 MB)
  * over several tasks. Per-row work whose cost does not follow the
  * frame's bytes — a codec that expands an id into a payload — pins its
  * own fan-out. Explicit counts still fan a claimed frame out: a
  * `repartition(n, ...)` directly over a claimed read drops the coalesce
  * (`CollapseRepartition`), one over a projection or a checkpoint is the
  * exchange that spreads all work above it, and `widened` sees one
  * planned partition and widens it to [[shards]] — which is why per-row
  * CPU-dense work (the multimodal codecs, CrossVal's decimal passes)
  * calls it. Tuning `openCostInBytes` moves both claims with it; at one
  * byte neither is made.
  *
  * `widened` round-robin-repartitions a frame up to [[shards]] ONLY
  * when the planned partition count is below it — at production scale
  * a real corpus plans thousands of splits and this is a no-op, so the
  * knob stays scale-adaptive rather than a local-core-count constant.
  * Use immediately before a load-bearing localCheckpoint whose
  * consumers do per-row arithmetic; safe only for consumers that are
  * row-order-free (the repo's exact-sum discipline). The input must be
  * free of exchanges (a scan plus narrow operators): under AQE,
  * `df.rdd` runs the jobs of every upstream query stage just to count
  * partitions.
  */
object Parallelism {

  /** The session's shuffle-partition count: the shard count of every
    * explicitly partitioned exchange in the operators. */
  def shards(spark: SparkSession): Int =
    spark.sessionState.conf.numShufflePartitions

  def widened(df: DataFrame): DataFrame = {
    val p = shards(df.sparkSession)
    // partition planning only — no job, given an exchange-free input
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }
}
