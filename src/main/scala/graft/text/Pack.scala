package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing bookkeeping for LLM pretraining: documents are
  * concatenated in a deterministic order and the token stream is chunked
  * into fixed-length training sequences (the standard concat-then-chunk
  * recipe). This operator computes, for every document, WHERE it lands:
  * its token offset in the group's stream and the first/last training
  * chunk it touches — the metadata a packing writer or an attribution
  * ("which docs fed sequence i") query needs.
  *
  * 100 TB shape: the cumulative sum is TWO-LEVEL. Rows are sharded by
  * contiguous `orderCol` ranges (`shard = order div shardWidth`, which is
  * monotone in the order, so shard boundaries respect the stream order);
  * the running sum inside each (group, shard) is a parallel window, and
  * the cross-shard offsets come from a per-(group, shard) total
  * aggregated on the SAME partitioning (exchange reused), prefix-summed
  * over the shard-count-sized totals table and broadcast back. A group
  * no longer pins a single task — parallelism is #groups x #shards
  * instead of #groups. All arithmetic is integral (`div`), exact past
  * 2^53 tokens. Because the shard id is arithmetic on the order value,
  * no range exchange exists and no checkpoint pin is needed — see
  * [[graft.operators.RankedStats.withCumulative]] for the range-sharded
  * variant and why it needs one.
  */
object Pack {

  /** Per-doc chunk assignment: (group, order, n_tokens, tok_start,
    * chunk_first, chunk_last) with chunks of `seqLen` tokens numbered
    * from 0 within each group. A doc spans chunk_last - chunk_first + 1
    * chunks; docs with zero tokens get chunk_last < chunk_first and
    * should be filtered upstream.
    *
    * `orderCol` must be numeric (it defines both the stream order and
    * the shard ranges); `shardWidth` is the order-value span per shard —
    * the parallelism knob.
    */
  def chunkAssignments(df: DataFrame, groupCol: String, orderCol: String,
                       tokensCol: String, seqLen: Long,
                       shardWidth: Long = 1024L): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    require(shardWidth > 0, "shardWidth must be positive")
    require(df.schema(orderCol).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"$orderCol must be numeric: the two-level cumulative sum shards by order range")
    val n = col(tokensCol).cast("long")
    // Integral `div` (not a double floor): exact for the full long
    // range, and truncation keeps shard ids monotone in the order.
    val sharded = df.withColumn("__shard",
      expr(s"CAST($orderCol AS BIGINT) div $shardWidth"))
    // Level 1: running sum inside each (group, shard) — parallel across
    // shards. The groupBy below reuses this window's hash partitioning.
    val wLocal = Window.partitionBy(col(groupCol), col("__shard"))
      .orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = sharded.withColumn("__cum", sum(n).over(wLocal))
    // Level 2: shard totals -> exclusive prefix sum per group. The
    // totals table is #groups x #shards rows — broadcast-sized by
    // construction, so the join back adds no shuffle of the corpus.
    val wOff = Window.partitionBy(col(groupCol)).orderBy(col("__shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy(col(groupCol), col("__shard"))
      .agg(sum(n).as("__tot"))
      .withColumn("__off", coalesce(sum(col("__tot")).over(wOff), lit(0L)))
      .drop("__tot")
    local.join(broadcast(offsets), Seq(groupCol, "__shard"))
      .select(col(groupCol), col(orderCol), n.as("n_tokens"),
        (col("__off") + col("__cum") - n).as("tok_start"))
      .select(col(groupCol), col(orderCol), col("n_tokens"), col("tok_start"),
        expr(s"tok_start div $seqLen").as("chunk_first"),
        expr(s"(tok_start + n_tokens - 1) div $seqLen").as("chunk_last"))
  }

  /** The single-window formulation (one running sum per group) — kept as
    * the differential reference for the two-level rewrite: identical
    * rows, but parallelism bounded by group count.
    */
  private[graft] def chunkAssignmentsSingleWindow(
      df: DataFrame, groupCol: String, orderCol: String,
      tokensCol: String, seqLen: Long): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    val w = Window.partitionBy(col(groupCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val n = col(tokensCol).cast("long")
    df.withColumn("__cum", sum(n).over(w))
      .select(col(groupCol), col(orderCol), n.as("n_tokens"),
        (col("__cum") - n).as("tok_start"))
      .select(col(groupCol), col(orderCol), col("n_tokens"), col("tok_start"),
        expr(s"tok_start div $seqLen").as("chunk_first"),
        expr(s"(tok_start + n_tokens - 1) div $seqLen").as("chunk_last"))
  }
}
