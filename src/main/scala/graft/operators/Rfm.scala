package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** RFM (recency / frequency / monetary) customer scoring — the classic
  * segmentation feature triple: how recently was the entity active,
  * how often, for how much; each dimension bucketed into corpus
  * quintiles and packed into the familiar 3-digit code.
  *
  * Scale shape: one corpus-sized groupBy(entity) builds the three raw
  * dimensions (exact longs / DECIMAL sums); quintile edges come from
  * [[Percentiles.exact]] over the ENTITY-sized table (the sharded
  * histogram dataflow — no buffer-all percentile) as three 1-row
  * broadcasts; bucketing is scan-stage `size(filter(edges, v ≥ e))`
  * exactly as [[Drift.numericDrift]] bins. Nothing entity-sized
  * shuffles twice.
  */
object Rfm {

  /** Per entity: `recency` (order units since the entity's last event,
    * measured from the corpus max — smaller = more recent), `freq`,
    * `monetary` (rounded 6), and quintile scores `r_score` /
    * `f_score` / `m_score` in 1..5 (5 = best: most recent, most
    * frequent, highest spend) plus `rfm` = 100r + 10f + m. Rows with
    * null entity/order values drop; null amounts count 0 toward
    * monetary. Heavily tied dimensions may collapse edges; ties bucket
    * together (both engines identically).
    */
  def scores(df: DataFrame, entityCol: String, orderCol: String,
             amountCol: String): DataFrame = {
    val per = df.filter(col(entityCol).isNotNull && col(orderCol).isNotNull)
      .groupBy(col(entityCol))
      .agg(max(col(orderCol)).as("__last"), count(lit(1)).as("freq"),
        coalesce(sum(col(amountCol).cast("decimal(18,2)")), lit(0).cast("decimal(18,2)"))
          .cast("double").as("monetary"))
      .localCheckpoint() // corpus-max scalar + three edge passes + output
    val mx = per.agg(max(col("__last")).as("__mx"))
    val base = per.crossJoin(broadcast(mx))
      .select(col(entityCol), (col("__mx") - col("__last")).as("recency"),
        col("freq"), col("monetary"))
      .localCheckpoint()
    val qs = Seq(0.2, 0.4, 0.6, 0.8)
    def edges(c: String) = Percentiles.exact(base, Nil, c, qs, s"__e_$c")
    def bucket(c: String) =
      size(filter(col(s"__e_$c"), e => col(c).cast("double") >= e)).cast("long")
    base
      .crossJoin(broadcast(edges("recency")))
      .crossJoin(broadcast(edges("freq")))
      .crossJoin(broadcast(edges("monetary")))
      .select(col(entityCol), col("recency"), col("freq"),
        round(col("monetary") + lit(1e-12), 6).as("monetary"),
        (lit(5L) - bucket("recency")).as("r_score"),
        (bucket("freq") + 1).as("f_score"),
        (bucket("monetary") + 1).as("m_score"))
      .withColumn("rfm",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
  }
}
