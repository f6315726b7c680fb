package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.RankedStats

/** Decision-stump training: the single best threshold split of a
  * numeric feature against a binary label by weighted Gini impurity —
  * the unit step of tree ensembles, and on its own the
  * "one-rule" baseline a feature-screening pass ranks candidate
  * features by.
  *
  * Every candidate threshold is a distinct feature value, so training
  * rides the distinct-value-histogram + sharded-cumsum idiom
  * ([[graft.operators.RankedStats.withCumulative]]): one corpus scan
  * to the (value, count, positives) histogram, cumulative (n, pos)
  * per candidate, then the impurity of each split is PURE arithmetic
  * on that row's exact integers — no per-candidate scan, no global
  * sort, no driver loop. The argmin is a 1-row `min_by` over the
  * candidate table with ties broken to the smallest threshold
  * (both engines compute identical doubles from identical integers,
  * so the comparison is deterministic).
  */
object Stump {

  /** One output row: `threshold` (split is v ≤ threshold; the largest
    * value — an empty right side — is excluded from candidates),
    * `gini_split` (weighted impurity), `gini_base` (pre-split), `n_left`,
    * `n_right`, `p_left`, `p_right` (positive rates, rounded 6). Null
    * feature/label rows drop. Empty input or a constant feature (no
    * valid candidate) yields one all-null row — the 1-row aggregate's
    * empty-input shape.
    */
  def train(df: DataFrame, featureCol: String, labelCol: String): DataFrame = {
    val hist = df.select(col(featureCol).cast("double").as("__v"),
        col(labelCol).cast("boolean").cast("long").as("__y"))
      .filter(col("__v").isNotNull && col("__y").isNotNull)
      .groupBy(col("__v"))
      .agg(count(lit(1)).as("__t"), sum(col("__y")).as("__p"))
    def gini(pos: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) = {
      val p = pos.cast("double") / n.cast("double")
      lit(1.0) - p * p - (lit(1.0) - p) * (lit(1.0) - p)
    }
    val nl = col("__cum___t")
    val pl = col("__cum___p")
    val tn = col("__tot___t")
    val tp = col("__tot___p")
    val nr = tn - nl
    val pr = tp - pl
    val split = (nl.cast("double") / tn) * gini(pl, nl) +
      (nr.cast("double") / tn) * gini(pr, nr)
    val cand = RankedStats.withCumulative(hist, Nil, "__v", Seq("__t", "__p"))
      .filter(nr > 0) // the max value splits nothing off
      .select(col("__v"), split.as("__imp"), nl.as("__nl"), nr.as("__nr"),
        pl.as("__pl"), pr.as("__pr"), tn.as("__tn"), tp.as("__tp"))
    cand
      .agg(min_by(struct(col("__v"), col("__imp"), col("__nl"), col("__nr"),
          col("__pl"), col("__pr"), col("__tn"), col("__tp")),
        struct(col("__imp"), col("__v"))).as("__best"))
      .select(col("__best.__v").as("threshold"),
        round(col("__best.__imp") + lit(1e-12), 6).as("gini_split"),
        round(gini(col("__best.__tp"), col("__best.__tn")) + lit(1e-12), 6)
          .as("gini_base"),
        col("__best.__nl").as("n_left"), col("__best.__nr").as("n_right"),
        round(col("__best.__pl").cast("double") / col("__best.__nl").cast("double")
          + lit(1e-12), 6).as("p_left"),
        round(col("__best.__pr").cast("double") / col("__best.__nr").cast("double")
          + lit(1e-12), 6).as("p_right"))
  }
}
