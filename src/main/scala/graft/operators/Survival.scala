package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Kaplan–Meier survival estimation over subject lifetimes — "how long
  * does a user stay active?", with the right-censoring a live dataset
  * forces: a subject still active near the end of the observation
  * window hasn't churned, it's censored, and treating it as a churn
  * biases every retention curve downward.
  *
  * Lifetime model: per subject, duration = (last ts − first ts)
  * bucketed to `bucketWidth` units; the subject is CENSORED when its
  * last event falls within `horizon` of the global max ts (it may
  * still be active), otherwise its churn is observed at that duration.
  *
  * The estimator: at each distinct duration t with n_t subjects still
  * at risk (duration ≥ t) and d_t observed churns,
  * S(t) = Π_{t'≤t} (1 − d_t'/n_t'). The product is evaluated as
  * exp(Σ ln(1 − d/n)) — a cumulative SUM the engine can window —
  * with the d = n collapse (ln 0) handled explicitly: a cumulative
  * flag pins survival to exactly 0.0 from the first time everyone at
  * risk churns (both engines would otherwise disagree on ln(0)).
  *
  * Scale shape: ONE corpus-sized groupBy(subject) produces lifetimes;
  * everything after is distinct-duration-sized (bounded by the
  * observation window / bucketWidth, independent of corpus size), so
  * the ordered windows run over an aggregate-sized table — the same
  * deliberate single-partition-over-tiny-input shape as
  * [[Drift.categoricalDrift]]'s totals. Risk counts are exact longs
  * (reverse cumulative via total − exclusive prefix); doubles enter
  * only in the hazard ln/exp.
  *
  * Output per distinct duration: `duration`, `at_risk`, `events`,
  * `censored`, `survival` (rounded 6).
  */
object Survival {

  private val wAll = Window.partitionBy()
    .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
  private val wPre = Window.orderBy(col("dur"))
    .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** The lifetime table shared by the three estimators. Per subject,
    * one checkpointed min/max of `tsCol`; per distinct bucketed
    * duration `dur`, observed churns `d`, censorings `c` and the risk
    * set `__n` (total − exclusive prefix, via the `__tot`/`__cum`
    * windows). With `group = Some((groupCol, groupA))`, subjects with
    * a null group drop, and group A's `da`, `ca` and risk set `__na`
    * (windows `__tota`/`__cuma`) ride along.
    */
  private def lifetimes(df: DataFrame, subjectCol: String, tsCol: String,
                        horizon: Long, bucketWidth: Long,
                        group: Option[(String, String)] = None): DataFrame = {
    require(horizon >= 0, s"horizon must be >= 0, got $horizon")
    require(bucketWidth > 0, s"bucketWidth must be > 0, got $bucketWidth")
    // localCheckpoint: `per` feeds both the study-end scalar and the
    // lifetime projection — without it the 1-row max re-aggregates the
    // corpus from the scan (AQE can't reuse a min+max exchange for a
    // max-only subtree), doubling the corpus cost at scale
    val per = df.filter(group.foldLeft(col(subjectCol).isNotNull
          && col(tsCol).isNotNull)((p, g) => p && col(g._1).isNotNull))
      .groupBy(col(subjectCol))
      .agg(min(col(tsCol)).as("__t0"), max(col(tsCol)).as("__t1") +:
        group.map(g => min(col(g._1)).as("__g")).toSeq: _*)
      .localCheckpoint()
    val mx = per.agg(max(col("__t1")).as("__mx"))
    val subj = per.crossJoin(broadcast(mx)).select(
      expr(s"(__t1 - __t0) div ${bucketWidth}L").as("dur") +:
        (col("__t1") > col("__mx") - lit(horizon)).as("__cens") +:
        group.map(g => (col("__g") === g._2).as("__a")).toSeq: _*)
    def cnt(p: Column) = sum(when(p, 1L).otherwise(0L))
    val byDur = subj.groupBy(col("dur")).agg(
      sum(when(col("__cens"), 0L).otherwise(1L)).as("d"),
      sum(when(col("__cens"), 1L).otherwise(0L)).as("c") +:
        (if (group.isEmpty) Nil
         else Seq(cnt(!col("__cens") && col("__a")).as("da"),
           cnt(col("__cens") && col("__a")).as("ca"))): _*)
    val withN = byDur
      .withColumn("__tot", sum(col("d") + col("c")).over(wAll))
      .withColumn("__cum", sum(col("d") + col("c")).over(wPre))
    val n = col("__tot") - col("__cum") + (col("d") + col("c"))
    if (group.isEmpty) withN.withColumn("__n", n)
    else withN
      .withColumn("__tota", sum(col("da") + col("ca")).over(wAll))
      .withColumn("__cuma", sum(col("da") + col("ca")).over(wPre))
      .withColumn("__n", n)
      .withColumn("__na", col("__tota") - col("__cuma") + (col("da") + col("ca")))
  }

  def kaplanMeier(df: DataFrame, subjectCol: String, tsCol: String,
                  horizon: Long, bucketWidth: Long): DataFrame = {
    val lnTerm = when(col("d") < col("__n"),
      log(lit(1.0) - col("d").cast("double") / col("__n").cast("double")))
    lifetimes(df, subjectCol, tsCol, horizon, bucketWidth)
      .withColumn("__lnS", sum(lnTerm).over(wPre))
      .withColumn("__z",
        max(when(col("d") === col("__n"), 1).otherwise(0)).over(wPre))
      .select(col("dur").as("duration"), col("__n").as("at_risk"),
        col("d").as("events"), col("c").as("censored"),
        when(col("__z") === 1, lit(0.0))
          .otherwise(round(exp(col("__lnS")) + lit(1e-12), 6)).as("survival"))
  }

  /** Nelson–Aalen cumulative hazard over the same lifetime/censoring
    * model as [[kaplanMeier]]: H(t) = Σ_{t'≤t} d_t'/n_t' — the
    * integrated churn INTENSITY, whose slope changes localize when the
    * risk actually shifts (the km curve's multiplicative form smears
    * that). Identical duration-sized dataflow; the hazard increments
    * are single divisions of exact longs, cumulated by the ordered
    * window.
    *
    * Output per distinct duration: `duration`, `at_risk`, `events`,
    * `censored`, `cum_hazard` (rounded 6).
    */
  def nelsonAalen(df: DataFrame, subjectCol: String, tsCol: String,
                  horizon: Long, bucketWidth: Long): DataFrame =
    lifetimes(df, subjectCol, tsCol, horizon, bucketWidth)
      .withColumn("__H",
        sum(col("d").cast("double") / col("__n").cast("double")).over(wPre))
      .select(col("dur").as("duration"), col("__n").as("at_risk"),
        col("d").as("events"), col("c").as("censored"),
        round(col("__H") + lit(1e-12), 6).as("cum_hazard"))

  /** Two-group log-rank test under the [[kaplanMeier]] lifetime model:
    * did cohort A churn on a different schedule than cohort B? At each
    * distinct pooled duration with n at risk (n_a in A), d observed
    * churns (d_a in A): E_a += d·n_a/n and the hypergeometric variance
    * V += d·(n_a/n)·(1 − n_a/n)·(n − d)/(n − 1) (n = 1 rows contribute
    * 0); z = (O_a − E_a)/√V, χ² = z².
    *
    * One output row: `o_a` (observed A churns), `e_a`, `var_lr`,
    * `logrank_z`, `logrank_chi2` (rounded 6; z/χ² null when V = 0).
    *
    * Scale shape: one corpus-sized subject aggregate, then per-duration
    * conditional counts (duration-sized) with the same
    * reverse-cumulative risk-count windows as the estimator; the test
    * terms are per-row arithmetic on exact longs, reduced once.
    */
  def logRank(df: DataFrame, subjectCol: String, tsCol: String,
              groupCol: String, groupA: String,
              horizon: Long, bucketWidth: Long): DataFrame = {
    val frac = col("__na").cast("double") / col("__n").cast("double")
    val eTerm = col("d").cast("double") * frac
    val vTerm = when(col("__n") > 1,
      col("d").cast("double") * frac * (lit(1.0) - frac)
        * (col("__n") - col("d")).cast("double") / (col("__n") - 1).cast("double"))
      .otherwise(lit(0.0))
    val terms = lifetimes(df, subjectCol, tsCol, horizon, bucketWidth,
      Some((groupCol, groupA)))
    val z = (col("o_a").cast("double") - col("__e")) / sqrt(col("__v"))
    terms.agg(sum(col("da")).as("o_a"), sum(eTerm).as("__e"), sum(vTerm).as("__v"))
      .select(col("o_a"), round(col("__e") + lit(1e-12), 6).as("e_a"),
        round(col("__v") + lit(1e-12), 6).as("var_lr"),
        when(col("__v") === 0.0, lit(null).cast("double"))
          .otherwise(round(z + lit(1e-12), 6)).as("logrank_z"),
        when(col("__v") === 0.0, lit(null).cast("double"))
          .otherwise(round(z * z + lit(1e-12), 6)).as("logrank_chi2"))
  }
}
