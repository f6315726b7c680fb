package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reliability diagram + expected calibration error (ECE) for a
  * probabilistic scorer — the audit a pipeline runs on its quality /
  * toxicity / language classifier before trusting the scores as keep
  * probabilities: "when the model says 0.8, is it right 80% of the
  * time?" (Guo et al. 2017's binned ECE.)
  *
  * Scale shape: one groupBy on the bin id (≤ `bins` groups, map-side
  * combined) + a 1-row reduce for the ECE — two scans, nothing sorted,
  * nothing collected. Exactness: scores are expected pre-rounded (6
  * decimals — the house convention for model columns) and are summed as
  * DECIMAL(16,6), so per-bin confidence is order-independent and
  * engine-exact; accuracy is an integer ratio.
  */
object Calibration {

  /** Output: one row per non-empty bin — `bin` (0-based, uniform over
    * [0,1], the top edge closed), `n`, `confidence` (mean score),
    * `accuracy` (mean label), `gap` = |acc − conf|, plus the scalar
    * `ece` = Σ n_b/N · gap_b repeated on every row (crossJoined 1-row
    * aggregate, never collected). `labelCol` must be boolean-like
    * (cast to int 0/1); rows with null score or label drop.
    */
  def calibration(df: DataFrame, scoreCol: String, labelCol: String,
                  bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val p = col(scoreCol).cast("double")
    val binned = df
      .filter(p.isNotNull && col(labelCol).isNotNull)
      .select(
        least(greatest(floor(p * bins).cast("long"), lit(0L)), lit(bins - 1L)).as("bin"),
        p.cast("decimal(16,6)").as("__p"),
        col(labelCol).cast("int").cast("long").as("__y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("__p")).as("__sp"), sum(col("__y")).as("__sy"))
      .select(col("bin"), col("n"),
        (col("__sp").cast("double") / col("n")).as("confidence"),
        (col("__sy").cast("double") / col("n")).as("accuracy"))
      .withColumn("gap", abs(col("accuracy") - col("confidence")))
    val ece = binned
      .agg((sum(col("n") * col("gap")) / sum(col("n"))).as("__e"))
      .select(round(col("__e") + lit(1e-12), 6).as("ece"))
    binned
      .select(col("bin"), col("n"),
        round(col("confidence") + lit(1e-12), 6).as("confidence"),
        round(col("accuracy") + lit(1e-12), 6).as("accuracy"),
        round(col("gap") + lit(1e-12), 6).as("gap"))
      .crossJoin(broadcast(ece))
  }

  /** ROC AUC + average precision for a binary scorer — the
    * threshold-free companions of [[calibration]]'s ECE: AUC is the
    * probability a random positive outscores a random negative (ties
    * count half), AP is precision averaged over recall steps — the
    * ranking-quality numbers a pipeline checks before sweeping a keep
    * threshold over classifier scores.
    *
    * Scale shape: the [[RankedStats.withCumulative]] discipline — the
    * corpus reduces to a distinct-score histogram with (total,
    * positive) counts, the two-level cumsum ranks it with no global
    * sort, and both statistics come out of arithmetic over the
    * cumulative columns:
    *
    *   - AUC via the Mann–Whitney identity: a tied block of t rows
    *     ending at cumulative count c shares midrank (c−t) + (t+1)/2;
    *     R₊ = Σ pos·midrank (each term an integer multiple of ½ —
    *     exact in doubles, order-independent), and
    *     AUC = (R₊ − n₊(n₊+1)/2) / (n₊·n₋).
    *   - AP at distinct-threshold granularity (the per-sample step
    *     integral collapses on tied blocks): descending through
    *     thresholds v, TP = n₊ − (cum₊ − pos) and predicted-positive
    *     PP = n − (cum − t) are exact longs, and
    *     AP = Σ pos·(TP/PP) / n₊ — each recall step weighted by the
    *     precision at its threshold.
    *
    * One output row: `n`, `n_pos`, `n_neg`, `auc`, `ap` (rounded 6;
    * both null when a class is empty — ranking quality is undefined,
    * not zero). Null scores/labels drop; empty input → zero rows.
    */
  def rocAuc(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val hist = df
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(col(scoreCol).cast("double").as("__v"),
        col(labelCol).cast("int").cast("long").as("__y"))
      .groupBy(col("__v"))
      .agg(count(lit(1)).as("__t"), sum(col("__y")).as("__p"))
    val cum = RankedStats.withCumulative(hist, Nil, "__v", Seq("__t", "__p"))
    val t = col("__t").cast("double")
    val midrank = (col("__cum___t") - col("__t")).cast("double") + (t + 1) / 2
    val tp = col("__tot___p") - (col("__cum___p") - col("__p"))
    val pp = col("__tot___t") - (col("__cum___t") - col("__t"))
    val np = col("__np").cast("double")
    val nn = (col("__n") - col("__np")).cast("double")
    cum.groupBy(col("__tot___t").as("__n"), col("__tot___p").as("__np"))
      .agg(sum(col("__p") * midrank).as("__rp"),
        sum(col("__p").cast("double") * tp.cast("double") / pp.cast("double"))
          .as("__apn"))
      .select(col("__n").as("n"), col("__np").as("n_pos"),
        (col("__n") - col("__np")).as("n_neg"),
        when(col("__np") === 0L || col("__n") === col("__np"),
            lit(null).cast("double"))
          .otherwise(round((col("__rp") - np * (col("__np") + 1) / 2)
            / (np * nn) + lit(1e-12), 6)).as("auc"),
        when(col("__np") === 0L, lit(null).cast("double"))
          .otherwise(round(col("__apn") / np + lit(1e-12), 6)).as("ap"))
  }

  /** Cohen's kappa — chance-corrected agreement between two
    * categorical labelers (a stored label vs a classifier, two
    * annotators, two model versions): κ = (p_o − p_e)/(1 − p_e) with
    * p_o the observed agreement and p_e = Σ_c row_c·col_c/N² the
    * agreement two independent labelers with these marginals would
    * reach by chance. Raw accuracy flatters skewed label
    * distributions; κ is the audit number.
    *
    * Scale shape: the [[HypothesisTests.chiSquare]] discipline — ONE
    * corpus groupBy builds the |A|·|B|-bounded confusion cells, N /
    * diagonal / marginals all re-aggregate that cell table (AQE
    * reuses its exchange), and the marginal product joins on the
    * category full-outer (a category present on one side only
    * contributes 0). Counts and products are exact longs; doubles
    * enter in the final three ratios.
    *
    * One output row: `n`, `n_agree`, `po`, `pe`, `kappa` (rounded 6;
    * kappa null when p_e = 1 — a single shared category, agreement is
    * vacuous).
    */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__o"))
    val tots = cells.agg(sum(col("__o")).as("__n"),
      sum(when(col("__a") === col("__b"), col("__o")).otherwise(0L))
        .as("n_agree"))
    val rowT = cells.groupBy(col("__a")).agg(sum(col("__o")).as("__ra"))
    val colT = cells.groupBy(col("__b")).agg(sum(col("__o")).as("__cb"))
    val peNum = rowT.join(colT, col("__a") === col("__b"), "full_outer")
      .agg(sum(coalesce(col("__ra"), lit(0L)) * coalesce(col("__cb"), lit(0L)))
        .as("__pp"))
    val nD = col("__n").cast("double")
    val po = col("n_agree").cast("double") / nD
    val pe = col("__pp").cast("double") / (nD * nD)
    tots.crossJoin(broadcast(peNum))
      .select(col("__n").as("n"), col("n_agree"),
        round(po + lit(1e-12), 6).as("po"),
        round(pe + lit(1e-12), 6).as("pe"),
        when(pe === 1.0, lit(null).cast("double"))
          .otherwise(round((po - pe) / (lit(1.0) - pe) + lit(1e-12), 6))
          .as("kappa"))
  }

  /** Fleiss' kappa (Fleiss 1971) — chance-corrected agreement for a
    * FIXED number `nRaters` of ratings per item, the multi-annotator
    * generalization of [[cohenKappa]]. `ratings` is the long table
    * (one row per (item, rating)); items with a different rating count
    * are rejected up front (a silent drop would bias P-bar).
    *
    * All sums ride exact longs — sum of per-item squared category
    * counts for P-bar, squared category totals for P-e — so the only
    * doubles are the final few divisions in fixed expression order:
    * order-independent, engine-identical. Shape: one (item, category)
    * aggregate (map-side combined), one item-level rollup, one
    * k-row category rollup; nothing driver-side. Output one row:
    * n_items, n_raters, p_bar, p_e, kappa (rounded 6). */
  def fleissKappa(ratings: DataFrame, itemCol: String, catCol: String,
                  nRaters: Int): DataFrame = {
    require(nRaters >= 2, s"nRaters must be >= 2, got $nRaters")
    val nij = ratings.filter(col(catCol).isNotNull)
      .groupBy(col(itemCol).as("__i"), col(catCol).as("__c"))
      .agg(count(lit(1)).as("__n"))
    val perItem = nij.groupBy(col("__i"))
      .agg(sum(col("__n")).as("__ni"), sum(col("__n") * col("__n")).as("__s2"))
    val items = perItem.agg(
      count(lit(1)).as("n_items"),
      sum(col("__s2")).as("__sumS2"),
      min(col("__ni")).as("__nmin"), max(col("__ni")).as("__nmax"))
    val cats = nij.groupBy(col("__c")).agg(sum(col("__n")).as("__cj"))
      .agg(sum(col("__cj") * col("__cj")).as("__sumCj2"))
    val n = lit(nRaters.toLong)
    val nD = col("n_items").cast("double")
    val pBar = (col("__sumS2") - col("n_items") * n).cast("double") /
      (nD * (n * (n - 1)).cast("double"))
    val pE = col("__sumCj2").cast("double") /
      ((nD * n.cast("double")) * (nD * n.cast("double")))
    items.crossJoin(broadcast(cats))
      .select(col("n_items"), col("__nmin"), col("__nmax"),
        n.as("n_raters"), col("__sumS2"), col("__sumCj2"))
      .withColumn("__ok",
        when(col("__nmin") === n && col("__nmax") === n, lit(true))
          .otherwise(raise_error(format_string("fleissKappa: every item " +
            s"needs exactly $nRaters ratings; found counts in [%d, %d]",
            col("__nmin"), col("__nmax")))))
      .filter(col("__ok"))
      .select(col("n_items"), col("n_raters"),
        round(pBar + lit(1e-12), 6).as("p_bar"),
        round(pE + lit(1e-12), 6).as("p_e"),
        when(pE === 1.0, lit(null).cast("double"))
          .otherwise(round((pBar - pE) / (lit(1.0) - pE) + lit(1e-12), 6))
          .as("kappa"))
  }
}
