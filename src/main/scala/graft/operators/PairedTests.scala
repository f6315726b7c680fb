package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Paired-sample tests — the audits a pipeline runs when the SAME units
  * are measured twice: did swapping quality filter v1 for v2 actually
  * change which documents pass (McNemar), did the per-user metric shift
  * between two event types (Wilcoxon signed-rank)? Complements
  * [[HypothesisTests]] (independent-group tests): pairing removes the
  * between-unit variance, so these are the right tools for before/after
  * comparisons on a fixed corpus.
  *
  * Both are single-aggregate dataflows: McNemar is one map-side-combined
  * 4-cell count; the signed-rank test rides the
  * [[RankedStats.withCumulative]] distinct-value-histogram idiom (no
  * global sort, exact half-integer midranks), like every other rank
  * statistic in this library.
  */
object PairedTests {

  /** McNemar's test for paired binary outcomes: given two boolean
    * columns over the same rows (pass/fail under filter A vs filter B),
    * count the concordant/discordant cells and test whether the
    * discordant flips are symmetric. χ² = (n10 − n01)²/(n10 + n01);
    * the continuity-corrected form uses (max(0, |n10 − n01| − 1))².
    *
    * One output row: `n00`, `n01`, `n10`, `n11`, `mcnemar_chi2`,
    * `mcnemar_cc` (rounded 6; both null when n01 + n10 = 0 — no
    * discordant pairs, nothing to test). Rows where either flag is null
    * drop (the pair is incomplete).
    *
    * Scale shape: ONE corpus scan into a 1-row conditional-count
    * aggregate (map-side combined, exact integers); the statistics are
    * pure arithmetic on the four cells — partitioning-independent.
    */
  def mcnemar(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val a = col(aCol).cast("boolean")
    val b = col(bCol).cast("boolean")
    def cell(p: org.apache.spark.sql.Column) =
      sum(when(p, 1L).otherwise(0L))
    val disc = (col("n10") - col("n01")).cast("double")
    val tot = (col("n10") + col("n01")).cast("double")
    val cc = greatest(abs(disc) - 1, lit(0.0))
    df.filter(a.isNotNull && b.isNotNull)
      .agg(cell(!a && !b).as("n00"), cell(!a && b).as("n01"),
        cell(a && !b).as("n10"), cell(a && b).as("n11"))
      .select(col("n00"), col("n01"), col("n10"), col("n11"),
        when(tot === 0.0, lit(null).cast("double"))
          .otherwise(round(disc * disc / tot + lit(1e-12), 6)).as("mcnemar_chi2"),
        when(tot === 0.0, lit(null).cast("double"))
          .otherwise(round(cc * cc / tot + lit(1e-12), 6)).as("mcnemar_cc"))
  }

  /** Friedman test over complete blocks: one value per (block,
    * treatment); blocks missing any treatment drop (the complete-block
    * requirement), values are midranked WITHIN their block, and the
    * column rank sums feed the χ²_F statistic. The k-treatment
    * repeated-measures complement to [[HypothesisTests.kruskalWallis]]
    * (which assumes independent groups): blocking by user/document
    * removes the between-block variance.
    *
    *   χ²_F = 12/(n·k·(k+1)) · Σ_j R_j² − 3·n·(k+1)
    *   tie-corrected: Q = (k−1)·(Σ_j R_j² − n²k(k+1)²/4)
    *                      / (A − n·k·(k+1)²/4),  A = Σ_ij r_ij²
    *
    * One output row: `n` (blocks), `k`, `q_stat`, `q_corrected`
    * (rounded 6; both null when A = C — every block fully tied).
    *
    * Scale shape: ranks come from two block-partitioned windows (each
    * block holds exactly k rows — bounded, spillable, fully parallel
    * across blocks); midranks are exact half-integers, so every sum is
    * order-independent. The completeness filter is one block-sized
    * count aggregate joined back.
    */
  def friedman(df: DataFrame, blockCol: String, treatmentCol: String,
               valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // min-rank + tie size -> midrank; both windows are k-row bounded
    val wRank = Window.partitionBy(col("__b")).orderBy(col("__v"))
    val wTie = Window.partitionBy(col("__b"), col("__v"))
    val ranked = completeBlocks(df, blockCol, treatmentCol, "__v" -> col(valueCol).cast("double"))
      .withColumn("__r", rank().over(wRank).cast("double")
        + (count(lit(1)).over(wTie).cast("double") - 1) / 2)
    val colSums = ranked.groupBy(col("__t"))
      .agg(sum(col("__r")).as("__R"), count(lit(1)).as("__n"))
    val cells = ranked.agg(sum(col("__r") * col("__r")).as("__A"))
    val nD = col("__n").cast("double")
    val kD = col("k").cast("double")
    val chi = lit(12.0) / (nD * kD * (kD + 1)) * col("__S") - lit(3.0) * nD * (kD + 1)
    val c = nD * kD * (kD + 1) * (kD + 1) / 4
    val qc = (kD - 1) * (col("__S") - nD * nD * kD * (kD + 1) * (kD + 1) / 4) /
      (col("__A") - c)
    colSums
      .agg(count(lit(1)).as("k"), min(col("__n")).as("__n"),
        sum(col("__R") * col("__R")).as("__S"))
      .crossJoin(broadcast(cells))
      .select(col("__n").as("n"), col("k"),
        when(col("__A") - c === 0.0, lit(null).cast("double"))
          .otherwise(round(chi + lit(1e-12), 6)).as("q_stat"),
        when(col("__A") - c === 0.0, lit(null).cast("double"))
          .otherwise(round(qc + lit(1e-12), 6)).as("q_corrected"))
  }

  /** Cochran's Q over complete blocks of BINARY outcomes — the
    * k-treatment generalization of [[mcnemar]]: do k filters/treatments
    * pass the same fraction of the same blocks? Blocks missing any
    * treatment drop.
    *
    *   Q = (k−1)·(k·ΣC_j² − (ΣC_j)²) / (k·ΣR_i − ΣR_i²)
    *
    * with C_j the per-treatment success totals and R_i the per-block
    * success totals — every term an exact integer, so the statistic is
    * partitioning-independent by construction. One output row: `n`
    * (blocks), `k`, `q_stat` (rounded 6; null when the denominator is
    * 0 — every block all-success or all-failure).
    *
    * Scale shape: completeness filter + two count aggregates (by
    * treatment, by block) + 1-row reductions; no windows at all.
    */
  def cochranQ(df: DataFrame, blockCol: String, treatmentCol: String,
               successCol: String): DataFrame = {
    val kept = completeBlocks(df, blockCol, treatmentCol,
      "__x" -> col(successCol).cast("boolean").cast("long")).localCheckpoint()
    val colT = kept.groupBy(col("__t")).agg(sum(col("__x")).as("__C"))
      .agg(count(lit(1)).as("k"), sum(col("__C")).as("__sc"),
        sum(col("__C") * col("__C")).as("__scc"))
    val rowT = kept.groupBy(col("__b")).agg(sum(col("__x")).as("__R"))
      .agg(count(lit(1)).as("n"), sum(col("__R")).as("__sr"),
        sum(col("__R") * col("__R")).as("__srr"))
    val kD = col("k").cast("double")
    val num = (kD - 1) * (kD * col("__scc").cast("double")
      - col("__sc").cast("double") * col("__sc").cast("double"))
    val den = kD * col("__sr").cast("double") - col("__srr").cast("double")
    colT.crossJoin(broadcast(rowT))
      .select(col("n"), col("k"),
        when(den === 0.0, lit(null).cast("double"))
          .otherwise(round(num / den + lit(1e-12), 6)).as("q_stat"))
  }

  /** The complete blocks of [[friedman]] and [[cochranQ]]: `df` as
    * non-null (`__b` block, `__t` treatment, `value`) rows, kept only
    * for blocks holding every treatment seen anywhere. The base feeds
    * the k scalar, the completeness filter AND the join, so it is
    * materialized once (often an upstream aggregate); the completeness
    * filter is one block-sized count aggregate joined back. */
  private def completeBlocks(df: DataFrame, blockCol: String, treatmentCol: String,
                             value: (String, Column)): DataFrame = {
    val (v, c) = value
    val base = df.select(col(blockCol).as("__b"), col(treatmentCol).as("__t"), c.as(v))
      .filter(col("__b").isNotNull && col("__t").isNotNull && col(v).isNotNull)
      .localCheckpoint()
    val kTotal = base.agg(countDistinct(col("__t")).as("__k"))
    val complete = base.groupBy(col("__b"))
      .agg(countDistinct(col("__t")).as("__kb"))
      .crossJoin(broadcast(kTotal))
      .filter(col("__kb") === col("__k"))
      .select(col("__b"))
    base.join(complete, "__b")
  }

  /** Wilcoxon signed-rank test over paired values: d = x − y per row,
    * zeros dropped (the standard reduced-sample convention), |d| ranked
    * with midranks, W⁺ = Σ ranks of positive d. The tie-corrected
    * normal approximation: z = (W⁺ − n(n+1)/4) / σ with
    * σ² = n(n+1)(2n+1)/24 − Σ(t³−t)/48.
    *
    * One output row: `n` (non-zero pairs), `w_plus`, `wsr_z` (rounded
    * 6; `wsr_z` null when σ = 0 — every |d| tied in one block).
    *
    * Scale shape: the |d| histogram (groupBy — map-side combined,
    * |distinct| rows) plus the [[RankedStats.withCumulative]] two-level
    * cumsum; midranks are exact half-integers and counts exact longs,
    * so W⁺ and the tie term are order- and partitioning-independent.
    * No global sort, no per-row rank materialization.
    */
  def wilcoxonSignedRank(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val d = col(xCol).cast("double") - col(yCol).cast("double")
    val hist = df.select(d.as("__d"))
      .filter(col("__d").isNotNull && col("__d") =!= 0.0)
      .groupBy(abs(col("__d")).as("__a"))
      .agg(sum(when(col("__d") > 0, 1L).otherwise(0L)).as("__cp"),
        count(lit(1)).as("__t"))
    val cum = RankedStats.withCumulative(hist, Nil, "__a", Seq("__t"))
    val t = col("__t").cast("double")
    val midrank = (col("__cum___t") - col("__t")).cast("double") + (t + 1) / 2
    val nD = col("n").cast("double")
    val sigma = sqrt(nD * (nD + 1) * (nD * 2 + 1) / 24
      - col("__ties").cast("double") / 48)
    cum.agg(sum(col("__t")).as("n"),
        sum(col("__cp") * midrank).as("__wp"),
        sum(col("__t") * col("__t") * col("__t") - col("__t")).as("__ties"))
      .select(col("n"),
        round(col("__wp") + lit(1e-12), 6).as("w_plus"),
        when(sigma === 0.0, lit(null).cast("double"))
          .otherwise(round((col("__wp") - nD * (nD + 1) / 4) / sigma
            + lit(1e-12), 6)).as("wsr_z"))
  }
}
