package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distribution-comparison tests over two row groups — the statistical
  * gate a training-data pipeline runs when a source is re-crawled, a
  * scorer is re-trained, or a mixture is re-weighted: "did the score /
  * length / value distribution actually move?" Complements
  * [[Drift]] (which compares CATEGORICAL histograms via KL/JS/PSI) with
  * the standard nonparametric tests over CONTINUOUS columns.
  *
  * Both tests ride [[RankedStats.withCumulative]]: reduce to a
  * distinct-value histogram with per-side counts, two-level cumsum for
  * the ECDFs/ranks, then pure arithmetic — no global sort, no stage
  * whose parallelism is bounded by 1. Every intermediate is an exact
  * integer (or an integer ratio computed once), so results are
  * partitioning-independent and replayable bit-for-bit.
  */
object HypothesisTests {

  /** Two-sample Kolmogorov–Smirnov: D = sup_v |F_a(v) − F_b(v)|,
    * evaluated at every pooled distinct value (where the sup of step
    * ECDFs is attained). One output row: `n_a`, `n_b`, `ks_d` (rounded
    * 6), `ks_z` = D·√(n_a·n_b/(n_a+n_b)) — the scaled statistic fed to
    * the Kolmogorov distribution for a p-value.
    *
    * ECDF differences are ratios of exact integer counts; max over them
    * is order-independent, so the statistic is deterministic under any
    * partitioning. An empty side has no ECDF — `ks_d`/`ks_z` are null
    * (the library-wide null-on-degenerate convention), not the NaN the
    * unguarded 0/0 ratio would produce.
    */
  def ksTest(df: DataFrame, sideCol: String, valueCol: String,
             sideA: String, sideB: String): DataFrame = {
    val hist = twoSideHistogram(df, sideCol, valueCol, sideA, sideB)
    val emptySide = col("n_a") === 0 || col("n_b") === 0
    RankedStats.withCumulative(hist, Nil, "__v", Seq("__ca", "__cb"))
      .groupBy(col("__tot___ca").as("n_a"), col("__tot___cb").as("n_b"))
      // try_divide: an empty side's n = 0 must null the ECDF (ANSI mode
      // would throw inside the aggregate, ahead of the output guard)
      .agg(max(abs(try_divide(col("__cum___ca").cast("double"), col("__tot___ca"))
        - try_divide(col("__cum___cb").cast("double"), col("__tot___cb")))).as("__d"))
      .select(col("n_a"), col("n_b"),
        when(emptySide, lit(null).cast("double"))
          .otherwise(round(col("__d") + lit(1e-12), 6)).as("ks_d"),
        when(emptySide, lit(null).cast("double"))
          .otherwise(round(col("__d") * sqrt(col("n_a") * col("n_b")
            / (col("n_a") + col("n_b")).cast("double")) + lit(1e-12), 6))
          .as("ks_z"))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) with the tie-corrected normal
    * approximation. A tied block of t rows spanning ranks (c−t, c]
    * shares the midrank c−t + (t+1)/2; side A's rank sum is then
    * R_a = Σ ca·midrank — every term an integer multiple of ½, exact in
    * doubles, so the sum is order-independent. U = R_a − n_a(n_a+1)/2;
    * z = (U − n_a·n_b/2) / σ with the standard tie correction
    * σ² = (n_a·n_b/12)·((N+1) − Σ(t³−t)/(N(N−1))).
    *
    * One output row: `n_a`, `n_b`, `u_stat`, `mw_z` (rounded 6). An
    * empty side leaves both rank statistics undefined — `u_stat` and
    * `mw_z` are null (matching [[ksTest]] and the σ = 0 case), not the
    * vacuous 0 the raw arithmetic lands on.
    */
  def mannWhitneyU(df: DataFrame, sideCol: String, valueCol: String,
                   sideA: String, sideB: String): DataFrame = {
    val hist = twoSideHistogram(df, sideCol, valueCol, sideA, sideB)
    val cum = RankedStats.withCumulative(hist, Nil, "__v", Seq("__t"))
    val t = col("__t").cast("double")
    val midrank = (col("__cum___t") - col("__t")).cast("double") + (t + 1) / 2
    cum.agg(
        sum(col("__ca")).as("n_a"),
        sum(col("__cb")).as("n_b"),
        sum(col("__ca") * midrank).as("__ra"),
        sum(col("__t") * col("__t") * col("__t") - col("__t")).as("__ties"))
      .select(col("n_a"), col("n_b"),
        (col("__ra") - col("n_a").cast("double") * (col("n_a") + 1) / 2).as("__u"),
        col("__ties"), (col("n_a") + col("n_b")).as("__nn"))
      .select(col("n_a"), col("n_b"), col("__u"),
        sqrt(col("n_a").cast("double") * col("n_b") / 12
          * ((col("__nn") + 1).cast("double")
            - col("__ties").cast("double")
              / (col("__nn").cast("double") * (col("__nn") - 1)))).as("__sigma"))
      .select(col("n_a"), col("n_b"),
        when(col("n_a") === 0 || col("n_b") === 0, lit(null).cast("double"))
          .otherwise(round(col("__u") + lit(1e-12), 6)).as("u_stat"),
        // σ = 0 (every pooled value tied, or an empty side) has no
        // defined z — null, not an ANSI divide-by-zero
        when(col("__sigma") === 0.0, lit(null).cast("double"))
          .otherwise(round((col("__u") - col("n_a").cast("double") * col("n_b") / 2)
            / col("__sigma") + lit(1e-12), 6)).as("mw_z"))
  }

  /** Benjamini–Hochberg step-up control at FDR level `q`: sort the m
    * p-values ascending, find the largest k with p_(k) ≤ (k/m)·q, and
    * reject hypotheses 1..k. Appends a boolean `rejected`.
    *
    * Scale shape: BH needs only the CUTOFF p-value, and within a tied
    * block the step-up condition is tightest at the block's LAST rank —
    * so the distinct-p histogram + cumulative count decides each block,
    * a 1-row aggregate takes the max admissible p*, and a broadcast
    * comparison flags the corpus. No global sort of the corpus, no
    * per-row rank materialization; the corpus is touched by exactly two
    * scans (histogram + flagging).
    */
  def bhReject(df: DataFrame, pCol: String, q: Double): DataFrame = {
    require(q > 0 && q < 1, s"FDR level q must be in (0,1), got $q")
    val hist = df.select(col(pCol).cast("double").as("__p"))
      .filter(col("__p").isNotNull)
      .groupBy(col("__p")).agg(count(lit(1)).as("__t"))
    // p ≤ (k/m)·q at the block's top rank k = cum; spelled p·m ≤ k·q so
    // both engines evaluate the same two exact products
    val cutoff = RankedStats.withCumulative(hist, Nil, "__p", Seq("__t"))
      .agg(max(when(col("__p") * col("__tot___t")
        <= col("__cum___t").cast("double") * q, col("__p"))).as("__pstar"))
    df.crossJoin(broadcast(cutoff))
      .withColumn("rejected",
        coalesce(col(pCol).cast("double") <= col("__pstar"), lit(false)))
      .drop("__pstar")
  }

  /** Kruskal–Wallis H — the k-group generalization of
    * [[mannWhitneyU]]: are the value distributions of ALL groups (e.g.
    * every event type, every source) plausibly the same? Midranks come
    * from the pooled distinct-value cumsum exactly as in the two-sample
    * test; per-group rank sums are a histogram-sized join away (the
    * group histogram joins the pooled midrank table on the value — both
    * distinct-value-sized, never corpus-sized). H = 12/(N(N+1))·Σ R_j²/n_j
    * − 3(N+1), tie-corrected by 1 − Σ(t³−t)/(N³−N).
    *
    * One output row: `k`, `n`, `h_stat`, `h_corrected` (rounded 6;
    * `h_corrected` null when every pooled value is tied).
    */
  def kruskalWallis(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val base = df.select(col(groupCol).as("__g"), col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull && col("__g").isNotNull)
    val pool = base.groupBy(col("__v")).agg(count(lit(1)).as("__t"))
    val cum = RankedStats.withCumulative(pool, Nil, "__v", Seq("__t"))
      .select(col("__v"), col("__t"),
        ((col("__cum___t") - col("__t")).cast("double")
          + (col("__t").cast("double") + 1) / 2).as("__mid"))
    val perGroup = base.groupBy(col("__g"), col("__v")).agg(count(lit(1)).as("__c"))
      .join(cum.select(col("__v"), col("__mid")), "__v")
      .groupBy(col("__g"))
      .agg(sum(col("__c")).as("__n"), sum(col("__c") * col("__mid")).as("__r"))
    val totals = cum.agg(sum(col("__t")).as("__N"),
      sum(col("__t") * col("__t") * col("__t") - col("__t")).as("__ties"))
    val nD = col("__N").cast("double")
    val h = lit(12.0) / (nD * (nD + 1)) * col("__s") - lit(3.0) * (nD + 1)
    val corr = lit(1.0) - col("__ties").cast("double") / (nD * nD * nD - nD)
    perGroup
      .agg(count(lit(1)).as("k"),
        sum(col("__r") * col("__r") / col("__n").cast("double")).as("__s"))
      .crossJoin(broadcast(totals))
      .select(col("k"), col("__N").as("n"),
        round(h + lit(1e-12), 6).as("h_stat"),
        when(corr === 0.0, lit(null).cast("double"))
          .otherwise(round(h / corr + lit(1e-12), 6)).as("h_corrected"))
  }

  /** One-way ANOVA F over k groups. Sums ride DECIMAL(18,2) /
    * DECIMAL(38,4) (value and value² of 2-decimal data are exact
    * decimals), so every per-group moment is order-independent and
    * engine-exact; only the final k-term reduction and the F ratio run
    * in doubles. SSB = Σ s_j²/n_j − S²/N, SSW = Q − Σ s_j²/n_j,
    * F = (SSB/(k−1)) / (SSW/(N−k)).
    *
    * One output row: `k`, `n`, `ss_between`, `ss_within`, `f_stat`
    * (rounded 6; `f_stat` null for the degenerate SSW = 0 or N = k).
    */
  def anovaF(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val v = col(valueCol).cast("decimal(18,2)")
    val per = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("__n"), sum(v).as("__s"),
        sum(v * v).as("__q"))
    val nD = col("__N").cast("double")
    val ssb = col("__sq") - col("__S").cast("double") * col("__S").cast("double") / nD
    val ssw = col("__Q").cast("double") - col("__sq")
    val f = (ssb / (col("k") - 1).cast("double")) / (ssw / (nD - col("k").cast("double")))
    per.agg(count(lit(1)).as("k"), sum(col("__n")).as("__N"),
        sum(col("__s")).as("__S"), sum(col("__q")).as("__Q"),
        sum(col("__s").cast("double") * col("__s").cast("double")
          / col("__n").cast("double")).as("__sq"))
      .select(col("k"), col("__N").as("n"),
        round(ssb + lit(1e-12), 6).as("ss_between"),
        round(ssw + lit(1e-12), 6).as("ss_within"),
        when(col("__N") === col("k") || ssw === 0.0, lit(null).cast("double"))
          .otherwise(round(f + lit(1e-12), 6)).as("f_stat"))
  }

  /** Welch's two-sample t (unequal variances) between groups `a` and
    * `b` of `groupCol` — the parametric complement to q_mann_whitney
    * for "did the mean move?", with the Welch–Satterthwaite effective
    * degrees of freedom.
    *
    * Scale shape: ONE map-side-combined groupBy over the corpus builds
    * per-side (n, Σv, Σv²) in DECIMAL(18,2) (order-independent, exact);
    * the 2-row table collapses to one row by conditional sums. Doubles
    * enter only in the final mean/variance/t arithmetic:
    * var_j = (Q_j − S_j²/n_j)/(n_j−1), se² = va/na + vb/nb,
    * t = (m_a − m_b)/√se²,
    * dof = se⁴ / ((va/na)²/(na−1) + (vb/nb)²/(nb−1)).
    *
    * One output row: `n_a`, `n_b`, `mean_a`, `mean_b`, `t_stat`, `dof`
    * (rounded 6; `t_stat`/`dof` null when either side has n < 2 or the
    * pooled standard error is 0).
    */
  def welchT(df: DataFrame, groupCol: String, valueCol: String,
             a: String, b: String): DataFrame = {
    val v = col(valueCol).cast("decimal(18,2)")
    val per = df.filter(col(valueCol).isNotNull && col(groupCol).isin(a, b))
      .groupBy(col(groupCol).as("__g"))
      .agg(count(lit(1)).as("__n"), sum(v).as("__s"), sum(v * v).as("__q"))
    def pick(tag: String, c: String) =
      sum(when(col("__g") === tag, col(c)))
    val one = per.agg(
      coalesce(pick(a, "__n"), lit(0L)).as("__na"),
      coalesce(pick(b, "__n"), lit(0L)).as("__nb"),
      pick(a, "__s").as("__sa"), pick(b, "__s").as("__sb"),
      pick(a, "__q").as("__qa"), pick(b, "__q").as("__qb"))
    def m(s: String, n: String) = col(s).cast("double") / col(n).cast("double")
    def va(s: String, q: String, n: String) =
      (col(q).cast("double") - col(s).cast("double") * col(s).cast("double")
        / col(n).cast("double")) / (col(n) - 1).cast("double")
    val (vA, vB) = (va("__sa", "__qa", "__na") / col("__na").cast("double"),
      va("__sb", "__qb", "__nb") / col("__nb").cast("double"))
    val se2 = vA + vB
    val t = (m("__sa", "__na") - m("__sb", "__nb")) / sqrt(se2)
    val dof = se2 * se2 /
      (vA * vA / (col("__na") - 1).cast("double")
        + vB * vB / (col("__nb") - 1).cast("double"))
    val degenerate = col("__na") < 2 || col("__nb") < 2 || se2 === 0.0
    one.select(col("__na").as("n_a"), col("__nb").as("n_b"),
      round(m("__sa", "__na") + lit(1e-12), 6).as("mean_a"),
      round(m("__sb", "__nb") + lit(1e-12), 6).as("mean_b"),
      when(degenerate, lit(null).cast("double"))
        .otherwise(round(t + lit(1e-12), 6)).as("t_stat"),
      when(degenerate, lit(null).cast("double"))
        .otherwise(round(dof + lit(1e-12), 6)).as("dof"))
  }

  /** Chi-squared test of independence between two CATEGORICAL columns
    * (is language independent of source? event type of weekday?) plus
    * Cramér's V — the normalized [0,1] effect size that makes the
    * statistic comparable across table shapes.
    *
    * Scale shape: ONE corpus-sized groupBy builds the contingency cells
    * (output |A|·|B|-bounded, map-side combined); row totals, column
    * totals, and the (N, r, c) scalars are re-aggregates of the tiny
    * cell table, joined back by broadcast. χ² = Σ (O−E)²/E with
    * E = rowTot·colTot/N — O and the totals are exact integers, E and
    * the cell terms are doubles over a cell-bounded sum.
    *
    * One output row: `n`, `r`, `c` (distinct categories), `chi2`,
    * `dof` = (r−1)(c−1), `cramers_v` = √(χ²/(N·min(r−1, c−1))) —
    * null when dof = 0 (a single row or column category).
    */
  def chiSquare(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__o"))
    val rowT = cells.groupBy(col("__a")).agg(sum(col("__o")).as("__ra"))
    val colT = cells.groupBy(col("__b")).agg(sum(col("__o")).as("__cb"))
    val tots = cells.agg(sum(col("__o")).as("__n"),
      countDistinct(col("__a")).as("r"), countDistinct(col("__b")).as("c"))
    val e = col("__ra").cast("double") * col("__cb") / col("__n")
    val term = (col("__o").cast("double") - e) * (col("__o").cast("double") - e) / e
    val minDim = least(col("r") - 1, col("c") - 1)
    cells.join(broadcast(rowT), "__a").join(broadcast(colT), "__b")
      .crossJoin(broadcast(tots))
      .groupBy(col("__n"), col("r"), col("c"))
      .agg(sum(term).as("__chi2"))
      .select(col("__n").as("n"), col("r"), col("c"),
        round(col("__chi2") + lit(1e-12), 6).as("chi2"),
        ((col("r") - 1) * (col("c") - 1)).as("dof"),
        when(minDim >= 1,
          round(sqrt(col("__chi2") / (col("__n") * minDim).cast("double"))
            + lit(1e-12), 6)).as("cramers_v"))
  }

  /** Spearman rank correlation per group — the monotone-association
    * audit (does quality score track document length? price track
    * quantity?) that Pearson misses on nonlinear-but-monotone data and
    * outliers distort. ρ = Pearson over the two columns' midranks,
    * with the standard tie handling.
    *
    * Scale shape: each variable reduces to a per-group distinct-value
    * histogram ranked by the [[RankedStats.withCumulative]] two-level
    * cumsum (no global sort); rows then join their two rank tables on
    * the (group, value) keys — histogram-sized build sides, so AQE
    * broadcasts them when small and the corpus shuffles at most twice.
    * Ranks are carried DOUBLED — 2·midrank = 2(c−t) + t + 1, an exact
    * long even on tied blocks (ρ is scale-invariant, so doubling
    * cancels) — and the five sums ride DECIMAL(38,0) on long products
    * (exact for groups below ~1.5·10⁹ rows, the long product bound;
    * order- and partitioning-independent). Doubles touch only the
    * final ratio ρ = (nΣxy − ΣxΣy)/(√(nΣx²−(Σx)²)·√(nΣy²−(Σy)²)).
    *
    * Output: groupCols..., `n`, `rho` (rounded 6; null when either
    * column is constant within the group — rank variance is zero).
    */
  def spearman(df: DataFrame, groupCols: Seq[String], xCol: String, yCol: String): DataFrame = {
    val gcols = groupCols.map(col)
    // rows feeds three consumers (both rank-table histograms and the
    // final join) — materialize the narrow projection once instead of
    // scanning the source thrice (reliable checkpoint() at cluster
    // scale; the multi-consumer discipline of Dedup.clusters).
    val rows = df.select(gcols :+ col(xCol).cast("double").as("__x")
        :+ col(yCol).cast("double").as("__y"): _*)
      .filter(col("__x").isNotNull && col("__y").isNotNull)
      .localCheckpoint()
    def rankTable(c: String, out: String) = {
      val hist = rows.groupBy(gcols :+ col(c): _*).agg(count(lit(1)).as("__t"))
      RankedStats.withCumulative(hist, groupCols, c, Seq("__t"))
        .select(gcols :+ col(c) :+
          (lit(2L) * (col("__cum___t") - col("__t")) + col("__t") + lit(1L)).as(out): _*)
    }
    // Pin ROWS as the join spine, distributed on the first rank key
    // over Parallelism.shards (see there): left to estimates, the
    // planner broadcast rows and the big rank table, so the 600k-pair
    // join + moment aggregation ran as ONE task (~1.4 s measured).
    val nShards = Parallelism.shards(rows.sparkSession)
    val ranked = rows.repartition(nShards, (gcols :+ col("__x")): _*)
      .join(rankTable("__x", "__sx"), groupCols :+ "__x")
      .join(rankTable("__y", "__sy"), groupCols :+ "__y")
    val d19 = "decimal(19,0)"
    def dd(c: String) = col(c).cast("double")
    val num = dd("n") * dd("__axy") - dd("__ax") * dd("__ay")
    val denx = dd("n") * dd("__axx") - dd("__ax") * dd("__ax")
    val deny = dd("n") * dd("__ayy") - dd("__ay") * dd("__ay")
    ranked.groupBy(gcols: _*)
      .agg(count(lit(1)).as("n"),
        sum(col("__sx").cast(d19)).as("__ax"),
        sum(col("__sy").cast(d19)).as("__ay"),
        sum(col("__sx").cast(d19) * col("__sx").cast(d19)).as("__axx"),
        sum(col("__sy").cast(d19) * col("__sy").cast(d19)).as("__ayy"),
        sum(col("__sx").cast(d19) * col("__sy").cast(d19)).as("__axy"))
      .select(gcols :+ col("n") :+
        when(denx === 0.0 || deny === 0.0, lit(null).cast("double"))
          .otherwise(round(num / (sqrt(denx) * sqrt(deny)) + lit(1e-12), 6))
          .as("rho"): _*)
  }

  /** Levene's test of variance homogeneity across k groups (center =
    * mean — the classic form; the Brown–Forsythe median-centered variant
    * trades exactness of this dataflow for outlier robustness): ANOVA F
    * over the absolute deviations z_ij = |x_ij − mean_j|. The audit run
    * before pooled-variance tests or per-group sampling-rate decisions —
    * "is the SPREAD the same across event types/sources?", which
    * [[anovaF]] (means) and [[kruskalWallis]] (locations) don't answer.
    *
    * Exactness: deviations are carried SCALED — w_ij = |n_j·x_ij − S_j|,
    * an exact DECIMAL product/difference (x as DECIMAL(18,2), so no
    * division noise enters the per-group sums; z-moments come out as
    * Σz = Σw/n_j and Σz² = Σw²/n_j² with ONE double division per group).
    * Requires n_j·max|x| < 10^16 value units per group (the
    * DECIMAL(18,2) bound before squaring); beyond that, pre-scale x.
    *
    * Scale shape: two corpus scans (per-group moments; deviation
    * moments with the k-row moment table broadcast back), both map-side
    * combined. Doubles touch only the final k-term F arithmetic.
    *
    * One output row: `k`, `n`, `w_stat` (the Levene F, rounded 6; null
    * when N = k or SSW = 0 — e.g. every group internally symmetric-
    * constant in |deviation|).
    */
  def levene(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val v = col(valueCol).cast("decimal(18,2)")
    // base feeds the group moments AND the deviation pass — one scan
    val base = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("__g"), v.as("__v"))
      .localCheckpoint()
    val gm = base.groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"), sum(col("__v")).as("__s"))
    // w = |n_g·v − S_g| exact in DECIMAL; re-cast to (18,2) before the
    // square so the product stays inside precision 38 (bound documented
    // above)
    val w = abs(col("__n").cast("decimal(18,0)") * col("__v") - col("__s"))
      .cast("decimal(18,2)")
    val perGroup = base.join(broadcast(gm), "__g")
      .groupBy(col("__g"))
      .agg(min(col("__n")).as("__n"),
        sum(w).as("__sw"), sum(w * w).as("__qw"))
      .select(col("__g"), col("__n"),
        // Σz and Σz² for z = w/n_g: one double division per group
        (col("__sw").cast("double") / col("__n").cast("double")).as("__sz"),
        (col("__qw").cast("double")
          / (col("__n").cast("double") * col("__n").cast("double"))).as("__qz"))
    val nD = col("__N").cast("double")
    val ssb = col("__sq") - col("__S") * col("__S") / nD
    val ssw = col("__Q") - col("__sq")
    val f = (ssb / (col("k") - 1).cast("double")) / (ssw / (nD - col("k").cast("double")))
    perGroup.agg(count(lit(1)).as("k"), sum(col("__n")).as("__N"),
        sum(col("__sz")).as("__S"), sum(col("__qz")).as("__Q"),
        sum(col("__sz") * col("__sz") / col("__n").cast("double")).as("__sq"))
      .select(col("k"), col("__N").as("n"),
        when(col("__N") === col("k") || ssw <= 0.0, lit(null).cast("double"))
          .otherwise(round(f + lit(1e-12), 6)).as("w_stat"))
  }

  /** 2×2 effect-size audit for a binary exposure vs a binary outcome
    * (does source class predict passing the language filter?): cell
    * counts, odds ratio, log-OR with its standard error and Wald 95% CI,
    * and the risk ratio. When ANY cell is zero the Haldane–Anscombe
    * +0.5 correction applies to ALL four cells for the OR/log-OR/SE/CI
    * (the standard continuity fix; `corrected` reports whether it
    * fired); the risk ratio stays uncorrected and goes null if a
    * denominator row is empty. CI uses z = 1.96 exactly.
    *
    * One output row: `n11` (exp∧out), `n10`, `n01`, `n00`,
    * `odds_ratio`, `log_or`, `se_log_or`, `ci_lo`, `ci_hi`,
    * `risk_ratio`, `corrected` (rounded 6). Null-flag rows drop.
    *
    * Scale shape: ONE corpus scan into a 1-row 4-cell conditional-count
    * aggregate; everything after is scalar arithmetic.
    */
  def oddsRatio2x2(df: DataFrame, exposureCol: String, outcomeCol: String): DataFrame = {
    val ex = col(exposureCol).cast("boolean")
    val out = col(outcomeCol).cast("boolean")
    def cell(p: org.apache.spark.sql.Column) = sum(when(p, 1L).otherwise(0L))
    val anyZero = col("n11") === 0 || col("n10") === 0 ||
      col("n01") === 0 || col("n00") === 0
    def adj(c: String) =
      when(anyZero, col(c).cast("double") + 0.5).otherwise(col(c).cast("double"))
    val (a, b, c_, dd) = (adj("n11"), adj("n10"), adj("n01"), adj("n00"))
    val orr = a * dd / (b * c_)
    val se = sqrt(lit(1.0) / a + lit(1.0) / b + lit(1.0) / c_ + lit(1.0) / dd)
    val riskDen = col("n11") + col("n10") > 0 && col("n01") + col("n00") > 0 &&
      col("n01") > 0
    val rr = (col("n11").cast("double") / (col("n11") + col("n10")).cast("double")) /
      (col("n01").cast("double") / (col("n01") + col("n00")).cast("double"))
    df.filter(ex.isNotNull && out.isNotNull)
      .agg(cell(ex && out).as("n11"), cell(ex && !out).as("n10"),
        cell(!ex && out).as("n01"), cell(!ex && !out).as("n00"))
      .select(col("n11"), col("n10"), col("n01"), col("n00"),
        round(orr + lit(1e-12), 6).as("odds_ratio"),
        round(log(orr) + lit(1e-12), 6).as("log_or"),
        round(se + lit(1e-12), 6).as("se_log_or"),
        round(exp(log(orr) - lit(1.96) * se) + lit(1e-12), 6).as("ci_lo"),
        round(exp(log(orr) + lit(1.96) * se) + lit(1e-12), 6).as("ci_hi"),
        when(riskDen, round(rr + lit(1e-12), 6)).as("risk_ratio"),
        anyZero.as("corrected"))
  }

  /** Two-sample effect sizes — the "HOW MUCH did it move?" companions
    * to the significance tests (a 100M-row corpus makes everything
    * significant; effect size is what decides action): Cohen's d
    * (pooled-SD standardized mean difference), Hedges' g (the
    * small-sample bias correction g = d·(1 − 3/(4N − 9))), and Cliff's
    * δ (the ordinal P(a>b) − P(a<b), computed from the Mann–Whitney
    * rank sum as δ = 2U/(n_a·n_b) − 1 — tie-aware via midranks).
    *
    * One output row: `n_a`, `n_b`, `cohen_d`, `hedges_g`, `cliff_delta`
    * (rounded 6; d/g null when pooled SD is 0 or either n < 2).
    *
    * Scale shape: the moment half is ONE DECIMAL(18,2) map-side-combined
    * aggregate (the [[welchT]] dataflow); the ordinal half rides the
    * same distinct-value-histogram midrank cumsum as [[mannWhitneyU]].
    * Both exact-by-construction, joined as two 1-row broadcasts.
    */
  def effectSizes(df: DataFrame, sideCol: String, valueCol: String,
                  sideA: String, sideB: String): DataFrame = {
    val v = col(valueCol).cast("decimal(18,2)")
    val per = df.filter(col(valueCol).isNotNull && col(sideCol).isin(sideA, sideB))
      .groupBy(col(sideCol).as("__g"))
      .agg(count(lit(1)).as("__n"), sum(v).as("__s"), sum(v * v).as("__q"))
    def pick(tag: String, c: String) = sum(when(col("__g") === tag, col(c)))
    val mom = per.agg(
      coalesce(pick(sideA, "__n"), lit(0L)).as("__na"),
      coalesce(pick(sideB, "__n"), lit(0L)).as("__nb"),
      pick(sideA, "__s").as("__sa"), pick(sideB, "__s").as("__sb"),
      pick(sideA, "__q").as("__qa"), pick(sideB, "__q").as("__qb"))
    // U from the same midrank cumsum as mannWhitneyU
    val hist = twoSideHistogram(df, sideCol, valueCol, sideA, sideB)
    val cum = RankedStats.withCumulative(hist, Nil, "__v", Seq("__t"))
    val t = col("__t").cast("double")
    val midrank = (col("__cum___t") - col("__t")).cast("double") + (t + 1) / 2
    val u = cum.agg(sum(col("__ca") * midrank).as("__ra"))
      .select(col("__ra"))
    def m(s: String, n: String) = col(s).cast("double") / col(n).cast("double")
    def ss(s: String, q: String, n: String) =
      col(q).cast("double") -
        col(s).cast("double") * col(s).cast("double") / col(n).cast("double")
    val nD = (col("__na") + col("__nb")).cast("double")
    val pooled = sqrt((ss("__sa", "__qa", "__na") + ss("__sb", "__qb", "__nb"))
      / (nD - 2))
    val d = (m("__sa", "__na") - m("__sb", "__nb")) / pooled
    val g = d * (lit(1.0) - lit(3.0) / (lit(4.0) * nD - 9))
    val uStat = col("__ra") - col("__na").cast("double") * (col("__na") + 1) / 2
    val delta = lit(2.0) * uStat /
      (col("__na").cast("double") * col("__nb").cast("double")) - 1
    val degenerate = col("__na") < 2 || col("__nb") < 2 || pooled === 0.0
    mom.crossJoin(broadcast(u))
      .select(col("__na").as("n_a"), col("__nb").as("n_b"),
        when(degenerate, lit(null).cast("double"))
          .otherwise(round(d + lit(1e-12), 6)).as("cohen_d"),
        when(degenerate, lit(null).cast("double"))
          .otherwise(round(g + lit(1e-12), 6)).as("hedges_g"),
        when(col("__na") === 0 || col("__nb") === 0, lit(null).cast("double"))
          .otherwise(round(delta + lit(1e-12), 6)).as("cliff_delta"))
  }

  /** Two-proportion z-test with Wilson score intervals — the A/B
    * conversion readout: did variant A's success RATE move against
    * B's, with per-variant intervals that behave at extreme rates
    * (Wilson, not Wald — Wald collapses to zero width at p̂ ∈ {0,1}).
    * z uses the pooled rate; intervals use z* = 1.96 exactly.
    *
    * One output row: `n_a`, `x_a`, `n_b`, `x_b`, `p_a`, `p_b`,
    * `z_stat` (null when a side is empty or the pooled rate is 0/1),
    * `ci_a_lo/hi`, `ci_b_lo/hi` (rounded 6; null for an empty side).
    *
    * Scale shape: ONE conditional-count aggregate (exact longs);
    * everything after is scalar arithmetic.
    */
  def twoProportionTest(df: DataFrame, groupCol: String, successCol: String,
                        sideA: String, sideB: String): DataFrame = {
    require(sideA != sideB, "the two variants must be distinct")
    val s = col(successCol).cast("boolean")
    def cnt(p: org.apache.spark.sql.Column) = sum(when(p, 1L).otherwise(0L))
    val agg = df.filter(s.isNotNull && col(groupCol).isin(sideA, sideB))
      .agg(cnt(col(groupCol) === sideA).as("n_a"),
        cnt(col(groupCol) === sideA && s).as("x_a"),
        cnt(col(groupCol) === sideB).as("n_b"),
        cnt(col(groupCol) === sideB && s).as("x_b"))
    def p(x: String, n: String) = col(x).cast("double") / col(n).cast("double")
    val pool = (col("x_a") + col("x_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val se = sqrt(pool * (lit(1.0) - pool)
      * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    val zStat = (p("x_a", "n_a") - p("x_b", "n_b")) / se
    val zc = lit(1.96)
    def wilson(x: String, n: String, hi: Boolean) = {
      val nD = col(n).cast("double")
      val ph = p(x, n)
      val denom = lit(1.0) + zc * zc / nD
      val center = (ph + zc * zc / (nD * 2)) / denom
      val half = zc * sqrt(ph * (lit(1.0) - ph) / nD
        + zc * zc / (nD * nD * 4)) / denom
      if (hi) center + half else center - half
    }
    def r6(c: org.apache.spark.sql.Column) = round(c + lit(1e-12), 6)
    val degenerate = col("n_a") === 0 || col("n_b") === 0 ||
      pool === 0.0 || pool === 1.0
    agg.select(col("n_a"), col("x_a"), col("n_b"), col("x_b"),
      when(col("n_a") === 0, lit(null).cast("double"))
        .otherwise(r6(p("x_a", "n_a"))).as("p_a"),
      when(col("n_b") === 0, lit(null).cast("double"))
        .otherwise(r6(p("x_b", "n_b"))).as("p_b"),
      when(degenerate, lit(null).cast("double"))
        .otherwise(r6(zStat)).as("z_stat"),
      when(col("n_a") === 0, lit(null).cast("double"))
        .otherwise(r6(wilson("x_a", "n_a", hi = false))).as("ci_a_lo"),
      when(col("n_a") === 0, lit(null).cast("double"))
        .otherwise(r6(wilson("x_a", "n_a", hi = true))).as("ci_a_hi"),
      when(col("n_b") === 0, lit(null).cast("double"))
        .otherwise(r6(wilson("x_b", "n_b", hi = false))).as("ci_b_lo"),
      when(col("n_b") === 0, lit(null).cast("double"))
        .otherwise(r6(wilson("x_b", "n_b", hi = true))).as("ci_b_hi"))
  }

  /** Partial correlation of x and y CONTROLLING for z — "does price
    * track quantity once discount is held fixed?": the three pairwise
    * Pearson correlations from one DECIMAL-exact moment aggregate,
    * combined as r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)).
    * The screening step before claiming a direct relationship.
    *
    * One output row: `n`, `r_xy`, `r_xz`, `r_yz`, `r_partial`
    * (rounded 6; nulls when a variable is constant or a control
    * correlation is ±1).
    */
  def partialCorr(df: DataFrame, xCol: String, yCol: String,
                  zCol: String): DataFrame = {
    def d2(c: String) = col(c).cast("decimal(18,2)")
    val agg = df.filter(col(xCol).isNotNull && col(yCol).isNotNull
        && col(zCol).isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(d2(xCol)).as("__sx"), sum(d2(yCol)).as("__sy"),
        sum(d2(zCol)).as("__sz"),
        sum(d2(xCol) * d2(xCol)).as("__sxx"),
        sum(d2(yCol) * d2(yCol)).as("__syy"),
        sum(d2(zCol) * d2(zCol)).as("__szz"),
        sum(d2(xCol) * d2(yCol)).as("__sxy"),
        sum(d2(xCol) * d2(zCol)).as("__sxz"),
        sum(d2(yCol) * d2(zCol)).as("__syz"))
    val nD = col("n").cast("double")
    def dd(c: String) = col(c).cast("double")
    def cov(sab: String, sa: String, sb: String) =
      nD * dd(sab) - dd(sa) * dd(sb)
    def varr(saa: String, sa: String) = nD * dd(saa) - dd(sa) * dd(sa)
    // a zero variance nulls EVERY output below; the 0.0 placeholder
    // only exists so ANSI mode doesn't raise on the guarded division
    // while evaluating the null-condition expressions themselves
    def corr(sab: String, sa: String, sb: String, saa: String, sbb: String) =
      when(varr(saa, sa) === 0.0 || varr(sbb, sb) === 0.0, lit(0.0))
        .otherwise(cov(sab, sa, sb) / sqrt(varr(saa, sa) * varr(sbb, sb)))
    val rxy = corr("__sxy", "__sx", "__sy", "__sxx", "__syy")
    val rxz = corr("__sxz", "__sx", "__sz", "__sxx", "__szz")
    val ryz = corr("__syz", "__sy", "__sz", "__syy", "__szz")
    val den = sqrt((lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz))
    val constant = varr("__sxx", "__sx") === 0.0 ||
      varr("__syy", "__sy") === 0.0 || varr("__szz", "__sz") === 0.0
    def r6n(c: org.apache.spark.sql.Column, bad: org.apache.spark.sql.Column) =
      when(bad, lit(null).cast("double")).otherwise(round(c + lit(1e-12), 6))
    agg.select(col("n"),
      r6n(rxy, constant).as("r_xy"), r6n(rxz, constant).as("r_xz"),
      r6n(ryz, constant).as("r_yz"),
      r6n((rxy - rxz * ryz) / den, constant || den === 0.0).as("r_partial"))
  }

  /** Distinct-value histogram with per-side counts `__ca`/`__cb` and the
    * pooled count `__t`; rows outside the two sides and null values drop
    * (the usual two-sample framing).
    */
  private def twoSideHistogram(df: DataFrame, sideCol: String, valueCol: String,
                               sideA: String, sideB: String): DataFrame = {
    require(sideA != sideB, "the two samples must be distinct sides")
    df.select(col(sideCol).as("__side"), col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull && col("__side").isin(sideA, sideB))
      .groupBy(col("__v"))
      .agg(sum(when(col("__side") === sideA, 1L).otherwise(0L)).as("__ca"),
        sum(when(col("__side") === sideB, 1L).otherwise(0L)).as("__cb"),
        count(lit(1)).as("__t"))
  }
}
