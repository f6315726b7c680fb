package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distribution-drift report between two snapshots of a categorical
  * column — the check a training pipeline runs when a new corpus drop
  * arrives ("did the source mix shift since the last crawl?").
  *
  * Per category: smoothed probabilities under both snapshots and the
  * standard drift terms — KL(p||q), Jensen-Shannon (base e), and PSI
  * (population stability index). Terms are per-category so the report
  * doubles as a "which category moved" ranking; summing a term column
  * gives the scalar divergence.
  *
  * Laplace (+1) smoothing keeps every term finite when a category is
  * absent from one side — the usual PSI practice — and makes the output
  * deterministic with no epsilon tuning.
  *
  * Scale design: each side is one map-side-combined groupBy(category)
  * count (shuffle carries one row per category per partition), the two
  * category tables full-outer-join on the category key (category-sized,
  * tiny), and totals attach via a global window OVER THE JOINED TABLE —
  * the joined subtree is computed once (an aggregate-then-cross-join
  * formulation recomputes it, scanning each snapshot twice), and the
  * single-partition window only ever sees category-count rows.
  */
object Drift {

  /** Drift report for `catCol` between `a` and `b`.
    * Output: category, n_a, n_b, p_a, p_b, kl_term, js_term, psi_term
    * (probabilities and terms rounded to 6 decimals).
    */
  def categoricalDrift(a: DataFrame, b: DataFrame, catCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ca = a.groupBy(col(catCol).as("category")).agg(count(lit(1)).as("n_a"))
    val cb = b.groupBy(col(catCol).as("category")).agg(count(lit(1)).as("n_b"))
    val joined = ca.join(cb, Seq("category"), "full_outer")
      .select(col("category"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
    val w = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val p = (col("n_a") + 1).cast("double") / (col("__ta") + col("__k")).cast("double")
    val q = (col("n_b") + 1).cast("double") / (col("__tb") + col("__k")).cast("double")
    val m = (p + q) / 2.0
    joined
      .withColumn("__ta", sum(col("n_a")).over(w))
      .withColumn("__tb", sum(col("n_b")).over(w))
      .withColumn("__k", count(lit(1)).over(w))
      .select(col("category"), col("n_a"), col("n_b"),
        round(p, 6).as("p_a"), round(q, 6).as("p_b"),
        round(p * log(p / q), 6).as("kl_term"),
        round((p * log(p / m) + q * log(q / m)) / 2.0, 6).as("js_term"),
        round((p - q) * log(p / q), 6).as("psi_term"))
  }

  /** Drift report for a NUMERIC column — the PSI-over-quantile-bins
    * practice: bin edges are the `bins`-quantiles of snapshot `a` (the
    * reference — equal-population bins make every PSI term comparable,
    * where fixed-width bins put 90% of the mass in one cell), both
    * snapshots are bucketed against those same edges, and the per-bin
    * table gets the [[categoricalDrift]] smoothing/divergence
    * arithmetic verbatim. Output: `bin` (0-based; bin i = values in
    * [edge_i, edge_{i+1})), n_a, n_b, p_a, p_b, kl_term, js_term,
    * psi_term.
    *
    * Scale shape: edges come from [[Percentiles.exact]] (the sharded
    * histogram dataflow — no buffer-all percentile, no global sort)
    * as ONE broadcast row; binning is then a scan-stage
    * `size(filter(edges, v >= _))` over each corpus — nothing
    * corpus-sized shuffles until the ≤`bins`-group count. Heavily tied
    * reference data may collapse adjacent edges; the collapsed bin
    * simply never appears (rows jump past it), which the smoothing
    * already handles.
    */
  def numericDrift(a: DataFrame, b: DataFrame, valCol: String,
                   bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    // The 1-row edges frame is consumed by BOTH binned sides —
    // materialize the percentile dataflow once. Materializing also lets
    // the empty-reference case fail fast: with zero non-null reference
    // values Percentiles.exact yields ZERO rows, and the broadcast
    // crossJoin would silently empty snapshot b too (diverging from the
    // oracle form, which bins all b rows into bin 0).
    val edges = Percentiles.exact(a, Nil, valCol,
      (1 until bins).map(_.toDouble / bins), out = "__edges")
      .localCheckpoint()
    require(!edges.isEmpty,
      s"numericDrift: reference snapshot has no non-null '$valCol' values " +
        "— quantile bin edges are undefined")
    def binned(df: DataFrame) = df
      .select(col(valCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
      .crossJoin(broadcast(edges))
      .select(size(filter(col("__edges"), e => col("__v") >= e)).cast("long").as("bin"))
    categoricalDrift(binned(a), binned(b), "bin")
      .withColumnRenamed("category", "bin")
  }

  /** Pairwise Jensen–Shannon divergence between the token unigram
    * distributions of every group pair (all sources against each other
    * in one shot — the corpus-similarity MATRIX, where
    * [[categoricalDrift]] compares exactly two snapshots): which
    * sources are near-duplicates in content mix, which is the odd one
    * out. JS(P,Q) = ½ΣP·ln(2P/(P+Q)) + ½ΣQ·ln(2Q/(P+Q)); terms
    * exclusive to one side contribute their mass times ln 2, folded in
    * closed form via the shared-mass totals (JS = js_shared +
    * ½(1−Σ_shared P)·ln2 + ½(1−Σ_shared Q)·ln2), so the join only ever
    * touches SHARED terms.
    *
    * Scale shape: one corpus explode-aggregate to the (group, term)
    * count table (map-side combined, vocabulary-sized), totals joined
    * back broadcast; the pair join is term-keyed with ≤|groups| rows
    * per term — replication bounded by the group count, never
    * corpus-sized. The probability table is localCheckpoint'd (both
    * sides of the self-join read it).
    *
    * Output per unordered pair: `g_a`, `g_b` (g_a < g_b),
    * `shared_terms`, `js` (rounded 6; 0 ≤ js ≤ ln 2). The matrix is
    * COMPLETE: a pair with zero shared vocabulary — the maximally
    * divergent "odd one out" the matrix exists to surface — still gets
    * its row (shared_terms = 0, js = ln 2), unioned in from the
    * groups² pair frame (groups-count-sized, trivially cheap) rather
    * than silently dropped by the shared-term inner join.
    */
  def pairwiseJsTerms(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val cnt = df.filter(col(groupCol).isNotNull && col(textCol).isNotNull)
      .select(col(groupCol).as("__g"),
        explode(split(lower(col(textCol)), " ")).as("__term"))
      .groupBy(col("__g"), col("__term"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint() // totals + probability projection: explode once
    val tot = cnt.groupBy(col("__g")).agg(sum(col("__c")).as("__t"))
    val p = cnt.join(broadcast(tot), "__g")
      .select(col("__g"), col("__term"),
        (col("__c").cast("double") / col("__t").cast("double")).as("__p"))
      .localCheckpoint()
    val a = p.select(col("__g").as("g_a"), col("__term"), col("__p").as("__pa"))
    val b = p.select(col("__g").as("g_b"), col("__term"), col("__p").as("__pb"))
    val ln2 = log(lit(2.0))
    val jsShared =
      col("__ja") + col("__jb") +
        (lit(1.0) - col("__spa")) * ln2 + (lit(1.0) - col("__spb")) * ln2
    val shared = a.join(b, "__term").filter(col("g_a") < col("g_b"))
      .groupBy(col("g_a"), col("g_b"))
      .agg(count(lit(1)).as("shared_terms"),
        sum(col("__pa")).as("__spa"), sum(col("__pb")).as("__spb"),
        sum(col("__pa") * log(lit(2.0) * col("__pa")
          / (col("__pa") + col("__pb")))).as("__ja"),
        sum(col("__pb") * log(lit(2.0) * col("__pb")
          / (col("__pa") + col("__pb")))).as("__jb"))
      .select(col("g_a"), col("g_b"), col("shared_terms"),
        round(jsShared * lit(0.5) + lit(1e-12), 6).as("js"))
    // complete the matrix: disjoint-vocabulary pairs have js = ln 2 but
    // no shared-term row; the pair frame is |groups|²-sized (tot is the
    // distinct group list), so a broadcast cross + left join is free
    val gs = tot.select(col("__g"))
    val allPairs = gs.select(col("__g").as("g_a"))
      .crossJoin(broadcast(gs.select(col("__g").as("g_b"))))
      .filter(col("g_a") < col("g_b"))
    allPairs.join(shared, Seq("g_a", "g_b"), "left")
      .select(col("g_a"), col("g_b"),
        coalesce(col("shared_terms"), lit(0L)).as("shared_terms"),
        coalesce(col("js"), round(log(lit(2.0)) + lit(1e-12), 6)).as("js"))
  }
}
