package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.CheckpointScope.generations

/** Fixed-iteration PageRank over an edge list — the similarity-graph
  * centrality pass a curation pipeline runs on its near-dup/k-NN graph
  * (e.g. to pick the most-central document of a duplicate neighborhood
  * as canonical, or to score domain authority).
  *
  * Scale design: one rank-vector dataframe per iteration, each step a
  * (ranks ⋈ edges on src) shuffle + a groupBy(dst) re-aggregate — the
  * standard massively-parallel power iteration; nothing is ever
  * collected (the dangling-mass and convergence terms are 1-row
  * aggregates cross-joined back in-plan). Edges are pre-joined with
  * out-degrees ONCE and localCheckpoint'd (they feed every iteration;
  * re-deriving them each step would re-run the upstream candidate
  * generation); rank vectors are [[graft.sources.CheckpointScope.generations]].
  * At cluster scale, hash-bucketing both ranks and edges on the node id
  * makes every per-iteration join co-located (no shuffle of the edge
  * table, which dwarfs the rank vector).
  *
  * Semantics: r'(v) = (1-d)/N + d * Σ_{u→v} r(u)/outdeg(u). With the
  * default `redistributeDangling = false`, mass at nodes without
  * out-edges is DROPPED each iteration (total rank shrinks; the plain
  * form many engines ship, and what the unrolled SQL oracle replays).
  * With `redistributeDangling = true` the standard correction applies:
  * the summed rank D of dangling nodes is spread uniformly, r'(v) =
  * (1-d)/N + d * (Σ_{u→v} r(u)/outdeg(u) + D/N), which conserves total
  * rank at 1. Nodes without in-edges settle at (1-d)/N either way.
  */
object PageRank {

  /** `nodes` fixes the vertex set (isolated vertices included, and each
    * id expected ONCE — a duplicated node id contributes rank twice and
    * duplicates its output row; feed `.distinct()` if unsure); ranks
    * initialize uniform at 1/N with N computed in-plan (a 1-row
    * broadcast, no driver action). Output: nodeCol, `pagerank` (rounded
    * to 6 at the end only — intermediates keep full precision).
    *
    * `tolerance` > 0 adds an L1-delta early stop: iteration ends when
    * Σ|r − r_prev| < tolerance (one extra 1-row aggregate per round,
    * read off the already-materialized generation). `iterations` stays
    * the hard bound either way.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               nodes: DataFrame, nodeCol: String,
               iterations: Int = 3, damping: Double = 0.85,
               redistributeDangling: Boolean = false,
               tolerance: Double = 0.0): DataFrame =
    pageRankWithIters(edges, srcCol, dstCol, nodes, nodeCol,
      iterations, damping, redistributeDangling, tolerance)._1

  /** Weighted PageRank: inflow is proportional to edge weight instead
    * of uniform over out-edges — r'(v) = (1−d)/N + d·Σ_{u→v}
    * r(u)·w(u,v)/W(u) with W(u) = Σ_x w(u,x) (plain dangling
    * semantics: mass at weightless nodes drops, matching [[pageRank]]).
    * The centrality under TextRank-style co-occurrence graphs, where
    * edge multiplicity carries the signal.
    *
    * Same per-iteration join + re-aggregate dataflow as [[pageRank]];
    * edges are pre-joined with their source weight totals once and
    * checkpointed. Weights must be positive (zero/negative weights
    * make W(u) meaningless — filter first). Output: nodeCol +
    * `pagerank` (rounded 6).
    */
  def weightedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                       weightCol: String, nodes: DataFrame, nodeCol: String,
                       iterations: Int = 3, damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(damping > 0.0 && damping < 1.0, s"damping must be in (0,1), got $damping")
    val n1 = nodes.select(col(nodeCol).as("node")).agg(count(lit(1)).as("__N"))
    val tot = edges.groupBy(col(srcCol).as("__src"))
      .agg(sum(col(weightCol).cast("double")).as("__tw"))
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"),
        col(weightCol).cast("double").as("__w"))
      .join(tot, "__src")
      .localCheckpoint()
    val init = nodes.select(col(nodeCol).as("node")).crossJoin(n1)
      .select(col("node"), (lit(1.0) / col("__N")).as("r"))
      .localCheckpoint()
    generations(init, iterations) { (ranks, _) =>
      val contrib = ranks.join(e, col("node") === col("__src"))
        .groupBy(col("__dst").as("node"))
        .agg(sum(col("r") * col("__w") / col("__tw")).as("__s"))
      ranks.select(col("node"))
        .join(contrib, Seq("node"), "left")
        .crossJoin(n1)
        .select(col("node"), ((lit(1.0 - damping) / col("__N"))
          + lit(damping) * coalesce(col("__s"), lit(0.0))).as("r"))
    }.last.select(col("node"), round(col("r") + lit(1e-12), 6).as("pagerank"))
  }

  /** Personalized PageRank: the teleport vector concentrates on a
    * literal seed set instead of being uniform — r'(v) = (1−d)·s(v) +
    * d·Σ_{u→v} r(u)/outdeg(u) with s(v) = 1/|S| on seeds, 0 elsewhere
    * (plain form: dangling mass drops, matching [[pageRank]]'s
    * default). The "relevance to THESE documents" centrality used for
    * seed-expanded curation (find the corpus neighborhood of a trusted
    * set) and related-item scoring.
    *
    * Same dataflow as [[pageRank]]: per-iteration join + re-aggregate,
    * degree-joined edges checkpointed once, ranks as generations;
    * nothing collected. Nodes unreachable from the seeds
    * settle at exactly 0 and ARE emitted (the output is nodes-sized;
    * filter `ppr > 0` downstream if only the reached neighborhood
    * matters). Output: nodeCol, `ppr` (rounded 6).
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           nodes: DataFrame, nodeCol: String, seeds: Seq[Long],
                           iterations: Int = 3, damping: Double = 0.85): DataFrame = {
    require(seeds.nonEmpty, "personalizedPageRank needs at least one seed")
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(damping > 0.0 && damping < 1.0, s"damping must be in (0,1), got $damping")
    val deg = edges.groupBy(col(srcCol).as("__src"))
      .agg(count(lit(1)).as("__deg"))
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .join(deg, "__src")
      .localCheckpoint()
    val tele = when(col("node").isin(seeds.distinct: _*),
      lit(1.0 / seeds.distinct.size)).otherwise(lit(0.0))
    val init = nodes.select(col(nodeCol).as("node"))
      .select(col("node"), tele.as("r"), tele.as("__tele"))
      .localCheckpoint()
    generations(init, iterations) { (ranks, _) =>
      val contrib = ranks.join(e, col("node") === col("__src"))
        .groupBy(col("__dst").as("node"))
        .agg(sum(col("r") / col("__deg")).as("__s"))
      ranks.select(col("node"), col("__tele"))
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(1.0 - damping) * col("__tele")
            + lit(damping) * coalesce(col("__s"), lit(0.0))).as("r"),
          col("__tele"))
    }.last.select(col("node"), round(col("r") + lit(1e-12), 6).as("ppr"))
  }

  private[graft] def pageRankWithIters(
      edges: DataFrame, srcCol: String, dstCol: String,
      nodes: DataFrame, nodeCol: String,
      iterations: Int, damping: Double,
      redistributeDangling: Boolean,
      tolerance: Double): (DataFrame, Int) = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(damping > 0.0 && damping < 1.0, s"damping must be in (0,1), got $damping")
    require(tolerance >= 0.0, s"tolerance must be >= 0, got $tolerance")
    val n1 = nodes.select(col(nodeCol).as("node")).agg(count(lit(1)).as("__N"))
    val deg = edges.groupBy(col(srcCol).as("__src"))
      .agg(count(lit(1)).as("__deg"))
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .join(deg, "__src")
      .localCheckpoint()
    // the dangling marker is joined ONCE at init and then rides the rank
    // vector through every update, so the per-iteration dangling-mass
    // term is a flat 1-row aggregate over the already-materialized
    // checkpoint — no anti join against the degree table per round
    val init = nodes.select(col(nodeCol).as("node")).crossJoin(n1)
      .join(deg.select(col("__src")), col("node") === col("__src"), "left")
      .select(col("node"), (lit(1.0) / col("__N")).as("r"),
        col("__src").isNull.as("__dang"))
      .localCheckpoint()
    // each generation carries the previous rank, so the L1-delta check is
    // a cheap aggregate over the materialized generation
    def converged(g: DataFrame, i: Int): Boolean = tolerance > 0.0 && i > 0 &&
      g.agg(sum(abs(col("r") - col("__prev")))).head.getDouble(0) < tolerance
    val run = generations(init, iterations, converged) { (ranks, _) =>
      val contrib = ranks.join(e, col("node") === col("__src"))
        .groupBy(col("__dst").as("node"))
        .agg(sum(col("r") / col("__deg")).as("__s"))
      // dangling mass: summed rank of flagged nodes — a 1-row aggregate
      // cross-joined into the update, never collected
      val extra = if (redistributeDangling)
        ranks.agg(coalesce(sum(when(col("__dang"), col("r"))), lit(0.0)).as("__D"))
      else null
      val base = ranks.select(col("node"), col("r").as("__prev"), col("__dang"))
        .join(contrib, Seq("node"), "left")
        .crossJoin(n1)
      val withD = if (redistributeDangling) base.crossJoin(extra) else base
      val inflow = if (redistributeDangling)
        coalesce(col("__s"), lit(0.0)) + col("__D") / col("__N")
      else coalesce(col("__s"), lit(0.0))
      withD.select(col("node"),
        ((lit(1.0 - damping) / col("__N")) + lit(damping) * inflow).as("r"),
        col("__dang"), col("__prev"))
    }
    // The graph's rational arithmetic ((1-d)/N terms over small integer
    // degrees) lands some exact ranks ON a decimal rounding boundary
    // (…5 at the 7th digit); 1-ulp float noise then flips the rounded
    // digit per engine. +1e-12 (>> accumulated noise ~1e-15, << rank
    // resolution) pushes every true tie consistently upward.
    (run.last.select(col("node"), round(col("r") + lit(1e-12), 6).as("pagerank")),
      run.steps)
  }
}
