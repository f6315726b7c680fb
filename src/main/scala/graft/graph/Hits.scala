package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.CheckpointScope.{Step, generations}

/** HITS hubs & authorities (Kleinberg 1999) over a DIRECTED edge list —
  * the complement of [[PageRank]] on asymmetric graphs like a k-NN
  * graph ("u lists v as a neighbor" is directed): authorities are
  * documents many hubs point at; hubs are documents whose neighbor
  * lists hit many authorities. A curation pipeline uses the authority
  * side to pick canonical representatives and the hub side to find
  * aggregator-like near-duplicate sources.
  *
  * Iteration: a ← Σ_{u→v} h(u), h ← Σ_{u→v} a(v), each L2-normalized.
  * Same massively-parallel shape as [[PageRank]]: per half-step one
  * (scores ⋈ edges) shuffle + groupBy re-aggregate; the L2 norm is a
  * 1-row aggregate cross-joined back in-plan (never collected); score
  * vectors are [[graft.sources.CheckpointScope.generations]].
  *
  * Replay discipline: scores are quantized to 9 decimals after every
  * normalization (the [[graft.similarity]] k-means between-iteration
  * idiom) so cross-engine 1-ulp sum noise cannot compound across
  * iterations; the output rounds to 6 with the +1e-12 tie nudge.
  * Nodes with no in-edges get authority 0 (resp. no out-edges, hub 0).
  */
object Hits {

  /** Output: nodeCol, `hub`, `authority` (both rounded 6). */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           nodes: DataFrame, nodeCol: String, iterations: Int = 3): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val e = edges.select(col(srcCol).cast("long").as("__s"),
        col(dstCol).cast("long").as("__d"))
      .localCheckpoint()
    val n = nodes.select(col(nodeCol).cast("long").as("node"))
    val init = n.select(col("node"), lit(1.0).as("h"), lit(1.0).as("a"))
      .localCheckpoint()
    generations(init, iterations) { (scores, step) =>
      val aRaw = scores.join(e, col("node") === col("__s"))
        .groupBy(col("__d").as("node")).agg(sum(col("h")).as("__a"))
      val aNormed = normalized(n.join(aRaw, Seq("node"), "left")
        .select(col("node"), coalesce(col("__a"), lit(0.0)).as("__v")), step)
      val hRaw = aNormed.join(e, col("node") === col("__d"))
        .groupBy(col("__s").as("node")).agg(sum(col("__q")).as("__h"))
      val hNormed = normalized(n.join(hRaw, Seq("node"), "left")
        .select(col("node"), coalesce(col("__h"), lit(0.0)).as("__v")), step)
      aNormed.select(col("node"), col("__q").as("a"))
        .join(hNormed.select(col("node"), col("__q").as("h")), "node")
    }.last.select(col("node"),
      round(col("h") + lit(1e-12), 6).as("hub"),
      round(col("a") + lit(1e-12), 6).as("authority"))
  }

  /** L2-normalize `__v` into quantized `__q`: divide by √Σv² (a 1-row
    * broadcast aggregate; zero-vector guard keeps 0/1 = 0), then pin to
    * 9 decimals so the next iteration starts from engine-identical
    * inputs.
    */
  private def normalized(v: DataFrame, step: Step): DataFrame = {
    // the raw-score frame feeds BOTH the L2 aggregate (a broadcast leg)
    // and the per-row divide (the probe leg), and ReuseExchange does not
    // dedupe across that split — without a pin the join+aggregate
    // subtree behind `v` re-runs once per leg, and the half-steps
    // compound (hubs are built FROM the normalized authorities), so the
    // end-of-iteration checkpoint re-ran the authority join ~6x. One
    // node-sized scratch pin per half-step makes it run exactly once.
    val vc = step.pin(v)
    val nrm = vc.agg(sqrt(sum(col("__v") * col("__v"))).as("__n"))
    vc.crossJoin(broadcast(nrm))
      .select(col("node"),
        round(col("__v") / when(col("__n") === 0.0, 1.0).otherwise(col("__n"))
          + lit(1e-12), 9).as("__q"))
  }
}
