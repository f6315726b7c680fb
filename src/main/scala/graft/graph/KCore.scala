package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.CheckpointScope.{generations, unchanged}

/** k-core decomposition by iterative peeling: repeatedly remove nodes
  * whose degree within the surviving subgraph is < k; the fixpoint is
  * the (unique) maximal subgraph with minimum degree ≥ k — the standard
  * "is this similarity neighborhood structurally dense or just a chain
  * of pairwise matches" curation signal (spam farms and template
  * families form deep cores; organic near-dup chains don't).
  *
  * Each round is one degree aggregate plus two semi-joins on the
  * SHRINKING edge set — bucket-local by the node key, nothing collected,
  * no adjacency is ever buffered. The surviving edge sets are
  * generations of [[graft.sources.CheckpointScope.generations]]. Round
  * count is bounded by `maxRounds` and in practice by the graph's
  * degeneracy ordering depth — peeling converges in O(peel depth)
  * rounds, not O(n).
  */
object KCore {

  /** Nodes of the k-core of the undirected graph given by `pairs`
    * (direction and duplicate edges are normalized away; self-loops
    * dropped — a self-loop is not structural density). Output:
    * (`id`, `degree`) with degree measured INSIDE the core.
    *
    * Runs until a round removes nothing or `maxRounds` is hit; because
    * the fixpoint is unique and peeling is monotone, running extra
    * rounds past convergence is a no-op — which is exactly what lets a
    * bounded-unroll relational oracle replay a converged result.
    */
  def kCore(pairs: DataFrame, aCol: String, bCol: String, k: Int,
            maxRounds: Int = 30): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val a = col(aCol).cast("long")
    val b = col(bCol).cast("long")
    val init = pairs.select(a.as("src"), b.as("dst"))
      .filter(col("src") =!= col("dst"))
      .unionAll(pairs.select(b.as("src"), a.as("dst"))
        .filter(col("src") =!= col("dst")))
      .distinct()
      .localCheckpoint()
    // converged iff nothing was peeled: the edge count did not move
    generations(init, maxRounds, unchanged(-1L)(_.count())) { (edges, _) =>
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select(col("src").as("node"))
      edges
        .join(keep, edges("src") === keep("node"), "left_semi")
        .join(keep, edges("dst") === keep("node"), "left_semi")
    }.last.groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))
  }
}
