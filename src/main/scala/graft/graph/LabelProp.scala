package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.CheckpointScope.generations

/** Synchronous label propagation (Raghavan et al. 2007) — community
  * detection over a similarity graph by iterated neighbor-majority
  * vote. Where [[graft.dedup.Dedup.clusters]] finds CONNECTED
  * components (everything reachable merges), LPA finds DENSELY linked
  * communities: a node adopts the label most common among its
  * neighbors, so sparse bridges between clusters don't fuse them. The
  * usual audit companion is [[Modularity]] over the resulting labels.
  *
  * Determinism: the textbook algorithm breaks count ties randomly and
  * updates asynchronously; both are replaced with fixed rules — ties
  * break to the SMALLEST label, and all nodes update simultaneously
  * from the previous generation — so the result is a pure function of
  * the graph (partitioning-independent, oracle-replayable; integer
  * arithmetic only). Synchronous LPA can oscillate on bipartite
  * structures, which a fixed iteration count bounds.
  *
  * Scale shape per iteration: one (labels ⋈ edges) shuffle on the node
  * id + a groupBy(node, label) count + a per-node argmax window
  * (partitioned by node — parallelism = nodes). The label vectors are
  * generations of [[graft.sources.CheckpointScope.generations]]. Hash-
  * bucketing labels and edges on node id makes the per-iteration join
  * co-located at cluster scale.
  */
object LabelProp {

  /** `nodes` fixes the vertex set; labels initialize to the node's own
    * id. Isolated nodes keep their label. Output: nodeCol, `community`.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       nodes: DataFrame, nodeCol: String,
                       iterations: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val e = edges.select(col(srcCol).cast("long").as("__s"),
        col(dstCol).cast("long").as("__d"))
      .filter(col("__s") =!= col("__d"))
    val sym = e.unionByName(e.select(col("__d").as("__s"), col("__s").as("__d")))
      .distinct()
      .localCheckpoint()
    val init = nodes.select(col(nodeCol).cast("long").as("node"))
      .withColumn("label", col("node"))
      .localCheckpoint()
    val byVotes = Window.partitionBy(col("node"))
      .orderBy(col("__votes").desc, col("label"))
    generations(init, iterations) { (labels, _) =>
      val picked = sym.join(labels, sym("__d") === labels("node"))
        .select(sym("__s").as("node"), col("label"))
        .groupBy(col("node"), col("label"))
        .agg(count(lit(1)).as("__votes"))
        .withColumn("__rn", row_number().over(byVotes))
        .filter(col("__rn") === 1)
        .select(col("node"), col("label").as("__new"))
      labels.join(picked, Seq("node"), "left")
        .select(col("node"), coalesce(col("__new"), col("label")).as("label"))
    }.last.select(col("node"), col("label").as("community"))
  }
}
