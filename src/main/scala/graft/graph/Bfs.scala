package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.CheckpointScope.generations

/** Multi-source breadth-first hop distance over an edge list — the
  * "how far is everything from these nodes?" primitive under reach
  * audits (how much of the similarity graph is within k hops of a
  * flagged document), crawl-frontier expansion, and the eccentricity
  * half of diameter estimates.
  *
  * Scale design: the textbook massively-parallel BFS — one generation
  * dataframe per level, each step a (frontier ⋈ edges on src) shuffle,
  * a groupBy(dst) dedup, and an anti join against the settled set; the
  * settled sets are generations of
  * [[graft.sources.CheckpointScope.generations]], one per level, and the
  * early-stop probe is a 1-row count on the already-materialized
  * frontier. Levels are exact integers, so the result is independent
  * of partitioning and join order. At cluster scale, hash-bucketing
  * edges and the settled set on the node id co-locates every
  * per-level join; the frontier (the only thing that moves) is the
  * small side.
  */
object Bfs {

  /** Hop distance from a literal seed set: `(node, hop)` for every node
    * reachable within `maxHops` directed hops (seeds at hop 0; the
    * minimum hop count wins, which for BFS is the level a node is first
    * reached at). Unreached nodes are absent from the output.
    *
    * Seeds are plan literals (the usual handful of flagged ids); for a
    * dataframe-sized seed set, union it in as level 0 instead.
    */
  def hopDistance(edges: DataFrame, srcCol: String, dstCol: String,
                  sources: Seq[Long], maxHops: Int): DataFrame = {
    require(sources.nonEmpty, "hopDistance needs at least one source")
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val spark = edges.sparkSession
    import spark.implicits._
    // edges feed EVERY level's join — materialize once or the upstream
    // candidate generation (e.g. the k-NN cosine pairs) re-runs per hop
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .localCheckpoint()
    val init = sources.distinct.toDF("node")
      .select(col("node"), lit(0L).as("hop"))
      .localCheckpoint()
    // a generation per level pins BOTH the settled set and that level's
    // frontier (read twice: union + next join); level 0's is the seed set
    def frontier(settled: DataFrame, level: Int) =
      if (level == 0) settled else settled.filter(col("hop") === level.toLong)
    def exhausted(settled: DataFrame, level: Int) =
      level < maxHops && frontier(settled, level).isEmpty
    generations(init, maxHops, exhausted) { (settled, step) =>
      val next = frontier(settled, step.gen - 1).join(e, col("node") === col("__src"))
        .select(col("__dst").as("node"))
        .distinct()
        .join(settled.select(col("node")), Seq("node"), "left_anti")
        .select(col("node"), lit(step.gen.toLong).as("hop"))
      settled.unionByName(next)
    }.last
  }
}
