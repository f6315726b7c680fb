package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.CheckpointScope.generations

/** Parent-pointer hierarchy resolution (org charts, BOM trees, thread
  * reply chains, category taxonomies) by POINTER DOUBLING: after k
  * rounds every row knows its 2^k-th ancestor, so a depth-D hierarchy
  * resolves root and depth in ⌈log₂ D⌉ self-joins — the recursive-CTE
  * capability SQL engines ship, expressed in Spark's execution model
  * (a sequential walk would be D dependent shuffles; at a plausible
  * D = 20 this is 5).
  *
  * State per row: (id, anc, d) with anc the farthest KNOWN ancestor
  * and d its distance; roots (parent null, self, or < the id domain)
  * fix anc = id, d = 0. Round: a.anc' = b.anc, a.d' = a.d + b.d where
  * b is anc's row — arrived-at-root rows self-stabilize because roots
  * add (anc = self, d = 0). All integer arithmetic; deterministic and
  * engine-replayable by construction.
  *
  * Each round shuffles on the id key only (two columns wide); rounds
  * are generations of [[graft.sources.CheckpointScope.generations]].
  * `maxDepth` bounds the doubling count AND
  * fail-fasts on unresolved rows after the last round (a cycle or a
  * depth overrun would otherwise silently report a non-root ancestor).
  */
object Hierarchy {

  /** Resolve (id, root, depth) for every row of `df`. `parentCol` may
    * be null for roots; a parent equal to the id is also a root. */
  def resolve(df: DataFrame, idCol: String, parentCol: String,
              maxDepth: Int = 1 << 20): DataFrame = {
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    val rounds = math.max(1,
      32 - Integer.numberOfLeadingZeros(math.max(1, maxDepth - 1)))
    val isRoot = col(parentCol).isNull || col(parentCol) === col(idCol)
    val init = df.select(col(idCol).cast("long").as("id"),
        when(isRoot, col(idCol).cast("long"))
          .otherwise(col(parentCol).cast("long")).as("anc"),
        when(isRoot, lit(0L)).otherwise(lit(1L)).as("d"))
      .localCheckpoint()
    val t = generations(init, rounds) { (t, _) =>
      val b = t.select(col("id").as("__bid"), col("anc").as("__banc"),
        col("d").as("__bd"))
      t.join(b, t("anc") === b("__bid"))
        .select(col("id"), col("__banc").as("anc"),
          (col("d") + col("__bd")).as("d"))
    }.last
    // resolved ⇔ the reached ancestor is a TRUE root (its own d = 0).
    // Checking only anc-fixpointness would miss even-length cycles,
    // where doubling lands a row back on ITSELF with d > 0.
    val unresolved = t
      .join(t.select(col("id").as("__rid"), col("anc").as("__ranc"),
        col("d").as("__rd")), col("anc") === col("__rid"))
      .filter(col("__ranc") =!= col("anc") || col("__rd") > 0)
      .limit(1).count()
    require(unresolved == 0,
      s"Hierarchy.resolve: rows still moving after $rounds doubling rounds " +
        s"(depth > maxDepth=$maxDepth, or a parent cycle) — raise maxDepth " +
        "or break the cycle")
    t.select(col("id"), col("anc").as("root"), col("d").as("depth"))
  }
}
