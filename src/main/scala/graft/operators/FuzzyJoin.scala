package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact edit-distance self-join — all id pairs whose strings are
  * within Levenshtein distance `maxDist` — via segment-banded candidate
  * generation (the PassJoin partitioning scheme, Li et al. 2011):
  * an EQUI-join stands in for the quadratic all-pairs comparison.
  *
  * Pigeonhole: partition a string into k+1 contiguous segments; k edits
  * can corrupt at most k of them, so if ed(A, B) ≤ k at least one
  * segment of B survives verbatim inside A, displaced by at most the k
  * edits before it. Hence every string emits (index side) its k+1
  * segments keyed by (own length, segment idx, content), and (probe
  * side) every substring a matching segment could be — for each
  * plausible partner length L' ∈ [len−k, len+k], segment idx, and
  * shift ∈ [−k, +k] — keyed the same way. Matching keys are the ONLY
  * possible pairs; Levenshtein runs on candidates, never on the cross
  * product. Both sides are constant-factor expansions of the corpus
  * ((k+1) and ≤ (2k+1)²(k+1) rows per string), the join is a plain
  * shuffle hash join on the segment key, and completeness is by the
  * pigeonhole theorem — which the brute-force oracle re-proves on
  * every run: a single banding-missed pair would hash-mismatch.
  *
  * Skew note: a boilerplate prefix shared by the whole corpus makes
  * its segment bucket quadratic — that is real work (those pairs may
  * all verify) and the generic defense is the same re-bucketing used
  * across the dedup stack ([[SubBuckets]]); here segments stay exact
  * so the oracle can certify completeness.
  */
object FuzzyJoin {

  private def segStart(i: org.apache.spark.sql.Column, l: org.apache.spark.sql.Column,
                       parts: Int) =
    floor(i * l / lit(parts.toDouble)).cast("long")

  /** Index side: the k+1 segments of each string, keyed by own length. */
  private def indexSide(strs: DataFrame, k: Int): DataFrame =
    strs
      .select(col("id").as("id_x"), col("s").as("s_x"), col("len").as("lt"),
        explode(sequence(lit(0L), lit(k.toLong))).as("i"))
      .select(col("id_x"), col("s_x"), col("lt"), col("i"),
        col("s_x").substr(
          (segStart(col("i"), col("lt"), k + 1) + 1).cast("int"),
          (segStart(col("i") + 1, col("lt"), k + 1)
            - segStart(col("i"), col("lt"), k + 1)).cast("int"))
          .as("seg"))

  /** Probe side: every substring a surviving segment could be, for each
    * partner length / segment idx / displacement — one explode over a
    * generated array. `indexLens` (the distinct lengths actually PRESENT
    * on the index side — bounded by the longest string, never by the
    * corpus, collected once as a plan literal) prunes the partner-length
    * axis INSIDE the array construction, before the inner per-segment /
    * per-shift transforms even run: a variant keyed by a length no index
    * string has can never find a join partner, so dropping it is
    * completeness-neutral — the guide-§3.2 pre-filter shape applied at
    * the generator, shrinking the explode output, the dedup `distinct`'s
    * shuffle, and the join's probe input by the dead-length fraction (a
    * single-length corpus at k=2 generates 5 partner lengths of which 4
    * are dead: 5× fewer probe rows end to end). */
  private def probeSide(strs: DataFrame, k: Int, indexLens: Seq[Long]): DataFrame = {
    val lensLit = typedLit(indexLens)
    val variants = flatten(transform(
      filter(sequence(greatest(col("len") - k, lit(0L)), col("len") + k),
        lt => array_contains(lensLit, lt)), lt =>
        flatten(transform(sequence(lit(0L), lit(k.toLong)), i =>
          transform(sequence(lit(-k.toLong), lit(k.toLong)), sh =>
            struct(lt.as("lt"), i.as("i"),
              (segStart(i, lt, k + 1) + sh).as("st"),
              (segStart(i + 1, lt, k + 1) - segStart(i, lt, k + 1)).as("ln")))))))
    strs
      .select(col("id").as("id_p"), col("s").as("s_p"), col("len"),
        explode(variants).as("v"))
      .filter(col("v.st") >= 0 && col("v.st") + col("v.ln") <= col("len"))
      .select(col("id_p"), col("s_p"), col("v.lt").as("lt"), col("v.i").as("i"),
        col("s_p").substr((col("v.st") + 1).cast("int"), col("v.ln").cast("int")).as("seg"))
      .distinct() // shifts often alias: one candidate probe per distinct key
  }

  /** The distinct lengths present on the index side — the probe prune's
    * literal key set. One tiny driver job, output bounded by the longest
    * string (sorted so the literal is deterministic). A NULL string has
    * no length and no segments, so it joins nothing and is skipped. */
  private def presentLens(strs: DataFrame): Seq[Long] =
    strs.select(col("len")).filter(col("len").isNotNull).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq

  /** Pin the VERIFY stage's parallelism: distribute the deduped probe
    * rows on the segment join key over [[Parallelism.shards]] (the AQE
    * byte-coalescing trap, explained there; measured at sf0.1: 5 → 1
    * verify tasks, +83% query wall). It is the segment-key distribution
    * a non-broadcast PassJoin candidate join requires anyway. */
  private def pinVerifyParallelism(probe: DataFrame): DataFrame =
    probe.repartition(Parallelism.shards(probe.sparkSession),
      col("lt"), col("i"), col("seg"))

  private def normalized(df: DataFrame, strCol: String, idCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
      col(strCol).as("s"), length(col(strCol)).cast("long").as("len"))

  private def requireDist(maxDist: Int): Unit =
    require(maxDist >= 1 && maxDist <= 8,
      s"maxDist must be in [1, 8] (probe fan-out is (2k+1)^2(k+1)), got $maxDist")

  /** All unordered id pairs with levenshtein ≤ maxDist. Output:
    * `id_a` < `id_b`, `dist`. */
  def editDistanceSelfJoin(df: DataFrame, strCol: String, idCol: String,
                           maxDist: Int): DataFrame = {
    requireDist(maxDist)
    Ids.requireIntegral(df, idCol)
    val strs = normalized(df, strCol, idCol)
    pinVerifyParallelism(probeSide(strs, maxDist, presentLens(strs)))
      .join(indexSide(strs, maxDist), Seq("lt", "i", "seg"))
      .filter(col("id_p") =!= col("id_x"))
      .filter(levenshtein(col("s_p"), col("s_x")) <= maxDist)
      .select(least(col("id_p"), col("id_x")).as("id_a"),
        greatest(col("id_p"), col("id_x")).as("id_b"),
        levenshtein(col("s_p"), col("s_x")).cast("long").as("dist"))
      .distinct()
  }

  /** Two-table variant — every (left, right) pair within `maxDist`; the
    * cross-corpus decontamination shape ("which corpus titles are a
    * near-miss of a benchmark title"). Simpler than the self-join: the
    * pigeonhole theorem needs only one direction, so RIGHT indexes its
    * segments and LEFT probes. Output: `left_id`, `right_id`, `dist`.
    */
  def editDistanceJoin(left: DataFrame, leftStr: String, leftId: String,
                       right: DataFrame, rightStr: String, rightId: String,
                       maxDist: Int): DataFrame = {
    requireDist(maxDist)
    Ids.requireIntegral(left, leftId)
    Ids.requireIntegral(right, rightId)
    val rightStrs = normalized(right, rightStr, rightId)
    pinVerifyParallelism(
        probeSide(normalized(left, leftStr, leftId), maxDist, presentLens(rightStrs)))
      .join(indexSide(rightStrs, maxDist), Seq("lt", "i", "seg"))
      .filter(levenshtein(col("s_p"), col("s_x")) <= maxDist)
      .select(col("id_p").as("left_id"), col("id_x").as("right_id"),
        levenshtein(col("s_p"), col("s_x")).cast("long").as("dist"))
      .distinct()
  }
}
