package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
  * greedily pick the candidate maximizing
  * λ·sim(candidate, query) − (1−λ)·max_{chosen} sim(candidate, chosen)
  * — the classic diversity-aware rerank that sits above BM25/ANN
  * retrieval: pure top-k returns five paraphrases of the same document,
  * MMR returns one of them plus four complements.
  *
  * Same distributed-greedy shape as [[KCenter.greedySeeds]]: each of
  * the k rounds is ONE scan of the pinned (id, e, norm, rel) frame —
  * quantized once up front — with the chosen vectors (and their
  * driver-computed norms, same IEEE fold) compiled in as plan literals
  * and a 1-row `max_by` (ties to lowest id, chosen excluded). Cosines are rounded to 6 decimals (+1e-12 tie nudge)
  * BEFORE the score combination — the repo's standard float-parity
  * grid — so the greedy trajectory is exactly engine-replayable; λ and
  * 1−λ are both evaluated in-plan with the same IEEE subtraction the
  * oracle writes.
  */
object Mmr {

  final case class Pick(rank: Int, id: Long, vec: Seq[Double], score: Double)

  def rerank(df: DataFrame, embCol: String, idCol: String,
             queryVec: Seq[Double], k: Int, lambda: Double): Seq[Pick] = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(lambda >= 0 && lambda <= 1, s"lambda must be in [0,1], got $lambda")
    import org.apache.spark.sql.catalyst.expressions.{Literal => CatLit}
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import org.apache.spark.sql.graft.bridge.toColumn
    import graft.functions.DotProduct.dotProduct

    val qLit = toColumn(CatLit.create(queryVec.toArray, ArrayType(DoubleType, false)))
    // Bind the row norm and the (round-constant) query relevance ONCE as
    // columns and pin the frame: inside the chosen-vector lambda the norm
    // was a non-attribute O(dim) expression — re-folded per chosen per row
    // (the round-8 lambda-capture trap) — and rel was re-derived, and the
    // parquet re-read, on every one of the k greedy rounds. Expressions
    // are unchanged term-for-term, so values are bit-identical.
    val data = df.select(col(idCol).cast("long").as("__id"),
        Similarity.toDouble(col(embCol)).as("__e"))
      .withColumn("__n", Similarity.norm(col("__e")))
      .withColumn("__rel", round(dotProduct(col("__e"), qLit)
        / (col("__n") * Similarity.norm(qLit)) + lit(1e-12), 6))
      .localCheckpoint()
    // chosen-side norms, computed driver-side with DotProduct.dot's exact
    // ascending fold + Math.sqrt (same IEEE sequence as the in-plan
    // norm(c) they replace — bit-identical), so the lambda body does ONE
    // O(dim) dot per chosen instead of two
    def normOf(v: Seq[Double]): Double =
      math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))

    // the picks are collected values: free the pinned frame by handle
    // once the k rounds end, scope or no scope
    var picks = Vector.empty[Pick]
    try while (picks.length < k) {
      val red =
        if (picks.isEmpty) lit(0.0)
        else {
          val chLit = toColumn(CatLit.create(picks.map(_.vec.toArray).toArray,
            ArrayType(ArrayType(DoubleType, false), false)))
          val chNorms = toColumn(CatLit.create(
            picks.map(p => normOf(p.vec)).toArray, ArrayType(DoubleType, false)))
          array_max(zip_with(chLit, chNorms, (c, nc) =>
            round(dotProduct(col("__e"), c) / (col("__n") * nc) + lit(1e-12), 6)))
        }
      val score = lit(lambda) * col("__rel") - (lit(1.0) - lit(lambda)) * red
      val chosen = picks.map(_.id)
      val row = data.filter(!col("__id").isin(chosen: _*))
        .agg(max_by(struct(col("__id"), col("__e"), score.as("__s")),
          struct(score, -col("__id"))))
        .head().getStruct(0)
      picks :+= Pick(picks.length, row.getLong(0), row.getSeq[Double](1),
        row.getDouble(2))
    } finally graft.sources.CheckpointScope.release(data)
    picks
  }
}
