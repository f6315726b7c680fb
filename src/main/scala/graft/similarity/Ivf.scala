package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) ANN: coarse k-means cells + cell-pruned search —
  * the scale path beside LSH (Similarity.lshTopK).
  *
  * The centroid table is coarse by construction (k ~ sqrt(n), a few
  * thousand rows at 100 TB scale), so it lives driver-side and cell
  * assignment compiles to a single scan-side expression — argmin over a
  * literal centroid array. Training (Lloyd's) scans the big table once
  * per iteration with a centroid-sized aggregate; the big table itself is
  * never shuffled wider than (cell_id, dim) partial means.
  *
  * Search probes the nProbe nearest cells (computed driver-side) and
  * exact-cosines only rows in those cells — written out partitioned or
  * bucketed by cell_id, that filter becomes partition pruning at the
  * scan.
  */
object Ivf {

  final case class Centroid(cellId: Int, values: Seq[Double])

  /** Scan-side argmin cell assignment over literal centroids. All
    * centroids ship as ONE 2-D array literal traversed with an indexed
    * transform — one compact expression instead of nCells copies of the
    * distance fold, which bloated codegen ~10x. Requires cellId == index
    * (trainCentroids maintains that invariant).
    *
    * (Spark 4's Column API drops aliases on structs built inside arrays,
    * so the struct fields are extracted by their auto-names col1/col2.)
    */
  // One Catalyst Literal holding the whole centroid matrix: it lands in
  // the codegen `references` array instead of being inlined as source
  // (array(lit(...), ...) inlines every double and janino recompiles
  // the giant initializer for every new centroid set), and it dodges
  // typedLit's runtime reflection (which degrades to an untyped
  // Object-array literal under REPL-style classloaders).
  private[similarity] def centroidMatrix(cents: Seq[Centroid]): Column = {
    // empty centroids must fail HERE, loudly: the 0..n-1 check below is
    // vacuous on Nil, and downstream `sequence(lit(0), lit(-1))` builds
    // a descending [0, -1] array — probeCells would silently emit bogus
    // cell ids (ADVICE r13)
    require(cents.nonEmpty, "centroid seq is empty — train or load " +
      "centroids before assigning/probing cells")
    require(cents.zipWithIndex.forall { case (c, i) => c.cellId == i },
      "centroid cellIds must be 0..n-1 in order")
    import org.apache.spark.sql.catalyst.expressions.{Literal => CatLit}
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    org.apache.spark.sql.graft.bridge.toColumn(
      CatLit.create(cents.map(_.values.toArray).toArray,
        ArrayType(ArrayType(DoubleType, false), false)))
  }

  def assignCell(emb: Column, cents: Seq[Centroid]): Column = {
    val arr = centroidMatrix(cents)
    // distance loop = codegen'd CentroidDists (bit-identical left-fold
    // sums; the interpreted transform(aggregate(zip_with)) body it
    // replaced measured ~40 ms/cell/batch — the cells-linear term of
    // BENCH_CODED_CUTOVER_SF1_r15), argmin = codegen'd NearestCells
    // (first occurrence wins ties — deterministic; null when the row
    // has no defined distance, matching the interpreted
    // array_position(ds, array_min(ds)) wrapper it replaced). Both
    // accept float or double embeddings, so the raw parquet column
    // feeds the plan with no cast wrapper.
    graft.functions.NearestCells.nearestCell(
      graft.functions.CentroidDists.centroidDists(emb, arr))
  }

  /** The `nProbe` nearest cell ids for each row's embedding, as one
    * scan-side expression — [[assignCell]]'s multi-probe sibling, for
    * DISTRIBUTED probes (a whole batch of query vectors at once, where
    * `searchTopK`'s driver-side probe set is one vector). Deterministic:
    * distance ties break on the lower cell id. Fully codegen:
    * [[graft.functions.CentroidDists]] for the distance array,
    * [[graft.functions.NearestCells]] for the bounded nProbe-selection
    * — replacing the interpreted comparator `array_sort` over the
    * cell-index sequence (rows × cells·log·cells boxed comparator
    * calls, the post-CentroidDists dominant probe term: 5.9 vs 1.2
    * ms/cell/batch, BENCH_CODED_CUTOVER_SF1_r15). A row with no
    * defined distance probes null (the sort degenerated to identity
    * order and probed cells 0..nProbe-1 — see NearestCells' scaladoc).
    */
  def probeCells(emb: Column, cents: Seq[Centroid], nProbe: Int): Column = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val arr = centroidMatrix(cents)
    graft.functions.NearestCells.nearestCells(
      graft.functions.CentroidDists.centroidDists(emb, arr), nProbe)
  }

  /** Lloyd's iterations; deterministic init = the nCells lowest-id
    * vectors. Empty cells keep their previous centroid.
    *
    * `quantize = Some(p)` rounds each updated mean to p decimals (with
    * the +1e-12 exact-tie nudge) BETWEEN iterations: the mean of a
    * distributed double sum is reproducible only to ~ulp (partial-sum
    * order), and an ulp wobble can flip a near-tied argmin in the NEXT
    * iteration — quantizing pins every iteration's input to a value any
    * engine reproduces, making multi-iteration training exactly
    * replayable (the full-replay oracle pattern). None = raw means.
    */
  def trainCentroids(df: DataFrame, embCol: String, idCol: String,
                     nCells: Int, iters: Int,
                     quantize: Option[Int] = None): Seq[Centroid] = {
    val data = df.select(col(idCol).as("__id"), Similarity.toDouble(col(embCol)).as("__e"))
    var cents: Seq[Centroid] = data.orderBy(col("__id")).limit(nCells)
      .select(col("__e")).collect()
      .zipWithIndex.map { case (r, i) => Centroid(i, r.getSeq[Double](0)) }.toSeq

    val dim = cents.head.values.length
    (0 until iters).foreach { _ =>
      // Lloyd update as ONE hash aggregate: 64 element-wise avgs. No
      // posexplode — the generator form made the optimizer re-evaluate
      // the (interpreted-HOF) assignment expression once per exploded
      // row, 64x the work.
      val mean = (i: Int) => quantize match {
        case Some(p) => round(avg(col("__e").getItem(i)) + lit(1e-12), p)
        case None    => avg(col("__e").getItem(i))
      }
      val means = data
        .select(assignCell(col("__e"), cents).as("cell_id"), col("__e"))
        .groupBy(col("cell_id"))
        .agg(array((0 until dim).map(mean): _*).as("centroid"))
        .collect()
        .map(r => Centroid(r.getInt(0), r.getSeq[Double](1))).toSeq
      val byId = means.map(c => c.cellId -> c).toMap
      cents = cents.map(c => byId.getOrElse(c.cellId, c))
    }
    cents
  }

  /** The first row of a one-vector query frame, as doubles. */
  private[similarity] def queryVector(query: DataFrame, queryEmbCol: String): Seq[Double] =
    query.select(Similarity.toDouble(col(queryEmbCol)).as("__q"))
      .head().getSeq[Double](0)

  /** The `nProbe` cell ids nearest `q` by squared Euclidean distance,
    * computed driver-side over the centroids (ties → lower cell id) —
    * the probe set of every single-vector search.
    */
  private[similarity] def nearestCellIds(cents: Seq[Centroid], q: Seq[Double],
                                         nProbe: Int): Seq[Int] =
    cents
      .map(c => c.cellId -> c.values.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum)
      .sortBy { case (id, d) => (d, id) }
      .take(nProbe).map(_._1)

  /** Top-k cosine within the nProbe cells nearest to the query vector. */
  def searchTopK(df: DataFrame, cents: Seq[Centroid], embCol: String, idCol: String,
                 query: DataFrame, queryEmbCol: String, k: Int, nProbe: Int): DataFrame = {
    val probes = nearestCellIds(cents, queryVector(query, queryEmbCol), nProbe)
    val q = broadcast(query.select(Similarity.toDouble(col(queryEmbCol)).as("__q"))
      .withColumn("__qn", Similarity.norm(col("__q"))))
    df.select(col(idCol), Similarity.toDouble(col(embCol)).as("__e"))
      .withColumn("cell_id", assignCell(col("__e"), cents))
      .filter(col("cell_id").isin(probes: _*))
      .crossJoin(q)
      .select(col(idCol),
        round(graft.functions.DotProduct.dotProduct(col("__e"), col("__q"))
          / (Similarity.norm(col("__e")) * col("__qn")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }
}
