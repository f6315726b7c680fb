package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search") — the compressed-vector leg of the ANN
  * stack beside [[Ivf]] (cell pruning) and `Similarity.lshTopK`
  * (hash pruning): split each d-dim vector into `m` subvectors, learn a
  * `k`-entry codebook per subspace, store each vector as m small codes
  * (m bytes at k=256 — a 256x compression of a 64-dim float vector), and
  * answer queries with asymmetric distance computation (ADC): one
  * m×k lookup table per query, one table-lookup fold per stored code.
  *
  * Scale shape mirrors Ivf: the codebook is k·d doubles total — it lives
  * driver-side and ships into plans as ONE Catalyst literal, so encoding
  * is a zero-shuffle scan-stage expression (argmin per subspace over the
  * literal), and ADC search reads ONLY the m-byte codes plus one literal
  * table — the whole point at 100 TB, where the float vectors no longer
  * fit the scan budget. Training follows [[Ivf.trainCentroids]]:
  * deterministic init from the k lowest-id vectors' subvector slices
  * (`iters = 0` keeps exactly that sampled codebook — fully
  * deterministic, DuckDB-replicable, and standard practice since PQ
  * codebooks are always trained on a small sample); each optional
  * Lloyd iteration is one scan + a (subspace, code)-sized aggregate,
  * collecting only m·k centroid rows.
  */
object Pq {

  /** cents(s)(c) is the dsub-dim centroid of code c in subspace s. */
  final case class Codebook(m: Int, k: Int, dsub: Int,
                            cents: IndexedSeq[IndexedSeq[IndexedSeq[Double]]]) {
    require(cents.length == m && cents.forall(_.length == k)
      && cents.forall(_.forall(_.length == dsub)), "codebook shape mismatch")
  }

  /** The whole codebook as one 3-D array literal (the [[Ivf.assignCell]]
    * discipline: a single Literal in the codegen references array, not
    * m·k·dsub inlined doubles janino must recompile per codebook).
    */
  private def lit3d(cb: Codebook): Column = {
    import org.apache.spark.sql.catalyst.expressions.{Literal => CatLit}
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    org.apache.spark.sql.graft.bridge.toColumn(CatLit.create(
      cb.cents.map(_.map(_.toArray).toArray).toArray,
      ArrayType(ArrayType(ArrayType(DoubleType, false), false), false)))
  }

  /** Per-subspace squared-L2 distances of `emb`'s s-th slice to the k
    * centroids. foldLeft accumulation starting at +0.0 keeps the term
    * order fixed, so the sum is bit-reproducible across engines.
    *
    * The subvector slice is bound ONCE via the single-element-transform
    * wrapper (the TextFns.allNgrams idiom): referenced directly inside
    * the per-codeword lambda it would re-slice the vector once per
    * codeword — k·dsub element copies per subspace per row instead of
    * dsub (lambda bodies sit outside codegen subexpression elimination).
    * Same elements, same null propagation, bit-identical distances.
    */
  private def subDists(emb: Column, L: Column, dsub: Int)(s: Column): Column =
    element_at(transform(array(slice(emb, s * dsub + 1, lit(dsub))), sub =>
      transform(element_at(L, s + 1), c =>
        aggregate(zip_with(sub, c,
          (x, y) => (x - y) * (x - y)), lit(0.0), _ + _))), 1)

  /** All m per-subspace distance arrays, computed ONCE: higher-order
    * functions are interpreted (no codegen, no common-subexpression
    * elimination), so every syntactic reference to a distance expression
    * re-runs the full k·dsub arithmetic per row. Downstream consumers
    * therefore bind this array and read its ELEMENTS (lambda variables
    * are materialized values, not re-evaluated trees).
    */
  private def allSubDists(emb: Column, cb: Codebook): Column = {
    val d = subDists(emb, lit3d(cb), cb.dsub) _
    transform(sequence(lit(0), lit(cb.m - 1)), s => d(s))
  }

  /** First-occurrence argmin over a materialized distance array (ties →
    * lowest code, deterministic like [[Ivf.assignCell]]). */
  private def argminCode(ds: Column): Column =
    (array_position(ds, array_min(ds)) - 1).cast("int")

  /** Scan-stage encoder: array of m codes. The nested transform binds
    * each subspace's distance array once — `array_position(d, min(d))`
    * over a LAMBDA VARIABLE scans a computed array twice, where the same
    * shape over the raw distance expression would run the k·dsub
    * arithmetic twice.
    */
  def encodeCol(emb: Column, cb: Codebook): Column =
    transform(allSubDists(emb, cb), ds => argminCode(ds))

  /** (id, codes, recon_err): the stored representation plus the exact
    * squared-L2 reconstruction error of the chosen codes — zero-shuffle,
    * one span over the scan. The distance arrays land in their own
    * projection (`__d`): referenced by BOTH output columns, the
    * non-cheap producer is kept un-collapsed by Catalyst
    * (CollapseProject's duplication guard), so the k·dsub arithmetic
    * runs once per row, not once per consumer.
    */
  def encode(df: DataFrame, embCol: String, idCol: String,
             cb: Codebook): DataFrame = {
    val emb = Similarity.toDouble(col(embCol))
    df.select(col(idCol), allSubDists(emb, cb).as("__d"))
      .select(col(idCol),
        transform(col("__d"), ds => argminCode(ds)).as("codes"),
        round(aggregate(transform(col("__d"), ds => array_min(ds)),
          lit(0.0), _ + _) + lit(1e-12), 6).as("recon_err"))
  }

  /** Deterministic training. `iters = 0` (the oracle-pinned default) is
    * the sampled codebook: subvector slices of the k lowest-id vectors,
    * code order = id order. Each extra iteration is one Lloyd step —
    * assign every vector in the scan stage, average the assigned slices
    * per (subspace, code) (a ≤ m·k-row aggregate), empty cells keep
    * their centroid.
    */
  def train(df: DataFrame, embCol: String, idCol: String,
            m: Int, k: Int, iters: Int = 0): Codebook = {
    val data = df.select(col(idCol).as("__id"),
      Similarity.toDouble(col(embCol)).as("__e"))
    val seed = data.orderBy(col("__id")).limit(k).select(col("__e")).collect()
      .map(_.getSeq[Double](0).toIndexedSeq)
    require(seed.length == k, s"need at least $k vectors to seed, got ${seed.length}")
    val dim = seed.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    var cb = Codebook(m, k, dsub, (0 until m).map(s =>
      seed.toIndexedSeq.map(v => v.slice(s * dsub, (s + 1) * dsub))))

    (0 until iters).foreach { _ =>
      val means = data
        .select(posexplode(encodeCol(col("__e"), cb)).as(Seq("s", "code")), col("__e"))
        .select(col("s"), col("code"),
          slice(col("__e"), col("s") * dsub + 1, lit(dsub)).as("sub"))
        .groupBy(col("s"), col("code"))
        .agg(array((0 until dsub).map(j =>
          avg(element_at(col("sub"), j + 1))): _*).as("c"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toIndexedSeq)
        .toMap
      cb = Codebook(m, k, dsub, (0 until m).map(s => (0 until k).map(c =>
        means.getOrElse((s, c), cb.cents(s)(c)))))
    }
    cb
  }

  /** Per-ROW ADC lookup table of a query-embedding COLUMN: the m×k
    * partial squared distances of each row's embedding to every
    * (subspace, code) centroid — the distributed face of the
    * driver-side table [[adcDistCol]] builds for one query vector.
    * A whole BATCH of probes computes its tables scan-side in one
    * expression (O(k·dim) per probe row, once), and each (probe,
    * candidate) pair then costs only the m-lookup fold
    * ([[adcDistFromLut]]) — never a per-pair re-encode, never an
    * index-side float read.
    */
  private[similarity] def adcLutCol(emb: Column, cb: Codebook): Column =
    allSubDists(emb, cb)

  /** The rounded ADC distance of a codes column under a LUT column
    * ([[adcLutCol]]) — same ascending fold, same +1e-12 rounding as
    * [[adcDistCol]], so the two faces agree bit-for-bit on identical
    * (query, codes) inputs. The fold itself is the codegen'd
    * [[graft.functions.AdcFold]] — it runs once per (probe, candidate)
    * PAIR, and the interpreted HOF form cost ~9 s/batch of boxing plus
    * a GC-feedback blowup in the coded gate's coarse phase.
    */
  private[similarity] def adcDistFromLut(codes: Column, lut: Column): Column =
    round(graft.functions.AdcFold.adcFold(codes, lut) + lit(1e-12), 6)

  /** The rounded ADC distance of a codes column under the query's m×k
    * lookup table (built driver-side with the same left-associated
    * summation as [[subDists]], so literals match the in-plan arithmetic
    * bit-for-bit).
    */
  private[similarity] def adcDistCol(codes: Column, cb: Codebook,
                                     query: Seq[Double]): Column = {
    require(query.length == cb.m * cb.dsub,
      s"query dim ${query.length} != ${cb.m * cb.dsub}")
    val table: IndexedSeq[IndexedSeq[Double]] = (0 until cb.m).map { s =>
      val sub = query.slice(s * cb.dsub, (s + 1) * cb.dsub)
      (0 until cb.k).map { c =>
        cb.cents(s)(c).zip(sub).foldLeft(0.0) { case (acc, (y, x)) =>
          acc + (x - y) * (x - y) }
      }
    }
    val T = {
      import org.apache.spark.sql.catalyst.expressions.{Literal => CatLit}
      import org.apache.spark.sql.types.{ArrayType, DoubleType}
      org.apache.spark.sql.graft.bridge.toColumn(CatLit.create(
        table.map(_.toArray).toArray,
        ArrayType(ArrayType(DoubleType, false), false)))
    }
    // codegen'd fold (graft.functions.AdcFold): one primitive m-lookup
    // loop per row — the interpreted HOF form boxed every element and
    // allocated the zipped array per evaluation (and `codes` composed
    // with encodeCol would re-run the encode per fold step). Summation
    // stays the same s-ascending fold from +0.0 — bit-identical to the
    // driver-side table build and to the old HOF form.
    round(graft.functions.AdcFold.adcFold(codes, T) + lit(1e-12), 6)
  }

  /** ADC top-k: the query builds one m×k table of partial squared
    * distances driver-side; each stored vector's approximate distance is
    * an m-lookup fold over its CODES — the float vectors are never read.
    * Ties broken by id; `adc_dist` rounded like the encoder.
    */
  def adcTopK(encoded: DataFrame, idCol: String, cb: Codebook,
              query: Seq[Double], topK: Int): DataFrame =
    encoded.select(col(idCol),
        adcDistCol(col("codes"), cb, query).as("adc_dist"))
      .orderBy(col("adc_dist"), col(idCol))
      .limit(topK)

  /** IVF-PQ (the production ANN composition — FAISS "IVF,PQ"): coarse
    * cells prune the candidate set, ADC over codes ranks what remains.
    * The scan-side work per row is one coarse argmin + (for surviving
    * rows) the code encode; stored as (cell_id, codes) and written
    * partitioned by cell_id, the probe filter becomes partition pruning
    * and search reads nProbe/nCells of the codes — nothing else.
    * No-residual variant (codes quantize raw vectors, not cell
    * residuals): one shared codebook, one encode, replayable
    * relationally; residual encoding buys finer cells at the cost of a
    * per-cell table build per query.
    */
  def ivfPqTopK(df: DataFrame, embCol: String, idCol: String,
                coarse: Seq[Ivf.Centroid], cb: Codebook,
                query: Seq[Double], topK: Int, nProbe: Int): DataFrame = {
    val probes = Ivf.nearestCellIds(coarse, query, nProbe)
    val emb = Similarity.toDouble(col(embCol))
    df.select(col(idCol), emb.as("__e"))
      .withColumn("cell_id", Ivf.assignCell(col("__e"), coarse))
      .filter(col("cell_id").isin(probes: _*))
      .select(col(idCol), encodeCol(col("__e"), cb).as("codes"))
      .select(col(idCol), adcDistCol(col("codes"), cb, query).as("adc_dist"))
      .orderBy(col("adc_dist"), col(idCol))
      .limit(topK)
  }
}
