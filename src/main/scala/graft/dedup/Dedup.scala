package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.CheckpointScope
import graft.sources.CheckpointScope.{generations, unchanged}

/** Deduplication operators for a 100 TB training-data pipeline. Four
  * families, increasing in fuzziness:
  *
  *   1. exact        — content-hash groupBy (one shuffle on a 128-bit key)
  *   2. minhash+LSH  — shingle -> K minhashes -> banded buckets -> pair
  *                     join (shuffles on band buckets, never all-pairs)
  *   3. simhash      — 64-bit signature, chunk-banded hamming pairs
  *   4. n-gram Jaccard — exact set overlap via shingle self-join inside
  *                     coarse buckets (the verification stage after LSH)
  *
  * Scale invariant for all of them: candidate generation is bucket-local.
  * Nothing ever materializes the O(n^2) pair space; skewed buckets are
  * bounded by band width and can be salted or capped upstream.
  */
object Dedup {

  /** Exact dedup: group identical content by md5, keep the smallest id as
    * canonical. The md5 shuffle key keeps exchange rows narrow even when
    * documents are megabytes.
    */
  def exactByContent(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Word n-gram shingles (distinct) of a text column — the native
    * single-pass WordShingles expression.
    */
  def shingles(text: Column, n: Int): Column =
    graft.functions.WordShingles.wordShingles(text, n)

  /** The built-in composition WordShingles replaces — kept as the
    * differential reference for its spec.
    */
  private[graft] def shinglesViaBuiltins(text: Column, n: Int): Column =
    // array bound once via the single-element transform (see
    // TextFns.allNgrams: an inlined split re-runs per position, O(n²))
    array_distinct(flatten(transform(array(split(text, " ")), toks =>
      when(size(toks) < n, array(concat_ws(" ", toks)))
        .otherwise(transform(sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n))))))))

  /** MinHash signature via the native scan-stage
    * [[graft.functions.MinHashSig]] expression — bit-identical to the
    * aggregate form but with ZERO exchange for the signature stage.
    * Three formulations, worst to best (all measured): builtin
    * expression composition (k nested array-transforms, duplicated by
    * projection collapse — 50× slower); explode + [[graft.functions.
    * MinHashAgg]] (hashes each shingle once, partial-aggregates, but
    * shuffles a 64-long buffer per doc per partition to regroup by
    * id — kept as [[minhashSignaturesViaAgg]], the differential
    * reference); this native single pass (signature materializes in
    * the scan, nothing shuffles).
    */
  def minhashSignatures(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame =
    // null-text docs absent, like the explode form. Filter on the TEXT
    // column, not the signature: minhash_sig is null-intolerant, so the
    // two are equivalent — but `sig.isNotNull` gets predicate-pushed
    // BELOW the Project as `isnotnull(minhash_sig(..))`, evaluating the
    // whole signature a second time per row (caught by the PlansSpec
    // single-evaluation pin), while the text predicate reaches the scan.
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        graft.functions.MinHashSig.minhashSig(lower(col(textCol)), k).as("sig"))

  /** The explode + TypedImperativeAggregate formulation — the spec's
    * differential reference for [[minhashSignatures]], and continued
    * coverage for the custom MinHashAgg buffer merge path.
    */
  private[graft] def minhashSignaturesViaAgg(df: DataFrame, textCol: String,
                                             idCol: String, k: Int): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
        explode(shingles(lower(col(textCol)), 3)).as("s"))
      .groupBy(col("id"))
      .agg(graft.functions.MinHashAgg.minhashAgg(col("s"), k).as("sig"))

  /** MinHash + LSH candidate pairs: signatures banded into `bands` groups
    * of `k/bands` rows; docs sharing any band bucket become a candidate
    * pair; estimated Jaccard = fraction of matching signature positions.
    *
    * Returns (id_a, id_b, est_jaccard) with id_a < id_b, deduplicated
    * across bands.
    */
  def minhashCandidates(df: DataFrame, textCol: String, idCol: String,
                        k: Int = 64, bands: Int = 16,
                        maxBucket: Int = 1000): DataFrame =
    minhashCandidatesFromSigs(
      minhashSignatures(df, textCol, idCol, k), k, bands, maxBucket)

  /** The banded + capped (band, bucket, sub-bucket) membership table for
    * a signature set — the stage [[minhashCandidatesFromSigs]] pairs
    * from, exposed so probes (candidate-volume bounds) can aggregate
    * over it without materializing any pair.
    *
    * Healthy band buckets are near-dup-sized, but a degenerate bucket
    * (thousands of boilerplate near-identical docs sharing a band) would
    * collect every member's 64-long signature into ONE aggregation
    * buffer — an OOM path at corpus scale. Split oversized buckets into
    * capped rank-chunk sub-buckets plus a half-offset stitching pass
    * (graft.operators.SubBuckets): every aggregation buffer stays ≤
    * maxBucket members, pair work per bucket is linear (≤ m·maxBucket),
    * and skewed buckets keep their ≤-maxBucket/2-rank-distance recall
    * instead of being dropped. The membership window shares the
    * (band, bucket) hash partitioning the pairing groupBy needs — its
    * (band, bucket, pass, sub) keys extend the window's partitioning,
    * so one shuffle total; WindowExec spills, so even the degenerate
    * bucket is memory-bounded.
    */
  private[dedup] def minhashBanded(sigs: DataFrame, k: Int, bands: Int,
                                   maxBucket: Int): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rows = k / bands
    val banded = sigs.select(col("id"), col("sig"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(b, slice(col("sig"), b * rows + 1, lit(rows))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    graft.operators.SubBuckets.withMembership(
      banded, Seq(col("band"), col("bucket")), col("id"), maxBucket)
  }

  /** [[minhashCandidates]] from a precomputed (id, sig) signature table —
    * the shape to use when several bandings probe the SAME corpus (the
    * adaptive path): signatures are the expensive aggregate, banding is
    * cheap, so compute them once and band per (bands, rows) split.
    */
  def minhashCandidatesFromSigs(sigs: DataFrame, k: Int, bands: Int,
                                maxBucket: Int = 1000): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rows = k / bands
    val capped = minhashBanded(sigs, k, bands, maxBucket)

    // Group docs per (band bucket, sub-bucket) and emit member pairs
    // directly — a self-join here is a diamond over the (expensive)
    // signature aggregate, which Spark plans twice (no static exchange
    // reuse). Each member carries its pass-0 chunk (s0) so stitching
    // pairs that already share a pass-0 chunk are skipped at emission.
    val members = capped
      .groupBy(col("band"), col("bucket"), col("__pass"), col("__sub"))
      .agg(sort_array(collect_list(
        struct(col("id"), col("sig"), col("__sub0").as("s0")))).as("m"))
      .filter(size(col("m")) > 1)

    members.select(col("__pass"), explode(
        flatten(transform(sequence(lit(0), size(col("m")) - 2), i =>
          transform(slice(col("m"), i + 2, size(col("m"))),
            other => struct(
              element_at(col("m"), (i + 1).cast("int")).getField("id").as("id_a"),
              element_at(col("m"), (i + 1).cast("int")).getField("sig").as("sig_a"),
              element_at(col("m"), (i + 1).cast("int")).getField("s0").as("s0_a"),
              other.getField("id").as("id_b"),
              other.getField("sig").as("sig_b"),
              other.getField("s0").as("s0_b")))))).as("p"))
      .filter(graft.operators.SubBuckets.exactlyOnce(
        col("__pass"), col("p.s0_a"), col("p.s0_b")))
      .select(col("p.id_a"), col("p.sig_a"), col("p.id_b"), col("p.sig_b"))
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
          .cast("double") / k).as("est_jaccard"),
        // how many of the `bands` band buckets this pair shares — the
        // banding-recall margin observable: a pair at 1 is one hash
        // perturbation away from being missed entirely
        size(filter(sequence(lit(0), lit(bands - 1)), b =>
          forall(zip_with(
            slice(col("sig_a"), b * rows + 1, lit(rows)),
            slice(col("sig_b"), b * rows + 1, lit(rows)),
            (x, y) => x === y), p => p))).cast("long").as("n_shared_bands"))
  }

  /** Banding-theorem band count for a k-hash MinHash signature: the
    * FEWEST bands b (largest rows-per-band r = k/b — fewest false
    * positives) whose catch probability 1 − (1 − s^r)^b at s =
    * `minJaccard` reaches `recallTarget`. This replaces the constant
    * (16, 4) default — whose theoretical catch probability at s = 0.3
    * is only 0.12; it works on corpora whose true near-dups sit far
    * above the threshold, and silently loses recall the moment the
    * near-dup jaccard distribution drifts down toward it. Falls back to
    * b = k (rows = 1, catch 1 − (1−s)^k ≈ 1) when no divisor split
    * reaches the target.
    */
  def deriveMinhashBanding(k: Int, minJaccard: Double,
                           recallTarget: Double = 0.95): Int = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(minJaccard > 0 && minJaccard < 1,
      s"minJaccard must be in (0,1), got $minJaccard")
    require(recallTarget > 0 && recallTarget < 1,
      s"recallTarget must be in (0,1), got $recallTarget")
    (1 to k).filter(k % _ == 0).find { b =>
      val r = k / b
      1.0 - math.pow(1.0 - math.pow(minJaccard, r), b) >= recallTarget
    }.getOrElse(k)
  }

  /** MinHash verified dedup with an ADAPTIVE banding: (bands,
    * rows-per-band) start at the banding-theorem split for the target
    * jaccard threshold ([[deriveMinhashBanding]]) instead of a constant,
    * and the q_dedup_minhash shared-bands certificate is made
    * self-correcting — if any VERIFIED pair shares fewer than
    * `marginBands` band buckets (one hash perturbation from being
    * missed), the banding escalates through the divisor ladder (more
    * bands, fewer rows → lower catch threshold → higher recall) until
    * the margin holds.
    *
    * Escalation is VOLUME-GUARDED exactly like
    * [[simhashDedupAdaptive]]: before escalating, the next banding's
    * candidate volume is bounded by ONE aggregate over its banded
    * sub-buckets (Σ m(m−1)/2 — no pair materialized), and an escalation
    * whose bound exceeds `maxCandidatesPerDoc` per document is refused
    * with a loud warning — narrower bands on a corpus where they have
    * lost selectivity is the quadratic cluster burn, not a recall fix.
    *
    * Signatures are computed once (localCheckpoint'd — k longs/doc) and
    * re-banded per rung; each margin probe is one 1-row min-aggregate
    * over that rung's verified pairs (near-dup-sized, also
    * checkpoint'd), so the common no-escalation case costs one verify
    * pass + one scalar probe. The usual observability caveat: a truth
    * pair missed by the WIDEST probed banding is unobservable by
    * construction — the shared-bands margin on the pairs we do see is
    * the strongest in-plan signal available.
    *
    * Returns (verified pairs at the chosen banding, chosen band count).
    */
  def minhashDedupAdaptive(df: DataFrame, textCol: String, idCol: String,
                           minJaccard: Double, k: Int = 64, n: Int = 3,
                           marginBands: Int = 2, recallTarget: Double = 0.95,
                           maxBucket: Int = 1000,
                           maxCandidatesPerDoc: Int = 100): (DataFrame, Int) = {
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    val (sigs, nDocs) =
      CheckpointScope.pinMeasured(minhashSignatures(df, textCol, idCol, k), count(lit(1)))
    val budget = maxCandidatesPerDoc.toLong * nDocs
    val start = deriveMinhashBanding(k, minJaccard, recallTarget)
    val ladder = (1 to k).filter(k % _ == 0).filter(_ >= start)
    val probed = collection.mutable.Map.empty[Int, DataFrame]
    def verifiedAt(b: Int): DataFrame = probed.getOrElseUpdate(b, {
      val cand = minhashCandidatesFromSigs(sigs, k, b, maxBucket)
      jaccardOnPairs(df, textCol, idCol, cand, "id_a", "id_b", n,
        carry = Seq("n_shared_bands"))
        .filter(col("jaccard") >= minJaccard)
        .localCheckpoint()
    })
    // Upper bound on the pair-join output at band count b: one aggregate
    // over the banded sub-buckets (stitch-pass members count twice — an
    // over-estimate, so the guard can only over-refuse, never under).
    def candidateVolume(b: Int): Long =
      minhashBanded(sigs, k, b, maxBucket)
        .groupBy(col("band"), col("bucket"), col("__pass"), col("__sub"))
        .agg(count(lit(1)).as("m"))
        .agg(coalesce(sum(col("m") * (col("m") - lit(1L))), lit(0L)))
        .head.getLong(0) / 2

    var i = 0
    var out: (DataFrame, Int) = null
    while (out == null) {
      val b = ladder(i)
      val v = verifiedAt(b)
      val minb = v.agg(coalesce(min(col("n_shared_bands")), lit(b.toLong)))
        .head.getLong(0)
      if (minb >= marginBands) out = (v, b)
      else if (i + 1 == ladder.length) {
        log.warn(s"minhashDedupAdaptive: a verified pair shares only $minb " +
          s"band bucket(s) at the widest banding b=$b — recall may be " +
          "incomplete; raise k for narrower bands")
        out = (v, b)
      } else {
        val next = ladder(i + 1)
        val vol = candidateVolume(next)
        if (vol > budget) {
          log.warn(s"minhashDedupAdaptive: banding b=$next admits ~$vol " +
            s"candidate pairs (> $maxCandidatesPerDoc/doc over $nDocs docs) " +
            s"— narrower bands have lost selectivity on this corpus; " +
            s"keeping b=$b and its recall limit")
          out = (v, b)
        } else i += 1
      }
    }
    out
  }

  /** 64-bit SimHash of the token multiset: per-bit majority vote over
    * token xxhash64 values, computed by the native scan-stage
    * [[graft.functions.SimHash64]] expression — signatures materialize
    * where the row already is, so this stage shuffles nothing at any
    * corpus size. The SimHashAgg TypedImperativeAggregate formulation
    * (one 256-byte vote buffer per group on the shuffle) survives as
    * [[simhashViaAgg]], the spec's differential reference.
    */
  def simhash(df: DataFrame, textCol: String, idCol: String): DataFrame =
    // scan-stage native expression — zero exchange for the signature
    // stage (the aggregate form shuffles a vote buffer per doc per
    // partition); null-text docs are absent, matching the explode form.
    // Filter on TEXT, not the signature — a signature-null predicate
    // would be pushed below the Project and evaluate simhash64 twice
    // per row (see minhashSignatures).
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        graft.functions.SimHash64.simhash64(lower(col(textCol))).as("simhash"))

  /** The aggregate formulation (explode → xxhash64 → SimHashAgg) —
    * kept as the differential reference exercising the custom
    * TypedImperativeAggregate; [[simhash]] is the zero-shuffle fast
    * path.
    */
  private[graft] def simhashViaAgg(df: DataFrame, textCol: String,
                                   idCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        explode(split(lower(col(textCol)), " ")).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
      .groupBy(col("id"))
      .agg(graft.functions.SimHashAgg.simhashAgg(col("h")).as("simhash"))

  /** The same signature composed from built-ins (64 conditional sums) —
    * kept as the differential reference for SimHashAgg.
    */
  private[graft] def simhashViaColumns(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val exploded = df.select(col(idCol).as("id"),
        explode(split(lower(col(textCol)), " ")).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val votes = (0 until 64).map { i =>
      sum(when(col("h").bitwiseAND(lit(1L << i)) =!= 0, 1).otherwise(-1)).as(s"b$i")
    }
    exploded.groupBy(col("id")).agg(votes.head, votes.tail: _*)
      .select(col("id"),
        (0 until 64).map(i => when(col(s"b$i") > 0, lit(1L << i)).otherwise(0L))
          .reduce(_.bitwiseOR(_)).as("simhash"))
  }

  /** SimHash near-dup pairs with hamming distance <= maxDist, found by
    * chunk banding (pigeonhole: distance <= 3 guarantees one of 4 16-bit
    * chunks is equal), verified with bit_count(xor).
    *
    * `maxBucket` bounds the (chunk, piece) pair fan-out the same way
    * [[minhashCandidates]] bounds band buckets: boilerplate corpora
    * produce near-identical simhashes, so one degenerate piece bucket
    * otherwise emits m^2/2 join pairs at corpus scale. Oversized buckets
    * are split into capped rank-chunk sub-buckets plus a half-offset
    * stitching pass ([[graft.operators.SubBuckets]]) — linear pair work,
    * bounded recall floor, healthy buckets untouched. The membership
    * window shares the join's (chunk, piece) clustering.
    */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxDist: Int = 3, maxBucket: Int = 1000): DataFrame =
    simhashPairsFromSigs(simhash(df, textCol, idCol), maxDist, maxBucket)

  /** The chunk-banded (chunk, piece) sub-bucket table for a signature set
    * — the stage [[simhashPairsFromSigs]] pairs from, exposed so probes
    * (candidate-volume, bucket histograms) can aggregate over it without
    * materializing any pair.
    */
  private[dedup] def simhashBanded(sigs: DataFrame, maxDist: Int,
                                   maxBucket: Int): DataFrame = {
    val chunks = maxDist + 1
    val width  = 64 / chunks
    graft.operators.SubBuckets.withMembership(
      sigs.select(col("id"), col("simhash"),
          posexplode(array((0 until chunks).map { c =>
            shiftright(col("simhash"), c * width).bitwiseAND(lit((1L << width) - 1))
          }: _*)))
        .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "piece"),
      Seq(col("chunk"), col("piece")), col("id"), maxBucket)
  }

  /** [[simhashPairs]] from a precomputed (id, simhash) signature table —
    * the shape to use when several radii probe the SAME corpus (the
    * adaptive path): signatures are the expensive aggregate, banding is
    * cheap, so compute them once and band per radius.
    */
  def simhashPairsFromSigs(sigs: DataFrame, maxDist: Int = 3,
                           maxBucket: Int = 1000): DataFrame = {
    val banded = simhashBanded(sigs, maxDist, maxBucket)
    // Pair emission by codegen'd self-join. This IS a diamond — the
    // simhash aggregate plans twice — but that aggregate is cheap (one
    // 64-bit value per doc off a column-pruned scan); a localCheckpoint
    // on `banded` was also measured (round 9: 2.00s -> 2.11s at sf0.1,
    // reps=5) — the eager checkpoint job costs more than the duplicate
    // scan-stage signature — and the join beats
    // the collect_list + nested-transform alternative 2x here: pair
    // emission through interpreted HOFs costs more than the second
    // aggregate (measured at sf0.1; the opposite tradeoff from
    // minhashCandidates, whose 64-long signatures make the aggregate
    // the expensive side).
    val a = banded.select(col("chunk"), col("piece"), col("__pass"), col("__sub"),
      col("__sub0").as("__s0a"), col("id").as("id_a"), col("simhash").as("sh_a"))
    val b = banded.select(col("chunk"), col("piece"), col("__pass"), col("__sub"),
      col("__sub0").as("__s0b"), col("id").as("id_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("chunk", "piece", "__pass", "__sub"))
      .filter(col("id_a") < col("id_b"))
      .filter(graft.operators.SubBuckets.exactlyOnce(
        col("__pass"), col("__s0a"), col("__s0b")))
      .filter(bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long") <= maxDist)
      // project hamming AFTER the dedup: a named column aliased before
      // dropDuplicates trips an attribute-binding bug when a downstream
      // count() prunes it (Spark 4.1 ReplaceDeduplicateWithAggregate)
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long").as("hamming"))
  }

  /** SimHash verified dedup with an ADAPTIVE banding radius: run the
    * candidate+verify pipeline at the smallest radius whose recall
    * margin holds, escalating through the chunk-aligned radii (maxDist =
    * 64/chunks − 1 for chunks that divide 64) when it does not. The
    * margin condition is the q_dedup_simhash certificate made
    * self-correcting: every VERIFIED pair's signature hamming must stay
    * `margin` bits under the banding cut; a corpus whose near-dup
    * hamming tail grows (longer docs, noisier boilerplate — exactly
    * what larger scale factors produce) fails the probe and the radius
    * widens, instead of a constant radius silently losing recall.
    *
    * Escalation is VOLUME-GUARDED, because a wider radius is only useful
    * while the banding still discriminates. Before escalating, the next
    * radius' candidate volume is bounded by ONE aggregate over its banded
    * sub-buckets (Σ m(m−1)/2 — no pair is materialized), and an
    * escalation whose bound exceeds `maxCandidatesPerDoc` per document is
    * refused with a loud warning naming the minhash path instead.
    * Measured on the sf0.1 corpus (5 000 docs): radius-15 banding admits
    * 3.05 M of the 12.5 M possible pairs — 24 %, i.e. the signature
    * family has no selectivity left — of which only 256 verify at
    * jaccard ≥ 0.3, and paying ~35 s of join+verify for that is strictly
    * worse than switching families (minhash finds its pairs on the same
    * corpus in ~2 s with capped buckets). At 100 TB that refusal is the
    * difference between a bounded probe and a quadratic cluster burn; a
    * corpus where the wider radius IS still selective (the spec's
    * synthetic case) escalates and keeps its recall.
    *
    * Signatures are computed once (localCheckpoint'd — 16 bytes/doc) and
    * re-banded per radius; each margin probe is one 1-row max-aggregate
    * over that radius' verified pairs (near-dup-sized, also
    * checkpoint'd), so the common no-escalation case costs one verify
    * pass + one scalar probe.
    *
    * The inherent observability caveat carries over from the
    * certificate: a truth pair BEYOND the widest probed radius is
    * unobservable by construction — the margin on the pairs we do see
    * is the strongest in-plan signal available. Returns (verified pairs
    * at the chosen radius, chosen radius).
    */
  def simhashDedupAdaptive(df: DataFrame, textCol: String, idCol: String,
                           minJaccard: Double, n: Int = 3, margin: Int = 2,
                           radii: Seq[Int] = Seq(7, 15, 31),
                           maxBucket: Int = 1000,
                           maxCandidatesPerDoc: Int = 100): (DataFrame, Int) = {
    require(radii.nonEmpty && radii == radii.sorted, "radii must be ascending")
    require(radii.forall(r => 64 % (r + 1) == 0),
      s"each radius+1 must divide the 64-bit signature (got $radii)")
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    val (sigs, nDocs) = CheckpointScope.pinMeasured(simhash(df, textCol, idCol), count(lit(1)))
    val budget = maxCandidatesPerDoc.toLong * nDocs
    val probed = collection.mutable.Map.empty[Int, DataFrame]
    def verifiedAt(r: Int): DataFrame = probed.getOrElseUpdate(r, {
      val cand = simhashPairsFromSigs(sigs, maxDist = r, maxBucket = maxBucket)
      jaccardOnPairs(df, textCol, idCol, cand, "id_a", "id_b", n,
        carry = Seq("hamming"))
        .filter(col("jaccard") >= minJaccard)
        .localCheckpoint()
    })
    // Upper bound on the pair-join output at radius r: one aggregate over
    // the banded sub-buckets (stitch-pass members count twice — an
    // over-estimate, so the guard can only over-refuse, never under).
    def candidateVolume(r: Int): Long =
      simhashBanded(sigs, r, maxBucket)
        .groupBy(col("chunk"), col("piece"), col("__pass"), col("__sub"))
        .agg(count(lit(1)).as("m"))
        .agg(coalesce(sum(col("m") * (col("m") - lit(1L))), lit(0L)))
        .head.getLong(0) / 2

    var i = 0
    var out: (DataFrame, Int) = null
    while (out == null) {
      val r = radii(i)
      val v = verifiedAt(r)
      val maxham = v.agg(coalesce(max(col("hamming")), lit(0L))).head.getLong(0)
      if (maxham <= r - margin) out = (v, r)
      else if (i + 1 == radii.length) {
        log.warn(s"simhashDedupAdaptive: margin $margin still violated at " +
          s"the widest radius $r — recall may be incomplete; prefer the " +
          "minhash path for this corpus")
        out = (v, r)
      } else {
        val next = radii(i + 1)
        val vol = candidateVolume(next)
        if (vol > budget) {
          log.warn(s"simhashDedupAdaptive: radius-$next banding admits " +
            s"~$vol candidate pairs (> $maxCandidatesPerDoc/doc over " +
            s"$nDocs docs) — the signature family has lost selectivity on " +
            s"this corpus; keeping radius $r and its recall limit. Switch " +
            "to the minhash path rather than widening further.")
          out = (v, r)
        } else i += 1
      }
    }
    out
  }

  /** Connected components over near-dup pairs: iterative min-label
    * propagation. Each iteration is two hash joins + a min aggregate and
    * advances the minimum label ONE hop along edges, so full convergence
    * takes O(component diameter) iterations. Near-dup clusters are small
    * and shallow, so that is a handful of rounds in practice.
    *
    * With `converge = true` (default) the loop runs to a fixpoint — it
    * stops only when no label changed (one extra count job per
    * iteration); `maxIters` is a safety valve, and hitting it without
    * convergence logs a warning because long chains would be silently
    * split. With `converge = false` (the 100 TB setting — the convergence
    * count is an extra job per round) exactly `maxIters` rounds run,
    * which bounds the *diameter* of chains that fully contract; size the
    * cap to the deepest chain you expect, or run the converging form off
    * the critical path.
    *
    * The label vectors are generations of
    * [[graft.sources.CheckpointScope.generations]].
    *
    * Returns (id, cluster) where cluster = min id of the component —
    * `id == cluster` marks the canonical document to keep.
    */
  def clusters(ids: DataFrame, pairs: DataFrame, idCol: String,
               aCol: String, bCol: String, maxIters: Int = 50,
               converge: Boolean = true): DataFrame = {
    // persist the (static) edge list; the initial labels are not pinned
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionAll(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .persist()
    val init = ids.select(col(idCol).cast("long").as("id"),
      col(idCol).cast("long").as("cluster"))
    // each generation carries the previous label: the convergence check
    // is then a filter over the (already materialized) generation
    // instead of a join back against the old one
    def fixpoint(g: DataFrame, i: Int): Boolean = converge && i > 0 &&
      g.filter(col("cluster") =!= col("__prev")).count() == 0
    val run = generations(init, maxIters, fixpoint) { (labels, _) =>
      val neighborMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("cluster")).as("nmin"))
      labels.join(neighborMin, labels("id") === neighborMin("src"), "left")
        .select(labels("id"),
          least(col("cluster"), coalesce(col("nmin"), col("cluster"))).as("cluster"),
          labels("cluster").as("__prev"))
    }
    if (converge && !run.stopped)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"clusters() hit maxIters=$maxIters before converging — components " +
          "with diameter > maxIters are split; raise maxIters")
    edges.unpersist()
    run.last.drop("__prev")
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC 2014): large-star connects every neighbor larger than
    * u to u's neighborhood minimum; small-star repoints u's smaller
    * neighbors at it. Each round CONTRACTS paths — versus the one-hop
    * label advance of [[clusters]] — so the fixpoint arrives in
    * O(log n) rounds even for chain-shaped components. This is the
    * 100 TB choice when component diameter is unknown; [[clusters]]
    * stays the cheaper call for shallow near-dup clusters.
    *
    * Convergence is detected by an order-independent edge-set signature
    * (count + bit_xor of xxhash64 over the distinct normalized edges): a
    * round that leaves the signature unchanged ends the loop. Two
    * different edge sets colliding on the signature is ~2^-64; the
    * exact alternative (two except() anti-joins per round) roughly
    * doubles the per-round cost. The edge sets are generations of
    * [[graft.sources.CheckpointScope.generations]].
    */
  def clustersStar(ids: DataFrame, pairs: DataFrame, idCol: String,
                   aCol: String, bCol: String, maxIters: Int = 30): DataFrame =
    clustersStarWithRounds(ids, pairs, idCol, aCol, bCol, maxIters)._1

  private[graft] def clustersStarWithRounds(
      ids: DataFrame, pairs: DataFrame, idCol: String,
      aCol: String, bCol: String, maxIters: Int = 30): (DataFrame, Int) = {
    val a = col(aCol).cast("long")
    val b = col(bCol).cast("long")
    val init = pairs
      .select(greatest(a, b).as("src"), least(a, b).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint()

    // bit_xor, not sum: order-independent like sum but cannot overflow
    // under ANSI mode; edges are distinct so xor self-cancellation needs
    // two *different* sets agreeing on count AND xor (~2^-64)
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(src, dst))"), lit(0L))).head
      (r.getLong(0), r.getLong(1))
    }
    // large-star: for each u, m = min(N(u) ∪ {u}); connect each v ∈ N(u),
    // v > u, to m. Emitted edges keep the larger→smaller normalization.
    def largeStar(e: DataFrame): DataFrame = {
      val adj = e.select(col("src").as("u"), col("dst").as("v"))
        .unionAll(e.select(col("dst").as("u"), col("src").as("v")))
      val m = adj.groupBy("u").agg(min(col("v")).as("nmin"))
        .select(col("u"), least(col("u"), col("nmin")).as("m"))
      adj.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }
    // small-star: edges point larger→smaller; for each u, m = min of its
    // smaller neighbors; repoint the rest of them (and u) at m.
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy("src").agg(min(col("dst")).as("m"))
      e.join(m, "src").filter(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .unionAll(m.select(col("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }

    // a round that leaves the signature unchanged ends the loop; the empty
    // edge set's signature as the start lets an edgeless input run none
    val run = generations(init, maxIters, unchanged((0L, 0L))(signature)) {
      (edges, _) => smallStar(largeStar(edges))
    }
    if (!run.stopped)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"clustersStar() hit maxIters=$maxIters before the edge set " +
          "stabilized; raise maxIters")
    // fixpoint is a star graph: every non-root src points at its
    // component min; roots and isolated ids label themselves
    val comp = run.last.groupBy(col("src").as("id")).agg(min(col("dst")).as("cluster"))
    val labels = ids.select(col(idCol).cast("long").as("id"))
      .join(comp, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
    (labels, run.steps)
  }

  /** End-to-end corpus dedup: exact dups + MinHash candidates filtered by
    * estimated Jaccard, unioned into components; returns (id, cluster,
    * keep) where keep marks the canonical (minimum-id) doc per cluster.
    * This is the operator a pipeline user actually calls; the pieces stay
    * public for tuning.
    */
  def dedupCorpus(df: DataFrame, textCol: String, idCol: String,
                  minEstJaccard: Double = 0.9): DataFrame = {
    val fuzzy = minhashCandidates(df, textCol, idCol)
      .filter(col("est_jaccard") >= minEstJaccard)
      .select(col("id_a"), col("id_b"))
    withExactPairs(df, textCol, idCol, fuzzy)
  }

  /** The tail shared by the corpus dedups: `near` pairs (`id_a`,
    * `id_b`) union the md5 exact-duplicate pairs, clustered into
    * components with the minimum-id doc kept.
    */
  private def withExactPairs(df: DataFrame, textCol: String, idCol: String,
                             near: DataFrame): DataFrame = {
    val exact = exactByContent(df, textCol, idCol)
      .filter(col("n_copies") > 1)
    // exact dups may hash-group docs whose shingle sets LSH would also
    // catch, but md5 grouping is cheaper and exhaustive for identity
    val exactPairs = df.select(md5(col(textCol)).as("text_hash"),
        col(idCol).cast("long").as("other_id"))
      .join(exact, "text_hash")
      .filter(col("other_id") > col("keep_id"))
      .select(col("keep_id").as("id_a"), col("other_id").as("id_b"))
    val comp = clusters(df.select(col(idCol)), near.unionAll(exactPairs),
      idCol, "id_a", "id_b")
    comp.withColumn("keep", col("id") === col("cluster"))
  }

  /** The full production dedup pipeline with an EXACT verify stage:
    * MinHash+LSH proposes candidates (bucket-local, capped),
    * `jaccardOnPairs` verifies exactly those with true n-gram Jaccard
    * (never generating pairs from shingles), verified pairs union exact
    * duplicates into components. Versus `dedupCorpus` (which trusts the
    * minhash ESTIMATE), the verify stage removes LSH false positives at
    * O(|candidates| * doc_len) — the standard recall-from-LSH /
    * precision-from-exact-verify split.
    */
  def dedupCorpusVerified(df: DataFrame, textCol: String, idCol: String,
                          minJaccard: Double = 0.8, n: Int = 3): DataFrame = {
    val candidates = minhashCandidates(df, textCol, idCol)
      .select(col("id_a"), col("id_b"))
    val verified = jaccardOnPairs(df, textCol, idCol, candidates, "id_a", "id_b", n)
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"))
    withExactPairs(df, textCol, idCol, verified)
  }

  /** Canonical selection by QUALITY: given near-dup components
    * (id, cluster) and a per-id score, keep each cluster's best-scoring
    * member, ties to the lowest id. Production dedup keeps the BEST copy
    * of a duplicate neighborhood (highest classifier score, cleanest
    * text), not the lowest-id one — the min-id `keep` of [[dedupCorpus]]
    * is this operator's score-free degenerate case. Cost: one id join to
    * attach scores plus one window over the cluster id, both on the
    * component table (corpus-rowcount rows, two small columns); with
    * scores rounded upstream, exact-duplicate members tie and the id
    * break keeps the choice deterministic.
    */
  def keepBest(components: DataFrame, scores: DataFrame,
               idCol: String = "id", clusterCol: String = "cluster",
               scoreCol: String = "score"): DataFrame = {
    val w = Window.partitionBy(col(clusterCol))
    components.join(scores, idCol)
      .withColumn("__best",
        max_by(col(idCol), struct(col(scoreCol), negate(col(idCol)))).over(w))
      .select(col(idCol), col(clusterCol), col(scoreCol),
        (col(idCol) === col("__best")).as("keep"))
  }

  /** Exact n-gram Jaccard computed ONLY for explicit candidate pairs —
    * the verify stage that LSH / blocking candidates feed at scale. Two
    * hash joins attach each side's (distinct) shingle array, then a
    * per-row `array_intersect`: cost is O(|pairs| * doc_len) and NO pair
    * is ever generated from a shared shingle, so there is no hot-shingle
    * blowup by construction — this is the shape to prefer over
    * `ngramJaccardPairs` whenever a candidate set already exists.
    */
  def jaccardOnPairs(df: DataFrame, textCol: String, idCol: String,
                     pairs: DataFrame, aCol: String, bCol: String, n: Int,
                     carry: Seq[String] = Nil): DataFrame =
    shinglePairs(df, textCol, idCol, pairs, aCol, bCol, n, carry)(inter =>
      Seq(jaccardOf(inter).as("jaccard")))

  private def jaccardOf(inter: Column): Column =
    inter.cast("double") / (size(col("__sh_a")) + size(col("__sh_b")) - inter)

  /** The two shingle joins behind [[jaccardOnPairs]] and
    * [[containmentOnPairs]]: each candidate pair (ids cast to long, the
    * `carry` columns kept) gets both sides' distinct lowered n-gram
    * arrays `__sh_a`/`__sh_b`, and `scores` maps their intersection size
    * to the output columns placed between the ids and `carry`.
    */
  private def shinglePairs(df: DataFrame, textCol: String, idCol: String,
                           pairs: DataFrame, aCol: String, bCol: String,
                           n: Int, carry: Seq[String])
                          (scores: Column => Seq[Column]): DataFrame = {
    val sh = df.select(col(idCol).cast("long").as("__id"),
      shingles(lower(col(textCol)), n).as("__sh"))
    val inter = size(array_intersect(col("__sh_a"), col("__sh_b")))
    pairs.select(col(aCol).cast("long").as("id_a") +: col(bCol).cast("long").as("id_b")
          +: carry.map(col): _*)
      .join(sh.select(col("__id").as("id_a"), col("__sh").as("__sh_a")), Seq("id_a"))
      .join(sh.select(col("__id").as("id_b"), col("__sh").as("__sh_b")), Seq("id_b"))
      .select(Seq(col("id_a"), col("id_b")) ++ scores(inter) ++ carry.map(col): _*)
  }

  /** Shingle-set CONTAINMENT for explicit candidate pairs — the
    * asymmetric companion of [[jaccardOnPairs]]: c(a→b) = |A∩B| / |A|.
    * A quote, a boilerplate header, or a full document embedded in a
    * larger one scores near 1 on containment while its Jaccard stays
    * low (the union is dominated by the host document) — so a
    * Jaccard-thresholded dedup pass misses exactly the
    * subset-duplication a training corpus cares about. Same two hash
    * joins and per-row `array_intersect` as the Jaccard verify (cost
    * O(|pairs|·doc_len), no shingle-level pair generation); emits both
    * directions plus the Jaccard so one pass serves both policies.
    */
  def containmentOnPairs(df: DataFrame, textCol: String, idCol: String,
                         pairs: DataFrame, aCol: String, bCol: String, n: Int,
                         carry: Seq[String] = Nil): DataFrame =
    shinglePairs(df, textCol, idCol, pairs, aCol, bCol, n, carry)(inter => Seq(
      (inter.cast("double") / size(col("__sh_a"))).as("containment_a"),
      (inter.cast("double") / size(col("__sh_b"))).as("containment_b"),
      jaccardOf(inter).as("jaccard")))

  /** Exact n-gram Jaccard similarity for pairs inside coarse buckets
    * (e.g. same lang+source). Shingle-explode + self-join on shingle
    * counts the intersection; union size from per-doc distinct counts.
    * Returns pairs with jaccard >= threshold.
    *
    * `maxShingleDf` suppresses hot shingles before pair generation: a
    * stop-word shingle ("of the and") shared by m docs in one bucket
    * emits m(m-1)/2 pairs — quadratic in document frequency, THE
    * scale-killer of the naive formulation at 100 TB. Shingles with
    * DF > maxShingleDf are dropped (standard common-shingle suppression;
    * they appear in nearly every union, so the Jaccard mass they carry is
    * negligible — and at the default cap of 1000 the testdata max DF of 5
    * is untouched, so results are bit-identical to the uncapped form).
    *
    * Deliberately NOT the [[graft.operators.SubBuckets]] idiom used by
    * the sketch candidate generators: here the shingle groups COUNT the
    * pair's intersection, so chunking a hot shingle's member list would
    * drop that shingle from n_common for cross-chunk pairs only — an
    * inconsistent Jaccard. DF suppression excludes the shingle for every
    * pair uniformly, which is the consistent cap for a count-based
    * metric; candidate-only generators (minhash/simhash/cosine buckets),
    * whose pair metric is recomputed from per-row payloads, sub-bucket
    * instead.
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        bucketCols: Seq[String], n: Int, threshold: Double,
                        maxShingleDf: Int = 1000): DataFrame = {
    // Build each doc's shingle array exactly once; every exploded row
    // carries (id, n_sh) so neither a second pass nor a sizes join is
    // needed. (The self-join formulation computed the arrays three times
    // — two join legs + sizes — at 3x the cost.)
    val exploded = df.select(
      (bucketCols.map(col) :+ col(idCol).cast("long").as("id")
        :+ shingles(lower(col(textCol)), n).as("sh")): _*)
      .select((bucketCols.map(col) :+ col("id") :+ size(col("sh")).as("n_sh")
        :+ explode(col("sh")).as("s")): _*)

    // Cap shingle document frequency BEFORE grouping members: the window
    // count shares the (bucket, shingle) hash partitioning with the
    // groupBy below (one shuffle total), WindowExec spills rather than
    // buffering a hot group in memory, and after the filter no
    // aggregation buffer ever holds more than maxShingleDf members.
    val wdf = Window.partitionBy((bucketCols.map(col) :+ col("s")): _*)
    val capped = exploded
      .withColumn("__df", count(lit(1)).over(wdf))
      .filter(col("__df") <= maxShingleDf)
      .drop("__df")

    // Group docs per (bucket, shingle); emit all member pairs. Pairs per
    // shingle are m(m-1)/2 — bucket-local, DF-capped, same candidate set
    // as the self-join, one shuffle instead of a join.
    val members = capped
      .groupBy((bucketCols.map(col) :+ col("s")): _*)
      .agg(sort_array(collect_list(struct(col("id"), col("n_sh")))).as("m"))
      .filter(size(col("m")) > 1)

    val pairs = members.select(explode(
      flatten(transform(sequence(lit(0), size(col("m")) - 2), i =>
        transform(slice(col("m"), i + 2, size(col("m"))),
          other => struct(
            element_at(col("m"), (i + 1).cast("int")).getField("id").as("id_a"),
            element_at(col("m"), (i + 1).cast("int")).getField("n_sh").as("sh_a"),
            other.getField("id").as("id_b"),
            other.getField("n_sh").as("sh_b")))))).as("p"))
      .select(col("p.id_a"), col("p.sh_a"), col("p.id_b"), col("p.sh_b"))

    pairs
      .groupBy(col("id_a"), col("id_b"), col("sh_a"), col("sh_b"))
      .agg(count(lit(1)).as("n_common"))
      .select(col("id_a"), col("id_b"),
        (col("n_common").cast("double") /
          (col("sh_a") + col("sh_b") - col("n_common"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** EXACT set-similarity self-join — ALL pairs with shingle-set
    * Jaccard ≥ `threshold` — via prefix filtering (the AllPairs / PPJoin
    * family, Bayardo et al. 2007; Chaudhuri et al. 2006). Where
    * [[dedupCorpusVerified]]'s minhash path is probabilistic recall and
    * [[ngramJaccardPairs]] caps hot shingles, this join is complete by
    * theorem: sort every set by one global rarity order (ascending
    * document frequency, shingle tiebreak); if J(a, b) ≥ t, the minimal
    * shared element lies within the first |s| − ⌈t·|s|⌉ + 1 elements of
    * BOTH sets, so equi-joining on prefix tokens only cannot miss a
    * pair. The brute-force oracle re-certifies completeness every run.
    *
    * Scale shape: the prefix keeps each set's RAREST shingles —
    * candidate buckets are small by construction (a stop-word shingle
    * is in nobody's prefix unless the set is tiny), sizes prune
    * asymmetric pairs before the distinct, and exact verification
    * touches candidate pairs only, joined back by id (candidate-sized,
    * not corpus-sized). One window on the doc id ranks prefixes; the
    * shingle-DF join is the unigramLogProb hot-token shape.
    * Output: `id_a` < `id_b`, `jaccard` (rounded).
    */
  def jaccardJoinExact(df: DataFrame, textCol: String, idCol: String,
                       threshold: Double, n: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    graft.operators.Ids.requireIntegral(df, idCol)
    import org.apache.spark.sql.expressions.Window
    val sets = df.select(col(idCol).cast("long").as("id"),
        shingles(lower(col(textCol)), n).as("sh"))
      .withColumn("sz", size(col("sh")).cast("long"))
    val tok = sets.select(col("id"), col("sz"), explode(col("sh")).as("g"))
    val gdf = tok.groupBy(col("g")).agg(count(lit(1)).as("gdf"))
    val w = Window.partitionBy(col("id")).orderBy(col("gdf"), col("g"))
    val prefix = tok.join(gdf, "g")
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select(col("id"), col("sz"), col("g"))
    val cand = prefix.select(col("id").as("id_a"), col("sz").as("sz_a"), col("g"))
      .join(prefix.select(col("id").as("id_b"), col("sz").as("sz_b"), col("g")), Seq("g"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("sz_b").cast("double") >= lit(threshold) * col("sz_a")
        && col("sz_a").cast("double") >= lit(threshold) * col("sz_b"))
      .select(col("id_a"), col("id_b")).distinct()
    cand
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("__i", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("__u", size(col("sh_a")) + size(col("sh_b")) - col("__i"))
      .filter(col("__i").cast("double") >= lit(threshold) * col("__u").cast("double"))
      .select(col("id_a"), col("id_b"),
        round(col("__i").cast("double") / col("__u"), 6).as("jaccard"))
  }
}
