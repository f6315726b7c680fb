package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic distributed sampling.
  *
  * `sample(fraction)` / `stat.sampleBy` are seed-reproducible only for a
  * fixed partitioning — a repartitioned rerun draws different rows, which
  * breaks audit/replay of a training-data snapshot. Hash-rank sampling is
  * reproducible under ANY partitioning: rank rows by a hash of their key
  * and keep the k smallest per stratum (a bottom-k sketch). It is also
  * merge-able — bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪ bottom-k(B)) —
  * so samples of shards combine without re-scanning the shards.
  */
object Sampling {

  /** The k rows with smallest md5(key) per group — a uniform,
    * deterministic, merge-able sample of k rows per stratum. Runs on the
    * [[graft.plans.TopKPerGroup]] physical operator (bounded map-side
    * heaps), so the exchange carries at most k rows per (group,
    * partition) instead of the whole table; `keyCol` ascending breaks the
    * (practically impossible) hash-collision tie to keep the order total.
    * Appends `rn` (1-based rank within the sample). Requires
    * `GraftExtensions` on the session.
    */
  def bottomKByHash(df: DataFrame, groupCols: Seq[String], keyCol: String,
                    k: Int): DataFrame = {
    val hashed = df.withColumn("__h", md5(col(keyCol).cast("string")))
    graft.plans.TopKPerGroup
      .perGroup(hashed, groupCols, "__h", keyCol, k, desc = false)
      .drop("__h")
  }

  /** Importance-weighted sampling without replacement (Efraimidis-
    * Spirakis A-ES): per row, priority = u^(1/w) with u a hash-derived
    * uniform in (0,1); the k highest-priority rows per stratum are a
    * weighted sample without replacement. With u from md5 (not an RNG),
    * the draw is deterministic, partitioning-invariant, and replayable —
    * the property every other sampler here guarantees — while rows with
    * twice the weight are twice as likely to land in the sample (the
    * DoReMi-style importance reweighting draw).
    *
    * u = first 13 hex digits of md5(key) / 16^13 — 52 uniform bits, all
    * exactly representable in a double, identically computable by any
    * engine with md5. One window sort per stratum, like
    * [[mixtureSample]]; at scale this is a single range-partitioned
    * sort, and k-per-stratum keeps output bounded.
    */
  def weightedSample(df: DataFrame, stratumCol: String, keyCol: String,
                     weightCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = conv(substring(md5(col(keyCol).cast("string")), 1, 13), 16, 10)
      .cast("double") / math.pow(16.0, 13)
    // priority = u^(1/w); rows with w <= 0 never qualify (priority -1)
    val pri = when(col(weightCol) > 0.0,
      pow(u, lit(1.0) / col(weightCol))).otherwise(lit(-1.0))
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(col("__pri").desc, col(keyCol))
    df.withColumn("__pri", pri)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k && col("__pri") >= 0.0)
      .drop("__pri")
  }

  /** Balanced class downsampling: keep min-class-count rows PER CLASS,
    * selected by md5-of-key rank — the deterministic, replayable
    * rebalance before training on a skewed label (every class ends up
    * exactly the size of the smallest). The min count is a 1-row
    * driver read off the class histogram (bounded by |classes|, the
    * Ivf-centroid collect discipline); selection then reuses
    * [[bottomKByHash]]'s PartialTopK pathway, so the exchange carries
    * at most k rows per (class, partition). Requires `GraftExtensions`
    * on the session. Appends `rn` (1-based rank within the class).
    */
  def classBalance(df: DataFrame, classCol: String, keyCol: String): DataFrame = {
    val counts = df.filter(col(classCol).isNotNull)
      .groupBy(col(classCol)).agg(count(lit(1)).as("__n"))
    val minRow = counts.agg(min(col("__n"))).head
    require(!minRow.isNullAt(0), "classBalance: no rows with a non-null class")
    val minCount = minRow.getLong(0)
    require(minCount <= Int.MaxValue, "min class count exceeds Int range")
    bottomKByHash(df.filter(col(classCol).isNotNull), Seq(classCol), keyCol,
      minCount.toInt)
  }

  /** Deterministic negative sampling over a DENSE 0..N−1 id space —
    * the contrastive-training data step: for each row, `k`
    * pseudo-random partner ids drawn by md5 (engine-portable, so the
    * exact negative set is replayable anywhere), self-collisions
    * remapped to the next id. PRECONDITION: `idCol` must be dense
    * 0..N−1 (the corpus contract of the synthetic documents table;
    * re-index first otherwise — with a sparse id space some draws
    * reference nonexistent rows, and that is NOT detected here).
    *
    * Scale shape: N is a 1-row broadcast (no driver read); the draw is
    * scan-stage md5 arithmetic exploded k-fold — zero shuffles beyond
    * the count.
    *
    * Output: idCol, `j` (1..k), `neg_id`.
    */
  def negativeSamples(df: DataFrame, idCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val n1 = df.agg(count(lit(1)).as("__N"))
    val raw = conv(substring(md5(concat(col(idCol).cast("string"), lit("_"),
      col("j").cast("string"))), 1, 13), 16, 10).cast("long") % col("__N")
    df.select(col(idCol))
      .crossJoin(broadcast(n1))
      .select(col(idCol), explode(sequence(lit(1L), lit(k.toLong))).as("j"),
        col("__N"))
      .select(col(idCol), col("j"), raw.as("__raw"), col("__N"))
      .select(col(idCol), col("j"),
        when(col("__raw") === col(idCol), (col("__raw") + 1) % col("__N"))
          .otherwise(col("__raw")).as("neg_id"))
  }

  /** Domain-mixture sampling: keep a per-stratum FRACTION (the
    * pretraining mixture weight) instead of a fixed k — stratum quota =
    * floor(weight * stratum size), membership by md5-of-key rank, so
    * the draw is deterministic, partitioning-invariant, and audit-
    * replayable like bottomKByHash. One window sort per stratum: rank
    * and stratum count share the same partitioning (single exchange);
    * rows outside the quota are filtered before anything downstream.
    */
  /** Deterministic global shuffle order — the corpus-shuffling step
    * before a training run: every row gets `global_pos`, its 0-based
    * rank in md5-of-key order. Same determinism contract as every
    * sampler here (partitioning-invariant, replayable), and the total
    * order is computed WITHOUT the classic scale-killer (a
    * no-partition window = one task sorting the corpus):
    *
    *   1. shard by the top 60 hash bits (`div` on a contiguous range —
    *      shard order IS hash order, so shard boundaries respect the
    *      global order);
    *   2. rank locally inside each shard (parallel window);
    *   3. shard row-counts (shard-count-sized) prefix-sum into exclusive
    *      offsets, broadcast back: global_pos = offset + local rank.
    *
    * The two-level rank is the [[graft.text.Pack.chunkAssignments]]
    * cumulative-sum shape with count in place of token length. The
    * shard id is arithmetic on the hash, so there is no range exchange
    * to pin; [[RankedStats.withCumulative]] documents the range-sharded
    * variant and its caveats. The shard count is
    * [[Parallelism.shards]]; the order does not depend on it.
    * Ties in the 60-bit prefix break on the key itself, keeping the
    * order total — the oracle replays exactly (prefix, key) ordering.
    *
    * PRECONDITION: `keyCol` values must be UNIQUE (like the integral-id
    * contracts elsewhere). Duplicate keys share (hash, key) entirely, so
    * row_number among them is partitioning-dependent and the
    * determinism/replayability contract breaks for exactly those rows —
    * dedup or add a tiebreaker column to the key first.
    */
  def globalShuffleOrder(df: DataFrame, keyCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nSh = Parallelism.shards(df.sparkSession)
    val h = conv(substring(md5(col(keyCol).cast("string")), 1, 15), 16, 10).cast("long")
    val width = (1L << 60) / nSh + 1
    val sharded = df.withColumn("__h", h)
      .withColumn("__shard", expr(s"__h div $width"))
    val wLocal = Window.partitionBy(col("__shard")).orderBy(col("__h"), col(keyCol))
    val local = sharded.withColumn("__lrk", row_number().over(wLocal).cast("long"))
    val wOff = Window.orderBy(col("__shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy(col("__shard")).agg(count(lit(1)).as("__tot"))
      .select(col("__shard"),
        coalesce(sum(col("__tot")).over(wOff), lit(0L)).as("__off"))
    local.join(broadcast(offsets), Seq("__shard"))
      .withColumn("global_pos", col("__off") + col("__lrk") - 1)
      .drop("__h", "__shard", "__lrk", "__off")
  }

  def mixtureSample(df: DataFrame, stratumCol: String, keyCol: String,
                    weights: Map[String, Double],
                    defaultWeight: Double): DataFrame = {
    require((defaultWeight +: weights.values.toSeq).forall(w => w >= 0 && w <= 1),
      "mixture weights must be in [0,1]")
    import org.apache.spark.sql.expressions.Window
    val w = weights.foldLeft(lit(defaultWeight)) { case (acc, (s, wt)) =>
      when(col(stratumCol) === s, lit(wt)).otherwise(acc)
    }
    val part = Window.partitionBy(col(stratumCol))
    val byHash = part.orderBy(md5(col(keyCol).cast("string")), col(keyCol))
    df.withColumn("__rk", row_number().over(byHash).cast("long"))
      .withColumn("__quota", floor(w * count(lit(1)).over(part)).cast("long"))
      .filter(col("__rk") <= col("__quota"))
      .drop("__quota")
      .withColumnRenamed("__rk", "rk")
  }

  /** Stratified sample under NEYMAN ALLOCATION: the `totalN` budget is
    * split across strata ∝ N_h·σ_h (stratum size × stratum standard
    * deviation of `valueCol`) — the allocation that minimizes the
    * variance of the stratified mean estimator for a fixed budget,
    * instead of the proportional-to-size default that oversamples
    * homogeneous strata.
    *
    * Allocation: per-stratum (N, Σv, Σv²) in DECIMAL(18,2) → exact
    * sample σ_h; k_h = min(⌊totalN · N_h σ_h / Σ N_h σ_h⌋, N_h)
    * (floor, not round — round's half-up boundary is engine-dependent;
    * k_h = 0 everywhere when every stratum is constant). The draw is
    * the same replayable device as [[mixtureSample]]: rank by
    * md5(key) within stratum, keep rank ≤ k_h — deterministic,
    * partitioning-invariant, computable by any engine with md5.
    *
    * Scale shape: one corpus groupBy for moments (strata-sized
    * output, global window over it), one range-partitioned sort per
    * stratum for the ranking, allocation broadcast back. Output: the
    * sampled rows plus `rn` (rank in stratum) and `k_alloc` (the
    * stratum's allocation).
    */
  def neymanSample(df: DataFrame, stratumCol: String, keyCol: String,
                   valueCol: String, totalN: Long): DataFrame = {
    require(totalN > 0, s"totalN must be > 0, got $totalN")
    import org.apache.spark.sql.expressions.Window
    val v = col(valueCol).cast("decimal(18,2)")
    val per = df.filter(col(stratumCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(stratumCol).as("__st"))
      .agg(count(lit(1)).as("__n"), sum(v).as("__s"), sum(v * v).as("__q"))
    val sd = when(col("__n") > 1,
      sqrt((col("__q").cast("double") - col("__s").cast("double")
        * col("__s").cast("double") / col("__n").cast("double"))
        / (col("__n") - 1).cast("double"))).otherwise(lit(0.0))
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val alloc = lit(totalN.toDouble) *
      (col("__n").cast("double") * col("__sd")) / col("__tot")
    val strata = per.withColumn("__sd", sd)
      .withColumn("__tot", sum(col("__n").cast("double") * col("__sd")).over(wAll))
      .select(col("__st"),
        when(col("__tot") === 0.0, lit(0L))
          .otherwise(least(floor(alloc).cast("long"), col("__n")))
          .as("k_alloc"))
    val byHash = Window.partitionBy(col(stratumCol))
      .orderBy(md5(col(keyCol).cast("string")), col(keyCol))
    df.filter(col(stratumCol).isNotNull && col(valueCol).isNotNull)
      .withColumn("rn", row_number().over(byHash).cast("long"))
      .join(broadcast(strata), col(stratumCol) === col("__st"))
      .filter(col("rn") <= col("k_alloc"))
      .drop("__st")
  }

  /** Cluster-aware (leakage-safe) train/val/test split: every connected
    * component of the near-duplicate `pairs` graph lands in the SAME
    * fold.
    *
    * A per-document hash split (the [[graft.SparkEntry]] q_hash_split
    * shape) puts each member of a near-duplicate pair in train with
    * probability p independently, so a pair straddles the train/test
    * boundary with probability 2p(1-p) — at p=0.8 that's 32% of all
    * near-dup pairs leaking train content into test. Hashing the
    * component's canonical (min-id) label instead makes the fold
    * assignment constant within each component by construction.
    *
    * Dataflow: [[graft.dedup.Dedup.clusters]] label propagation
    * (O(diameter) bucket-local rounds), then the bucket is a scan-stage
    * projection over the final labels — PolyHash of the decimal cluster
    * id mod `nBuckets`, replayable by any engine — and the split
    * boundaries are plain bucket comparisons. Nothing beyond the label
    * propagation shuffles; singleton documents (no pairs) keep
    * cluster = own id and spread uniformly across buckets.
    *
    * Output: `id`, `cluster`, `bucket`, `split` ∈ train|val|test.
    */
  def leakageSafeSplit(ids: DataFrame, idCol: String,
                       pairs: DataFrame, aCol: String, bCol: String,
                       trainBuckets: Int = 8, valBuckets: Int = 1,
                       nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 2 && trainBuckets >= 1 && valBuckets >= 0 &&
      trainBuckets + valBuckets < nBuckets,
      s"need 1 <= trainBuckets, 0 <= valBuckets, trainBuckets + valBuckets " +
        s"< nBuckets to leave test room; got $trainBuckets/$valBuckets/$nBuckets")
    val comps = graft.dedup.Dedup.clusters(ids, pairs, idCol, aCol, bCol)
    val bucket =
      pmod(graft.functions.PolyHash.polyHash(col("cluster").cast("string")),
        lit(nBuckets.toLong))
    comps.select(col("id"), col("cluster"), bucket.as("bucket"),
      when(bucket < trainBuckets, "train")
        .when(bucket < trainBuckets + valBuckets, "val")
        .otherwise("test").as("split"))
  }
}
