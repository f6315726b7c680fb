package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

/** Incremental corpus term statistics — the third ingest-mode index
  * beside [[graft.dedup.IncrementalDedup]] (text identity) and
  * [[graft.similarity.IncrementalIvf]] (vectors): document frequency /
  * term frequency / doc counts maintained as a persisted
  * [[graft.sources.VersionedTable]] of per-batch PARTIALS, so the
  * corpus-wide statistics behind TF-IDF, BM25, OOV gating and
  * vocabulary reports are available at every ingest without ever
  * rescanning previous batches.
  *
  * Index row schema: `term: string, df: long, tf: long, batch: long`,
  * plus one `term = null` row per batch carrying `(docs, tokens)` in
  * `(df, tf)` — the corpus-level denominators (N for idf, total tokens
  * for average doc length). df/tf are ALGEBRAIC (sums), so:
  *
  *   - append cost is O(batch): one map-side aggregate of the batch,
  *     nothing reads the index;
  *   - read cost is one groupBy over all partials — O(vocab × batches)
  *     rows scanned, which [[compact]] resets to O(vocab) by folding
  *     every partial into one row per term (a read-modify-write
  *     `overwrite` commit: conflict-checked, history-preserving, so
  *     pinned readers below the compaction still see the partials);
  *   - any VERSION is a consistent corpus snapshot: `termStats(v)`
  *     reproduces the statistics as of ingest v exactly (the
  *     incremental-join-view maintenance rule, Δ-append + algebraic
  *     merge).
  *
  * Tokenization is the engine-wide `split(lower(text), ' ')` — the same
  * terms every oracle replays with DuckDB's string_split.
  */
object IncrementalStats {

  /** One batch's partials: per-term `(df, tf)` plus the corpus-level
    * `term = null` row. Pure — shared by [[addBatch]] and tests.
    */
  def batchPartials(batch: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = batch.select(col(idCol).cast("long").as("id"),
      explode(split(lower(col(textCol)), " ")).as("term"))
      .filter(length(col("term")) > 0)
    val perTerm = toks.groupBy(col("term"))
      .agg(count_distinct(col("id")).as("df"), count(lit(1)).as("tf"))
    val totals = toks.agg(count_distinct(col("id")).as("df"),
        count(lit(1)).as("tf"))
      .select(lit(null).cast("string").as("term"), col("df"), col("tf"))
    perTerm.select(col("term"), col("df"), col("tf")).unionByName(totals)
  }

  /** Aggregate one batch and append its partials atomically.
    * `(txnApp, txn)` makes re-ingest idempotent
    * ([[VersionedTable.txnPin]]): a replayed batch appends nothing.
    */
  def addBatch(spark: SparkSession, batch: DataFrame, textCol: String,
               idCol: String, table: String, batchId: Long,
               txnApp: Option[String] = None,
               txn: Option[Long] = None): Unit = {
    if (!VersionedTable.txnPin(table, txnApp, txn).replayed)
      VersionedTable.commit(
        batchPartials(batch, textCol, idCol).withColumn("batch", lit(batchId)),
        table, "append", txn, txnApp, expectedVersion = None)
  }

  /** Merged per-term statistics at `version` (default latest):
    * `term, df, tf` — one row per term, the `term = null` corpus row
    * included (N docs / total tokens).
    */
  def termStats(spark: SparkSession, table: String,
                version: Option[Long] = None): DataFrame = {
    val df = VersionedTable.read(spark, table, version)
    df.groupBy(col("term"))
      .agg(sum(col("df")).as("df"), sum(col("tf")).as("tf"))
  }

  /** Fold all partials into one row per term — resets read cost to
    * O(vocab). History-preserving: an `overwrite` commit through the
    * conflict-checked read-modify-write path, so concurrent appends are
    * never lost and pinned readers below the compaction version still
    * replay the partials.
    */
  def compact(spark: SparkSession, table: String, attempts: Int = 8): Unit = {
    var left = attempts
    var done = false
    while (!done) {
      val base = VersionedTable.latestVersion(table)
      if (base < 0) return // no partials yet (empty/missing table): nothing to fold
      val merged = VersionedTable.readVersion(spark, table, base)
        .groupBy(col("term"))
        .agg(sum(col("df")).as("df"), sum(col("tf")).as("tf"))
        .withColumn("batch", lit(-1L))
      try {
        VersionedTable.commit(merged, table, "overwrite", None, None,
          expectedVersion = Some(base))
        done = true
      } catch {
        case e: java.util.ConcurrentModificationException =>
          left -= 1; if (left <= 0) throw e // a racing append won; re-read
      }
    }
  }

  /** Per-document out-of-vocabulary rate of `batch` against the index
    * at `version` — the ingest-time quality gate ("this batch is 40%
    * unseen tokens" = distribution shift or junk). Broadcast-size is
    * the VOCAB, not the corpus. Output: `id, n_tokens, n_oov,
    * oov_rate`.
    */
  def oovRate(spark: SparkSession, batch: DataFrame, textCol: String,
              idCol: String, table: String,
              version: Option[Long] = None): DataFrame = {
    val vocab = termStats(spark, table, version)
      .filter(col("term").isNotNull).select(col("term"))
    val toks = batch.select(col(idCol).cast("long").as("id"),
      explode(split(lower(col(textCol)), " ")).as("term"))
      .filter(length(col("term")) > 0)
    toks.join(vocab.withColumn("__in", lit(true)), Seq("term"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens"), 6))
  }

  /** [[oovRate]] for the regime where the vocabulary exceeds the
    * broadcast threshold AND the batch's token stream carries Zipf-hot
    * terms. The plain plan then sort-merge-joins on `term`, and AQE
    * CANNOT skew-split that join: the vocab side enters it straight out
    * of its distinct aggregate — no shuffle stage sits directly beneath
    * the join for OptimizeSkewedJoin to re-split (measured,
    * IncrementalStatsSpec r12) — so one reducer owns every occurrence
    * of a hot term. The [[graft.operators.SkewJoin]] salt recipe fixes
    * it structurally: tokens salt by doc id, the vocab side replicates
    * `salts`×, the join key becomes (term, salt), and a hot term
    * spreads over `salts` reducers. The vocab replication is the price
    * of the spread — prefer [[oovRate]] whenever the vocab broadcasts.
    * Results are identical to [[oovRate]].
    */
  def oovRateSalted(spark: SparkSession, batch: DataFrame, textCol: String,
                    idCol: String, table: String,
                    version: Option[Long] = None,
                    salts: Int = 8): DataFrame = {
    require(salts > 1, s"salts must be > 1, got $salts")
    val vocab = termStats(spark, table, version)
      .filter(col("term").isNotNull).select(col("term"))
    val toks = batch.select(col(idCol).cast("long").as("id"),
      explode(split(lower(col(textCol)), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .withColumn("__salt", pmod(xxhash64(col("id")), lit(salts)).cast("int"))
    val replicated = vocab
      .withColumn("__salt", explode(sequence(lit(0), lit(salts - 1))))
      .withColumn("__in", lit(true))
    toks.join(replicated, Seq("term", "__salt"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens"), 6))
  }
}
