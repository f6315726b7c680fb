package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.sources.Parquet

/** Structured Streaming operators (north-star — the reference is batch-
  * only, SURVEY.md §2.10). The same event-time semantics as the batch
  * queries (`q_events_hourly`, `q_sessionize`), expressed over an
  * unbounded source:
  *
  *   - tumbling event-time window aggregate with a watermark bounding
  *     state and dropping late data;
  *   - stateful gap sessionization via flatMapGroupsWithState with
  *     event-time timeout — state is one small Session per active key,
  *     emitted when the watermark passes (start of the gap), so state
  *     size is O(active users), not O(events).
  *
  * Every state read is [[graft.sources.Parquet.read]]: re-reading a
  * versioned `v<batch>` state dir starts no schema-inference job, while
  * the `__batch`-partitioned doc and drop stores take its fallback.
  */
object StreamingOps {

  case class Event(user_id: Long, ts: Timestamp, event_id: Long, value: Double)
  case class SessionState(start: Long, lastTs: Long, n: Long, total: Double)
  case class SessionOut(user_id: Long, session_start_ms: Long, session_end_ms: Long,
                        n_events: Long, total_value: Double)

  /** Tumbling window counts/sums with watermark. `append` mode emits a
    * window only after the watermark passes its end — exactly-once,
    * late-data-tolerant.
    */
  def hourlyAggregate(events: DataFrame, tsCol: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))

  /** Streaming exact dedup on an id column: state is bounded by the
    * watermark (duplicates are only expected within the watermark delay,
    * the usual at-least-once-source contract).
    */
  def dedupStream(events: DataFrame, idCol: String, tsCol: String,
                  watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(idCol)

  /** Sliding event-time windows: each event lands in width/slide
    * overlapping windows; append mode emits each window once the
    * watermark passes its end. State is one row per open (window, type)
    * — bounded by watermark delay / slide.
    */
  def slidingCounts(events: DataFrame, tsCol: String, watermark: String,
                    width: String = "1 hour", slide: String = "30 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), width, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))

  /** Watermarked stream-stream inner join: each purchase matches the
    * clicks of the same user in the hour BEFORE it. Both sides carry a
    * watermark and the join has a time-range predicate, so Spark can
    * bound both state stores (a side's row is dropped once the
    * watermark says no future match can need it) — the requirement for
    * an unbounded×unbounded join to run at all. Without the range
    * condition the state would grow forever; this is the
    * attribution-join shape (conversion ⋈ preceding impressions).
    */
  def purchaseAttribution(purchases: DataFrame, clicks: DataFrame,
                          watermark: String): DataFrame = {
    val p = purchases.withWatermark("ts", watermark)
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"), col("value").as("purchase_value"))
    val c = clicks.withWatermark("ts", watermark)
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
    p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
  }

  case class RunningTotal(user_id: Long, n_events: Long, total_value: Double)

  /** Per-key running totals via `transformWithState` (Spark 4's
    * arbitrary-state API, the successor of mapGroupsWithState): state is
    * one explicit `ValueState[RunningTotal]` per key — schema'd, TTL-able,
    * and evolvable, where the GroupState ops above carry one opaque blob.
    * Each micro-batch folds its rows into the state and emits the key's
    * updated totals (update semantics). State size is O(distinct keys);
    * at scale the state store shards by the same key hash as the
    * exchange, so no executor ever holds more than its key range.
    * Requires the RocksDB state store provider (the transformWithState
    * backend contract).
    */
  def runningTotals(events: Dataset[Event]): Dataset[RunningTotal] = {
    import org.apache.spark.sql.{Encoder, Encoders}
    import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TimerValues, TTLConfig}
    implicit val outEnc: Encoder[RunningTotal] = Encoders.product[RunningTotal]
    val processor = new StatefulProcessor[Long, Event, RunningTotal] {
      @transient private var state: org.apache.spark.sql.streaming.ValueState[RunningTotal] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        state = getHandle.getValueState[RunningTotal](
          "totals", Encoders.product[RunningTotal], TTLConfig.NONE)
      override def handleInputRows(key: Long, rows: Iterator[Event],
                                   timers: TimerValues): Iterator[RunningTotal] = {
        val prev = Option(state.get()).getOrElse(RunningTotal(key, 0L, 0.0))
        val next = rows.foldLeft(prev) { (acc, e) =>
          RunningTotal(key, acc.n_events + 1, acc.total_value + e.value)
        }
        state.update(next)
        Iterator.single(next)
      }
    }
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(processor, TimeMode.None(), OutputMode.Update())
  }

  case class EwmaState(user_id: Long, n: Long, ewma: Double)

  /** Per-key streaming EWMA — the unbounded-frame counterpart of
    * [[graft.operators.TimeSeries.ewma]]: the recurrence s ← s·α + x is
    * O(1) memory by nature, so where the batch form truncates the frame
    * to bound its collected list, the streaming form keeps the WHOLE
    * history in one double of `ValueState` per key. Rows fold in
    * arrival order within each micro-batch (the streaming contract:
    * order across batches is source order, deterministic under replay
    * from a checkpoint). Emits the key's updated (n, ewma) each batch;
    * state size is O(distinct keys), sharded with the key exchange.
    */
  def streamingEwma(events: Dataset[Event], alpha: Double): Dataset[EwmaState] = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    import org.apache.spark.sql.{Encoder, Encoders}
    import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TimerValues, TTLConfig}
    implicit val outEnc: Encoder[EwmaState] = Encoders.product[EwmaState]
    val processor = new StatefulProcessor[Long, Event, EwmaState] {
      @transient private var state: org.apache.spark.sql.streaming.ValueState[EwmaState] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        state = getHandle.getValueState[EwmaState](
          "ewma", Encoders.product[EwmaState], TTLConfig.NONE)
      override def handleInputRows(key: Long, rows: Iterator[Event],
                                   timers: TimerValues): Iterator[EwmaState] = {
        val prev = Option(state.get()).getOrElse(EwmaState(key, 0L, 0.0))
        val next = rows.foldLeft(prev) { (acc, e) =>
          EwmaState(key, acc.n + 1, acc.ewma * alpha + e.value)
        }
        state.update(next)
        Iterator.single(next)
      }
    }
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(processor, TimeMode.None(), OutputMode.Update())
  }

  case class BandHit(bucket: Long, doc_id: Long)
  case class CandidatePair(id_a: Long, id_b: Long, bucket: Long)

  /** Streaming near-duplicate candidate detection: the LSH band-bucket
    * join as a STATEFUL stream — every arriving document is checked
    * against all documents EVER seen (across micro-batches), not just
    * its own batch, which is what dropDuplicates-family ops cannot do
    * for near-duplicates.
    *
    * Dataflow: per doc, 3-gram word shingles → `bands` per-band minima
    * (xxhash64 seeded by band index — all codegen'd array functions, no
    * aggregation, so the signature is computed in the scan stage) →
    * explode to (bucket, doc) hits → `transformWithState` keyed by
    * bucket holding ONE long (the bucket's first-seen doc id), emitting
    * a candidate pair for every later arrival. State is O(distinct
    * buckets) × 8 bytes, sharded by the bucket hash like any keyed
    * state; candidates are pairs, so the downstream exact-verify
    * (`Dedup.jaccardOnPairs` in batch, or a lookup service) bounds the
    * false-positive cost exactly like the batch pipeline. A pair that
    * shares several bands is emitted once per band (carrying the
    * bucket) — dedup-after-verify, the cheap order.
    */
  /** Per-doc LSH band bucket ids as an array column: band-b's hash-
    * family minimum over the doc's 3-gram shingles, offset by the band
    * index. All codegen'd array functions — the signature is computed in
    * the scan stage, no aggregation. The offset does NOT partition the
    * 64-bit space by band — cross-band bucket collisions remain possible
    * (rare: two full-range minima landing exactly b' − b apart), and a
    * collision only adds a false-positive candidate for the verify stage
    * to clear, never a miss.
    */
  private[streaming] def bandBucketKeys(text: Column, bands: Int): Column = {
    val shingles = graft.functions.WordShingles.wordShingles(lower(text), 3)
    array((0 until bands).map { b =>
      array_min(transform(shingles, s => xxhash64(lit(b), s))) + lit(b.toLong)
    }: _*)
  }

  def streamingNearDupCandidates(docs: DataFrame, textCol: String, idCol: String,
                                 bands: Int = 16): Dataset[CandidatePair] = {
    import org.apache.spark.sql.{Encoder, Encoders}
    import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TTLConfig, TimerValues}
    require(bands > 0 && bands <= 64, s"bands must be in [1,64], got $bands")
    val spark = docs.sparkSession
    import spark.implicits._
    val hits = docs
      .select(col(idCol).cast("long").as("doc_id"),
        explode(bandBucketKeys(col(textCol), bands)).as("bucket"))
      .as[BandHit](Encoders.product[BandHit])
    implicit val outEnc: Encoder[CandidatePair] = Encoders.product[CandidatePair]
    val processor = new StatefulProcessor[Long, BandHit, CandidatePair] {
      @transient private var first: org.apache.spark.sql.streaming.ValueState[Long] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        first = getHandle.getValueState[Long]("first", Encoders.scalaLong, TTLConfig.NONE)
      override def handleInputRows(key: Long, rows: Iterator[BandHit],
                                   timers: TimerValues): Iterator[CandidatePair] = {
        val out = scala.collection.mutable.ListBuffer.empty[CandidatePair]
        rows.foreach { h =>
          if (!first.exists()) first.update(h.doc_id)
          else {
            val f = first.get()
            if (f != h.doc_id) out += CandidatePair(f, h.doc_id, key)
          }
        }
        out.iterator
      }
    }
    hits.groupByKey(_.bucket)(Encoders.scalaLong)
      .transformWithState(processor, TimeMode.None(), OutputMode.Append())
  }

  /** End-to-end streaming near-dup DEDUP — the streaming mirror of
    * [[graft.dedup.Dedup.dedupCorpusVerified]]: LSH band buckets propose
    * candidate pairs against everything ever seen, exact n-gram Jaccard
    * ([[graft.dedup.Dedup.jaccardOnPairs]]) verifies each candidate
    * inside foreachBatch, and verified duplicates land in a maintained
    * drop-list — so LSH supplies recall, the verify stage supplies
    * precision, and a false candidate (band-minimum collision) costs one
    * Jaccard evaluation instead of a lost document.
    *
    * Per micro-batch, under `stateDir`:
    *   - `buckets/v<batchId>`: (bucket, first_id) — first-seen doc per
    *     band bucket (first = min doc_id on the bucket's debut batch, a
    *     deterministic refinement of the processor's arrival order).
    *     Versioned like [[cdcSnapshotSink]]: each batch reads the latest
    *     version BEFORE its id and writes its own, so replays converge.
    *   - `docs/`, `pairs/`, `drops/`: hive-partitioned by `__batch` with
    *     dynamic partition overwrite (the [[partitionOverwriteSink]]
    *     recipe) — a replayed batch rewrites exactly its own partition.
    *     `pairs` records every candidate WITH its verified jaccard and
    *     dropped flag (the audit trail); `drops` the dropped ids.
    *
    * Read the surviving corpus with [[currentKeepList]]. Scale notes: the
    * bucket table is O(distinct buckets) and rewrites once per batch — at
    * cluster scale move it into `transformWithState` state (the
    * [[streamingNearDupCandidates]] shape) and keep ONLY verify+sinks in
    * foreachBatch; the doc-store join side is the same
    * O(|candidates| · doc_len) as the batch pipeline.
    */
  def streamingDedupVerified(docs: DataFrame, textCol: String, idCol: String,
                             stateDir: String, minJaccard: Double = 0.8,
                             bands: Int = 16)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(bands > 0 && bands <= 64, s"bands must be in [1,64], got $bands")
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        val b = batch
          .select(col(idCol).cast("long").as("doc_id"), col(textCol).cast("string").as("text"))
          .dropDuplicates("doc_id")
          .localCheckpoint() // feeds hits, the corpus union, and the doc sink
        val hits = b.select(col("doc_id"),
          explode(bandBucketKeys(col("text"), bands)).as("bucket"))
        val prevBuckets = latestVersion(s"$stateDir/buckets", before = Some(batchId)) match {
          case Some(v) => Parquet.read(s, s"$stateDir/buckets/v$v")
          case None => s.createDataFrame(
            s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("bucket",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("first_id",
                org.apache.spark.sql.types.LongType))))
        }
        // candidates vs history: the bucket's first-seen doc pairs with
        // every later arrival (the transformWithState emission, replayed
        // relationally)
        val cross = hits.join(prevBuckets, "bucket")
          .filter(col("doc_id") =!= col("first_id"))
          .select(col("first_id").as("id_a"), col("doc_id").as("id_b"))
        // candidates within this batch, for buckets debuting now
        val newHits = hits.join(prevBuckets, Seq("bucket"), "left_anti")
        val firsts = newHits.groupBy(col("bucket")).agg(min(col("doc_id")).as("first_id"))
          .localCheckpoint() // feeds the pair join and the state write below
        val inBatch = newHits.join(firsts, "bucket")
          .filter(col("doc_id") =!= col("first_id"))
          .select(col("first_id").as("id_a"), col("doc_id").as("id_b"))
        val candidates = cross.unionByName(inBatch).distinct()
        val docStore = scala.util.Try(Parquet.read(s, s"$stateDir/docs"))
          .map(_.select(col("doc_id"), col("text"))).getOrElse(b.limit(0))
        val corpus = docStore.unionByName(b).dropDuplicates("doc_id")
        val verified = graft.dedup.Dedup
          .jaccardOnPairs(corpus, "text", "doc_id", candidates, "id_a", "id_b", n = 3)
          .withColumn("dropped", col("jaccard") >= minJaccard)
          .withColumn("__batch", lit(batchId))
          .localCheckpoint() // audit sink + drop sink share the verify work
        verified.write.mode("overwrite").partitionBy("__batch")
          .parquet(s"$stateDir/pairs")
        verified.filter(col("dropped"))
          .select(col("id_b").as("doc_id")).distinct()
          .withColumn("__batch", lit(batchId))
          .write.mode("overwrite").partitionBy("__batch")
          .parquet(s"$stateDir/drops")
        b.withColumn("__batch", lit(batchId))
          .write.mode("overwrite").partitionBy("__batch")
          .parquet(s"$stateDir/docs")
        prevBuckets.unionByName(firsts)
          .write.mode("overwrite").parquet(s"$stateDir/buckets/v$batchId")
    }
  }

  /** The surviving corpus under a [[streamingDedupVerified]] state dir:
    * every doc ever ingested, minus the verified drop-list.
    */
  def currentKeepList(spark: SparkSession, stateDir: String): DataFrame = {
    val docs = Parquet.read(spark, s"$stateDir/docs")
    val drops = scala.util.Try(Parquet.read(spark, s"$stateDir/drops"))
      .getOrElse(docs.limit(0))
    docs.join(drops.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("text"))
  }

  /** foreachBatch idempotent file sink: each micro-batch of an update-
    * mode aggregate rewrites exactly the hive partitions it touches
    * (dynamic partition overwrite), so replaying a batch after a failure
    * converges to the same files instead of appending duplicates — the
    * standard exactly-once recipe when a plain append sink isn't enough.
    */
  def partitionOverwriteSink(out: DataFrame, dir: String, partitionCol: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    out.writeStream.outputMode("update").foreachBatch { (batch: DataFrame, _: Long) =>
      batch.sparkSession.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      batch.write.mode("overwrite").partitionBy(partitionCol).parquet(dir)
    }

  /** CDC snapshot maintenance: a change stream (payload + seq + op
    * columns, as in [[graft.operators.Cdc.applyChanges]]) continuously
    * folded into a versioned parquet snapshot — the streaming MERGE
    * INTO for plain-parquet pipelines. Each micro-batch reads the
    * previous version, applies latest-wins upsert/delete semantics, and
    * writes `dir/v<batchId>`; versioned writes make replay IDEMPOTENT
    * (a re-delivered batch overwrites its own version, so the chain
    * converges instead of double-applying) and leave prior versions
    * readable, time-travel style. Read the current state with
    * [[latestSnapshot]].
    */
  def cdcSnapshotSink(changes: DataFrame, dir: String, keyCol: String,
                      seqCol: String, opCol: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val payloadCols = changes.columns.filterNot(c => c == seqCol || c == opCol)
    changes.writeStream.outputMode("update").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val snap = latestVersion(dir, before = Some(batchId)) match {
          case Some(v) => Parquet.read(s, s"$dir/v$v")
          case None =>
            s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              org.apache.spark.sql.types.StructType(
                payloadCols.map(batch.schema(_)).toIndexedSeq))
        }
        graft.operators.Cdc.applyChanges(snap, batch, keyCol, seqCol, opCol)
          .write.mode("overwrite").parquet(s"$dir/v$batchId")
    }
  }

  /** Streaming heavy hitters: the [[graft.functions.SpaceSavingAgg]]
    * sketch as a STATEFUL streaming aggregate — the state store holds
    * one capacity-bounded buffer (not per-key counts, which would grow
    * with cardinality), each micro-batch merges into it, and every
    * trigger emits the current top list. Same exactness certificate as
    * the batch operator: while distinct values ≤ capacity the counts
    * are exact (the differential spec pins stream ≡ batch there);
    * beyond it, SpaceSaving's ±error bound applies.
    */
  def streamingHeavyHitters(rows: DataFrame, valueCol: String,
                            capacity: Int): DataFrame =
    rows.groupBy().agg(graft.functions.SpaceSavingAgg
      .spaceSaving(col(valueCol), capacity).as("hh"))

  /** Streaming content manifest: each micro-batch's per-partition
    * [[graft.operators.Profile.contentManifest]] is MERGED into a
    * versioned running manifest — counts and id ranges combine by
    * sum/min/max, and the mod-10^18 fingerprint merges because modular
    * sums compose ((a mod M) + (b mod M) ≡ a+b mod M). The invariant a
    * consumer audits: the running manifest after batch k EQUALS the
    * batch manifest of all rows so far (differential-tested against
    * the batch operator in StreamingSpec — the strongest in-sandbox
    * check, since streaming has no DuckDB oracle). Versioned writes
    * make replay idempotent, like [[cdcSnapshotSink]]. Assumes an
    * append-only stream (rows are never retracted — the manifest is a
    * record of everything ever shipped).
    */
  def manifestSink(rows: DataFrame, dir: String, partCol: String,
                   idCol: String, contentCol: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val mod = 1000000000000000000L
    rows.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val bm = graft.operators.Profile.contentManifest(
          batch, Seq(partCol), idCol, contentCol)
        val merged = latestVersion(dir, before = Some(batchId)) match {
          case Some(v) =>
            Parquet.read(s, s"$dir/v$v").unionByName(bm)
              .groupBy(col(partCol))
              .agg(sum(col("n_rows")).as("n_rows"),
                min(col("min_id")).as("min_id"), max(col("max_id")).as("max_id"),
                pmod(sum(col("fingerprint")), lit(mod)).cast("long")
                  .as("fingerprint"))
          case None => bm
        }
        merged.write.mode("overwrite").parquet(s"$dir/v$batchId")
    }
  }

  /** The current running manifest (highest version under `dir`). */
  def latestManifest(spark: SparkSession, dir: String): DataFrame =
    latestSnapshot(spark, dir)

  /** The current CDC snapshot (highest version under `dir`). */
  def latestSnapshot(spark: SparkSession, dir: String): DataFrame =
    Parquet.read(spark, s"$dir/v${latestVersion(dir, None).get}")

  private def latestVersion(dir: String, before: Option[Long]): Option[Long] = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).toSeq.flatten
      .flatMap(f => scala.util.Try(f.getName.stripPrefix("v").toLong).toOption
        .filter(_ => f.getName.startsWith("v")))
      .filter(v => before.forall(v < _))
      .sorted.lastOption
  }

  /** Gap-based streaming sessionization: a session closes when no event
    * arrives for `gapMs` (by event time, enforced by watermark timeout).
    */
  def sessionize(events: Dataset[Event], gapMs: Long)
                (implicit spark: SparkSession): Dataset[SessionOut] = {
    import spark.implicits._
    events
      // milliseconds, not a truncating /1000: a sub-second or non-whole-
      // second gap must not yield a watermark delay SHORTER than the gap,
      // or late events that batch Sessionize.byGap would still fold into
      // a session get dropped, breaking stream/batch parity
      .withWatermark("ts", s"$gapMs milliseconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(userId, s.start, s.lastTs, s.n, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var cur = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastTs <= gapMs =>
                  cur = Some(s.copy(lastTs = math.max(s.lastTs, t), n = s.n + 1,
                    total = s.total + e.value))
                case Some(s) =>
                  closed += SessionOut(userId, s.start, s.lastTs, s.n, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastTs + gapMs)
            }
            closed.result().iterator
          }
      }
  }
}
