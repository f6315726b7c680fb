package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal Delta-style transactional table on plain parquet: an ordered
  * commit log of immutable JSON entries under `_graft_log/`, each
  * pointing at the immutable data directory its commit wrote. Readers
  * reconstruct any version by replaying the log (last `overwrite` +
  * subsequent `append`s); writers race for the next version number with
  * an ATOMIC create — the Delta Lake commit protocol (Armbrust et al.,
  * "Delta Lake: High-Performance ACID Table Storage over Cloud Object
  * Stores", VLDB 2020, §3.1) re-expressed over a filesystem with
  * O_EXCL semantics.
  *
  * Commit protocol (optimistic concurrency):
  *   1. stage: write the DataFrame as parquet into `data/<uuid>/` —
  *      invisible to readers until a log entry references it.
  *   2. claim-and-publish in ONE atomic step: the full entry is written
  *      to a temp file, then `Files.createLink(_graft_log/<v>.json, tmp)`
  *      materializes it at the version slot — hard-link creation is
  *      create-if-absent (POSIX O_EXCL) AND carries the complete
  *      content, so a published version is complete the instant it
  *      exists. There is no claimed-but-unpublished window, hence a
  *      version that readers have seen can never change contents
  *      (commits are immutable) and versions are claimed strictly in
  *      order (no transient mid-log gaps). A loser gets
  *      FileAlreadyExistsException and retries at v+1.
  * On S3-class stores without atomic create, step 2 needs a commit
  * coordinator (as Delta itself does); the log/data layout is unchanged.
  *
  * Conflict semantics: blind version-bump retry is only safe for
  * commits whose content does not depend on what they read — appends
  * and caller-computed overwrites. Read-modify-write commits
  * ([[merge]], [[compact]], [[compactZorder]]) pass the version they
  * read as `expectedVersion`; if another writer lands first, the commit
  * throws ConcurrentModificationException and the operation re-reads
  * the new snapshot and recomputes — Delta's re-validate-and-retry
  * rule, so no concurrent update is silently discarded.
  *
  * Scale notes: the log is metadata — entries are O(100 bytes); data
  * dirs are whole parquet directories, so commit cost is one rename-
  * free reference regardless of table size. Reads prune to exactly the
  * dirs the replayed version references (a snapshot read never lists
  * dead versions' files). Compaction ([[compact]]) is a normal commit:
  * old versions stay time-travelable until [[vacuum]] drops them.
  * Two growth dimensions and their mitigations, both the same moves
  * Delta makes: (1) O(total commits) log listings are avoided by
  * CHECKPOINTING: every [[CheckpointInterval]] commits the writer
  * snapshots the replay closure into `<v>.checkpoint` and points
  * `_last_checkpoint` at it; snapshot reads and latest-version lookups
  * then load one checkpoint and PROBE forward entry-by-entry (direct
  * path existence checks, no directory listing) — O(tail), not
  * O(history). Time travel below the newest checkpoint falls back to a
  * full-log replay. (2) a long append chain makes the snapshot a deep
  * scan-union — the small-files problem — which [[compact]]/
  * [[compactZorder]] collapse into one overwrite without losing
  * history.
  */
object VersionedTable {

  final case class Commit(version: Long, mode: String, dataDir: String,
                          txn: Option[Long] = None,
                          txnApp: Option[String] = None)

  private val LogDir = "_graft_log"
  private val DataDir = "data"

  /** Writer snapshots the replay closure every this many commits. */
  val CheckpointInterval = 10

  /** Log-entry files actually read and parsed — instrumentation so
    * tests can assert the checkpointed read path touches O(tail)
    * entries, not O(history).
    */
  private[graft] val parsedEntries = new java.util.concurrent.atomic.AtomicLong(0)

  private def logPath(table: String): Path = Paths.get(table, LogDir)

  private def entryName(v: Long): String = f"$v%020d.json"

  private def checkpointName(v: Long): String = f"$v%020d.checkpoint"

  private def commitJson(c: Commit): String = {
    val app = c.txnApp.map(a => s""","txnApp":"$a"""").getOrElse("")
    val t = c.txn.map(t => s""","txn":$t""").getOrElse("")
    s"""{"version":${c.version},"mode":"${c.mode}"$app$t,"dataDir":"${c.dataDir}"}"""
  }

  private val EntryRe =
    """\{"version":(\d+),"mode":"(overwrite|append)"(?:,"txnApp":"([^"]*)")?(?:,"txn":(-?\d+))?,"dataDir":"([^"]+)"\}""".r

  // checkpoint-only line: the Delta SetTransaction record — the highest
  // txn each app has committed at/below the checkpoint version, so the
  // streaming replay guard never needs the full log
  private val TxnRe = """\{"txnApp":"([^"]*)","maxTxn":(-?\d+)\}""".r

  private def parseLine(s: String): Option[Commit] = s.trim match {
    case EntryRe(v, m, app, t, d) =>
      Some(Commit(v.toLong, m, d, Option(t).map(_.toLong), Option(app)))
    case _ => None
  }

  /** Parse the strict single-line entry this object writes. Returns
    * None for empty or unparsable entries (a legacy crashed writer's
    * claimed-but-unpublished slot; the link protocol itself never
    * leaves one).
    */
  private def parse(p: Path): Option[Commit] = {
    val name = p.getFileName.toString
    if (!name.endsWith(".json")) return None
    val bytes = Files.readAllBytes(p)
    parsedEntries.incrementAndGet()
    if (bytes.isEmpty) return None
    parseLine(new String(bytes, "UTF-8"))
  }

  /** All committed entries, version-ascending, by FULL directory
    * listing — the time-travel / audit path. Snapshot reads and
    * writers use the checkpointed probe path instead.
    */
  def history(table: String): Seq[Commit] = {
    import scala.jdk.CollectionConverters._
    val dir = logPath(table)
    if (!Files.isDirectory(dir)) return Seq.empty
    val it = Files.list(dir)
    try it.iterator().asScala.flatMap(parse).toSeq.sortBy(_.version)
    finally it.close()
  }

  // -- checkpointed read path --------------------------------------------

  /** Newest checkpoint version per `_last_checkpoint`, if any. */
  private def lastCheckpointVersion(table: String): Option[Long] = {
    val p = logPath(table).resolve("_last_checkpoint")
    if (!Files.isRegularFile(p)) None
    else scala.util.Try(new String(Files.readAllBytes(p), "UTF-8").trim.toLong)
      .toOption
  }

  /** The state stored at checkpoint `v`: the replay closure (one commit
    * JSON per line) plus the per-app max-txn map, or None if the file
    * is missing/garbled (reader falls back to the full log).
    */
  private def readCheckpoint(table: String, v: Long)
      : Option[(Seq[Commit], Map[String, Long])] = {
    val p = logPath(table).resolve(checkpointName(v))
    if (!Files.isRegularFile(p)) return None
    val lines = new String(Files.readAllBytes(p), "UTF-8").split("\n")
      .filter(_.nonEmpty)
    val commits = Seq.newBuilder[Commit]
    val txns = Map.newBuilder[String, Long]
    var bad = false
    lines.foreach { l =>
      l.trim match {
        case EntryRe(cv, m, app, t, d) =>
          commits += Commit(cv.toLong, m, d, Option(t).map(_.toLong), Option(app))
        case TxnRe(app, mx) => txns += app -> mx.toLong
        case _ => bad = true
      }
    }
    val cs = commits.result()
    if (bad || cs.isEmpty) None else Some((cs, txns.result()))
  }

  /** Entries strictly above `from`, by direct path PROBES (no listing):
    * walk v = from+1, from+2, … and stop after [[CheckpointInterval]]
    * consecutive misses (tolerates legacy gaps from the pre-link
    * two-step protocol).
    */
  private def probeAbove(table: String, from: Long): Seq[Commit] = {
    val out = Seq.newBuilder[Commit]
    var v = from + 1
    var misses = 0
    while (misses < CheckpointInterval) {
      val p = logPath(table).resolve(entryName(v))
      if (Files.isRegularFile(p)) {
        misses = 0
        parse(p).foreach(out += _)
      } else misses += 1
      v += 1
    }
    out.result()
  }

  /** The replay closure (last overwrite + subsequent appends) of the
    * newest version ≤ `version`. Uses the checkpoint + forward probes
    * when the target is at/above the newest checkpoint; full log replay
    * below it (time travel into checkpointed-over history still works).
    */
  private def snapshotCommits(table: String, version: Long): Seq[Commit] = {
    val upTo = lastCheckpointVersion(table) match {
      case Some(cp) if version >= cp =>
        readCheckpoint(table, cp) match {
          case Some((state, _)) =>
            state ++ probeAbove(table, cp).filter(_.version <= version)
          case None => history(table).filter(_.version <= version)
        }
      case _ => history(table).filter(_.version <= version)
    }
    require(upTo.nonEmpty, s"no committed version <= $version in $table")
    upTo.lastIndexWhere(_.mode == "overwrite") match {
      case -1 => upTo
      case i => upTo.drop(i)
    }
  }

  /** The replay closure of the newest version ≤ `version` — the commits
    * whose data dirs a snapshot read at that version unions. Exposed for
    * sidecar maintainers (the dedup postings table) that must map a
    * snapshot to the exact per-commit dirs it covers.
    */
  private[graft] def snapshotClosure(table: String, version: Long): Seq[Commit] =
    snapshotCommits(table, version)

  /** Latest committed version, or -1 for an empty/absent table.
    * Checkpoint + probes when available; full listing otherwise.
    */
  def latestVersion(table: String): Long = lastCheckpointVersion(table) match {
    case Some(cp) =>
      val tail = probeAbove(table, cp)
      if (tail.nonEmpty) tail.last.version else cp
    case None => history(table).lastOption.map(_.version).getOrElse(-1L)
  }

  /** Per-app highest committed txn — [[txnPin]]'s replay lookup.
    * Checkpointed map merged with a fold over the probe tail when a
    * checkpoint exists (O(tail)); full-log fold otherwise.
    * Checkpoint maps carry forward transitively, so txns survive
    * vacuum exactly like Delta's SetTransaction records do.
    */
  private[graft] def txnMaxes(table: String): Map[String, Long] =
    txnState(table)._1

  /** [[txnMaxes]] and the latest version (-1 when empty) from ONE read
    * of the checkpoint and its probe tail.
    */
  private def txnState(table: String): (Map[String, Long], Long) = {
    def fold(cs: Seq[Commit], base: Map[String, Long]): Map[String, Long] =
      cs.foldLeft(base) {
        case (m, Commit(_, _, _, Some(t), Some(app))) =>
          m.updated(app, math.max(t, m.getOrElse(app, Long.MinValue)))
        case (m, _) => m
      }
    lastCheckpointVersion(table).flatMap(cp =>
      readCheckpoint(table, cp).map { case (_, txns) =>
        val tail = probeAbove(table, cp)
        (fold(tail, txns), tail.lastOption.fold(cp)(_.version))
      }).getOrElse {
        val all = history(table)
        (fold(all, Map.empty), all.lastOption.fold(-1L)(_.version))
      }
  }

  /** Where a `(txnApp, txn)`-tagged writer stands on `table`.
    * `replayed`: this app's highest committed txn covers `txn` — batch
    * ids are monotonic per app, so the append already happened (Delta's
    * rule; an O(checkpoint-tail) lookup). `committedAt`: the version of
    * the exact `(txnApp, txn)` entry — a full history walk, run only
    * when `replayed`; None for a txn the max covers but the log lacks
    * (committed before this table tracked it, or vacuumed away).
    * `readVersion`: the snapshot the writer's reads pin — just BELOW the
    * original commit on a replay, so a replayed batch sees what its
    * first attempt saw; otherwise the latest (-1 = empty).
    */
  final case class TxnPin(replayed: Boolean, committedAt: Option[Long],
                          readVersion: Long)

  private[graft] def txnPin(table: String, txnApp: Option[String],
                            txn: Option[Long]): TxnPin = {
    val (maxes, latest) = txnState(table)
    val id = txnApp.zip(txn)
    val replayed = id.exists { case (app, t) => maxes.get(app).exists(_ >= t) }
    val committedAt =
      if (!replayed) None
      else id.flatMap { case (app, t) =>
        history(table).find(c => c.txnApp.contains(app) && c.txn.contains(t))
          .map(_.version)
      }
    TxnPin(replayed, committedAt, committedAt.fold(latest)(_ - 1))
  }

  /** Snapshot the replay closure at `v` into `<v>.checkpoint` and point
    * `_last_checkpoint` at it (tmp + ATOMIC_MOVE — readers see the old
    * or the new pointer, never a torn one). Pure metadata; cost is
    * O(closure), not O(table). `txns` is the per-app max-txn map at
    * `v` — it must MERGE the prior checkpoint's map so identities
    * older than the closure survive.
    */
  private def writeCheckpoint(table: String, v: Long, closure: Seq[Commit],
                              txns: Map[String, Long]): Unit = {
    val dir = logPath(table)
    val body = (closure.map(commitJson) ++ txns.toSeq.sortBy(_._1).map {
      case (app, mx) => s"""{"txnApp":"$app","maxTxn":$mx}"""
    }).mkString("\n")
    val tmp = Files.createTempFile(dir, s".cp$v-", ".tmp")
    Files.write(tmp, body.getBytes("UTF-8"))
    Files.move(tmp, dir.resolve(checkpointName(v)),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    val ptr = Files.createTempFile(dir, ".lastcp-", ".tmp")
    Files.write(ptr, v.toString.getBytes("UTF-8"))
    Files.move(ptr, dir.resolve("_last_checkpoint"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Seed per-app txn watermarks into `table`'s checkpoint — the
    * exactly-once bridge for RETRAIN-TO-NEW-TABLE cutovers: the new
    * index holds a REASSIGNMENT of rows whose ingest txns live in the
    * SOURCE table's log, so without the seed a checkpoint-replayed
    * pre-cutover batch would re-append its rows to the new table
    * (whose own txnMaxes are empty) — silent duplicates. Seeding
    * merges `txns` (max per app) into the head checkpoint, so replay
    * detection on the new table answers exactly as the source would.
    * Single-writer/quiesce context (the retrain contract): a
    * concurrent interval checkpoint racing this write could land a map
    * without the seeded entries.
    */
  private[graft] def seedTxns(table: String, txns: Map[String, Long]): Unit = {
    if (txns.isEmpty) return
    val head = latestVersion(table)
    require(head >= 0, s"cannot seed txns into empty table $table")
    val base = txnMaxes(table)
    val merged = base ++ txns.map { case (app, t) =>
      app -> math.max(t, base.getOrElse(app, Long.MinValue))
    }
    writeCheckpoint(table, head, snapshotCommits(table, head), merged)
  }

  // -- commit -------------------------------------------------------------

  /** Stage `df` and commit it as the next version. `mode` is
    * "overwrite" (snapshot replaces the table) or "append" (adds to
    * it). Returns the committed version. Thread/process-safe: losers of
    * a version race retry at the next number with the SAME staged data,
    * so every commit lands exactly once — safe because an append's (or
    * caller-computed overwrite's) content does not depend on the
    * version it lands at.
    *
    * `(txnApp, txn)`: the Delta `(txnAppId, txnVersion)` idempotency
    * device — a committer that may replay (a restarted streaming batch)
    * tags its commit with its app identity and batch number, and checks
    * [[txnPin]] before committing, so a replayed PAIR is skipped — two
    * queries writing the same table do not collide on bare batch ids.
    *
    * `expectedVersion`: Delta's conflict check for read-modify-write.
    * When set, the commit lands at exactly `expectedVersion + 1` or
    * throws ConcurrentModificationException (staged data is cleaned
    * up) — the caller re-reads and recomputes. When None, losers retry
    * blindly at the next version (append semantics).
    */
  def commit(df: DataFrame, table: String, mode: String,
             txn: Option[Long] = None, txnApp: Option[String] = None,
             expectedVersion: Option[Long] = None): Long = {
    require(mode == "overwrite" || mode == "append",
      s"mode must be overwrite|append, got $mode")
    // schema-on-write (Delta's append contract): an append whose
    // columns don't match the current snapshot would poison every later
    // read with a union error — fail at the write, name the drift.
    // Overwrites may change schema freely (they truncate the replay).
    // The check reads ONE data dir — the newest commit's — not the
    // whole snapshot: every prior append passed this same check against
    // its then-snapshot, so by induction every dir since the last
    // overwrite carries one schema and the newest stands for all of
    // them. This keeps the per-append metadata cost O(1) in table size
    // (an ingest loop appends forever; an O(#files) listing per append
    // would make batch N+1 pay for batches 0..N).
    if (mode == "append") {
      val latest = latestVersion(table)
      if (latest >= 0) {
        val newestDir = snapshotCommits(table, latest).last.dataDir
        val want = Parquet.schemaOf(df.sparkSession, Paths.get(table, newestDir).toString)
          .fields.map(f => (f.name, f.dataType)).toSet
        val got = df.schema.fields.map(f => (f.name, f.dataType)).toSet
        require(got == want,
          s"append schema mismatch: appending ${df.schema.simpleString} " +
            s"to a table whose snapshot schema differs — overwrite to evolve")
      }
    }
    val uuid = java.util.UUID.randomUUID().toString
    val staged = Paths.get(table, DataDir, uuid)
    df.write.mode("errorifexists").parquet(staged.toString)
    try claimSlot(table, mode, s"$DataDir/$uuid", txn, txnApp, expectedVersion)
    catch {
      case e: java.util.ConcurrentModificationException =>
        // the staged dir will never be referenced — reclaim it now
        // rather than leaving it to vacuum's orphan sweep
        deleteRecursively(staged)
        throw e
    }
  }

  /** The log side of the commit protocol — everything after staging.
    * Spark-free on purpose: the cross-JVM race test drives THIS.
    */
  private[graft] def claimSlot(table: String, mode: String, dataDir: String,
                               txn: Option[Long], txnApp: Option[String],
                               expectedVersion: Option[Long]): Long = {
    Files.createDirectories(logPath(table))
    var v = expectedVersion.map(_ + 1).getOrElse(latestVersion(table) + 1)
    while (true) {
      val slot = logPath(table).resolve(entryName(v))
      val entry = commitJson(Commit(v, mode, dataDir, txn, txnApp))
      val tmp = Files.createTempFile(logPath(table), s".$v-", ".tmp")
      Files.write(tmp, entry.getBytes("UTF-8"))
      try {
        // atomic claim WITH content: hard-link creation is O_EXCL and
        // the slot is fully published the instant it exists — no
        // in-flight window, committed versions are immutable (checked
        // non-replacing move on link-less filesystems — AtomicClaim)
        AtomicClaim.claim(slot, tmp)
        Files.deleteIfExists(tmp)
        if (v > 0 && v % CheckpointInterval == 0)
          writeCheckpoint(table, v, snapshotCommits(table, v), txnMaxes(table))
        return v
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          Files.deleteIfExists(tmp)
          if (expectedVersion.isDefined)
            throw new java.util.ConcurrentModificationException(
              s"$table moved past expected version ${expectedVersion.get} " +
                "— re-read the snapshot and recompute")
          v += 1 // another writer claimed this version — retry above it
      }
    }
    v // unreachable
  }

  private def deleteRecursively(dir: Path): Unit =
    if (Files.isDirectory(dir)) {
      val it = Files.walk(dir)
      try it.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
      finally it.close()
    }

  /** Retry loop for read-modify-write commits: read the latest
    * snapshot, recompute, commit against that exact version; if a
    * concurrent writer lands first, re-read and recompute — no
    * concurrent update is ever overwritten unseen.
    */
  private def commitRmw(spark: SparkSession, table: String, attempts: Int = 8)
                       (f: DataFrame => DataFrame): Long = {
    var left = attempts
    while (true) {
      val base = latestVersion(table)
      val next = f(readVersion(spark, table, base))
      try return commit(next, table, "overwrite", None, None, Some(base))
      catch {
        case e: java.util.ConcurrentModificationException =>
          left -= 1
          if (left <= 0) throw e
      }
    }
    -1 // unreachable
  }

  // -- reads --------------------------------------------------------------

  /** Snapshot at `version` (default: latest): the last overwrite at or
    * below it plus every append after that overwrite, as ONE multi-path
    * parquet relation — partition pruning and filter pushdown reach
    * every member dir. One relation, not a union of per-dir relations:
    * each relation pays its own file listing, so the union form made
    * every snapshot read O(commits) in plan-build cost — a visible
    * per-ingest ramp in long append chains. Parquet files are
    * self-describing and resolved by column NAME, and the append
    * contract pins every dir in the closure to one (name, type) set, so
    * the single relation reads exactly what the union did.
    *
    * The schema is the NEWEST commit's dir's ([[Parquet.read]] pins a
    * multi-path read to its last path), not whichever file inference
    * happens to sample: on any table honoring the append contract this
    * is the schema of every dir; on a table that somehow violates it
    * (hand-built dirs, external writers) the snapshot deterministically
    * reads the newest shape — older dirs resolve by column name (absent
    * -> null) and a same-name type conflict fails loudly in the reader.
    */
  def readVersion(spark: SparkSession, table: String, version: Long): DataFrame =
    Parquet.read(spark, snapshotCommits(table, version)
      .map(c => Paths.get(table, c.dataDir).toString): _*)

  /** The snapshot at `version`, or the latest committed one. */
  def read(spark: SparkSession, table: String,
           version: Option[Long] = None): DataFrame =
    readVersion(spark, table, version.getOrElse(Long.MaxValue))

  /** MERGE INTO: apply a CDC change set to the latest snapshot via
    * [[graft.operators.Cdc.applyChanges]] and commit the result as an
    * overwrite — the plain-parquet equivalent of Delta MERGE, with the
    * old snapshot still time-travelable. Conflict-safe: the commit is
    * pinned to the version the merge read; a concurrent commit forces
    * re-read + re-merge instead of silently clobbering it.
    */
  def merge(spark: SparkSession, table: String, changes: DataFrame,
            keyCol: String, seqCol: String, opCol: String): Long =
    commitRmw(spark, table) { snap =>
      graft.operators.Cdc.applyChanges(snap, changes, keyCol, seqCol, opCol)
    }

  /** Change data feed between two committed versions — Delta
    * `table_changes`: keyed added/removed/changed rows, computed by
    * [[graft.operators.SnapshotDiff.diff]] over the two replayed
    * snapshots, so the join carries (key, payload-hash), never
    * payloads, and the output is churn-sized.
    */
  def changesBetween(spark: SparkSession, table: String,
                     fromVersion: Long, toVersion: Long, keyCol: String,
                     payloadCols: Seq[String]): DataFrame =
    graft.operators.SnapshotDiff.diff(
      readVersion(spark, table, fromVersion),
      readVersion(spark, table, toVersion), keyCol, payloadCols)

  /** Streaming sink: commit every micro-batch as one `mode` commit
    * tagged with `(appId, batchId)` as the txn identity, so a REPLAYED
    * batch (restart from checkpoint) is recognized in the log and
    * skipped — exactly-once table contents over at-least-once batch
    * delivery, the Delta idempotent-writes recipe. `appId` is the
    * query's durable identity (derive it from the checkpoint location);
    * keying on the PAIR, not the bare batch id, lets two different
    * queries — both of which start at batchId 0 — share one table
    * without the second query's early batches being mistaken for
    * replays of the first's.
    */
  def streamingCommitSink(df: DataFrame, table: String,
                          appId: String, mode: String = "append")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        if (!txnPin(table, Some(appId), Some(batchId)).replayed) {
          commit(batch, table, mode, txn = Some(batchId),
            txnApp = Some(appId), expectedVersion = None)
          ()
        }
    }

  /** The commit log AS A STREAM — Delta's streaming-source/CDF-read
    * angle: one row per published log entry (version, mode, txnApp,
    * txn, dataDir), delivered exactly once by Structured Streaming's
    * file-source tracking. Safe by construction: entries are hard-link
    * published ATOMICALLY with full content, so the file source can
    * never observe a torn entry; temp files are dot-prefixed (hidden)
    * and checkpoint/pointer files fail the `*.json` glob. Pair with
    * [[hydrate]] inside `foreachBatch` to turn entries into data rows —
    * log rows are the stream (tiny, exactly-once), data hydration is a
    * batch-side parquet read of exactly the committed dirs.
    */
  def commitStream(spark: SparkSession, table: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, regexp_extract, when}
    Files.createDirectories(logPath(table))
    spark.readStream
      .option("pathGlobFilter", "*.json")
      .text(logPath(table).toString)
      .select(
        when(regexp_extract(col("value"), "\"version\":(\\d+)", 1) =!= lit(""),
          regexp_extract(col("value"), "\"version\":(\\d+)", 1).cast("long"))
          .as("version"), // unparsable line → null version, dropped below
        regexp_extract(col("value"), "\"mode\":\"(overwrite|append)\"", 1)
          .as("mode"),
        regexp_extract(col("value"), "\"txnApp\":\"([^\"]*)\"", 1)
          .as("txnApp"),
        // absent → '' → null (an eager ANSI cast of '' would throw)
        when(regexp_extract(col("value"), "\"txn\":(-?\\d+)", 1) =!= lit(""),
          regexp_extract(col("value"), "\"txn\":(-?\\d+)", 1).cast("long"))
          .as("txn"),
        regexp_extract(col("value"), "\"dataDir\":\"([^\"]+)\"", 1)
          .as("dataDir"))
      .filter(col("dataDir") =!= "" && col("version").isNotNull) // unparsable lines
  }

  /** Batch-side hydration for [[commitStream]] micro-batches (call
    * inside `foreachBatch`): reads the data rows the batch's entries
    * committed. The collect is ENTRY-sized (per-batch commit count —
    * O(100 bytes) each), never data-sized. Overwrite commits hydrate
    * to the rows they staged, i.e. the stream delivers per-commit
    * deltas, not snapshot diffs — the Delta `ignoreChanges` contract.
    * Returns None for a batch with no data-bearing entries.
    */
  def hydrate(entries: DataFrame, table: String): Option[DataFrame] = {
    val spark = entries.sparkSession
    val dirs = entries.select("dataDir").collect().map(_.getString(0))
    if (dirs.isEmpty) None
    else Some(dirs.map(d =>
        Parquet.read(spark, Paths.get(table, d).toString))
      .reduce(_.unionByName(_)))
  }

  /** OPTIMIZE: rewrite the current snapshot as one overwrite commit
    * with `targetFiles` output files — collapses append chains (and
    * their small-files problem) without losing history. Conflict-safe
    * like [[merge]]: a concurrent commit forces re-read + re-compact.
    */
  def compact(spark: SparkSession, table: String, targetFiles: Int = 1): Long =
    commitRmw(spark, table)(_.coalesce(targetFiles))

  /** OPTIMIZE with a caller-supplied layout: rewrite the current
    * snapshot as `f(snapshot)` in one conflict-checked overwrite — the
    * hook index tables use to keep their clustering (IVF's
    * cell-clustered files, the dedup index's id-sorted files, the
    * postings table's bucket-range files) through compaction, which
    * plain [[compact]]'s coalesce would destroy. Returns the committed
    * version. `f` must be row-preserving (it rewrites LAYOUT, not
    * contents) — a transform that drops or edits rows silently corrupts
    * every later read.
    */
  def compactBy(spark: SparkSession, table: String)
               (f: DataFrame => DataFrame): Long =
    commitRmw(spark, table)(f)

  /** Appends in the latest snapshot's replay closure — how far the
    * table has drifted from its last overwrite. Ingest loops use it to
    * bound how often drift-triggered compaction may run.
    */
  private[graft] def appendsSinceOverwrite(table: String): Int = {
    val latest = latestVersion(table)
    if (latest < 0) 0
    else snapshotCommits(table, latest).count(_.mode == "append")
  }

  /** OPTIMIZE ... ZORDER BY (dimA, dimB): rewrite the current snapshot
    * range-partitioned and sorted by the Morton interleave of the two
    * dimensions (the [[graft.operators.Compaction.zorderWrite]] layout)
    * as one overwrite commit — 2-D box predicates then prune to a few
    * files via parquet min/max footer stats, and every prior version
    * stays time-travelable.
    */
  def compactZorder(spark: SparkSession, table: String, dimA: String,
                    dimB: String, files: Int): Long = {
    import org.apache.spark.sql.functions.col
    commitRmw(spark, table) { snap =>
      snap
        .withColumn("__z", graft.functions.InterleaveBits.interleaveBits(
          col(dimA).cast("long"), col(dimB).cast("long")))
        .repartitionByRange(files, col("__z"))
        .sortWithinPartitions(col("__z"))
        .drop("__z")
    }
  }

  /** Drop data dirs unreachable from versions > `keepAfter` and their
    * log entries — Delta VACUUM. Time travel to <= keepAfter stops
    * working; concurrent readers of dropped versions are the caller's
    * contract to exclude (Delta's retention-window rule). Safety rails:
    * `keepAfter` is clamped to latest-1 so the CURRENT snapshot can
    * never be vacuumed away (Delta never removes files the head
    * references), and staged-but-never-committed data dirs from
    * crashed writers are reclaimed once older than `orphanGraceMs`
    * (the grace period keeps a still-staging writer's dir alive).
    * Finishes by re-checkpointing at the head so the probe path never
    * walks into the vacuumed range.
    */
  def vacuum(table: String, keepAfter: Long,
             orphanGraceMs: Long = 24L * 3600 * 1000): Unit = {
    import scala.jdk.CollectionConverters._
    val all = history(table)
    if (all.isEmpty) return
    // capture txn identities BEFORE any deletion — they must survive
    // vacuum (Delta keeps SetTransaction records through checkpoints)
    val txns = txnMaxes(table)
    val latest = all.last.version
    val cutoff = math.min(keepAfter, latest - 1) // the head always survives
    val keep = all.filter(_.version > cutoff)
    // dirs referenced by ANY kept version's replay — a kept version's
    // base overwrite (and the appends above it) may sit at or below
    // the cutoff and must survive, log entry included
    val live = keep.map(_.version).flatMap { w =>
      val upTo = all.filter(_.version <= w)
      val i = upTo.lastIndexWhere(_.mode == "overwrite")
      (if (i == -1) upTo else upTo.drop(i)).map(_.dataDir)
    }.toSet
    val dead = all.filterNot(c => live.contains(c.dataDir))
    dead.foreach { c =>
      val dir = Paths.get(table, c.dataDir)
      deleteRecursively(dir)
      Files.deleteIfExists(logPath(table).resolve(entryName(c.version)))
    }
    // reclaim orphans: data/<uuid> dirs no log entry (kept OR dead —
    // dead ones were just deleted above) ever referenced, i.e. staged
    // by a writer that died before claiming a slot
    val referenced = all.map(c =>
      Paths.get(c.dataDir).getFileName.toString).toSet
    val dataRoot = Paths.get(table, DataDir)
    if (Files.isDirectory(dataRoot)) {
      val now = System.currentTimeMillis()
      val it = Files.list(dataRoot)
      try it.iterator().asScala
        .filter(d => Files.isDirectory(d) &&
          !referenced.contains(d.getFileName.toString) &&
          now - Files.getLastModifiedTime(d).toMillis >= orphanGraceMs)
        .foreach(deleteRecursively)
      finally it.close()
    }
    // drop checkpoints that may reference vacuumed entries, then
    // re-anchor the probe path at the surviving head
    val lit = Files.list(logPath(table))
    try lit.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".checkpoint"))
      .foreach(p => Files.deleteIfExists(p))
    finally lit.close()
    val headClosure = {
      val upTo = keep
      upTo.lastIndexWhere(_.mode == "overwrite") match {
        case -1 =>
          // head's overwrite base sits below the cutoff — rebuild from
          // the full pre-vacuum view (its entries are live, kept above)
          val full = all
          full.lastIndexWhere(_.mode == "overwrite") match {
            case -1 => full
            case i => full.drop(i)
          }
        case i => upTo.drop(i)
      }
    }
    writeCheckpoint(table, latest, headClosure, txns)
  }
}
