package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{Dedup, IncrementalDedup, IncrementalMinHash}
import graft.sources.VersionedTable

class IncrementalMinHashSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("graft-incmh-spec")
      .toString + "/index"

  // planted corpus: near-dup structure known by construction under
  // 3-gram exact Jaccard >= 0.3 (each primed pair shares all but one
  // trailing shingle)
  private val tA = "the quick brown fox jumps over the lazy dog near the river bank today"
  private val tB = "completely different text about spark catalyst optimizer rules and physical plans"
  private val tC = "a third unrelated document discussing minhash banding and locality sensitive hashing"

  private def b0 = Seq((0L, tA), (2L, tB), (4L, tA + " indeed"))
    .toDF("doc_id", "text")
  private def b1 = Seq((1L, tC), (3L, tA + " yes"), (5L, tC + " for sure"))
    .toDF("doc_id", "text")
  private def store = b0.unionByName(b1)

  private def statuses(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
    df.collect().map(x => x.getLong(0) -> x.getString(2)).toMap

  test("two-batch statuses match the planted truth; index rows are slim band rows") {
    val t = freshTable()
    val r0 = statuses(IncrementalMinHash.processBatch(spark, b0, "text",
      "doc_id", t, store, threshold = 0.3, batchId = 0L))
    assert(r0 == Map(0L -> "kept", 2L -> "kept", 4L -> "dup_within_batch"), r0)
    val r1 = statuses(IncrementalMinHash.processBatch(spark, b1, "text",
      "doc_id", t, store, threshold = 0.3, batchId = 1L))
    assert(r1 == Map(1L -> "kept", 3L -> "dup_of_index",
      5L -> "dup_within_batch"), r1)

    // the index stores ONE row per (doc, band) — bands x docs rows of
    // four fixed-width columns, no shingle payload anywhere
    val idx = VersionedTable.read(spark, t)
    assert(idx.columns.sorted.toSeq == Seq("band", "batch", "bucket", "id"))
    assert(idx.count() == 6L * 16L)
    assert(idx.select(col("id")).distinct().count() == 6L)
  }

  test("statuses agree with the exact-index implementation on a corpus with complete LSH recall") {
    // differential: same parity split, same threshold — the minhash
    // face must reproduce IncrementalDedup's statuses whenever every
    // true pair shares a band bucket (here: near-identical docs agree
    // on almost every minhash, so recall is complete by construction)
    // family = i % 5 (odd stride, so every family straddles BOTH
    // parity batches — cross-index and within-batch dups both occur)
    val docs = (0 until 20).map { i =>
      val base = s"document family ${i % 5} " +
        (0 until 12).map(w => s"tok${i % 5}w$w").mkString(" ")
      (i.toLong, if (i < 5) base else base + s" v${i / 5}")
    }.toDF("doc_id", "text")
    val even = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val odd = docs.filter(pmod(col("doc_id"), lit(2)) === 1)

    val tMh = freshTable()
    val mh = statuses(IncrementalMinHash.processBatch(spark, even, "text",
      "doc_id", tMh, docs, threshold = 0.5, batchId = 0L)) ++
      statuses(IncrementalMinHash.processBatch(spark, odd, "text",
        "doc_id", tMh, docs, threshold = 0.5, batchId = 1L))

    val tEx = freshTable()
    val ex = statuses(IncrementalDedup.processBatch(spark, even, "text",
      "doc_id", tEx, threshold = 0.5, batchId = 0L)) ++
      statuses(IncrementalDedup.processBatch(spark, odd, "text",
        "doc_id", tEx, threshold = 0.5, batchId = 1L))
    assert(mh == ex, s"minhash=$mh\nexact=$ex")
  }

  test("property: minhash face == exact face on seeded random dup-heavy corpora") {
    // seeded generator: families of near-identical docs (pairwise J >=
    // ~0.85, where banded recall at (k=64, bands=16) misses a pair with
    // p < 3e-4 — and the hash family is FIXED, so a passing seed passes
    // forever) plus unique-vocab singletons. The two faces must agree
    // on every status, both within-batch and across the index boundary.
    (1 to 5).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val docs = (0 until 6).flatMap { f =>
        val words = (0 until 20).map(w => s"s${seed}f${f}w${w}t${rnd.nextInt(1000)}")
        val copies = 1 + rnd.nextInt(3) // 1..3 members per family
        (0 until copies).map(c =>
          (f * 10L + c, (words :+ s"tail$c").mkString(" ")))
      } ++ (0 until 4).map(u =>
        (100L + u, (0 until 18).map(w => s"s${seed}uniq${u}w$w").mkString(" ")))
      val df = docs.toDF("doc_id", "text").localCheckpoint()
      val even = df.filter(pmod(col("doc_id"), lit(2)) === 0)
      val odd = df.filter(pmod(col("doc_id"), lit(2)) === 1)

      val tMh = freshTable()
      val mh = statuses(IncrementalMinHash.processBatch(spark, even, "text",
        "doc_id", tMh, df, threshold = 0.6, batchId = 0L)) ++
        statuses(IncrementalMinHash.processBatch(spark, odd, "text",
          "doc_id", tMh, df, threshold = 0.6, batchId = 1L))
      val tEx = freshTable()
      val ex = statuses(IncrementalDedup.processBatch(spark, even, "text",
        "doc_id", tEx, threshold = 0.6, batchId = 0L)) ++
        statuses(IncrementalDedup.processBatch(spark, odd, "text",
          "doc_id", tEx, threshold = 0.6, batchId = 1L))
      assert(mh == ex, s"seed=$seed\nminhash=$mh\nexact=$ex")
    }
  }

  test("(txnApp, txn) replay re-reports pure statuses and appends nothing") {
    val t = freshTable()
    IncrementalMinHash.processBatch(spark, b0, "text", "doc_id", t, store,
      threshold = 0.3, batchId = 0L, txnApp = Some("app"), txn = Some(0L))
      .collect()
    val r1 = statuses(IncrementalMinHash.processBatch(spark, b1, "text",
      "doc_id", t, store, threshold = 0.3, batchId = 1L,
      txnApp = Some("app"), txn = Some(1L)))
    val rows = VersionedTable.read(spark, t).count()
    val ver = VersionedTable.latestVersion(t)

    // replay batch 1: identical statuses (pinned below the original
    // commit — its own rows are invisible), no new commit
    val r1b = statuses(IncrementalMinHash.processBatch(spark, b1, "text",
      "doc_id", t, store, threshold = 0.3, batchId = 1L,
      txnApp = Some("app"), txn = Some(1L)))
    assert(r1b == r1, s"replay diverged: $r1b vs $r1")
    assert(VersionedTable.read(spark, t).count() == rows)
    assert(VersionedTable.latestVersion(t) == ver)
  }

  test("signature geometry is pinned: a different (k, bands) refuses loudly") {
    val t = freshTable()
    IncrementalMinHash.processBatch(spark, b0, "text", "doc_id", t, store,
      threshold = 0.3, batchId = 0L).collect()
    val e = intercept[IllegalArgumentException] {
      IncrementalMinHash.processBatch(spark, b1, "text", "doc_id", t, store,
        threshold = 0.3, batchId = 1L, k = 128, bands = 32)
    }
    assert(e.getMessage.contains("geometry drift"), e.getMessage)
  }

  test("trickle ingest pushes its bucket set into the index scan") {
    val t = freshTable()
    // enough distinct docs that an unpruned read would be visibly larger
    val corpus = Seq.tabulate(60)(i => (i.toLong * 2,
      s"wholly distinct doc $i " + (0 until 12).map(w => s"t${i}w$w").mkString(" ")))
      .toDF("doc_id", "text")
    IncrementalMinHash.processBatch(spark, corpus, "text", "doc_id", t,
      corpus, threshold = 0.3, batchId = 0L).collect()

    val probe = Seq((999L, "wholly distinct doc 7 " +
      (0 until 12).map(w => s"t7w$w").mkString(" ") + " tail"))
      .toDF("doc_id", "text")
    val r = statuses(IncrementalMinHash.processBatch(spark, probe, "text",
      "doc_id", t, corpus, threshold = 0.3, batchId = 1L))
    assert(r == Map(999L -> "dup_of_index"), r)
    val plan = IncrementalMinHash.lastIndexBands.get
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"), plan.take(2000))
    assert(plan.contains("In(bucket"), plan.take(2000))
  }

  test("bulk ingest skips the bucket collect and reads the band rows unpruned") {
    // the regime gate's other half: past MaxPayloadIdCollect bucket
    // hashes (nRows x bands), collecting the probe set would cost a job
    // to push a list the parquet In-conversion bound rejects anyway —
    // the read must stay the plain (pruned-column) scan, exact either way
    val t = freshTable()
    val corpus = Seq.tabulate(70)(i => (i.toLong * 2,
      s"bulk corpus doc $i " + (0 until 12).map(w => s"b${i}w$w").mkString(" ")))
      .toDF("doc_id", "text")
    IncrementalMinHash.processBatch(spark, corpus, "text", "doc_id", t,
      corpus, threshold = 0.5, batchId = 0L).collect()
    // 70 docs x 16 bands = 1120 > 1024: the bulk regime
    val dupText = corpus.filter(col("doc_id") === 6L).head().getString(1)
    val bulk = Seq.tabulate(70)(i => (10000L + i,
      if (i == 0) dupText + " tail"
      else s"fresh bulk doc $i " + (0 until 12).map(w => s"f${i}w$w").mkString(" ")))
      .toDF("doc_id", "text")
    val r = statuses(IncrementalMinHash.processBatch(spark, bulk, "text",
      "doc_id", t, corpus.unionByName(bulk), threshold = 0.5, batchId = 1L))
    assert(r(10000L) == "dup_of_index", r(10000L))
    assert(r.values.count(_ == "kept") == 69, r.values.groupBy(identity).view.mapValues(_.size).toMap)
    val plan = IncrementalMinHash.lastIndexBands.get
      .queryExecution.executedPlan.toString
    assert(!plan.contains("In(bucket"), plan.take(2000))
  }

  test("lookupPairs is read-only and finds the planted near-dup") {
    val t = freshTable()
    IncrementalMinHash.processBatch(spark, b0, "text", "doc_id", t, store,
      threshold = 0.3, batchId = 0L).collect()
    val rows = VersionedTable.read(spark, t).count()
    val ver = VersionedTable.latestVersion(t)

    val got = IncrementalMinHash.lookupPairs(spark, t,
        Seq((100L, tA + " probe")).toDF("doc_id", "text"),
        "text", "doc_id", store, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((100L, 0L), (100L, 4L)), got)
    assert(VersionedTable.read(spark, t).count() == rows)
    assert(VersionedTable.latestVersion(t) == ver)

    // empty index: empty typed frame, no error
    val empty = IncrementalMinHash.lookupPairs(spark, freshTable(),
      Seq((1L, tA)).toDF("doc_id", "text"), "text", "doc_id", store, 0.3)
    assert(empty.count() == 0)
  }

  test("reconcile settles cross-writer racing copies on the minhash face") {
    // the exact-face race spec's shape: two writers ingest the SAME doc
    // simultaneously; depending on interleaving the race materializes
    // (both kept) or resolves at ingest — the sweep + apply must leave
    // EXACTLY ONE kept copy either way. The minhash sweep re-signs the
    // window docs from the doc store under the pinned geometry.
    val t = freshTable()
    val raceText = "two writers commit this very same document at the very same moment"
    val all = Seq((0L, tA), (30L, raceText), (31L, tB), (40L, raceText),
      (41L, tC)).toDF("doc_id", "text").localCheckpoint()
    IncrementalMinHash.processBatch(spark,
      Seq((0L, tA)).toDF("doc_id", "text"), "text", "doc_id", t, all,
      threshold = 0.5, batchId = 0L,
      txnApp = Some("seed"), txn = Some(0L)).collect()
    val raceFrom = VersionedTable.latestVersion(t)

    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val fA = Future(IncrementalMinHash.processBatch(spark,
      Seq((30L, raceText), (31L, tB)).toDF("doc_id", "text"),
      "text", "doc_id", t, all, threshold = 0.5, batchId = 1L,
      txnApp = Some("writerA"), txn = Some(1L)).collect())
    val fB = Future(IncrementalMinHash.processBatch(spark,
      Seq((40L, raceText), (41L, tC)).toDF("doc_id", "text"),
      "text", "doc_id", t, all, threshold = 0.5, batchId = 1L,
      txnApp = Some("writerB"), txn = Some(1L)).collect())
    val decisions = (Await.result(fA, Duration.Inf)
        ++ Await.result(fB, Duration.Inf))
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSeq.toDF("id", "batch", "status")

    val corrections = IncrementalMinHash.reconcile(spark, t, all,
      "text", "doc_id", raceFrom, VersionedTable.latestVersion(t),
      threshold = 0.5)
    val correctedIds = corrections.select(col("id")).as[Long].collect().toSet
    assert(correctedIds == Set(30L, 40L), correctedIds)

    val fixed = IncrementalDedup.applyReconciliation(decisions, corrections)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("status")).toMap
    assert(Seq(30L, 40L).count(fixed(_) == "kept") == 1, fixed)
    // disjoint docs untouched; re-apply is a no-op
    assert(fixed(31L) == "kept" && fixed(41L) == "kept", fixed)
    val again = IncrementalDedup.applyReconciliation(
        IncrementalDedup.applyReconciliation(decisions, corrections),
        corrections)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("status")).toMap
    assert(again == fixed, s"re-apply changed statuses: $again vs $fixed")
  }

  test("compactIndex folds commits losslessly; ingest keeps working after") {
    val t = freshTable()
    IncrementalMinHash.processBatch(spark, b0, "text", "doc_id", t, store,
      threshold = 0.3, batchId = 0L).collect()
    IncrementalMinHash.processBatch(spark, b1, "text", "doc_id", t, store,
      threshold = 0.3, batchId = 1L).collect()
    val before = VersionedTable.read(spark, t)
      .collect().map(_.toString).sorted
    IncrementalMinHash.compactIndex(spark, t)
    val after = VersionedTable.read(spark, t)
      .collect().map(_.toString).sorted
    assert(after.toSeq == before.toSeq)

    val r = statuses(IncrementalMinHash.processBatch(spark,
      Seq((10L, tB + " again please")).toDF("doc_id", "text"),
      "text", "doc_id", t, store, threshold = 0.3, batchId = 2L))
    assert(r == Map(10L -> "dup_of_index"), r)
  }

  test("geometry pin is first-writer-wins: racing different geometries cannot clobber the landed pin") {
    // Two first-commit writers racing with DIFFERENT geometries: the
    // REPLACE_EXISTING variant let the last mover overwrite the first
    // pin, leaving the first writer's rows banded under a geometry the
    // pin no longer describes — silent missed candidates for every
    // later probe. The createLink pin makes whoever lands first own
    // the table; every thread that RETURNS must agree with the final
    // file, and at least one side must refuse loudly.
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    (1 to 5).foreach { _ =>
      val t = freshTable()
      val gate = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(8)
      val results = (0 until 8).map { i =>
        val geo = if (i % 2 == 0) (64, 16) else (128, 32)
        pool.submit(new java.util.concurrent.Callable[Either[Throwable, (Int, Int)]] {
          def call() = {
            gate.await()
            try { IncrementalMinHash.pinGeometry(t, geo._1, geo._2); Right(geo) }
            catch { case e: Throwable => Left(e) }
          }
        })
      }
      gate.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(30, TimeUnit.SECONDS))
      val outcomes = results.map(_.get())
      val pinned = IncrementalMinHash.readGeometry(t)
      assert(pinned.nonEmpty, "no geometry pinned after the race")
      val winners = outcomes.collect { case Right(g) => g }
      assert(winners.nonEmpty)
      assert(winners.forall(_ == pinned.get),
        s"a writer succeeded under ${winners.distinct} but the pin says ${pinned.get}")
      val losers = outcomes.collect { case Left(e) => e }
      assert(losers.nonEmpty && losers.forall(
        _.getMessage.contains("geometry drift")), losers.map(_.getMessage))
    }
  }

  test("lookupPairs is validate-only: never creates a pin, refuses drift and a damaged table loudly") {
    // empty index: early return, and the READ path must not stamp the
    // caller's geometry onto the table
    val tEmpty = freshTable()
    assert(IncrementalMinHash.lookupPairs(spark, tEmpty, b0, "text",
      "doc_id", store, threshold = 0.3).count() == 0L)
    assert(IncrementalMinHash.readGeometry(tEmpty).isEmpty,
      "read-only lookup created a geometry pin")

    val t = freshTable()
    IncrementalMinHash.processBatch(spark, b0, "text", "doc_id", t, store,
      threshold = 0.3, batchId = 0L).collect()
    // wrong caller geometry refuses with the drift error
    val drift = intercept[IllegalArgumentException] {
      IncrementalMinHash.lookupPairs(spark, t, b1, "text", "doc_id", store,
        threshold = 0.3, k = 128, bands = 32).collect()
    }
    assert(drift.getMessage.contains("geometry drift"), drift.getMessage)
    // rows without a pin = damaged table: loud, not a silent re-pin
    java.nio.file.Files.delete(IncrementalMinHash.geometryPath(t))
    val damaged = intercept[IllegalStateException] {
      IncrementalMinHash.lookupPairs(spark, t, b1, "text", "doc_id", store,
        threshold = 0.3).collect()
    }
    assert(damaged.getMessage.contains("no pinned geometry"), damaged.getMessage)
  }

  test("lookupPairs and processBatch agree") {
    // three batches over planted families: members of one family differ
    // only in a trailing token (3-gram Jaccard 13/15), so each batch
    // mixes index dups, within-batch dups and new docs
    val families = Seq(Seq(0, 1, 2, 0, 1, 2), Seq(0, 3, 3, 4, 1, 5),
      Seq(5, 6, 2, 6, 7, 4))
    val batches = families.zipWithIndex.map { case (fs, b) =>
      fs.zipWithIndex.map { case (f, j) =>
        val id = (b * fs.length + j).toLong
        (id, s"document family $f " +
          (0 until 12).map(w => s"tok${f}w$w").mkString(" ") + s" v$id")
      }.toDF("doc_id", "text")
    }
    val docs = batches.reduce(_.unionByName(_))
    val t = freshTable()
    batches.zipWithIndex.foreach { case (batch, b) =>
      // a fresh batch pins the latest version before its own commit
      val pinned = VersionedTable.latestVersion(t)
      val dupOfIndex = statuses(IncrementalMinHash.processBatch(spark, batch,
          "text", "doc_id", t, docs, threshold = 0.5, batchId = b.toLong))
        .collect { case (id, "dup_of_index") => id }.toSet
      // (version -1 = the empty index before the first commit)
      val looked = IncrementalMinHash.lookupPairs(spark, t, batch, "text",
          "doc_id", docs, threshold = 0.5, version = Some(pinned))
        .select(col("id_new")).distinct().collect().map(_.getLong(0)).toSet
      assert(looked == dupOfIndex, s"batch $b")
      if (b > 0) assert(dupOfIndex.nonEmpty, s"batch $b probes nothing")
    }
  }
}
