package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{CheckpointScope, MaintenanceLease, VersionedTable}

/** Lifecycle + orchestration primitives added in r14: the batch-scoped
  * checkpoint release (the production streamingSink lifecycle) and the
  * maintenance lease (loud serialization of concurrent index
  * maintenance).
  */
class ScopeLeaseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fresh(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  test("CheckpointScope releases everything persisted inside it, nothing persisted before") {
    val sc = spark.sparkContext
    // a pre-existing checkpoint must SURVIVE the scope
    val keeper = Seq(1, 2, 3).toDF("x").localCheckpoint()
    val before = sc.getPersistentRDDs.size
    CheckpointScope.withScope(sc) {
      val a = Seq(4, 5).toDF("x").localCheckpoint()
      val b = a.select((col("x") * 2).as("x")).localCheckpoint()
      assert(b.collect().map(_.getInt(0)).sorted.toSeq == Seq(8, 10))
      assert(sc.getPersistentRDDs.size >= before + 2)
    }
    assert(sc.getPersistentRDDs.size == before,
      s"scope leaked: ${sc.getPersistentRDDs.size} vs $before")
    // the keeper's blocks are intact — still readable after the close
    assert(keeper.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3))
    keeper.unpersist()
  }

  test("CheckpointScope releases on failure too; close is idempotent") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    intercept[RuntimeException] {
      CheckpointScope.withScope(sc) {
        Seq(1).toDF("x").localCheckpoint()
        throw new RuntimeException("batch failed")
      }
    }
    assert(sc.getPersistentRDDs.size == before)
    val s = new CheckpointScope(sc)
    s.close(); s.close() // second close must be a no-op
  }

  test("only CheckpointScope.scala reads the persisted-RDD registry in src/main") {
    import scala.jdk.CollectionConverters._
    // iterative operators release by handle (CheckpointScope.generations);
    // diffing the context-wide registry is the scope's job alone
    val root = java.nio.file.Paths.get("src", "main", "scala")
    assert(java.nio.file.Files.isDirectory(root), s"no $root under the working directory")
    val readers = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        .contains("getPersistentRDDs"))
      .map(p => root.relativize(p).toString.replace('\\', '/')).toSet
    assert(readers == Set("graft/sources/CheckpointScope.scala"), readers.toString)
  }

  test("maintenance lease: concurrent claims serialize loudly, release reopens, re-entrancy holds") {
    val t = fresh("graft-lease")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(t))
    // re-entrant: nested withLease on one thread must not self-deadlock
    // (compactIndex calls rebuildPostings under its own lease)
    val nested = MaintenanceLease.withLease(t, "outer") {
      MaintenanceLease.withLease(t, "inner") { 42 }
    }
    assert(nested == 42)
    // released after the nested call — claimable again
    assert(MaintenanceLease.withLease(t, "again") { 1 } == 1)

    // two threads race one lease: exactly one runs, one refuses loudly
    val started = new java.util.concurrent.CountDownLatch(1)
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val refused = new java.util.concurrent.atomic.AtomicInteger(0)
    def worker(): Runnable = () =>
      try MaintenanceLease.withLease(t, "race") {
        ran.incrementAndGet(); started.countDown()
        Thread.sleep(300)
      } catch {
        case e: IllegalStateException =>
          assert(e.getMessage.contains("lease"), e.getMessage)
          refused.incrementAndGet()
      }
    val t1 = new Thread(worker()); t1.start()
    started.await()
    val t2 = new Thread(worker()); t2.start()
    t1.join(); t2.join()
    assert(ran.get() == 1 && refused.get() == 1, s"${ran.get()}/${refused.get()}")
    // and the loser can claim after the winner released
    assert(MaintenanceLease.withLease(t, "after") { 7 } == 7)
  }

  test("maintenance lease: a crashed holder's stale lease is broken; a fresh one is not") {
    val t = fresh("graft-lease-stale")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(t))
    val p = MaintenanceLease.leasePath(t)
    java.nio.file.Files.write(p, "crashed pid=0".getBytes("UTF-8"))
    // fresh: refuse
    intercept[IllegalStateException] {
      MaintenanceLease.withLease(t, "x") { () }
    }
    // stale: break and claim
    java.nio.file.Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - MaintenanceLease.DefaultStaleMs - 1000))
    assert(MaintenanceLease.withLease(t, "x") { 9 } == 9)
  }

  test("two breakers racing one stale lease: exactly one holds at a time (VERDICT r14 #6)") {
    val t = fresh("graft-lease-2break")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(t))
    val p = MaintenanceLease.leasePath(t)
    java.nio.file.Files.write(p, "crashed pid=0 token=dead".getBytes("UTF-8"))
    java.nio.file.Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - MaintenanceLease.DefaultStaleMs - 1000))
    // both threads observe the stale lease and race break-then-claim.
    // Pre-tombstone, the loser's in-place DELETE erased the winner's
    // FRESH lease, letting a later claimant in concurrently; with the
    // breaker-unique rename exactly one move succeeds, so two holders
    // can never overlap (serial wins are fine — the invariant is max
    // concurrency 1).
    val inside = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxInside = new java.util.concurrent.atomic.AtomicInteger(0)
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val refused = new java.util.concurrent.atomic.AtomicInteger(0)
    def breaker(): Runnable = () =>
      try MaintenanceLease.withLease(t, "breaker") {
        val now = inside.incrementAndGet()
        maxInside.updateAndGet(m => math.max(m, now))
        ran.incrementAndGet()
        Thread.sleep(200)
        inside.decrementAndGet()
      } catch { case _: IllegalStateException => refused.incrementAndGet() }
    val threads = (0 until 2).map(_ => new Thread(breaker()))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(ran.get() >= 1 && ran.get() + refused.get() == 2,
      s"ran=${ran.get()} refused=${refused.get()}")
    assert(maxInside.get() == 1, s"two breakers held concurrently: ${maxInside.get()}")
    // no tombstone debris left behind
    import scala.jdk.CollectionConverters._
    val leftover = java.nio.file.Files.list(p.getParent).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith(".lease-tomb")).toSeq
    assert(leftover.isEmpty, s"tombstones leaked: $leftover")
    assert(MaintenanceLease.withLease(t, "after") { 3 } == 3)
  }

  test("a holder that outran staleMs must not delete the breaker's FRESH lease on release (ADVICE r14)") {
    val t = fresh("graft-lease-token")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(t))
    val p = MaintenanceLease.leasePath(t)
    val aEntered = new java.util.concurrent.CountDownLatch(1)
    val bHolds = new java.util.concurrent.CountDownLatch(1)
    val bRelease = new java.util.concurrent.CountDownLatch(1)
    // A claims, then outruns its horizon (simulated by backdating its
    // lease mtime); B breaks and claims; A's release then runs WHILE B
    // holds — the token check must leave B's lease alone (the old
    // unconditional delete erased it, and a third claimant got in).
    val a = new Thread(() => MaintenanceLease.withLease(t, "slow-holder") {
      aEntered.countDown()
      bHolds.await(10, java.util.concurrent.TimeUnit.SECONDS)
      ()
    })
    a.start(); aEntered.await()
    java.nio.file.Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - MaintenanceLease.DefaultStaleMs - 1000))
    val b = new Thread(() => MaintenanceLease.withLease(t, "breaker") {
      bHolds.countDown()
      bRelease.await(10, java.util.concurrent.TimeUnit.SECONDS)
      ()
    })
    b.start()
    bHolds.await() // B broke the stale lease and holds a fresh one
    a.join()       // A's release ran: token mismatch -> no delete
    assert(java.nio.file.Files.exists(p),
      "the outrun holder's release deleted the breaker's fresh lease")
    // a third claimant must refuse while B still holds
    intercept[IllegalStateException] {
      MaintenanceLease.withLease(t, "third") { () }
    }
    bRelease.countDown(); b.join()
    // and B's own release DOES clear its lease
    assert(!java.nio.file.Files.exists(p))
    assert(MaintenanceLease.withLease(t, "after") { 5 } == 5)
  }

  test("racing compactIndex runs: one wins, one refuses, the index stays valid") {
    val t = fresh("graft-lease-compact")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    graft.dedup.IncrementalDedup.processBatch(spark, docs, "text",
      "doc_id", t, threshold = 0.6, batchId = 0L)
    val rowsBefore = VersionedTable.read(spark, t).count()
    val refusals = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (0 until 2).map { _ =>
      new Thread(() =>
        try graft.dedup.IncrementalDedup.compactIndex(spark, t)
        catch { case _: IllegalStateException => refusals.incrementAndGet() })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    // the race is real concurrency: 0, 1 or 2 refusals are possible
    // (the loser may start after the winner released) — what must hold
    // is that whoever REFUSED did no work and the table is intact
    assert(refusals.get() <= 1)
    assert(VersionedTable.read(spark, t).count() == rowsBefore)
    // lease released: a sequential compaction succeeds
    graft.dedup.IncrementalDedup.compactIndex(spark, t)
    assert(VersionedTable.read(spark, t).count() == rowsBefore)
  }
}
