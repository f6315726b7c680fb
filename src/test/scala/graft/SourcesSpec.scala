package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Compaction

/** Format breadth beyond the reference's parquet/CSV: JSON-lines and ORC
  * round-trips with explicit schemas (never inferSchema at scale — one
  * extra full read), plus small-files compaction.
  */
class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val docs = Tables.documents(spark, "/root/testdata/sf0.001")

  private def assertSame(a: org.apache.spark.sql.DataFrame,
                         b: org.apache.spark.sql.DataFrame): Unit = {
    assert(a.schema == b.schema, s"${a.schema} vs ${b.schema}")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("JSON lines round-trip with explicit schema") {
    val dir = Files.createTempDirectory("graft-json").toString + "/out"
    docs.write.json(dir)
    assertSame(spark.read.schema(docs.schema).json(dir), docs)
  }

  test("ORC round-trip") {
    val dir = Files.createTempDirectory("graft-orc").toString + "/out"
    docs.write.orc(dir)
    assertSame(spark.read.orc(dir), docs)
  }

  test("CSV round-trip with explicit schema, header, quoting") {
    // embed a delimiter + quote into one value to exercise csv escaping
    val tricky = docs.withColumn("text",
      when(col("doc_id") === 0, concat(lit("a,\"b\" "), col("text"))).otherwise(col("text")))
    val dir = Files.createTempDirectory("graft-csv").toString + "/out"
    tricky.write.option("header", "true").csv(dir)
    assertSame(spark.read.schema(tricky.schema).option("header", "true").csv(dir), tricky)
  }

  test("mergeSchema read unifies evolving parquet batches (schema evolution)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-evolve").toString
    Seq((1L, "x")).toDF("id", "b").write.parquet(s"$dir/p1")
    Seq((2L, 9.5)).toDF("id", "c").write.parquet(s"$dir/p2")
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(s"$dir/p1", s"$dir/p2")
    assert(merged.columns.toSet == Set("id", "b", "c"))
    val rows = merged.orderBy("id").collect()
    assert(rows(0).getString(1) == "x" && rows(0).isNullAt(2))
    assert(rows(1).isNullAt(1) && rows(1).getDouble(2) == 9.5)
  }

  test("zorderWrite clusters a 2-D box into few files; hash layout scatters it") {
    import spark.implicits._
    // 64x64 grid of points, 16 files each layout
    val grid = (for { x <- 0 until 64; y <- 0 until 64 } yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val base = Files.createTempDirectory("graft-z").toString
    Compaction.zorderWrite(grid, "x", "y", s"$base/zorder", files = 16)
    grid.repartition(16).write.parquet(s"$base/hash")

    def filesTouched(dir: String): Long = {
      val hit = spark.read.parquet(dir)
        .filter(col("x").between(8, 15) && col("y").between(8, 15))
      assert(hit.count() == 64) // correctness first: the full 8x8 box
      hit.select(input_file_name()).distinct().count()
    }
    val z = filesTouched(s"$base/zorder")
    val h = filesTouched(s"$base/hash")
    // the box is 1/64 of the data: z-order confines it to a couple of
    // files; a hash layout spreads it over essentially all of them
    assert(z <= 2, s"z-order touched $z files")
    assert(h >= 12, s"hash layout touched only $h files")
  }

  test("_metadata columns expose file provenance on parquet scans") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val withMeta = docs.select(col("doc_id"),
      col("_metadata.file_name").as("src_file"),
      col("_metadata.file_size").as("src_size"))
    val rows = withMeta.collect()
    assert(rows.length == docs.count())
    assert(rows.forall(_.getString(1).endsWith(".parquet")))
    assert(rows.forall(_.getLong(2) > 0))
  }

  test("catalog tables: saveAsTable / spark.table / insertInto / listing") {
    val dir = Files.createTempDirectory("graft-table").toString + "/t"
    val nation = Tables.nation(spark, "/root/testdata/sf0.001")
    nation.write.option("path", dir).saveAsTable("nation_tbl")
    try {
      assert(spark.catalog.tableExists("nation_tbl"))
      assert(spark.table("nation_tbl").count() == nation.count())
      // SQL over the catalog entry
      assert(spark.sql("SELECT count(*) FROM nation_tbl").head.getLong(0) == nation.count())
      // append through the catalog, not the path
      nation.limit(5).write.mode("append").insertInto("nation_tbl")
      assert(spark.table("nation_tbl").count() == nation.count() + 5)
      assert(spark.catalog.listColumns("nation_tbl").count() == nation.columns.length)
    } finally spark.sql("DROP TABLE IF EXISTS nation_tbl")
  }

  test("SasLabels parses every vocabulary block of the reference format file") {
    assume(TestSpark.refExists("I94_SAS_Labels_Descriptions.SAS"))
    val blocks = graft.sources.SasLabels.parseFile(
      TestSpark.ref("I94_SAS_Labels_Descriptions.SAS"))
    // the $ character-format marker is stripped from $i94prtl
    assert(blocks.keySet == Set("i94cntyl", "i94prtl", "i94model", "i94addrl"), blocks.keySet)
    assert(blocks("i94cntyl").size == 289 && blocks("i94prtl").size == 660
      && blocks("i94model").size == 4 && blocks("i94addrl").size == 55,
      blocks.view.mapValues(_.size).toMap)
    val ports = blocks("i94prtl").toMap
    assert(ports("ALC") == "ALCAN, AK")        // fixed-width padding trimmed
    assert(ports("INT") == "INT'L FALLS, MN")  // '' escapes a quote inside a label
    assert(blocks("i94model") ==
      Seq("1" -> "Air", "2" -> "Sea", "3" -> "Land", "9" -> "Not reported"))
    assert(blocks("i94addrl").toMap.apply("99") == "All Other Codes")
    assert(blocks("i94cntyl").head == ("582" ->
      "MEXICO Air Sea, and Not Reported (I-94, no land arrivals)"))
  }

  test("SasLabels grammar edges: comments and semicolons in labels, multi-pair lines, errors") {
    val text = """/* prose; value fake */ libname x 'ignored'
      value $codes 'a' = 'A; still A' 1='one' /* mid-block */ 'q' = 'it''s' ;
      value plain 2 = 'two' ;"""
    val got = graft.sources.SasLabels.parse(text)
    assert(got("codes") == Seq("a" -> "A; still A", "1" -> "one", "q" -> "it's"))
    assert(got("plain") == Seq("2" -> "two"))
    intercept[IllegalArgumentException](graft.sources.SasLabels.parse("value v 'unterminated"))
    // a format name with no `value` block is refused
    val file = Files.createTempFile("graft-saslabels", ".sas")
    Files.write(file, text.getBytes("UTF-8"))
    intercept[IllegalArgumentException](
      graft.sources.SasLabels.vocab(spark, file.toString, "nope"))
    Files.delete(file)
  }

  test("compactParquet: many small files become the target count, content identical") {
    val base = Files.createTempDirectory("graft-compact").toString
    val src = s"$base/src"
    val dst = s"$base/dst"
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    ev.repartition(64).write.parquet(src)
    def files(d: String) =
      new java.io.File(d).listFiles().count(_.getName.endsWith(".parquet"))
    assert(files(src) == 64)
    val rows = ev.count()
    val written = Compaction.compactParquet(spark, src, dst, targetRowsPerFile = rows / 4)
    assert(files(dst) == written && written <= 5)
    assertSame(spark.read.parquet(dst), ev)
  }

  // -- VersionedTable: Delta-style commit log -----------------------------

  test("VersionedTable: time travel reconstructs every version exactly") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val t = Files.createTempDirectory("graft-vt").toString + "/tbl"
    val v0 = VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), t, "overwrite")
    val v1 = VersionedTable.commit(Seq((3L, "c")).toDF("k", "s"), t, "append")
    val v2 = VersionedTable.commit(Seq((9L, "z")).toDF("k", "s"), t, "overwrite")
    val v3 = VersionedTable.commit(Seq((10L, "y")).toDF("k", "s"), t, "append")
    assert(Seq(v0, v1, v2, v3) == Seq(0L, 1L, 2L, 3L))
    def keys(v: Long) = VersionedTable.readVersion(spark, t, v)
      .select("k").as[Long].collect().sorted.toSeq
    assert(keys(0) == Seq(1L, 2L))
    assert(keys(1) == Seq(1L, 2L, 3L))
    assert(keys(2) == Seq(9L))            // overwrite truncates the replay
    assert(keys(3) == Seq(9L, 10L))
    assert(VersionedTable.read(spark, t).count() == 2)
    assert(VersionedTable.history(t).map(_.mode) ==
      Seq("overwrite", "append", "overwrite", "append"))
  }

  test("VersionedTable: racing writers land distinct versions, no lost commit") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val t = Files.createTempDirectory("graft-vt").toString + "/tbl"
    VersionedTable.commit(Seq((0L, -1L)).toDF("writer", "i"), t, "overwrite")
    // 4 writers x 5 appends, all racing for version slots
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val fs = for (w <- 1 to 4) yield scala.concurrent.Future {
      (1 to 5).map(i =>
        VersionedTable.commit(Seq((w.toLong, i.toLong)).toDF("writer", "i"),
          t, "append"))
    }
    val versions = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(fs),
      scala.concurrent.duration.Duration(120, "s")).flatten
    pool.shutdown()
    // every commit got a unique version and none were lost
    assert(versions.toSet.size == 20 && versions.forall(_ >= 1L))
    assert(VersionedTable.latestVersion(t) == versions.max)
    val rows = VersionedTable.read(spark, t)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(rows == ((0L, -1L) +:
      (for (w <- 1L to 4L; i <- 1L to 5L) yield (w, i))).sorted.toSeq)
  }

  test("VersionedTable: merge applies CDC latest-wins; compact keeps history; vacuum drops it") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val t = Files.createTempDirectory("graft-vt").toString + "/tbl"
    VersionedTable.commit(
      Seq((1L, "old"), (2L, "keep")).toDF("k", "s"), t, "overwrite")
    val changes = Seq(
      (1L, "new", 1L, "update"), (3L, "ins", 1L, "insert"),
      (2L, "gone", 1L, "delete"), (2L, "late-del-wins", 0L, "update"))
      .toDF("k", "s", "seq", "op")
    val mv = VersionedTable.merge(spark, t, changes, "k", "seq", "op")
    val after = VersionedTable.read(spark, t)
      .as[(Long, String)].collect().toMap
    assert(after == Map(1L -> "new", 3L -> "ins")) // 2 deleted (seq 1 beats 0)
    // compact: same rows, one more version, old version still readable
    val cv = VersionedTable.compact(spark, t)
    assert(cv == mv + 1)
    assert(VersionedTable.readVersion(spark, t, 0).count() == 2)
    assert(VersionedTable.read(spark, t).as[(Long, String)].collect().toMap == after)
    // vacuum everything below the compacted snapshot: v0 gone, head intact
    VersionedTable.vacuum(t, keepAfter = mv)
    intercept[IllegalArgumentException] {
      VersionedTable.readVersion(spark, t, 0)
    }
    assert(VersionedTable.read(spark, t).as[(Long, String)].collect().toMap == after)
  }

  test("VersionedTable: append enforces schema-on-write; overwrite may evolve") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val t = Files.createTempDirectory("graft-vt").toString + "/tbl"
    VersionedTable.commit(Seq((1L, "a")).toDF("k", "s"), t, "overwrite")
    val e = intercept[IllegalArgumentException] {
      VersionedTable.commit(Seq((2L, 2.0)).toDF("k", "d"), t, "append")
    }
    assert(e.getMessage.contains("schema mismatch"))
    // overwrite evolves the schema; appends then follow the NEW schema
    VersionedTable.commit(Seq((2L, 2.0)).toDF("k", "d"), t, "overwrite")
    VersionedTable.commit(Seq((3L, 3.0)).toDF("k", "d"), t, "append")
    assert(VersionedTable.read(spark, t).count() == 2)
  }

  test("VersionedTable: a crashed writer's claimed-but-unpublished slot is skipped, not fatal") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val t = Files.createTempDirectory("graft-vt").toString + "/tbl"
    VersionedTable.commit(Seq((1L, "a")).toDF("k", "s"), t, "overwrite")
    // simulate a writer that claimed version 1 (atomic create) and died
    // before publishing: an empty slot file
    Files.createFile(java.nio.file.Paths.get(t, "_graft_log",
      f"${1L}%020d.json"))
    // readers treat the in-flight slot as uncommitted
    assert(VersionedTable.latestVersion(t) == 0L)
    assert(VersionedTable.read(spark, t).count() == 1)
    // the next writer walks PAST the dead claim (FileAlreadyExists at 1)
    val v = VersionedTable.commit(Seq((2L, "b")).toDF("k", "s"), t, "append")
    assert(v == 2L)
    assert(VersionedTable.read(spark, t).count() == 2)
    // history replays across the permanent gap at version 1
    assert(VersionedTable.history(t).map(_.version) == Seq(0L, 2L))
    assert(VersionedTable.readVersion(spark, t, 2).count() == 2)
  }

  test("VersionedTable: compactZorder rewrites the snapshot z-ordered, history intact") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val t = Files.createTempDirectory("graft-vt").toString + "/tbl"
    val rows = for (a <- 0L until 16L; b <- 0L until 16L) yield (a, b, a * 16 + b)
    VersionedTable.commit(rows.toDF("x", "y", "payload").repartition(8),
      t, "overwrite")
    val v = VersionedTable.compactZorder(spark, t, "x", "y", files = 4)
    // same rows, 4 files in the new commit's dir, v0 still readable
    assert(VersionedTable.read(spark, t).as[(Long, Long, Long)]
      .collect().sorted.toSeq == rows.sorted.toSeq)
    val dir = new java.io.File(t,
      VersionedTable.history(t).find(_.version == v).get.dataDir)
    assert(dir.listFiles().count(_.getName.endsWith(".parquet")) == 4)
    assert(VersionedTable.readVersion(spark, t, 0).count() == 256)
    // the z-layout property: each file's Morton range is disjoint, so a
    // box probe prunes by footer stats — check rows are Morton-sorted
    // within files via the stored order of one file
    import graft.functions.InterleaveBits
    val one = spark.read.parquet(dir.listFiles()
        .filter(_.getName.endsWith(".parquet")).head.getPath)
      .as[(Long, Long, Long)].collect()
    val mortons = one.map { case (a, b, _) => InterleaveBits.morton(a, b) }
    assert(mortons.sameElements(mortons.sorted))
  }

  test("VersionedTable: changesBetween is the churn-sized CDF; txn commits are idempotent") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val t = Files.createTempDirectory("graft-vt").toString + "/tbl"
    VersionedTable.commit(
      Seq((1L, "same"), (2L, "old"), (3L, "bye")).toDF("k", "s"), t, "overwrite")
    VersionedTable.commit(
      Seq((1L, "same"), (2L, "new"), (4L, "hi")).toDF("k", "s"), t, "overwrite")
    val cdf = VersionedTable.changesBetween(spark, t, 0, 1, "k", Seq("s"))
      .as[(Long, String)].collect().toMap
    assert(cdf == Map(2L -> "changed", 3L -> "removed", 4L -> "added"))
    // same txn id twice -> second commit is the caller's to skip; the
    // history exposes the identity the sink keys idempotency on
    VersionedTable.commit(Seq((9L, "x")).toDF("k", "s"), t, "append", txn = Some(7L))
    assert(VersionedTable.history(t).count(_.txn.contains(7L)) == 1)
  }

  test("VersionedTable: streaming sink commits per batch, replays do not double-commit") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.sources.VersionedTable
    val t = Files.createTempDirectory("graft-vt").toString + "/tbl"
    VersionedTable.commit(Seq((0L, 0L)).toDF("a", "b"), t, "overwrite")
    val mem = MemoryStream[(Long, Long)]
    val q = VersionedTable.streamingCommitSink(mem.toDF().toDF("a", "b"), t,
        appId = "qA")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-vt-ck").toString)
      .start()
    try {
      mem.addData((1L, 10L)); q.processAllAvailable()
      mem.addData((2L, 20L)); q.processAllAvailable()
      assert(VersionedTable.read(spark, t).as[(Long, Long)].collect().toSet ==
        Set((0L, 0L), (1L, 10L), (2L, 20L)))
      // batch txn ids 0 and 1 are in the log; a manual replay of batch 0
      // (the restart-from-checkpoint path) must be skipped by the sink's
      // guard — simulate by re-running its body
      val before = VersionedTable.latestVersion(t)
      if (!VersionedTable.history(t).exists(c =>
          c.txn.contains(0L) && c.txnApp.contains("qA")))
        VersionedTable.commit(Seq((1L, 10L)).toDF("a", "b"), t, "append",
          Some(0L), Some("qA"), None)
      assert(VersionedTable.latestVersion(t) == before) // nothing re-committed
      assert(VersionedTable.history(t).flatMap(_.txn).sorted == Seq(0L, 1L))
    } finally q.stop()
    // a SECOND query also starting at batchId 0 is NOT mistaken for a
    // replay of the first's batch 0 — idempotency keys on the pair
    val mem2 = MemoryStream[(Long, Long)]
    val q2 = VersionedTable.streamingCommitSink(mem2.toDF().toDF("a", "b"), t,
        appId = "qB")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-vt-ck2").toString)
      .start()
    try {
      mem2.addData((3L, 30L)); q2.processAllAvailable()
      assert(VersionedTable.read(spark, t).as[(Long, Long)].collect().toSet ==
        Set((0L, 0L), (1L, 10L), (2L, 20L), (3L, 30L)))
      assert(VersionedTable.history(t).count(_.txn.contains(0L)) == 2) // qA + qB
    } finally q2.stop()
  }

  test("VersionedTable: checkpointed reads parse O(tail) entries, not O(history)") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val t = Files.createTempDirectory("graft-vt").toString + "/tbl"
    VersionedTable.commit(Seq((0L, 0L)).toDF("k", "v"), t, "overwrite")
    (1 to 24).foreach(i =>
      VersionedTable.commit(Seq((i.toLong, i.toLong)).toDF("k", "v"), t, "append"))
    // newest checkpoint is at version 20; the snapshot read should load
    // it and PROBE versions 21..24 — never listing/parsing all 25
    VersionedTable.parsedEntries.set(0)
    assert(VersionedTable.read(spark, t).count() == 25)
    val parsed = VersionedTable.parsedEntries.get
    assert(parsed <= VersionedTable.CheckpointInterval + 1,
      s"checkpointed read parsed $parsed entries — should be tail-sized")
    // latestVersion rides the same probe path
    VersionedTable.parsedEntries.set(0)
    assert(VersionedTable.latestVersion(t) == 24L)
    assert(VersionedTable.parsedEntries.get <= VersionedTable.CheckpointInterval + 1)
    // time travel BELOW the checkpoint still works via full replay
    assert(VersionedTable.readVersion(spark, t, 5).count() == 6)
    assert(VersionedTable.readVersion(spark, t, 0).count() == 1)
  }

  test("VersionedTable: 100-commit depth — snapshot and above-checkpoint reads parse O(tail); below-checkpoint time travel full-replays, exactly (r11 #8)") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val t = Files.createTempDirectory("graft-vt").toString + "/tbl"
    VersionedTable.commit(Seq((0L, 0L)).toDF("k", "v"), t, "overwrite")
    (1 to 99).foreach(i =>
      VersionedTable.commit(Seq((i.toLong, i.toLong)).toDF("k", "v"), t, "append"))
    // versions 0..99; checkpoints at 10, 20, ..., 90

    // snapshot read: checkpoint 90 + probes 91..99 (+ miss window)
    VersionedTable.parsedEntries.set(0)
    assert(VersionedTable.read(spark, t).count() == 100)
    val tailParsed = VersionedTable.parsedEntries.get
    assert(tailParsed <= 2L * VersionedTable.CheckpointInterval,
      s"snapshot read parsed $tailParsed entries at depth 100 — should be tail-sized")

    // time travel ABOVE the newest checkpoint (95 >= 90): same tail path
    VersionedTable.parsedEntries.set(0)
    assert(VersionedTable.readVersion(spark, t, 95).count() == 96)
    assert(VersionedTable.parsedEntries.get <= 2L * VersionedTable.CheckpointInterval,
      "above-checkpoint time travel should ride the checkpointed path")

    // time travel BELOW the newest checkpoint (42 < 90): the documented
    // fallback is a FULL log replay — every entry file is parsed once
    VersionedTable.parsedEntries.set(0)
    val v42 = VersionedTable.readVersion(spark, t, 42)
    assert(v42.count() == 43)
    val deepParsed = VersionedTable.parsedEntries.get
    assert(deepParsed >= 100,
      s"below-checkpoint time travel parsed only $deepParsed entries — " +
        "expected a full replay of the 100-entry log")
    // and the replayed snapshot is exactly commits 0..42
    assert(v42.select(col("k")).as[Long].collect().toSet == (0L to 42L).toSet)
  }

  test("VersionedTable: expectedVersion commit detects conflicts; merges never lose updates") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val t = Files.createTempDirectory("graft-vt").toString + "/tbl"
    VersionedTable.commit(Seq((1L, "a")).toDF("k", "s"), t, "overwrite")
    // stale expectedVersion -> ConcurrentModificationException, and the
    // staged-but-unreferenced data dir is reclaimed immediately
    VersionedTable.commit(Seq((2L, "b")).toDF("k", "s"), t, "append")
    val dirsBefore = new java.io.File(t, "data").list().toSet
    intercept[java.util.ConcurrentModificationException] {
      VersionedTable.commit(Seq((9L, "x")).toDF("k", "s"), t, "overwrite",
        None, None, expectedVersion = Some(0L)) // table is at 1 now
    }
    assert(new java.io.File(t, "data").list().toSet == dirsBefore)
    // two RACING merges on disjoint keys: the loser re-reads and
    // re-merges, so BOTH change sets survive (no lost update)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val f1 = scala.concurrent.Future {
      VersionedTable.merge(spark, t,
        Seq((10L, "m1", 1L, "insert")).toDF("k", "s", "seq", "op"),
        "k", "seq", "op")
    }
    val f2 = scala.concurrent.Future {
      VersionedTable.merge(spark, t,
        Seq((20L, "m2", 1L, "insert")).toDF("k", "s", "seq", "op"),
        "k", "seq", "op")
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(Seq(f1, f2)),
      scala.concurrent.duration.Duration(120, "s"))
    pool.shutdown()
    val keys = VersionedTable.read(spark, t).select("k")
      .as[Long].collect().toSet
    assert(keys == Set(1L, 2L, 10L, 20L),
      s"a concurrent merge was lost: $keys")
  }

  test("VersionedTable: vacuum never destroys the current snapshot; orphaned staged dirs are reclaimed") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val t = Files.createTempDirectory("graft-vt").toString + "/tbl"
    VersionedTable.commit(Seq((1L, "a")).toDF("k", "s"), t, "overwrite")
    VersionedTable.commit(Seq((2L, "b")).toDF("k", "s"), t, "append")
    // a writer that staged data and died before claiming a slot
    val orphan = java.nio.file.Paths.get(t, "data", "dead-writer-uuid")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    // backdate past any grace window — a wall-clock-fresh orphan is
    // legitimately kept (its writer may still be staging)
    Files.setLastModifiedTime(orphan,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 60000))
    // keepAfter AT/ABOVE latest must clamp, not wipe the table
    VersionedTable.vacuum(t, keepAfter = 99L, orphanGraceMs = 0L)
    assert(VersionedTable.read(spark, t).count() == 2)
    assert(VersionedTable.latestVersion(t) == 1L)
    assert(!Files.exists(orphan), "orphaned staged dir not reclaimed")
    // and the post-vacuum checkpoint keeps the probe path anchored
    VersionedTable.commit(Seq((3L, "c")).toDF("k", "s"), t, "append")
    assert(VersionedTable.read(spark, t).count() == 3)
  }

  test("VersionedTable: the commit log streams — entries exactly once, hydrated to data rows") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val t = Files.createTempDirectory("graft-vt").toString + "/tbl"
    VersionedTable.commit(Seq((1L, "a")).toDF("k", "s"), t, "overwrite")
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val entriesSeen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = VersionedTable.commitStream(spark, t)
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft-vt-cs").toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val b = batch.persist()
        entriesSeen ++= b.select("version").collect().map(_.getLong(0))
        VersionedTable.hydrate(b, t).foreach { data =>
          seen ++= data.as[(Long, String)].collect()
        }
        b.unpersist(); ()
      }
      .start()
    try {
      q.processAllAvailable()
      VersionedTable.commit(Seq((2L, "b")).toDF("k", "s"), t, "append")
      q.processAllAvailable()
      VersionedTable.commit(Seq((3L, "c")).toDF("k", "s"), t, "append")
      q.processAllAvailable()
      // every commit entry delivered exactly once, in the log's order
      assert(entriesSeen.sorted == Seq(0L, 1L, 2L))
      // hydration yields each commit's data rows exactly once
      assert(seen.sortBy(_._1) == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    } finally q.stop()
  }

  test("VersionedTable: time travel across a schema-evolving overwrite keeps each version's schema") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val t = Files.createTempDirectory("graft-vt").toString + "/tbl"
    VersionedTable.commit(Seq((1L, "a")).toDF("k", "s"), t, "overwrite")
    VersionedTable.commit(Seq((2L, "b")).toDF("k", "s"), t, "append")
    // overwrite evolves the schema (string payload -> double + extra col)
    VersionedTable.commit(Seq((3L, 3.5, true)).toDF("k", "d", "flag"), t, "overwrite")
    VersionedTable.commit(Seq((4L, 4.5, false)).toDF("k", "d", "flag"), t, "append")
    // head reads the NEW schema only (replay truncates at the overwrite,
    // so the union never mixes schemas)
    val head = VersionedTable.read(spark, t)
    assert(head.schema.fieldNames.toSet == Set("k", "d", "flag"))
    assert(head.count() == 2)
    // time travel BELOW the evolution returns the OLD schema untouched
    val v1 = VersionedTable.readVersion(spark, t, 1)
    assert(v1.schema.fieldNames.toSet == Set("k", "s"))
    assert(v1.as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
  }

  test("VersionedTable: txn identities ride checkpoints and survive vacuum") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val t = Files.createTempDirectory("graft-vt").toString + "/tbl"
    def row(i: Long) = Seq((i, i)).toDF("k", "v")
    VersionedTable.commit(row(0), t, "overwrite")
    (1L to 6L).foreach(i =>
      VersionedTable.commit(row(i), t, "append", Some(i), Some("s"), None))
    VersionedTable.commit(row(7), t, "overwrite") // truncates the replay
    (8L to 12L).foreach(i =>
      VersionedTable.commit(row(i), t, "append", Some(i), Some("s"), None))
    // the streaming guard's lookup: checkpoint map (written at v10)
    // merged with the probe tail — never a full log scan
    assert(VersionedTable.txnMaxes(t) == Map("s" -> 12L))
    // vacuum drops versions 0..6 (below the last overwrite) — the app's
    // committed-txn high-water mark must survive via the checkpoint,
    // like Delta's SetTransaction records, or a restarted stream would
    // re-commit batches the vacuumed entries proved were applied
    VersionedTable.vacuum(t, keepAfter = 11L, orphanGraceMs = 0L)
    assert(VersionedTable.history(t).map(_.version).head == 7L) // 0..6 gone
    assert(VersionedTable.txnMaxes(t) == Map("s" -> 12L))
  }

  test("VersionedTable.txnPin: replay flag, original commit and pinned read version for each writer state") {
    import graft.sources.VersionedTable
    import VersionedTable.TxnPin
    // log entries only: txnPin reads metadata, never data
    def table(entries: (String, Option[(String, Long)])*): String = {
      val t = Files.createTempDirectory("graft-txnpin").toString + "/tbl"
      entries.foreach { case (mode, id) =>
        VersionedTable.claimSlot(t, mode, s"data/${java.util.UUID.randomUUID()}",
          id.map(_._2), id.map(_._1), None)
      }
      t
    }
    val base = None
    def a(t: Long) = Some(("a", t))
    val vacuumed = {
      val t = table(("overwrite", base), ("append", a(1)),
        ("overwrite", base), ("append", a(2)))
      VersionedTable.vacuum(t, keepAfter = 2L, orphanGraceMs = 0L)
      assert(VersionedTable.history(t).map(_.version) == Seq(2L, 3L)) // (a, 1) gone
      t
    }
    val cases = Seq(
      // (case, table, txnApp, txn, expected pin)
      ("untagged", table(("overwrite", base), ("append", a(1))),
        None, None, TxnPin(replayed = false, None, 1L)),
      ("fresh (a, 2)", table(("overwrite", base), ("append", a(1))),
        Some("a"), Some(2L), TxnPin(replayed = false, None, 1L)),
      ("replayed (a, 1)", table(("overwrite", base), ("append", a(1)), ("append", a(2))),
        Some("a"), Some(1L), TxnPin(replayed = true, Some(1L), 0L)),
      ("pre-upgrade (a, 3): covered by the max, absent from the log",
        table(("overwrite", base), ("append", a(5))),
        Some("a"), Some(3L), TxnPin(replayed = true, None, 1L)),
      ("replayed (a, 1) after vacuum dropped its entry", vacuumed,
        Some("a"), Some(1L), TxnPin(replayed = true, None, 3L)))
    cases.foreach { case (name, t, app, txn, want) =>
      assert(VersionedTable.txnPin(t, app, txn) == want, name)
    }
  }

  test("VersionedTable: cross-JVM writers race the log — every commit lands exactly once") {
    import graft.sources.VersionedTable
    val t = Files.createTempDirectory("graft-vt").toString + "/tbl"
    // seed version 0 so both racers contend from the same base
    VersionedTable.claimSlot(t, "overwrite", "data/seed", None, None, None)
    val cp = sys.props("java.class.path")
    val n = 25
    def fork(writer: String) = new ProcessBuilder(
        "java", "-cp", cp, "graft.tools.CommitRace", t, writer, n.toString)
      .redirectErrorStream(true).start()
    val (p1, p2) = (fork("w1"), fork("w2"))
    assert(p1.waitFor() == 0 && p2.waitFor() == 0,
      "racer JVM failed — check graft.tools.CommitRace")
    val h = VersionedTable.history(t)
    // exactly 1 seed + 2n commits, versions contiguous with no gaps
    assert(h.map(_.version) == (0L until (2L * n + 1)),
      s"version sequence broken: ${h.map(_.version)}")
    // every (writer, i) landed exactly once — nothing lost, nothing doubled
    val byWriter = h.drop(1).groupBy(_.txnApp.get)
    assert(byWriter.keySet == Set("w1", "w2"))
    byWriter.values.foreach(cs =>
      assert(cs.flatMap(_.txn).sorted == (0L until n), s"lost commits: $cs"))
  }

  test("VersionedTable: a contract-violating drifted snapshot reads the NEWEST dir's schema deterministically") {
    // Tables written through commit() cannot drift (every append is
    // schema-checked against the then-newest dir — transitive). This
    // hand-builds the violation via claimSlot to lock the documented
    // degraded-mode semantics: the snapshot schema is the newest
    // commit's, resolved by name (absent column -> null), never
    // whichever file the multi-path relation happened to sample.
    import graft.sources.VersionedTable
    import spark.implicits._
    val t = Files.createTempDirectory("graft-drift").toString + "/tbl"
    def stage(df: org.apache.spark.sql.DataFrame, name: String): String = {
      df.write.parquet(s"$t/data/$name"); s"data/$name"
    }
    val d0 = stage(Seq(("a", 1L)).toDF("g", "cnt"), "d0")
    VersionedTable.claimSlot(t, "overwrite", d0, None, None, None)
    val d1 = stage(Seq(("b", 2L, 7L)).toDF("g", "cnt", "batch"), "d1")
    VersionedTable.claimSlot(t, "append", d1, None, None, None)

    val snap = VersionedTable.read(spark, t)
    assert(snap.schema.fieldNames.toSeq == Seq("g", "cnt", "batch"),
      snap.schema.simpleString)
    val rows = snap.orderBy("g")
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
    assert(rows.toSeq == Seq(("a", 1L, None), ("b", 2L, Some(7L))))
  }

  test("VersionedTable: seedTxns bridges txn watermarks into a fresh table; existing higher marks survive the merge") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val src = Files.createTempDirectory("graft-seedtxn-src").toString + "/t"
    val dst = Files.createTempDirectory("graft-seedtxn-dst").toString + "/t"
    VersionedTable.commit(Seq((1L, "a")).toDF("k", "v"), src, "append",
      Some(5L), Some("writer"), expectedVersion = None)
    VersionedTable.commit(Seq((1L, "a")).toDF("k", "v"), dst, "overwrite")
    assert(VersionedTable.txnMaxes(dst).isEmpty)
    // the retrain-cutover bridge: the fresh table inherits the source's
    // per-app watermark, so replay detection answers as the source would
    VersionedTable.seedTxns(dst, VersionedTable.txnMaxes(src))
    assert(VersionedTable.txnMaxes(dst) == Map("writer" -> 5L))
    // later commits raise the mark through the seeded checkpoint
    VersionedTable.commit(Seq((2L, "b")).toDF("k", "v"), dst, "append",
      Some(6L), Some("writer"), expectedVersion = None)
    assert(VersionedTable.txnMaxes(dst)("writer") == 6L)
    // re-seeding with a LOWER mark never regresses the max
    VersionedTable.seedTxns(dst, Map("writer" -> 4L))
    assert(VersionedTable.txnMaxes(dst)("writer") == 6L)
    // the seeded mark survives vacuum (watermarks ride checkpoints)
    VersionedTable.commit(Seq((3L, "c")).toDF("k", "v"), dst, "overwrite")
    VersionedTable.vacuum(dst, keepAfter = 2L, orphanGraceMs = 0L)
    assert(VersionedTable.txnMaxes(dst)("writer") == 6L)
  }

  test("VersionedTable: each session reads a snapshot under its own parquet settings; overwrite + vacuum reads the new rows") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val t = Files.createTempDirectory("graft-vt-sessions").toString + "/t"
    VersionedTable.commit(Seq((1L, 10L)).toDF("k", "ts"), t, "overwrite")
    VersionedTable.commit(Seq((2L, 20L)).toDF("k", "ts"), t, "append")
    // hand-built dirs: each commit's files become one written outside
    // Spark, ts as TIMESTAMP(NANOS) and no Spark schema in the footer, so
    // the schema a read takes depends on the session's nanosAsLong
    val dirs = VersionedTable.snapshotClosure(t, Long.MaxValue)
      .map(c => java.nio.file.Paths.get(t, c.dataDir))
    dirs.zipWithIndex.foreach { case (dir, i) =>
      Files.list(dir).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.startsWith("part-")).foreach(Files.delete)
      TestSpark.writeNanosParquet(dir.resolve("part-0.parquet").toString, Seq((i + 1L, (i + 1L) * 10L)))
    }
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val on = spark.newSession(); on.conf.set(key, "true")
    val off = spark.newSession(); off.conf.set(key, "false")
    val snap = VersionedTable.read(on, t)
    assert(snap.schema("ts").dataType == org.apache.spark.sql.types.LongType)
    assert(snap.orderBy("k").as[(Long, Long)].collect().toSeq == Seq((1L, 10L), (2L, 20L)))
    // read after `on`, `off` fails exactly as Spark's own inference does
    // under nanosAsLong=false: `on`'s schema does not carry over
    def failure(body: => Any) = {
      val e = intercept[Exception](body); e.getClass
    }
    assert(failure(VersionedTable.read(off, t).schema) ==
      failure(off.read.parquet(dirs.map(_.toString): _*).schema))
    // an overwrite (new schema) then vacuum: the read is the new rows
    VersionedTable.commit(Seq((9L, "z")).toDF("k", "s"), t, "overwrite")
    VersionedTable.commit(Seq((8L, "y")).toDF("k", "s"), t, "append")
    VersionedTable.vacuum(t, keepAfter = 3L, orphanGraceMs = 0L)
    assert(dirs.forall(d => !Files.exists(d)), "vacuum kept a dead dir")
    for (s <- Seq(on, off)) assert(VersionedTable.read(s, t).orderBy("k")
      .as[(Long, String)].collect().toSeq == Seq((8L, "y"), (9L, "z")))
  }
}
