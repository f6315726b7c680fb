package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

class OperatorsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("castColumns casts listed columns and skips absent ones (ref etl.py:33-46)") {
    val df = Seq(("1", "2.5")).toDF("a", "b")
    val out = ColumnOps.castColumns(df, Seq("a" -> "int", "b" -> "double", "zzz" -> "int"))
    assert(out.schema("a").dataType.typeName == "integer")
    assert(out.schema("b").dataType.typeName == "double")
    assert(out.columns.toSeq == Seq("a", "b"))
  }

  test("renameAll renames via a single projection (ref etl.py:186-197)") {
    val out = ColumnOps.renameAll(Seq((1, 2)).toDF("x", "y"), Map("x" -> "a"))
    assert(out.columns.toSeq == Seq("a", "y"))
  }

  test("conditionalReplace rewrites matching values only (ref etl.py:92-103)") {
    val out = ColumnOps.conditionalReplace(
      Seq("CHINA, PRC", "JAPAN").toDF("c"), "c", Seq("CHINA, PRC" -> "CHINA"))
      .as[String].collect().toSet
    assert(out == Set("CHINA", "JAPAN"))
  }

  test("fillZeros fills only the listed numeric columns (ref etl.py:199-215)") {
    val df = Seq((Some(1), None: Option[Int]), (None, Some(2)))
      .toDF("a", "b")
    val out = ColumnOps.fillZeros(df, Seq("a"))
    val rows = out.collect().map(r => (r.isNullAt(0), r.isNullAt(1))).toSet
    assert(rows == Set((false, true), (false, false)))
  }

  test("coalescePatch fills nulls from fallback (ref etl.py:389-391)") {
    val df = Seq((Some("x"), "f1"), (None, "f2")).toDF("t", "fb")
    val out = ColumnOps.coalescePatch(df, "t", col("fb")).select("t").as[String].collect().toSet
    assert(out == Set("x", "f2"))
  }

  test("firstAgg picks deterministic first by order column (ref etl.py:169-180)") {
    val df = Seq(("g1", "b", 2), ("g1", "a", 1), ("g2", "c", 3)).toDF("k", "v", "ord")
    val out = Aggregates.firstAgg(df, Seq("k"), col("ord"), Seq("v"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map("g1" -> "a", "g2" -> "c"))
  }

  test("pivotAgg with explicit values is single-pass and schema-stable (ref etl.py:183)") {
    val df = Seq(("c1", "White", 10), ("c1", "Asian", 5)).toDF("city", "race", "cnt")
    val out = Aggregates.pivotAgg(df, Seq("city"), "race",
      Seq("White", "Asian", "Other"), sum(col("cnt")))
    assert(out.columns.toSeq == Seq("city", "White", "Asian", "Other"))
    val r = out.head
    assert(r.getLong(1) == 10 && r.getLong(2) == 5 && r.isNullAt(3))
  }

  test("qualityCheck returns count when non-empty, throws on empty (ref etl.py:127-143)") {
    assert(Aggregates.qualityCheck(Seq(1).toDF("x"), "t") == 1)
    intercept[IllegalArgumentException] {
      Aggregates.qualityCheck(Seq(1).toDF("x").filter(col("x") > 9), "t")
    }
  }

  test("AsOfJoin matches latest right row at-or-before each left row (inclusive)") {
    // left: id, key, ts, tie ; right: key, ts, tie, payload
    val left = Seq((1L, 10L, 100L), (1L, 20L, 101L), (1L, 5L, 102L), (2L, 50L, 103L))
      .toDF("user_id", "ts", "event_id")
    val rightP = Seq((1L, 10L, 900L, "r10"), (1L, 15L, 901L, "r15"), (3L, 1L, 902L, "r1"))
      .toDF("user_id", "ts", "event_id", "payload")
    val out = AsOfJoin.leftAsOf(left, rightP, Seq("user_id"), "ts", "event_id", Seq("payload"))
      .select(col("event_id"), col("asof_payload")).as[(Long, String)].collect().toMap
    assert(out(100L) == "r10")  // left ts=10 matches right ts=10 inclusively
    assert(out(101L) == "r15")  // left ts=20 -> latest right ts=15
    assert(out(102L) == null)   // left ts=5 -> nothing at or before
    assert(out(103L) == null)   // no right rows for key 2
  }

  test("IncrementalAgg: maintain-and-merge equals direct recompute; zero-count groups vanish") {
    import graft.operators.IncrementalAgg
    val base = Seq(("a", 1.0), ("a", 2.0), ("b", 5.0)).toDF("g", "x")
    val mat = IncrementalAgg.materialize(base, Seq("g"), "n", Seq("sx" -> "x"))
    // delete both 'a' rows, insert one 'c' row
    val changes = Seq(("a", 1.0, -1), ("a", 2.0, -1), ("c", 7.0, 1)).toDF("g", "x", "sgn")
    val out = IncrementalAgg.applySigned(mat, changes, Seq("g"), "n",
        Seq("sx" -> "x"), "sgn")
      .as[(String, Long, Double)].collect().toSet
    assert(out == Set(("b", 1L, 5.0), ("c", 1L, 7.0))) // 'a' reached n=0 and vanished
  }

  test("IncrementalAgg: deleting rows never inserted fails loudly, not clamped") {
    import graft.operators.IncrementalAgg
    val mat = IncrementalAgg.materialize(Seq(("a", 1.0)).toDF("g", "x"),
      Seq("g"), "n", Seq("sx" -> "x"))
    val bogus = Seq(("a", 1.0, -1), ("a", 1.0, -1)).toDF("g", "x", "sgn")
    val failed = try {
      IncrementalAgg.applySigned(mat, bogus, Seq("g"), "n", Seq("sx" -> "x"), "sgn").count()
      false
    } catch { case t: Throwable =>
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(5)
        .exists(c => Option(c.getMessage).exists(_.contains("went negative")))
    }
    assert(failed)
  }

  test("leftAsOfBucketed: within-bucket match, cross-bucket carry, same-bucket-later miss") {
    val left = Seq((1L, 25L, 100L), (1L, 47L, 101L), (2L, 25L, 102L), (3L, 15L, 103L))
      .toDF("user_id", "ts", "event_id")
    val right = Seq((1L, 21L, 900L, "r21"), (1L, 28L, 901L, "r28"),
        (2L, 8L, 902L, "r8"), (2L, 29L, 903L, "r29"))
      .toDF("user_id", "ts", "event_id", "payload")
    val out = AsOfJoin.leftAsOfBucketed(left, right, Seq("user_id"), "ts", "event_id",
        Seq("ts", "payload"), bucket = 10L)
      .select(col("event_id"), col("asof_payload")).as[(Long, String)].collect().toMap
    assert(out(100L) == "r21") // in-bucket match (21 <= 25, bucket 2)
    assert(out(101L) == "r28") // bucket 4 empty -> carried from bucket 2
    assert(out(102L) == "r8")  // bucket-2 right row is LATER (29 > 25) -> carry from bucket 0
    assert(out(103L) == null)  // no right rows for key 3
  }

  test("leftAsOfBucketed is row-identical to leftAsOf at any bucket width (events fixture)") {
    val plain = SparkEntry.queries("q_asof_join")(spark, "/root/testdata/sf0.001")
    for (width <- Seq(3600000000000L, 86400000000000L, 1L)) {
      val ev = Tables.events(spark, "/root/testdata/sf0.001")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val bucketed = AsOfJoin.leftAsOfBucketed(purchases, clicks, Seq("user_id"), "ts",
          "event_id", rightPayload = Seq("ts", "event_id"), bucket = width)
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000").as("purchase_us"),
          expr("asof_ts div 1000").as("click_us"),
          col("asof_event_id").as("click_event_id"))
      assert(plain.exceptAll(bucketed).count() == 0 &&
        bucketed.exceptAll(plain).count() == 0, s"bucket width $width diverged")
    }
  }

  test("stratified sampleBy: seeded, deterministic, per-stratum fractions honored") {
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    val fractions = Map("A" -> 0.5, "N" -> 0.1, "R" -> 0.0)
    val s1 = li.stat.sampleBy("l_returnflag", fractions, seed = 42L)
    val s2 = li.stat.sampleBy("l_returnflag", fractions, seed = 42L)
    assert(s1.count() == s2.count()) // deterministic for a fixed seed
    val counts = s1.groupBy("l_returnflag").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = li.groupBy("l_returnflag").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!counts.contains("R"))
    assert(math.abs(counts("A").toDouble / totals("A") - 0.5) < 0.1)
    assert(math.abs(counts("N").toDouble / totals("N") - 0.1) < 0.05)
  }

  test("saltedInnerHotOnly equals the plain join; heavyKeys finds exactly the hot keys") {
    // key 7 is hot (500 rows), keys 0-9 cold (10 each)
    val probe = (Seq.tabulate(500)(i => (7L, 10000L + i)) ++
      (for { k <- 0L until 10L; i <- 0 until 10 } yield (k, k * 100 + i)))
      .toDF("k", "tie")
    val build = (0L until 10L).toDF("bk").withColumn("name", concat(lit("s"), col("bk")))
    assert(SkewJoin.heavyKeys(probe, "k", 100L) == Seq(7L))
    val hot = SkewJoin.saltedInnerHotOnly(probe, build, "k", "bk",
      saltSource = col("tie"), salts = 4, hotThreshold = 100L)
    val plain = probe.join(build, col("k") === col("bk"))
    assert(hot.count() == plain.count())
    assert(hot.select("k", "tie", "bk", "name").exceptAll(plain.select("k", "tie", "bk", "name")).isEmpty)
    // no hot keys -> falls back to the plain join shape, still identical
    val none = SkewJoin.saltedInnerHotOnly(probe, build, "k", "bk",
      saltSource = col("tie"), salts = 4, hotThreshold = 100000L)
    assert(none.count() == plain.count())
  }

  test("saltedInnerHotDf: DF-driven hot split equals the plain join, string keys, no detection job") {
    val probe = (Seq.fill(300)("hot") ++ Seq("c1", "c2", "c1")).zipWithIndex
      .toDF("k", "tie")
    val build = Seq(("hot", "H"), ("c1", "A"), ("c2", "B"), ("unmatched", "X"))
      .toDF("k", "name")
    val plain = probe.join(build, Seq("k"))
    val hot = SkewJoin.saltedInnerHotDf(probe, build, "k",
      hotKeys = Seq("hot").toDF("k"), saltSource = col("tie"), salts = 4)
    assert(hot.count() == plain.count())
    assert(hot.select("k", "tie", "name")
      .exceptAll(plain.select("k", "tie", "name")).isEmpty)
    // an empty hot list degrades to the plain join's rows
    val none = SkewJoin.saltedInnerHotDf(probe, build, "k",
      hotKeys = Seq.empty[String].toDF("k"), saltSource = col("tie"), salts = 4)
    assert(none.count() == plain.count())
  }

  test("Observation metrics ride the job — no second scan for data-quality counters") {
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    val obs = org.apache.spark.sql.Observation()
    li.observe(obs, count(lit(1)).as("rows"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"),
        count_if(col("l_extendedprice").isNull).as("null_prices"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    assert(m("rows") == li.count())
    assert(m("null_prices") == 0L)
    assert(m("qty").asInstanceOf[Double] > 0)
  }

  test("BloomJoin equals the plain join, actually prunes, survives empty build side") {
    val large = Seq.tabulate(1000)(i => (i.toLong % 100, i.toLong)).toDF("k", "v")
    val small = Seq(1L, 2L, 3L).toDF("sk").withColumn("name", concat(lit("s"), col("sk")))
    val bloomed = BloomJoin.bloomFilteredInner(large, small, "k", "sk")
    val plain = large.join(small, col("k") === col("sk"))
    assert(bloomed.exceptAll(plain).isEmpty && plain.exceptAll(bloomed).isEmpty)
    assert(bloomed.count() == 30)
    // plan assertion needs a parquet source (over a LocalRelation the
    // optimizer eagerly evaluates the predicate into the scan itself) —
    // on a file scan the might_contain filter must sit before the join
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    val supp = Tables.supplier(spark, "/root/testdata/sf0.001").filter(col("s_acctbal") > 5000)
    val fileBloomed = BloomJoin.bloomFilteredInner(li, supp, "l_suppkey", "s_suppkey")
    assert(fileBloomed.queryExecution.executedPlan.toString.contains("might_contain"))
    val filePlain = li.join(supp, col("l_suppkey") === col("s_suppkey"))
    assert(fileBloomed.count() == filePlain.count())
    // empty build side -> empty inner join, no NPE on the null sketch
    val empty = BloomJoin.bloomFilteredInner(large, small.filter(col("sk") > 99), "k", "sk")
    assert(empty.count() == 0)
  }

  test("GapFill: spine covers min..max, zero-fills counts, forward-fills values") {
    val obs = Seq(
      (1L, "2024-01-01", 2L, "A"), (1L, "2024-04-01", 1L, "B"),
      (2L, "2024-02-01", 5L, "X")).toDF("k", "d", "n", "st")
      .withColumn("d", to_date(col("d")))
    val got = GapFill.fillForward(obs, "k", "d", expr("interval 1 month"),
        fillCols = Seq("st"), zeroCols = Seq("n"))
      .select(col("k"), date_format(col("d"), "yyyy-MM-dd").as("d"), col("n"), col("st"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(got.size == 5) // key 1: 4 months; key 2: 1 month
    assert(got((1L, "2024-01-01")) == ((2L, "A")))
    assert(got((1L, "2024-02-01")) == ((0L, "A")))   // gap: zero count, carried status
    assert(got((1L, "2024-03-01")) == ((0L, "A")))
    assert(got((1L, "2024-04-01")) == ((1L, "B")))
    assert(got((2L, "2024-02-01")) == ((5L, "X")))
  }

  test("Scd.collapseRuns folds consecutive equal attributes into validity intervals") {
    // key 1: A(d1,d2) B(d3) A(d4) -> three runs (A twice, non-adjacent);
    // key 2: single run
    val df = Seq(
      (1L, "2024-01-01", 10L, "A"), (1L, "2024-01-02", 11L, "A"),
      (1L, "2024-01-03", 12L, "B"), (1L, "2024-01-04", 13L, "A"),
      (2L, "2024-01-01", 20L, "X")).toDF("k", "d", "tie", "attr")
    val got = Scd.collapseRuns(df, "k", "d", "tie", "attr")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getString(2), r.getString(3), r.getString(4), r.getLong(5)))).toMap
    assert(got.size == 4)
    assert(got((1L, 1L)) == (("A", "2024-01-01", "2024-01-02", 2L)))
    assert(got((1L, 2L)) == (("B", "2024-01-03", "2024-01-03", 1L)))
    assert(got((1L, 3L)) == (("A", "2024-01-04", "2024-01-04", 1L)))
    assert(got((2L, 1L)) == (("X", "2024-01-01", "2024-01-01", 1L)))
  }

  test("leftAsOfTolerance rejects a payload missing the timestamp with a clear message") {
    val left = Seq((1L, 10L, 100L)).toDF("user_id", "ts", "event_id")
    val right = Seq((1L, 5L, 900L, "r")).toDF("user_id", "ts", "event_id", "payload")
    val e = intercept[IllegalArgumentException] {
      AsOfJoin.leftAsOfTolerance(left, right, Seq("user_id"), "ts", "event_id",
        rightPayload = Seq("payload"), tolerance = 100L)
    }
    assert(e.getMessage.contains("include 'ts' in rightPayload"), e.getMessage)
  }

  test("Sessionize splits on gaps greater than maxGap") {
    val df = Seq((1L, 0L, 1L), (1L, 10L, 2L), (1L, 100L, 3L), (1L, 105L, 4L), (2L, 0L, 5L))
      .toDF("user_id", "ts", "event_id")
    val out = Sessionize.byGap(df, "user_id", "ts", "event_id", maxGap = 50L)
      .select(col("event_id"), col("session_idx")).as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 1L))
  }

  test("DateDimension derives calendar parts + season (ref etl.py:276-336)") {
    val df = Seq("2016-01-15", "2016-07-04", "2016-07-04").toDF("d")
    val out = DateDimension.build(df, to_date(col("d")))
    assert(out.count() == 2)
    val summer = out.filter(col("arrival_month") === 7).head
    assert(summer.getAs[String]("date_season") == "summer")
    assert(summer.getAs[Int]("arrival_day") == 4)
  }

  test("SkewJoin.saltedInner returns row-identical results to the plain join") {
    val d = "/root/testdata/sf0.001"
    val li = Tables.lineitem(spark, d)
    val su = Tables.supplier(spark, d)
    val salted = SkewJoin.saltedInner(li, su, "l_suppkey", "s_suppkey",
        struct(col("l_orderkey"), col("l_linenumber")), salts = 8)
      .select(col("l_orderkey"), col("l_linenumber"), col("s_suppkey"), col("s_name"))
    val plain = li.join(su, col("l_suppkey") === col("s_suppkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("s_suppkey"), col("s_name"))
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("RangeJoin.innerRange equals the naive theta join") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val l = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("pid"))
    val r = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"), col("event_id").as("cid"))
    val hour = 3600000000000L
    val bucketed = RangeJoin.innerRange(l, r, "user_id", "p_ts", "c_ts", hour, hour)
      .select(col("pid"), col("cid"))
    val naive = l.join(r, l("user_id") === r("user_id")
        && r("c_ts") >= l("p_ts") - hour && r("c_ts") <= l("p_ts") + hour)
      .select(col("pid"), col("cid"))
    assert(bucketed.count() == naive.count() && bucketed.count() > 0)
    assert(bucketed.exceptAll(naive).isEmpty && naive.exceptAll(bucketed).isEmpty)
  }

  test("AsOfJoin differential vs naive max_by under heavy ts collisions (seeded)") {
    val rnd = new scala.util.Random(7)
    // ts range [0,30) over 6 keys -> many exact collisions on both sides
    val left = Seq.tabulate(400)(i => (rnd.nextInt(6).toLong, rnd.nextInt(30).toLong, 1000L + i))
      .toDF("user_id", "ts", "event_id")
    val right = Seq.tabulate(300)(i => (rnd.nextInt(6).toLong, rnd.nextInt(30).toLong, 2000L + i))
      .toDF("user_id", "ts", "event_id")
      .withColumn("payload", concat(lit("p"), col("event_id")))

    val got = AsOfJoin.leftAsOf(left, right, Seq("user_id"), "ts", "event_id", Seq("payload"))
      .select(col("event_id"), col("asof_payload"))

    // naive: for each left row, the right row with max (ts, event_id)
    // among rts <= lts — same inclusive semantics and tiebreak
    val naive = left.alias("l")
      .join(right.alias("r"),
        col("l.user_id") === col("r.user_id") && col("r.ts") <= col("l.ts"), "left")
      .groupBy(col("l.event_id").as("event_id"))
      .agg(max_by(col("r.payload"), struct(col("r.ts"), col("r.event_id"))).as("asof_payload"))

    assert(got.count() == 400 && naive.count() == 400)
    assert(got.exceptAll(naive).isEmpty && naive.exceptAll(got).isEmpty)
  }

  test("Sessionize differential vs driver-side reference on random data (seeded)") {
    val rnd = new scala.util.Random(11)
    val rows = Seq.tabulate(600)(i => (rnd.nextInt(8).toLong, rnd.nextInt(1000).toLong, i.toLong))
    val df = rows.toDF("user_id", "ts", "event_id")
    val got = Sessionize.byGap(df, "user_id", "ts", "event_id", maxGap = 40L)
      .select(col("event_id"), col("session_idx")).as[(Long, Long)].collect().toMap

    // reference implementation in plain Scala
    val expected = rows.groupBy(_._1).flatMap { case (_, evs) =>
      val sorted = evs.sortBy(e => (e._2, e._3))
      var idx = 0L
      var lastTs = Long.MinValue
      sorted.map { case (_, ts, id) =>
        if (lastTs == Long.MinValue || ts - lastTs > 40L) idx += 1
        lastTs = ts
        id -> idx
      }
    }
    assert(got == expected)
  }

  test("Pack.chunkAssignments: offsets are contiguous, chunk spans hand-checked") {
    import graft.text.Pack
    val docs = Seq(("en", 1L, 100L), ("en", 2L, 50L), ("en", 3L, 200L),
      ("fr", 1L, 130L)).toDF("lang", "doc_id", "n_tok")
    val got = Pack.chunkAssignments(docs, "lang", "doc_id", "n_tok", seqLen = 128L)
      .select(col("lang"), col("doc_id"), col("tok_start"), col("chunk_first"), col("chunk_last"))
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      ("en", 1L, 0L, 0L, 0L),     // tokens [0,100)   -> chunk 0
      ("en", 2L, 100L, 0L, 1L),   // tokens [100,150) -> straddles 0/1
      ("en", 3L, 150L, 1L, 2L),   // tokens [150,350) -> chunks 1..2
      ("fr", 1L, 0L, 0L, 1L)))    // independent stream per group
  }

  test("Pack two-level cumsum: differential vs single window, shard-parallel plan") {
    import graft.text.Pack
    val docs = Seq.tabulate(300)(i =>
      (if (i % 3 == 0) "en" else "fr", i.toLong, (i % 7 + 1).toLong))
      .toDF("lang", "doc_id", "n_tok")
    def norm(d: org.apache.spark.sql.DataFrame) =
      d.select(col("lang"), col("doc_id"), col("n_tokens"), col("tok_start"),
        col("chunk_first"), col("chunk_last"))
        .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    val ref = norm(Pack.chunkAssignmentsSingleWindow(docs, "lang", "doc_id", "n_tok", 128L))
    // several shards per group (width 32 over ids 0..299) — identical rows
    val got = Pack.chunkAssignments(docs, "lang", "doc_id", "n_tok", 128L, shardWidth = 32L)
    assert(norm(got) == ref)
    // the corpus window partitions by (group, shard), not group alone:
    // parallelism is no longer bounded by group count
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("__shard"), plan)
    assert("hashpartitioning\\(lang[^)]*__shard".r.findFirstIn(plan).nonEmpty,
      s"expected a (lang, __shard) exchange:\n$plan")
    // degenerate width (one shard) still matches
    assert(norm(Pack.chunkAssignments(docs, "lang", "doc_id", "n_tok", 128L,
      shardWidth = 1000000L)) == ref)
  }

  test("Pack.chunkAssignments rejects a non-numeric order column") {
    import graft.text.Pack
    val docs = Seq(("en", "d1", 10L)).toDF("lang", "doc_id", "n_tok")
    val e = intercept[IllegalArgumentException] {
      Pack.chunkAssignments(docs, "lang", "doc_id", "n_tok", 128L)
    }
    assert(e.getMessage.contains("numeric"))
  }

  test("applyChanges: unknown or null op fails loudly instead of silently deleting") {
    val base = Seq((1L, "a")).toDF("k", "v")
    val bad = Seq((1L, "a2", 1L, "upsert")).toDF("k", "v", "seq", "op")
    val e = intercept[Exception] {
      Cdc.applyChanges(base, bad, "k", "seq", "op").collect()
    }
    assert(e.getMessage != null)
    val nullOp = Seq((1L, "a2", 1L, null.asInstanceOf[String]))
      .toDF("k", "v", "seq", "op")
    intercept[Exception] {
      Cdc.applyChanges(base, nullOp, "k", "seq", "op").collect()
    }
  }

  test("applyChanges: seq ties break deterministically across partitionings") {
    val base = Seq((1L, "orig")).toDF("k", "v")
    val tied = Seq((1L, "x", 1L, "update"), (1L, "y", 1L, "update"),
      (1L, "z", 1L, "update")).toDF("k", "v", "seq", "op")
    def run(c: org.apache.spark.sql.DataFrame) =
      Cdc.applyChanges(base, c, "k", "seq", "op").as[(Long, String)].collect().toSet
    val first = run(tied)
    assert(run(tied.repartition(7)) == first)
    assert(run(tied.repartition(1)) == first)
    assert(run(tied.orderBy(col("v").desc)) == first)
  }

  test("contiguousPatterns: hand-counted grams, short entities skip long sizes, repeats count once") {
    import graft.operators.SeqMining
    // u1: a,b,c ; u2: a,b ; u3: a,b,a,b (a->b twice, counted once)
    val df = Seq((1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "c"),
      (2L, 1L, "a"), (2L, 2L, "b"),
      (3L, 1L, "a"), (3L, 2L, "b"), (3L, 3L, "a"), (3L, 4L, "b"))
      .toDF("u", "ts", "item")
    val got = SeqMining.contiguousPatterns(df, "u", Seq("ts"), "item",
        sizes = Seq(2, 3), minSupport = 0.0)
      .select("pattern", "n_entities").as[(String, Long)].collect().toMap
    assert(got("a->b") == 3L)
    assert(got("b->c") == 1L)
    assert(got("a->b->c") == 1L)
    assert(got("b->a") == 1L && got("b->a->b") == 1L)
    // minSupport prunes
    val pruned = SeqMining.contiguousPatterns(df, "u", Seq("ts"), "item",
      Seq(2), minSupport = 0.9).select("pattern").as[String].collect().toSeq
    assert(pruned == Seq("a->b"))
  }

  test("psmMatch: nearest-below control, per-score dedup, unmatched stays null") {
    import graft.operators.Causal
    val units = Seq(
      (1L, 10L, 1, 1L), (3L, 5L, 1, 0L), (7L, 0L, 1, 1L), // treated
      (2L, 8L, 0, 1L), (4L, 8L, 0, 0L), (6L, 1L, 0, 0L))  // controls (2,4 tie on score)
      .toDF("id", "s", "t", "y")
    val got = Causal.psmMatch(units, "id", "s", "t", "y")
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(3)), Option(r.get(4)))).toMap
    assert(got(1L) == ((Some(2L), Some(1L)))) // score-8 tie -> min id 2
    assert(got(3L) == ((Some(6L), Some(0L))))
    assert(got(7L) == ((None, None))) // nothing at or below score 0
  }

  test("did: hand-computed four-cell estimate and Welch SE; empty cell nulls") {
    import graft.operators.Causal
    val rows = Seq((true, false, 1.0), (true, false, 3.0), (true, true, 5.0),
      (true, true, 9.0), (false, false, 2.0), (false, false, 4.0),
      (false, true, 3.0), (false, true, 5.0))
    val r = Causal.did(rows.toDF("t", "p", "v"), "t", "p", "v").head
    assert(r.getAs[Double]("mean_t_pre") == 2.0 && r.getAs[Double]("mean_t_post") == 7.0)
    assert(r.getAs[Double]("mean_c_pre") == 3.0 && r.getAs[Double]("mean_c_post") == 4.0)
    assert(r.getAs[Double]("did") == 4.0)
    def r6(x: Double) = math.rint((x + 1e-12) * 1e6) / 1e6
    assert(r.getAs[Double]("se_did") == r6(math.sqrt(7.0)))
    val missing = rows.filterNot { case (t, p, _) => t && p }
    val rm = Causal.did(missing.toDF("t", "p", "v"), "t", "p", "v").head
    assert(rm.isNullAt(rm.fieldIndex("did")))
  }

  test("rfm: extreme users land in the extreme quintiles, recency inverted") {
    import graft.operators.Rfm
    // user i has i+1 events ending at ts 10*i, each worth 10*(i+1)
    val rows = for (i <- 0 until 5; j <- 0 to i)
      yield (i.toLong, i * 10L + j, 10.0 * (i + 1))
    val got = Rfm.scores(rows.toDF("u", "ts", "amt"), "u", "ts", "amt")
      .select("u", "r_score", "f_score", "m_score")
      .as[(Long, Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3, t._4)).toMap
    assert(got(4L) == ((5L, 5L, 5L))) // latest, most events, highest spend
    assert(got(0L) == ((1L, 1L, 1L)))
    assert(got.values.forall { case (a, b, c) =>
      Seq(a, b, c).forall(s => s >= 1 && s <= 5) })
  }

  test("quantileNormalize: midrank/(n+1) on a tied block; groups independent") {
    import graft.operators.RankedStats
    val df = Seq(("g", 1.0), ("g", 2.0), ("g", 2.0), ("g", 3.0), ("h", 9.0))
      .toDF("grp", "v")
    val got = RankedStats.quantileNormalize(df, Seq("grp"), "v")
      .select("grp", "v", "q_uniform").as[(String, Double, Double)]
      .collect().toSet
    assert(got == Set(("g", 1.0, 0.2), ("g", 2.0, 0.5), ("g", 3.0, 0.8),
      ("h", 9.0, 0.5)))
  }

  test("classBalance: every class downsampled to the min class size, deterministically") {
    import graft.operators.Sampling
    GraftExtensions.register(spark)
    val df = (Seq.tabulate(7)(i => (i.toLong, "a")) ++
      Seq.tabulate(3)(i => (100L + i, "b"))).toDF("id", "cls")
    val got = Sampling.classBalance(df, "cls", "id")
    val counts = got.groupBy("cls").count().as[(String, Long)].collect().toMap
    assert(counts == Map("a" -> 3L, "b" -> 3L))
    val again = Sampling.classBalance(df.repartition(5), "cls", "id")
    assert(got.select("id").as[Long].collect().toSet ==
      again.select("id").as[Long].collect().toSet)
  }

  test("trimmedMean: 10-90 band on 1..10 keeps 2..9 and averages 5.5") {
    import graft.operators.Robust
    val df = (1 to 10).map(i => ("g", i.toDouble)).toDF("grp", "v")
    val r = Robust.trimmedMean(df, "grp", "v", lo = 0.1, hi = 0.9).head
    assert(r.getAs[Long]("n_used") == 8L)
    assert(r.getAs[Double]("trimmed_mean") == 5.5)
  }

  test("negativeSamples: in-range, never self, deterministic under repartitioning") {
    import graft.operators.Sampling
    val df = (0L until 10L).toDF("id")
    val got = Sampling.negativeSamples(df, "id", k = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(got.size == 20)
    assert(got.forall { case (id, j, neg) =>
      neg >= 0 && neg < 10 && neg != id && j >= 1 && j <= 2 })
    val again = Sampling.negativeSamples(df.repartition(4), "id", k = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(again == got)
  }

  test("contentManifest: order-free fingerprint detects any mutation") {
    import graft.operators.Profile
    val df = Seq((1L, "p", "aa"), (2L, "p", "bb"), (3L, "q", "cc"))
      .toDF("id", "part", "text")
    def fp(d: org.apache.spark.sql.DataFrame) =
      Profile.contentManifest(d, Seq("part"), "id", "text")
        .select("part", "n_rows", "fingerprint")
        .as[(String, Long, Long)].collect()
        .map { case (p, n, f) => p -> ((n, f)) }.toMap
    val base = fp(df)
    assert(base("p")._1 == 2L && base("q")._1 == 1L)
    // row order / partitioning never changes the sum
    assert(fp(df.orderBy(col("id").desc).repartition(3)) == base)
    // one mutated byte changes the partition fingerprint only
    val mut = Seq((1L, "p", "aX"), (2L, "p", "bb"), (3L, "q", "cc"))
      .toDF("id", "part", "text")
    val m = fp(mut)
    assert(m("p") != base("p") && m("q") == base("q"))
  }

  test("bottomKByHash sample is invariant under repartitioning (unlike sample())") {
    import graft.operators.Sampling
    GraftExtensions.register(spark)
    val df = Seq.tabulate(500)(i => (i.toLong % 7, i.toLong, s"row$i"))
      .toDF("grp", "key", "payload")
    def draw(d: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      Sampling.bottomKByHash(d, Seq("grp"), "key", 4)
        .select(col("grp"), col("key"), col("rn"))
        .as[(Long, Long, Long)].collect().toSet
    val base = draw(df)
    assert(base.size == 28) // 7 groups x 4
    assert(draw(df.repartition(17, col("payload"))) == base)
    assert(draw(df.repartition(1)) == base)
    // merge-ability: bottom-k of unioned per-shard bottom-k == global
    val shards = Seq(df.filter(col("key") < 200), df.filter(col("key") >= 200))
    val merged = draw(Sampling.bottomKByHash(shards(0), Seq("grp"), "key", 4)
      .drop("rn").unionAll(Sampling.bottomKByHash(shards(1), Seq("grp"), "key", 4).drop("rn")))
    assert(merged == base)
  }

  test("globalShuffleOrder: a permutation of 0..n-1, partitioning-invariant, no global sort") {
    import graft.operators.Sampling
    val df = Seq.tabulate(700)(i => (i.toLong, s"p$i")).toDF("key", "payload")
    def order(d: org.apache.spark.sql.DataFrame, shards: Int = 8): Map[Long, Long] =
      TestSpark.withShufflePartitions(shards) {
        Sampling.globalShuffleOrder(d, "key")
          .select(col("key"), col("global_pos"))
          .as[(Long, Long)].collect().toMap
      }
    val base = order(df)
    assert(base.values.toSeq.sorted == (0L until 700L)) // exact permutation
    assert(order(df.repartition(13, col("payload"))) == base)
    assert(order(df.repartition(1)) == base)
    // the shard count (shuffle partitions) moves shard boundaries only
    Seq(1, 3).foreach(n => assert(order(df, n) == base, s"order differs under $n shards"))
    // matches the single-window reference order (md5-prefix, key)
    val ref = df.select(col("key"))
      .withColumn("__h", conv(substring(md5(col("key").cast("string")), 1, 15), 16, 10).cast("long"))
      .orderBy(col("__h"), col("key")).collect().map(_.getLong(0))
    ref.zipWithIndex.foreach { case (k, pos) => assert(base(k) == pos.toLong) }
    // scale shape: the data-sized window is sharded; only the 8-row
    // offsets table sees a no-partition window
    val plan = TestSpark.withShufflePartitions(8) {
      Sampling.globalShuffleOrder(df, "key").queryExecution.executedPlan.toString
    }
    assert(plan.contains("windowspecdefinition(__shard"), plan)
  }

  test("applyChanges: latest-wins upsert/delete/insert semantics") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val changes = Seq(
      (1L, "a2", 1L, "update"), // plain update
      (2L, "b2", 1L, "update"), // update overridden by later delete
      (2L, "b2", 2L, "delete"),
      (3L, "x", 1L, "delete"),  // delete overridden by later re-insert
      (3L, "c2", 2L, "insert"),
      (9L, "new", 1L, "insert") // fresh key
    ).toDF("k", "v", "seq", "op")
    val out = Cdc.applyChanges(base, changes, "k", "seq", "op")
      .as[(Long, String)].collect().toSet
    assert(out == Set((1L, "a2"), (3L, "c2"), (9L, "new")))
  }

  test("applyChanges rejects a changes df missing base columns") {
    val base = Seq((1L, "a")).toDF("k", "v")
    val bad = Seq((1L, 1L, "update")).toDF("k", "seq", "op")
    val e = intercept[IllegalArgumentException] {
      Cdc.applyChanges(base, bad, "k", "seq", "op")
    }
    assert(e.getMessage.contains("v"))
  }

  test("applyChanges shuffles the change set once (window feeds the joins, no re-exchange)") {
    val base = Tables.orders(spark, "/root/testdata/sf0.001")
      .select(col("o_orderkey"), col("o_orderstatus"))
    val changes = Tables.orders(spark, "/root/testdata/sf0.001")
      .filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        lit(1L).as("seq"), lit("update").as("op"))
    val plan = Cdc.applyChanges(base, changes, "o_orderkey", "seq", "op")
      .queryExecution.executedPlan.toString
    // one exchange for the window over changes; the anti-join reuses that
    // partitioning on the change side (plus at most one for the base side)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 2, s"expected <=2 hash exchanges, got $exchanges:\n$plan")
  }

  test("fuzzy join / join-size / triangles reject non-integral id and key columns") {
    val sIds = Seq(("x1", "abc")).toDF("id", "s")
    intercept[IllegalArgumentException] {
      FuzzyJoin.editDistanceSelfJoin(sIds, "s", "id", maxDist = 1)
    }
    intercept[IllegalArgumentException] {
      JoinSize.cmInnerProduct(sIds, "id", sIds, "id")
    }
    intercept[IllegalArgumentException] {
      graft.graph.Triangles.triangleStats(Seq(("a", "b")).toDF("u", "v"), "u", "v")
    }
  }

  test("cmInnerProduct: collision-free width is exact; width=1 degenerates to |A|x|B|") {
    val a = Seq(1L, 1L, 1L, 2L, 3L).toDF("k")   // counts 3,1,1
    val b = Seq(1L, 2L, 2L, 9L).toDF("k")       // counts 1,2,1
    val wide = JoinSize.cmInnerProduct(a, "k", b, "k", width = 65536, depth = 3)
      .select("est").as[Long].collect()
    assert(wide.toSet == Set(3L * 1 + 1 * 2))    // sum cntA*cntB = 5, every row
    val narrow = JoinSize.cmInnerProduct(a, "k", b, "k", width = 1, depth = 2)
      .select("est").as[Long].collect()
    assert(narrow.toSet == Set(5L * 4))          // one bucket: |A|*|B|
  }

  test("cmInnerProduct never under-estimates the true join size on the corpus") {
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    val ord = Tables.orders(spark, "/root/testdata/sf0.001")
    val truth = li.join(ord, li("l_orderkey") === ord("o_orderkey")).count()
    for (w <- Seq(32, 512)) {
      val ests = JoinSize.cmInnerProduct(li, "l_orderkey", ord, "o_orderkey", width = w)
        .select("est").as[Long].collect()
      assert(ests.forall(_ >= truth), s"width=$w under-estimated: ${ests.toSeq} < $truth")
    }
  }

  test("editDistanceSelfJoin: hand pairs — substitutions, indels, length gap, empty") {
    val strs = Seq(
      1L -> "kitten", 2L -> "sitten",   // ed 1 (substitution)
      3L -> "sittin", 4L -> "sitting",  // 3-4 ed 1 (insertion), 2-3 ed 1
      5L -> "kitchen",                  // 1-5 ed 2 (insert c + sub t->h? -> verify)
      6L -> "", 7L -> "ab",             // 6-7 ed 2 (two inserts)
      8L -> "zzzzzz").toDF("id", "s")
    val out = FuzzyJoin.editDistanceSelfJoin(strs, "s", "id", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out((1L, 2L)) == 1L && out((2L, 3L)) == 1L && out((3L, 4L)) == 1L)
    assert(out((1L, 5L)) == 2L)
    assert(out((6L, 7L)) == 2L)
    assert(out((2L, 4L)) == 2L) // sitten -> sitting
    assert(!out.keySet.exists(p => p._1 == 8L || p._2 == 8L)) // zzzzzz matches nothing
  }

  test("editDistanceSelfJoin / editDistanceJoin: a NULL string per side matches the NULL-filtered run") {
    val left = Seq[(Long, String)](1L -> "kitten", 2L -> "sitten", 3L -> "sitting",
      4L -> null, 5L -> "ab").toDF("id", "s")
    val right = Seq[(Long, String)](10L -> "kitten", 11L -> null, 12L -> "abc")
      .toDF("id", "s")
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    val self = FuzzyJoin.editDistanceSelfJoin(left, "s", "id", maxDist = 2)
    val selfClean = FuzzyJoin.editDistanceSelfJoin(left.filter($"s".isNotNull), "s", "id", 2)
    assert(same(self, selfClean) && selfClean.count() > 0)
    val two = FuzzyJoin.editDistanceJoin(left, "s", "id", right, "s", "id", maxDist = 2)
    val twoClean = FuzzyJoin.editDistanceJoin(left.filter($"s".isNotNull), "s", "id",
      right.filter($"s".isNotNull), "s", "id", 2)
    assert(same(two, twoClean) && twoClean.count() > 0)
  }

  test("editDistanceSelfJoin is complete: differential vs brute force on corpus prefixes") {
    val t = Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", substring($"text", 1, 10).as("s"))
    for (k <- Seq(1, 3)) {
      val banded = FuzzyJoin.editDistanceSelfJoin(t, "s", "doc_id", k)
      val a = t.select($"doc_id".as("id_a"), $"s".as("sa"))
      val brute = a.crossJoin(t.select($"doc_id".as("id_b"), $"s".as("sb")))
        .filter($"id_a" < $"id_b" && levenshtein($"sa", $"sb") <= k)
        .select($"id_a", $"id_b", levenshtein($"sa", $"sb").cast("long").as("dist"))
      assert(banded.exceptAll(brute).isEmpty && brute.exceptAll(banded).isEmpty,
        s"banded join diverged from brute force at k=$k")
      assert(banded.count() > 0, s"degenerate test: no pairs at k=$k")
    }
  }

  test("leakageSafeSplit: no near-dup pair straddles folds; singletons spread; args validated") {
    import graft.operators.Sampling
    val ids = (1L to 400L).toDF("id")
    // chain components {1..4}, {10,11}, plus 394 singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val split = Sampling.leakageSafeSplit(ids, "id", pairs, "id_a", "id_b")
    // every edge's endpoints got the identical fold AND bucket
    val straddle = pairs
      .join(split.as("x"), $"id_a" === $"x.id")
      .join(split.as("y"), $"id_b" === $"y.id")
    assert(straddle.filter($"x.split" =!= $"y.split" || $"x.bucket" =!= $"y.bucket").count() == 0)
    // folds partition the ids; train is the big share; all three non-empty
    val counts = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 400L && counts.keySet == Set("train", "val", "test"))
    assert(counts("train") > counts("val") && counts("train") > counts("test"))
    intercept[IllegalArgumentException] {
      Sampling.leakageSafeSplit(ids, "id", pairs, "id_a", "id_b",
        trainBuckets = 9, valBuckets = 1, nBuckets = 10) // no test room
    }
  }

  test("Bootstrap.meanCI: CI brackets the mean, collapses on constants, narrows with n") {
    import graft.operators.Bootstrap
    // same alternating 0/100 distribution at two sample sizes
    val df = spark.range(5500).select(
      when($"id" < 500, "small").otherwise("big").as("g"),
      ($"id" % 2 * 100).cast("double").as("x"), $"id".as("k"))
    val out = Bootstrap.meanCI(df, Seq("g"), "x", "k")
      .collect().map(r => r.getString(0) -> ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    out.foreach { case (g, (mean, lob, hib)) =>
      assert(lob <= mean && mean <= hib, s"$g: CI [$lob, $hib] misses mean $mean")
    }
    val widthSmall = out("small")._3 - out("small")._2
    val widthBig = out("big")._3 - out("big")._2
    assert(widthBig < widthSmall, s"CI did not narrow: big=$widthBig small=$widthSmall")
    // constant data: every resample mean is the constant
    val const = spark.range(100).select(lit("c").as("g"), lit(7.25).as("x"), $"id".as("k"))
    val c = Bootstrap.meanCI(const, Seq("g"), "x", "k").head()
    assert(c.getDouble(2) == 7.25 && c.getDouble(3) == 7.25 && c.getDouble(4) == 7.25)
    intercept[IllegalArgumentException] {
      Bootstrap.meanCI(df, Seq("g"), "x", "k", lo = 0.9, hi = 0.1)
    }
  }

  test("leaveOneOutMeans: closed-form influence, signs, single-category null") {
    import graft.operators.Bootstrap
    // A: two 10s; B: one 40 -> mean_all = 20; without A = 40; without B = 10
    val df = Seq(("A", 10.0), ("A", 10.0), ("B", 40.0)).toDF("c", "x")
    val out = Bootstrap.leaveOneOutMeans(df, "c", "x")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(out("A") == ((2L, 20.0, 40.0, -20.0))) // A pulls the mean DOWN
    assert(out("B") == ((1L, 20.0, 10.0, 10.0)))  // B pulls it UP
    // one category covering everything: nothing remains without it
    val solo = Bootstrap.leaveOneOutMeans(Seq(("A", 1.0)).toDF("c", "x"), "c", "x").head()
    assert(solo.isNullAt(3) && solo.isNullAt(4))
  }

  test("Rendezvous: only the new shard's winners move on grow; balanced; args validated") {
    import graft.operators.Rendezvous
    val keys = (1L to 2000L).toDF("k")
    val five = (0 until 5).map(i => s"s$i")
    val six = five :+ "s5"
    val both = keys.select($"k",
      Rendezvous.shardFor($"k", five).as("a"),
      Rendezvous.shardFor($"k", six).as("b")).collect()
    // a key moves IFF the new shard won it — never between old shards
    assert(both.forall(r => r.getString(1) == r.getString(2) || r.getString(2) == "s5"))
    val moved = both.count(r => r.getString(1) != r.getString(2))
    assert(moved > 0 && moved < 2000 / 3, s"expected ~1/6 moved, got $moved/2000")
    // every shard gets a reasonable share under 5 shards (hash balance)
    val counts = both.groupBy(_.getString(1)).map { case (_, v) => v.size }
    assert(counts.size == 5 && counts.min > 2000 / 5 / 3)
    intercept[IllegalArgumentException] { Rendezvous.shardFor($"k", Seq()) }
    intercept[IllegalArgumentException] { Rendezvous.shardFor($"k", Seq("x", "x")) }
  }

  test("ewma: exact fold weights, frame truncation, per-key isolation, args validated") {
    import graft.operators.TimeSeries
    val df = Seq((1L, 1L, 2.0), (1L, 2L, 4.0), (1L, 3L, 8.0),
                 (2L, 1L, 100.0)).toDF("k", "t", "x")
    val out = TimeSeries.ewma(df, Seq("k"), Seq("t"), "x", alpha = 0.5, lookback = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(out((1L, 1L)) == 2.0)
    assert(out((1L, 2L)) == 2.0 * 0.5 + 4.0)
    assert(out((1L, 3L)) == (2.0 * 0.5 + 4.0) * 0.5 + 8.0)
    assert(out((2L, 1L)) == 100.0) // other key never bleeds in
    // lookback=2 drops the oldest term at t=3
    val short = TimeSeries.ewma(df, Seq("k"), Seq("t"), "x", alpha = 0.5, lookback = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(short((1L, 3L)) == 4.0 * 0.5 + 8.0)
    intercept[IllegalArgumentException] {
      TimeSeries.ewma(df, Seq("k"), Seq("t"), "x", alpha = 1.0)
    }
  }

  test("holt: hand-walked level/trend recurrence, per-key isolation, guards") {
    import graft.operators.TimeSeries
    val df = Seq((1L, 1L, 2.0), (1L, 2L, 4.0), (1L, 3L, 6.0),
                 (2L, 1L, 50.0)).toDF("k", "t", "x")
    val out = TimeSeries.holt(df, Seq("k"), "t", "x", alpha = 0.5, beta = 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    // seed: l=2, b=0; step2: l=.5*4+.5*2=3, b=.5*(3-2)+.5*0=.5
    assert(out((1L, 1L)) == ((2.0, 0.0, 2.0)))
    assert(out((1L, 2L)) == ((3.0, 0.5, 3.5)))
    // step3: l=.5*6+.5*(3+.5)=4.75, b=.5*(4.75-3)+.5*.5=1.125
    assert(out((1L, 3L)) == ((4.75, 1.125, 5.875)))
    assert(out((2L, 1L)) == ((50.0, 0.0, 50.0))) // key isolation
    // a perfectly linear series converges onto the true slope
    val lin = (1 to 40).map(i => (1L, i.toLong, 10.0 + 3.0 * i)).toDF("k", "t", "x")
    val last = TimeSeries.holt(lin, Seq("k"), "t", "x", 0.5, 0.25)
      .orderBy(desc("t")).head()
    assert(math.abs(last.getDouble(4) - 3.0) < 0.01, s"trend ${last.getDouble(4)}")
    assert(math.abs(last.getDouble(5) - (10.0 + 3.0 * 41)) < 0.1)
    intercept[IllegalArgumentException] {
      TimeSeries.holt(df, Seq("k"), "t", "x", alpha = 0.0, beta = 0.5)
    }
    intercept[IllegalArgumentException] {
      TimeSeries.holt(df, Seq("k"), "t", "x", 0.5, 0.5, maxLen = 2)
    }
  }

  test("holt: duplicate (key, order) rows are refused, not fanned out (ADVICE r9)") {
    import graft.operators.TimeSeries
    // 2 rows sharing (k=1, t=2): the state join-back would produce 4
    // output rows with merge-order-dependent values — refuse loudly
    val dup = Seq((1L, 1L, 2.0), (1L, 2L, 4.0), (1L, 2L, 9.0))
      .toDF("k", "t", "x")
    val ex = intercept[IllegalArgumentException] {
      TimeSeries.holt(dup, Seq("k"), "t", "x", 0.5, 0.5)
    }
    assert(ex.getMessage.contains("duplicate"))
    // duplicates on DIFFERENT keys are fine; null orders don't count as
    // duplicates (they get null states, one output row each)
    val ok = Seq[(Long, java.lang.Long, Double)]((1L, 2L, 2.0), (2L, 2L, 4.0),
        (1L, null, 1.0), (1L, null, 5.0))
      .toDF("k", "t", "x")
    assert(TimeSeries.holt(ok, Seq("k"), "t", "x", 0.5, 0.5).count() == 4L)
  }

  test("holt: linear aggregate path == windowed prefix-fold reference, bit-for-bit (seeded, nulls)") {
    import graft.operators.TimeSeries
    val rnd = new scala.util.Random(7)
    val rows = for (k <- 1L to 3L; t <- 1L to 60L) yield
      (k, t, if (rnd.nextInt(10) == 0) null
             else java.lang.Double.valueOf(rnd.nextInt(1000) / 10.0))
    val df = rows.toDF("k", "t", "x")
    def dump(d: org.apache.spark.sql.DataFrame) = d
      .select("k", "t", "level", "trend", "forecast").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val fast = dump(TimeSeries.holt(df, Seq("k"), "t", "x", 0.3, 0.2))
    val ref = dump(TimeSeries.holtViaWindow(df, Seq("k"), "t", "x", 0.3, 0.2))
    assert(fast.keySet == ref.keySet)
    fast.foreach { case (key, v) =>
      assert(v == ref(key), s"state mismatch at $key: $v vs ${ref(key)}")
    }
  }

  test("neymanSample: budget flows to the high-variance stratum; all-constant strata sample nothing") {
    import graft.operators.Sampling
    // "a" has variance (sd=sqrt(50)), "b" and "c" are constant (sd=0):
    // the whole budget lands on "a" (k=min(2,2)), none elsewhere
    val df = Seq((1L, "a", 0.0), (2L, "a", 10.0), (3L, "b", 5.0),
      (4L, "b", 5.0), (5L, "b", 5.0), (6L, "c", 7.0)).toDF("id", "st", "v")
    val out = Sampling.neymanSample(df, "st", "id", "v", totalN = 2L).collect()
    assert(out.length == 2 && out.forall(_.getAs[String]("st") == "a"))
    assert(out.forall(_.getAs[Long]("k_alloc") == 2L))
    // every stratum constant -> sigma-weighted total 0 -> empty sample
    val const = Seq((1L, "a", 5.0), (2L, "b", 5.0), (3L, "b", 5.0))
      .toDF("id", "st", "v")
    assert(Sampling.neymanSample(const, "st", "id", "v", 10L).isEmpty)
    // determinism: same input, same draw
    val again = Sampling.neymanSample(df, "st", "id", "v", 2L).collect()
    assert(out.map(_.getAs[Long]("id")).toSet == again.map(_.getAs[Long]("id")).toSet)
    intercept[IllegalArgumentException] {
      Sampling.neymanSample(df, "st", "id", "v", 0L)
    }
  }

  test("seasonalProfile: perfectly periodic series has strength 1; constant series nulls") {
    import graft.operators.TimeSeries
    // width 10, period 2: counts [1,3,1,3] -> phase means 1 and 3,
    // grand 2, SSR 0, SST 4 -> strength exactly 1
    val df = Seq(5L, 10L, 11L, 12L, 25L, 30L, 31L, 32L).toDF("ts")
    val out = TimeSeries.seasonalProfile(df, "ts", bucketWidth = 10L, period = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out(0L) == ((2L, 1.0, -1.0, 1.0)))
    assert(out(1L) == ((2L, 3.0, 1.0, 1.0)))
    // constant series: SST = 0 -> strength null, seasonal 0
    val const = TimeSeries.seasonalProfile(
      Seq(1L, 11L, 21L, 31L).toDF("ts"), "ts", 10L, 2)
    assert(const.collect().forall(r => r.isNullAt(4) && r.getDouble(3) == 0.0))
    intercept[IllegalArgumentException] {
      TimeSeries.seasonalProfile(df, "ts", 10L, 1)
    }
  }

  test("benford: textual first-digit extraction, absent digits surface as 0, zeros drop") {
    import graft.operators.Profile
    // digits: 1 (12.3), 1 (0.0123 -> "0.01"), 2 (-25.0), 2 (0.2);
    // 0.0 and null drop; digits 3..9 must appear with n_obs 0
    val df = Seq(Some(12.3), Some(0.0123), Some(-25.0), Some(0.2),
      Some(0.0), None).toDF("v")
    val out = Profile.benford(df, "v")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out.keySet == (1L to 9L).toSet)
    assert(out(1L) == ((2L, 0.5)) && out(2L) == ((2L, 0.5)))
    assert((3L to 9L).forall(d => out(d)._1 == 0L && out(d)._2 == 0.0))
    // expected shares follow log10(1 + 1/d) and sum to ~1
    val pexp = Profile.benford(df, "v").collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    def r6(x: Double) = math.rint((x + 1e-12) * 1e6) / 1e6
    assert(pexp(1L) == r6(math.log10(2.0)) && pexp(9L) == r6(math.log10(10.0 / 9)))
  }

  test("ccf: lag 0 equals Pearson r; a shifted copy correlates perfectly at its lead") {
    import graft.operators.TimeSeries
    // x counts at h=0..3: [1,2,0,1] (type a); y is x shifted +1: [0,1,2,0]
    // at lag +1 the overlapping y window IS x's first 3 values
    val rows = Seq(5L -> "a", 10L -> "a", 15L -> "a", 35L -> "a",
      15L -> "b", 25L -> "b", 26L -> "b").map { case (t, g) => (t, g) }
    val df = rows.toDF("ts", "g")
    val out = TimeSeries.ccf(df, "ts", col("g") === "a", col("g") === "b",
        bucketWidth = 10L, maxLag = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).toMap
    assert(out.keySet == Set(-1L, 0L, 1L) && out(0L)._1 == 4L && out(1L)._1 == 3L)
    // hand check lag 1: pairs (x_t, y_t+1) = (1,1)(2,2)(0,0); mx=1, my=3/4
    // num = 5 - .75*3 - 1*3 + 3*.75 = 2.0; denom = sqrt(2 * (5 - 9/4))
    def r6(x: Double) = math.rint((x + 1e-12) * 1e6) / 1e6
    assert(out(1L)._2 == r6(2.0 / math.sqrt(2.0 * (5.0 - 9.0 / 4))))
    // y matches nothing -> constant-0 series -> denom 0 -> null everywhere
    val const = TimeSeries.ccf(df, "ts", col("g") === "a", col("g") === "zzz",
      10L, 1)
    assert(const.count() == 3 && const.collect().forall(_.isNullAt(2)))
  }

  test("kaplanMeier: hand-computed curve with censoring; d = n collapses to exactly 0") {
    import graft.operators.Survival
    // lifetimes (bucket 1): u1 dur 2, u2 dur 3, u3 dur 9 (t1=10=max,
    // horizon 2 => censored). S(2)=2/3, S(3)=1/3, S(9)=1/3 (no event)
    val df = Seq((1L, 0L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 1L), (3L, 10L))
      .toDF("u", "ts")
    val out = Survival.kaplanMeier(df, "u", "ts", horizon = 2L, bucketWidth = 1L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    def r6(x: Double) = math.rint((x + 1e-12) * 1e6) / 1e6
    assert(out(2L) == ((3L, 1L, 0L, r6(math.exp(math.log(2.0 / 3))))))
    assert(out(3L) == ((2L, 1L, 0L,
      r6(math.exp(math.log(2.0 / 3) + math.log(0.5))))))
    assert(out(9L) == ((1L, 0L, 1L,
      r6(math.exp(math.log(2.0 / 3) + math.log(0.5))))))
    // everyone at risk churns at once: survival pinned to exactly 0.0
    val all = Seq((1L, 0L), (2L, 0L)).toDF("u", "ts")
    val z = Survival.kaplanMeier(all, "u", "ts", horizon = 0L, bucketWidth = 1L)
    assert(z.head.getDouble(4) == 0.0 && z.head.getLong(2) == 2L)
    intercept[IllegalArgumentException] {
      Survival.kaplanMeier(df, "u", "ts", horizon = -1L, bucketWidth = 1L)
    }
  }

  test("durbinWatson: perfectly explained series nulls; varying series lands in (0,4)") {
    import graft.operators.TimeSeries
    // constant 2 events/day for 10 days: residuals all 0 -> null dw
    val flat = (0 until 10).flatMap(d => Seq(d * 10L, d * 10L + 1))
      .toDF("ts")
    val rf = TimeSeries.durbinWatson(flat, "ts", bucketWidth = 10L,
      period = 7, halfWindow = 3).head
    assert(rf.getAs[Long]("n_buckets") == 10L)
    assert(rf.isNullAt(rf.fieldIndex("dw")))
    // a sawtooth series leaves alternating residuals -> dw defined, in (0,4]
    val saw = (0 until 12).flatMap(d => Seq.fill(if (d % 2 == 0) 1 else 4)(d * 10L))
      .toDF("ts")
    val rs = TimeSeries.durbinWatson(saw, "ts", bucketWidth = 10L,
      period = 7, halfWindow = 3).head
    val dw = rs.getAs[Double]("dw")
    assert(dw > 0.0 && dw <= 4.0)
  }

  test("nelsonAalen: hand-computed cumulative hazard on the kaplanMeier fixture") {
    import graft.operators.Survival
    // durations: u1=2, u2=3, u3=9 (censored): H(2)=1/3, H(3)=1/3+1/2, H(9) flat
    val df = Seq((1L, 0L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 1L), (3L, 10L))
      .toDF("u", "ts")
    val out = Survival.nelsonAalen(df, "u", "ts", horizon = 2L, bucketWidth = 1L)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    def r6(x: Double) = math.rint((x + 1e-12) * 1e6) / 1e6
    assert(out(2L) == r6(1.0 / 3))
    assert(out(3L) == r6(1.0 / 3 + 1.0 / 2))
    assert(out(9L) == r6(1.0 / 3 + 1.0 / 2))
  }

  test("logRank: early-churn cohort vs late-churn cohort gives the hand E/V/z") {
    import graft.operators.Survival
    // A churns at dur 1 (both), B at dur 3 (both); nobody censored.
    // E_a = 2*(2/4) = 1, V = 2*(1/2)(1/2)*2/3 = 1/3, z = 1/sqrt(1/3)
    val df = Seq(("a1", 0L, "A"), ("a1", 1L, "A"), ("a2", 0L, "A"), ("a2", 1L, "A"),
      ("b1", 0L, "B"), ("b1", 3L, "B"), ("b2", 0L, "B"), ("b2", 3L, "B"))
      .toDF("u", "ts", "g")
    val r = Survival.logRank(df, "u", "ts", "g", groupA = "A",
      horizon = 0L, bucketWidth = 1L).head
    def r6(x: Double) = math.rint((x + 1e-12) * 1e6) / 1e6
    val v = 2.0 * 0.5 * 0.5 * 2 / 3
    val z = (2.0 - 1.0) / math.sqrt(v)
    assert(r.getAs[Long]("o_a") == 2L)
    assert(r.getAs[Double]("e_a") == 1.0)
    assert(r.getAs[Double]("var_lr") == r6(v))
    assert(r.getAs[Double]("logrank_z") == r6(z))
    assert(r.getAs[Double]("logrank_chi2") == r6(z * z))
  }

  test("pairwiseJsTerms: identical mixes give 0; hand-computed asymmetric pair") {
    import graft.operators.Drift
    val same = Seq(("g1", "a b"), ("g2", "a b")).toDF("src", "text")
    val s = Drift.pairwiseJsTerms(same, "src", "text").head
    assert(s.getAs[Double]("js") == 0.0 && s.getAs[Long]("shared_terms") == 2L)
    // g1 = {a:2/3, b:1/3}, g2 = {a:1/2, c:1/2}; shared = {a}
    val diff = Seq(("g1", "a a b"), ("g2", "a c")).toDF("src", "text")
    val d = Drift.pairwiseJsTerms(diff, "src", "text").head
    def r6(x: Double) = math.rint((x + 1e-12) * 1e6) / 1e6
    val (pa, pb) = (2.0 / 3, 1.0 / 2)
    val ja = pa * math.log(2.0 * pa / (pa + pb))
    val jb = pb * math.log(2.0 * pb / (pa + pb))
    val js = 0.5 * (ja + jb + (1.0 - pa) * math.log(2.0) + (1.0 - pb) * math.log(2.0))
    assert(d.getAs[Long]("shared_terms") == 1L)
    assert(d.getAs[Double]("js") == r6(js))
  }

  test("pairwiseJsTerms: zero-overlap pairs appear with js = ln 2, not dropped") {
    import graft.operators.Drift
    // g1/g2 share vocabulary; g3 is fully disjoint — the odd one out
    val df = Seq(("g1", "a b"), ("g2", "a b"), ("g3", "x y"))
      .toDF("src", "text")
    val rows = Drift.pairwiseJsTerms(df, "src", "text").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("shared_terms"), r.getAs[Double]("js"))).toMap
    assert(rows.size == 3) // complete 3-choose-2 matrix
    def r6(x: Double) = math.rint((x + 1e-12) * 1e6) / 1e6
    assert(rows(("g1", "g2")) == (2L, 0.0))
    assert(rows(("g1", "g3")) == (0L, r6(math.log(2.0))))
    assert(rows(("g2", "g3")) == (0L, r6(math.log(2.0))))
  }

  test("isotonic fit pools the adjacent violator and leaves monotone data unchanged") {
    import graft.operators.Isotonic
    def r6(x: Double) = math.rint((x + 1e-12) * 1e6) / 1e6
    // levels 0.0 -> (1,0), 0.5 -> (1,1), 1.0 -> (2,1): PAVA pools the
    // last two into (2/3)
    val df = Seq((0.0, false), (0.5, true), (1.0, true), (1.0, false))
      .toDF("s", "y")
    val got = Isotonic.fit(df, "s", "y", digits = 2)
      .select("score", "iso_p").as[(Double, Double)].collect().toMap
    assert(got == Map(0.0 -> 0.0, 0.5 -> r6(2.0 / 3), 1.0 -> r6(2.0 / 3)))
    // already-monotone data is a fixed point
    val mono = Seq((0.0, false), (0.5, false), (0.5, true), (1.0, true))
      .toDF("s", "y")
    val gm = Isotonic.fit(mono, "s", "y", digits = 2)
      .select("score", "iso_p").as[(Double, Double)].collect().toMap
    assert(gm == Map(0.0 -> 0.0, 0.5 -> 0.5, 1.0 -> 1.0))
  }

  test("kAnonymity: hand-counted risk summary") {
    import graft.operators.Privacy
    // groups: (a,1) n=3 l=2; (a,2) n=1 l=1; (b,1) n=2 l=1
    val df = Seq(("a", 1, "x"), ("a", 1, "x"), ("a", 1, "y"), ("a", 2, "x"),
      ("b", 1, "z"), ("b", 1, "z")).toDF("q1", "q2", "sens")
    val r = Privacy.kAnonymity(df, Seq("q1", "q2"), "sens", k = 3L).head
    assert(r.getAs[Long]("n_rows") == 6L && r.getAs[Long]("n_groups") == 3L)
    assert(r.getAs[Long]("min_group") == 1L)
    assert(r.getAs[Long]("risky_groups") == 2L && r.getAs[Long]("risky_rows") == 3L)
    assert(r.getAs[Double]("risky_pct") == 0.5)
    assert(r.getAs[Long]("l_min") == 1L && r.getAs[Long]("leaky_groups") == 2L)
  }

  test("assoc pairRules: hand-computed support/confidence/lift; minSupport prunes; dup rows collapse") {
    import graft.operators.AssocRules
    // baskets: 1={a,b} 2={a,b,c} 3={a}; duplicate (1,a) row must not double-count
    val df = Seq((1L, "a"), (1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"),
      (2L, "c"), (3L, "a")).toDF("tx", "item")
    val all = AssocRules.pairRules(df, "tx", "item", minSupport = 0.0)
      .collect().map(r => (r.getString(1), r.getString(0)) ->
        (r.getLong(3), r.getDouble(7), r.getDouble(8))).toMap
    assert(all.size == 6)
    def r6(x: Double) = math.rint((x + 1e-12) * 1e6) / 1e6
    assert(all(("a", "b")) == ((2L, 1.0, 1.0)))          // b->a: conf 2/2, lift 2*3/(2*3)
    assert(all(("b", "a")) == ((2L, r6(2.0 / 3), 1.0)))  // a->b
    assert(all(("c", "b")) == ((1L, 0.5, 1.5)))          // b->c: conf 1/2, lift 3/2
    // minSupport 0.5 keeps only the {a,b} pair (support 2/3)
    val pruned = AssocRules.pairRules(df, "tx", "item", minSupport = 0.5)
    assert(pruned.count() == 2)
    intercept[IllegalArgumentException] {
      AssocRules.pairRules(df, "tx", "item", minSupport = 1.5)
    }
  }

  test("acf: hand-computed lags over a densified gap series; constant and empty inputs") {
    import graft.operators.TimeSeries
    // buckets (width 10): h=0 x1, h=1 x2, h=2 GAP->0, h=3 x1 => series [1,2,0,1]
    // m=1, denom=2; lag1 pairs (1,2)(2,0)(0,1): num=2-3-3+3=-1 -> -0.5
    // lag2 pairs (1,0)(2,1): num=2-3-1+2=0 -> 0.0
    val df = Seq(5L, 10L, 15L, 35L).toDF("ts")
    val out = TimeSeries.acf(df, "ts", bucketWidth = 10L, maxLag = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L) == ((3L, -0.5)) && out(2L) == ((2L, 0.0)))
    // constant series: denom = 0 -> acf null at every lag
    val const = TimeSeries.acf(Seq(1L, 11L, 21L).toDF("ts"), "ts", 10L, 1)
    assert(const.collect().forall(_.isNullAt(2)))
    // empty input -> empty output, schema intact
    val empty = TimeSeries.acf(Seq.empty[Long].toDF("ts"), "ts", 10L, 3)
    assert(empty.columns.toSeq == Seq("lag", "n_pairs", "acf") && empty.isEmpty)
    intercept[IllegalArgumentException] { TimeSeries.acf(df, "ts", 0L, 1) }
    intercept[IllegalArgumentException] { TimeSeries.acf(df, "ts", 10L, 0) }
  }

  test("mannKendall: hand S/var/z/sen on rising, falling, tied, and gapped series") {
    import graft.operators.TimeSeries
    def r6(v: Double) = math.rint((v + 1e-12) * 1e6) / 1e6
    // buckets (width 10): counts [1, 2, 3] -> S=3, no ties, Var=3*2*11/18
    // z = (3-1)/sqrt(66/18); slopes {1,1,1} -> sen = 1
    val rising = Seq(5L, 10L, 15L, 20L, 25L, 29L).toDF("ts")
    val r = TimeSeries.mannKendall(rising, "ts", bucketWidth = 10L).head
    assert(r.getAs[Long]("n_buckets") == 3L && r.getAs[Long]("s_stat") == 3L)
    assert(r.getAs[Double]("var_s") == r6(66.0 / 18))
    assert(r.getAs[Double]("mk_z") == r6(2.0 / math.sqrt(66.0 / 18)))
    assert(r.getAs[Double]("sen_slope") == 1.0)
    // reversed counts [3, 2, 1]: S=-3, z negative by the +1 correction
    val falling = Seq(1L, 2L, 3L, 11L, 12L, 21L).toDF("ts")
    val f = TimeSeries.mannKendall(falling, "ts", 10L).head
    assert(f.getAs[Long]("s_stat") == -3L)
    assert(f.getAs[Double]("mk_z") == r6(-2.0 / math.sqrt(66.0 / 18)))
    assert(f.getAs[Double]("sen_slope") == -1.0)
    // all-tied counts [2, 2, 2]: tie sum cancels Var(S) -> z null, sen 0
    val tied = Seq(1L, 2L, 11L, 12L, 21L, 22L).toDF("ts")
    val td = TimeSeries.mannKendall(tied, "ts", 10L).head
    assert(td.getAs[Long]("s_stat") == 0L && td.getAs[Double]("var_s") == 0.0)
    assert(td.isNullAt(td.fieldIndex("mk_z")) && td.getAs[Double]("sen_slope") == 0.0)
    // a gap densifies to 0: series [1, 0, 1] -> S = -1 + 0 + 1 = 0
    val gap = Seq(5L, 25L).toDF("ts")
    val g = TimeSeries.mannKendall(gap, "ts", 10L).head
    assert(g.getAs[Long]("n_buckets") == 3L && g.getAs[Long]("s_stat") == 0L)
    // empty input -> empty output, schema intact
    val empty = TimeSeries.mannKendall(Seq.empty[Long].toDF("ts"), "ts", 10L)
    assert(empty.columns.toSeq ==
      Seq("n_buckets", "s_stat", "var_s", "mk_z", "sen_slope") && empty.isEmpty)
    intercept[IllegalArgumentException] { TimeSeries.mannKendall(rising, "ts", 0L) }
  }

  test("skyline2D matches brute force; keeps incomparable duplicates; bucket-count invariant") {
    import graft.operators.Skyline
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"n_chars", ($"doc_id" * 37 % 101).cast("double").as("y"))
    for (b <- Seq(1, 8)) {
      val sky = Skyline.skyline2D(docs, "n_chars", "y", "doc_id", buckets = b)
      val brute = docs.as("a").join(docs.as("b"),
          $"b.n_chars" <= $"a.n_chars" && $"b.y" >= $"a.y" &&
            ($"b.n_chars" < $"a.n_chars" || $"b.y" > $"a.y"), "left_anti")
      assert(sky.exceptAll(brute).isEmpty && brute.exceptAll(sky).isEmpty,
        s"skyline diverged from brute force at buckets=$b")
      assert(sky.count() > 0)
    }
    // equal (x, y) points are mutually incomparable — all must survive
    val dup = Seq((1L, 10L, 5.0), (2L, 10L, 5.0), (3L, 20L, 1.0)).toDF("id", "x", "y")
    val kept = Skyline.skyline2D(dup, "x", "y", "id").select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L))
  }

  test("editDistanceJoin (two-table) is complete vs brute force; keeps exact self-matches") {
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", substring($"text", 1, 10).as("s"))
    val bench = corpus.filter($"doc_id" % 7 === 0)
    for (k <- Seq(1, 2)) {
      val banded = FuzzyJoin.editDistanceJoin(corpus, "s", "doc_id", bench, "s", "doc_id", k)
      val brute = corpus.select($"doc_id".as("left_id"), $"s".as("sl"))
        .crossJoin(bench.select($"doc_id".as("right_id"), $"s".as("sr")))
        .filter(levenshtein($"sl", $"sr") <= k)
        .select($"left_id", $"right_id", levenshtein($"sl", $"sr").cast("long").as("dist"))
      assert(banded.exceptAll(brute).isEmpty && brute.exceptAll(banded).isEmpty,
        s"two-table banded join diverged from brute force at k=$k")
      // a bench doc is ed-0 from itself on the corpus side — must be present
      assert(banded.filter($"left_id" === $"right_id" && $"dist" === 0).count() ==
        bench.count(), s"missing exact self-matches at k=$k")
    }
  }
}
