package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions.{col, explode, lit, sequence}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Parquet

/** [[graft.sources.Parquet]]: the driver-side footer reader gives the
  * schema Spark's own inference gives, starts no job, and hands every
  * case it does not cover to `spark.read.parquet` unchanged. A listing
  * of at most `openCostInBytes` reads as one partition, with no exchange
  * under its aggregates and joins, while explicit repartitions still fan
  * it out.
  */
class ParquetSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def session(settings: (String, String)*): SparkSession = {
    val s = spark.newSession()
    settings.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  private def fresh(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** A directory of four parquet files, a few KB in all: above one
    * split per file on a multi-core session, far below one file open. */
  private def fourFiles(prefix: String): String = {
    val dir = fresh(prefix) + "/t"
    spark.range(0, 400).selectExpr("id % 7 AS k", "id AS v").repartition(4).write.parquet(dir)
    assert(Files.list(Paths.get(dir)).iterator().asScala.count(_.toString.endsWith(".parquet")) == 4)
    dir
  }

  private def listedBytes(dir: String): Long =
    Files.list(Paths.get(dir)).iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .map(Files.size(_)).sum

  /** The nodes of `df`'s AQE-final plan, after running it. */
  private def finalPlan(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) { case p => p }
  }

  private def shuffles(df: DataFrame): Int =
    finalPlan(df).count(_.isInstanceOf[ShuffleExchangeExec])

  /** Same outcome as `spark.read.parquet`: an equal schema, or a failure
    * of the same class (and error condition, for Spark's own errors). */
  private def assertSameSchema(mine: => DataFrame,
                               theirs: => DataFrame): Unit = {
    def outcome(df: => DataFrame) = Try(df.schema).toEither.left.map { e =>
      (e.getClass.getName, e match {
        case t: org.apache.spark.SparkThrowable => Option(t.getCondition)
        case _ => None
      })
    }
    assert(outcome(mine) == outcome(theirs))
  }

  test("Parquet.read gives spark.read.parquet's schema for every star-schema table and a nanos file, nanosAsLong on and off") {
    val nanos = fresh("graft-pq-nanos")
    TestSpark.writeNanosParquet(s"$nanos/part-0.parquet", Seq((1L, 10L)))
    for (flag <- Seq("true", "false");
         path <- Tables.names.map(n => s"$sf/$n.parquet") :+ nanos) {
      val s = session(nanosAsLong -> flag)
      withClue(s"$path nanosAsLong=$flag: ") {
        assertSameSchema(Parquet.read(s, path), s.read.parquet(path))
      }
    }
    // the nanos file is the case the setting decides
    assert(Parquet.schemaOf(session(nanosAsLong -> "true"), nanos)("ts").dataType == LongType)
    assert(Try(Parquet.read(session(nanosAsLong -> "false"), nanos)).isFailure)
  }

  test("Parquet.read and schemaOf start no Spark job; spark.read.parquet starts one") {
    val nanos = fresh("graft-pq-nojob")
    TestSpark.writeNanosParquet(s"$nanos/part-0.parquet", Seq((1L, 10L)))
    val paths = Tables.names.map(n => s"$sf/$n.parquet") :+ nanos
    val s = session(nanosAsLong -> "true")
    assert(TestSpark.jobsDuring(paths.foreach(p => Parquet.read(s, p).schema)) == 0)
    assert(TestSpark.jobsDuring(paths.foreach(p => Parquet.schemaOf(s, p))) == 0)
    // positive control: the counter sees the inference job the reader avoids
    assert(TestSpark.jobsDuring(s.read.parquet(paths.head).schema) == 1)
  }

  test("a missing path and an empty directory fail as spark.read.parquet fails") {
    val missing = fresh("graft-pq-missing") + "/nope"
    assertSameSchema(Parquet.read(spark, missing), spark.read.parquet(missing))
    val empty = fresh("graft-pq-empty")
    Files.createFile(Paths.get(empty, "_SUCCESS")) // hidden: still no data file
    assertSameSchema(Parquet.read(spark, empty), spark.read.parquet(empty))
    assert(Try(Parquet.read(spark, missing)).isFailure && Try(Parquet.read(spark, empty)).isFailure)
  }

  test("a partitionBy directory keeps its partition columns and rows") {
    import spark.implicits._
    val dir = fresh("graft-pq-parts") + "/t"
    Seq((1L, "a", 2020), (2L, "b", 2021)).toDF("k", "v", "yr").write.partitionBy("yr").parquet(dir)
    val df = Parquet.read(spark, dir)
    assert(df.schema == spark.read.parquet(dir).schema)
    assert(df.columns.toSeq == Seq("k", "v", "yr"))
    assert(df.orderBy("k").as[(Long, String, Int)].collect().toSeq ==
      Seq((1L, "a", 2020), (2L, "b", 2021)))
  }

  test("a two-directory read takes the newest directory's schema; mergeSchema merges both") {
    import spark.implicits._
    val root = fresh("graft-pq-two")
    val (old, newest) = (s"$root/b_old", s"$root/a_new") // newest sorts first
    Seq((1L, "x")).toDF("k", "s").write.parquet(old)
    Seq((2L, 9.5)).toDF("k", "d").write.parquet(newest)
    val df = Parquet.read(spark, old, newest)
    assert(df.schema.map(f => (f.name, f.dataType)) == Seq("k" -> LongType, "d" -> DoubleType))
    assert(df.orderBy("k").collect().map(r => (r.getLong(0), Option(r.get(1)))).toSeq ==
      Seq((1L, None), (2L, Some(9.5))))
    val merged = Parquet.read(session("spark.sql.parquet.mergeSchema" -> "true"), old, newest)
    assert(merged.schema.map(f => (f.name, f.dataType)).toSet ==
      Set("k" -> LongType, "s" -> StringType, "d" -> DoubleType))
  }

  test("a 4-file listing of a few KB reads as one partition; Spark's own read plans a split per file") {
    val dir = fourFiles("graft-pq-one")
    assert(listedBytes(dir) <= spark.sessionState.conf.filesOpenCostInBytes)
    assert(Parquet.read(spark, dir).rdd.getNumPartitions == 1)
    assert(spark.read.parquet(dir).rdd.getNumPartitions == 4) // local[8]: one split per file
    assert(Parquet.read(spark, dir).orderBy("v").collect().toSeq ==
      spark.read.parquet(dir).orderBy("v").collect().toSeq)
  }

  test("a one-file listing within the bound is one split in Spark's own read: the claim keeps its parallelism") {
    val dir = fresh("graft-pq-onefile") + "/t"
    spark.range(0, 400).selectExpr("id % 7 AS k", "id AS v").coalesce(1).write.parquet(dir)
    // at the bound itself, the smallest openCostInBytes the claim accepts
    val atLimit = session("spark.sql.files.openCostInBytes" -> listedBytes(dir).toString)
    for (s <- Seq(spark, atLimit)) {
      assert(s.read.parquet(dir).rdd.getNumPartitions == 1)
      assert(Parquet.read(s, dir).rdd.getNumPartitions == 1)
    }
  }

  test("an aggregate and an equi-join over one-partition reads plan no shuffle exchange") {
    val (a, b) = (fourFiles("graft-pq-agg-a"), fourFiles("graft-pq-agg-b"))
    val agg = Parquet.read(spark, a).groupBy("k").count()
    assert(shuffles(agg) == 0, agg.queryExecution.executedPlan)
    assert(agg.orderBy("k").collect().toSeq ==
      spark.read.parquet(a).groupBy("k").count().orderBy("k").collect().toSeq)
    // no broadcast, so the join is a sort-merge join that needs both sides clustered
    val s = session("spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val join = Parquet.read(s, a).join(Parquet.read(s, b).withColumnRenamed("v", "w"), "k")
    assert(shuffles(join) == 0, join.queryExecution.executedPlan)
    assert(join.count() == s.read.parquet(a).join(s.read.parquet(b).withColumnRenamed("v", "w"), "k").count())
  }

  test("the size test reads openCostInBytes from the session: below the listing, Spark's splits and exchange stay") {
    val dir = fourFiles("graft-pq-cost")
    val bytes = listedBytes(dir)
    val atLimit = session("spark.sql.files.openCostInBytes" -> bytes.toString)
    assert(Parquet.read(atLimit, dir).rdd.getNumPartitions == 1)
    val below = session("spark.sql.files.openCostInBytes" -> (bytes - 1).toString)
    val split = below.read.parquet(dir).rdd.getNumPartitions
    assert(split > 1 && Parquet.read(below, dir).rdd.getNumPartitions == split)
    assert(shuffles(Parquet.read(below, dir).groupBy("k").count()) == 1)
    // an older path that Spark lists on its own terms (a glob) voids the claim too
    val older = fourFiles("graft-pq-cost-glob")
    assert(Parquet.read(spark, s"$older/*.parquet", dir).rdd.getNumPartitions > 1)
    assert(Parquet.read(spark, older, dir).rdd.getNumPartitions == 1)
  }

  test("a one-partition read that two branches of one plan share is not claimed: its exchange is reused") {
    val counts = Parquet.read(spark, fourFiles("graft-pq-shared")).groupBy("k").count()
    assert(shuffles(counts) == 0) // one consumer: claimed
    val self = counts.join(counts.withColumnRenamed("count", "c2"), "k")
    val plan = finalPlan(self)
    assert(!plan.exists(_.isInstanceOf[CoalesceExec]), self.queryExecution.executedPlan)
    assert(plan.exists(_.isInstanceOf[ReusedExchangeExec]), self.queryExecution.executedPlan)
    assert(self.collect().map(r => r.getLong(1) - r.getLong(2)).toSeq == Seq.fill(7)(0L))
  }

  test("a one-partition read exploded before its first aggregate is not claimed: the exchange carries the expanded rows") {
    val dir = fourFiles("graft-pq-explode")
    val grams = Parquet.read(spark, dir)
      .select(explode(sequence(lit(0L), col("v") % 5)).as("g")).groupBy("g").count()
    assert(!finalPlan(grams).exists(_.isInstanceOf[CoalesceExec]), grams.queryExecution.executedPlan)
    assert(shuffles(grams) == 1)
    assert(grams.collect().map(_.getLong(1)).sum == (0 until 400).map(_ % 5 + 1).sum)
  }

  test("explicit repartitions and Parallelism.widened still fan out a one-partition read") {
    val df = Parquet.read(spark, fourFiles("graft-pq-fan"))
    assert(df.rdd.getNumPartitions == 1)
    val keyed = df.repartition(5, col("k"))
    assert(keyed.rdd.getNumPartitions == 5)
    assert(!finalPlan(keyed).exists(_.isInstanceOf[CoalesceExec]), keyed.queryExecution.executedPlan)
    assert(df.repartition(3).rdd.getNumPartitions == 3)
    val widened = graft.operators.Parallelism.widened(df)
    assert(widened.rdd.getNumPartitions == graft.operators.Parallelism.shards(spark))
    assert(widened.groupBy("k").count().collect().map(_.getLong(1)).sum == 400)
  }

  test("a filter over a one-partition read still pushes into the scan") {
    val dir = fourFiles("graft-pq-push")
    val df = Parquet.read(spark, dir).filter(col("k") === 3)
    val plan = finalPlan(df)
    assert(plan.exists(_.isInstanceOf[CoalesceExec]), df.queryExecution.executedPlan)
    assert(df.queryExecution.executedPlan.toString.contains("PushedFilters: [IsNotNull(k), EqualTo(k,3)]"),
      df.queryExecution.executedPlan)
    assert(df.count() == spark.read.parquet(dir).filter(col("k") === 3).count())
  }

  test("in src/main only Parquet.scala reads parquet") {
    val read = """read\s*\.\s*(?:\w+\([^()]*\)\s*\.\s*)*parquet\(""".r
    // positive control: the one-line, the split-line and the schema'd form
    Seq("spark.read.parquet(p)", "spark.read\n  .parquet(p)", "s.read.schema(x).parquet(p)")
      .foreach(src => assert(read.findFirstIn(src).isDefined, src))
    assert(read.findFirstIn("df.write.mode(\"overwrite\").parquet(p)").isEmpty)
    val root = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(root), s"no $root under the working directory")
    val readers = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => read.findFirstIn(new String(Files.readAllBytes(p), "UTF-8")).isDefined)
      .map(p => root.relativize(p).toString.replace('\\', '/')).toSet
    assert(readers == Set("graft/sources/Parquet.scala"), readers.toString)
  }
}
