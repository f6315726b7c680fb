package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{coalesce, col, count, lit, max, sum}
import org.apache.spark.sql.graft.bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Parallelism
import graft.sources.CheckpointScope

/** [[CheckpointScope.ClaimOnePartition]]: a checkpoint of one partition
  * that stores at most `openCostInBytes` plans as one partition, so its
  * aggregates and sort-merge joins plan no exchange, with the results of
  * the unclaimed plan; and [[CheckpointScope.pinMeasured]] takes a
  * frame's count or max from its checkpoint job.
  */
class CheckpointClaimSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val openCost = "spark.sql.files.openCostInBytes"

  /** A parquet table of 400 rows (keys 0..6) in `files` files. */
  private def table(prefix: String, files: Int): String = {
    val dir = Files.createTempDirectory(prefix).toString + "/t"
    spark.range(0, 400, 1, files).selectExpr("id % 7 AS k", "id AS v").write.parquet(dir)
    dir
  }

  /** A checkpoint of Spark's own read of `files` files: one partition
    * per file, planned as UnknownPartitioning. */
  private def pinned(prefix: String, files: Int = 1): DataFrame = {
    val ck = spark.read.parquet(table(prefix, files)).localCheckpoint()
    assert(ck.rdd.getNumPartitions == files)
    ck
  }

  /** Does a fresh plan over `ck` claim one partition? */
  private def claimed(ck: DataFrame): Boolean =
    ck.select("*").queryExecution.optimizedPlan
      .collectFirst { case r: LogicalRDD => r.outputPartitioning }.contains(SinglePartition)

  private def storedBytes(ck: DataFrame): Long = ck.queryExecution.logical match {
    case r: LogicalRDD => bridge.storedBytes(spark.sparkContext, r.rdd.id).get
    case p => fail(s"not a checkpoint: $p")
  }

  /** The nodes of `df`'s AQE-final plan, after running it. */
  private def finalPlan(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) { case p => p }
  }

  private def shuffles(df: DataFrame): Int =
    finalPlan(df).count(_.isInstanceOf[ShuffleExchangeExec])

  private def sums(ck: DataFrame): DataFrame = ck.groupBy("k").agg(sum("v").as("s"))

  private def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

  test("a one-partition checkpoint under groupBy plans no exchange, with the unclaimed plan's rows") {
    val ck = pinned("graft-ck-agg")
    assert(claimed(ck))
    assert(shuffles(sums(ck)) == 0, sums(ck).queryExecution.executedPlan)
    val unclaimed = TestSpark.withFileSplits {
      assert(shuffles(sums(ck)) == 1, sums(ck).queryExecution.executedPlan)
      rows(sums(ck))
    }
    assert(rows(sums(ck)) == unclaimed && unclaimed.size == 7)
  }

  test("a sort-merge join of two one-partition checkpoints plans no exchange, with the unclaimed plan's rows") {
    TestSpark.withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val (a, b) = (pinned("graft-ck-join-a"), sums(pinned("graft-ck-join-b")).localCheckpoint())
      def join = a.join(b, "k")
      assert(shuffles(join) == 0, join.queryExecution.executedPlan)
      val unclaimed = TestSpark.withFileSplits {
        assert(shuffles(join) == 2, join.queryExecution.executedPlan)
        rows(join)
      }
      assert(rows(join) == unclaimed && unclaimed.size == 400)
    }
  }

  test("a 4-partition checkpoint keeps its exchange; one partition of the same rows plans none") {
    val four = pinned("graft-ck-four", files = 4)
    assert(!claimed(four) && storedBytes(four) <= spark.sessionState.conf.filesOpenCostInBytes)
    assert(shuffles(sums(four)) == 1, sums(four).queryExecution.executedPlan)
    val one = pinned("graft-ck-four-one")
    assert(claimed(one))
    assert(shuffles(sums(one)) == 0, sums(one).queryExecution.executedPlan)
  }

  test("the bound is the stored bytes against openCostInBytes: claimed at it, an exchange one byte below") {
    val ck = pinned("graft-ck-bound")
    val bytes = storedBytes(ck)
    TestSpark.withConf(openCost -> bytes.toString) {
      assert(shuffles(sums(ck)) == 0, sums(ck).queryExecution.executedPlan)
    }
    TestSpark.withConf(openCost -> (bytes - 1).toString) {
      assert(shuffles(sums(ck)) == 1, sums(ck).queryExecution.executedPlan)
    }
  }

  test("under withFileSplits a one-partition checkpoint makes no claim") {
    val ck = pinned("graft-ck-splits")
    assert(claimed(ck))
    TestSpark.withFileSplits {
      assert(!claimed(ck))
      assert(shuffles(sums(ck)) == 1, sums(ck).queryExecution.executedPlan)
    }
  }

  test("explicit repartitions and Parallelism.widened still fan out a claimed checkpoint") {
    val ck = pinned("graft-ck-fan")
    assert(claimed(ck))
    assert(ck.repartition(5, col("k")).rdd.getNumPartitions == 5)
    val widened = Parallelism.widened(ck)
    assert(widened.rdd.getNumPartitions == Parallelism.shards(spark))
    assert(rows(sums(widened)) == rows(sums(ck)))
  }

  test("pinMeasured takes a count and a max from the checkpoint's own job") {
    val df = spark.read.parquet(table("graft-ck-measure", 2)).selectExpr("k", "v * 2 AS w")
    val plain = TestSpark.jobsDuring(df.localCheckpoint())
    assert(plain >= 1)
    var counted: (DataFrame, Long) = null
    assert(TestSpark.jobsDuring { counted = CheckpointScope.pinMeasured(df, count(lit(1))) } == plain)
    assert(counted._2 == 400 && counted._2 == counted._1.count())
    var maxed: (DataFrame, Long) = null
    assert(TestSpark.jobsDuring {
      maxed = CheckpointScope.pinMeasured(df, coalesce(max(col("w")), lit(0L)))
    } == plain)
    assert(maxed._2 == 798 && maxed._2 == maxed._1.agg(max(col("w"))).head().getLong(0))
    // positive control: a count after the checkpoint runs jobs of its own
    assert(TestSpark.jobsDuring(df.localCheckpoint().count()) > plain)
  }
}
