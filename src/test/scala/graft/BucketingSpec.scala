package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed tables co-locate join keys at write time: a join of two
  * tables bucketed by their join key runs with NO shuffle exchange —
  * the core co-location technique for repeated 100 TB fact-fact joins.
  */
class BucketingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("join of tables bucketed on the join key plans without a shuffle exchange") {
    val d = "/root/testdata/sf0.001"
    Tables.lineitem(spark, d).write.mode("overwrite")
      .bucketBy(4, "l_orderkey").sortBy("l_orderkey").saveAsTable("li_bucketed")
    Tables.orders(spark, d).write.mode("overwrite")
      .bucketBy(4, "o_orderkey").sortBy("o_orderkey").saveAsTable("o_bucketed")

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // force a sort-merge join so the bucketing (not broadcast) is what
      // eliminates the exchange
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")

      val joined = spark.table("li_bucketed")
        .join(spark.table("o_bucketed"), col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_extendedprice"), col("o_totalprice"))
      val plan = joined.queryExecution.executedPlan.toString

      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("ShuffleExchange"), s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() == Tables.lineitem(spark, d).count())

      // control: the same join over the raw (unbucketed) parquet DOES
      // plan exchanges, once the tables are read one split per file with
      // no one-partition claim (a claimed read needs none)
      val rawPlan = TestSpark.withFileSplits {
        Tables.lineitem(spark, d)
          .join(Tables.orders(spark, d), col("l_orderkey") === col("o_orderkey"))
          .queryExecution.executedPlan.toString
      }
      assert(rawPlan.contains("Exchange"), s"control join should shuffle:\n$rawPlan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS o_bucketed")
    }
  }
}
