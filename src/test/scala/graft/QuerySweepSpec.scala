package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Positive controls for the whole-query guards: each [[QuerySweep]]
  * check flags a small planted offender, so a guard that reads green on
  * the 320 queries is known to be able to read red.
  */
class QuerySweepSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("doubleEvaluations flags a Filter over a projected word_shingles column") {
    // the shape a pushed-down predicate leaves after substituting the
    // projected column: word_shingles runs in the Filter and again in
    // the Project above it. Spark's optimizer lifts this planted filter
    // back above the Project, so the check reads the analyzed plan.
    val shingles = expr("word_shingles(text, 3)")
    val df = Tables.documents(spark, sf)
      .filter(size(shingles) > 2)
      .select(col("doc_id"), shingles.as("sh"))
    val found = QuerySweep.doubleEvaluations(df.queryExecution.analyzed)
    assert(found.exists(_.startsWith("word_shingles evaluated 2x")), df.queryExecution.analyzed)
  }

  test("unboundedWindows flags a no-PARTITION BY window over a raw scan") {
    val df = Tables.lineitem(spark, sf)
      .withColumn("rn", row_number().over(Window.orderBy(col("l_orderkey"))))
    val found = QuerySweep.unboundedWindows(df.queryExecution.optimizedPlan)
    assert(found.nonEmpty, df.queryExecution.optimizedPlan)
  }

  test("unboundedNoEquiJoins flags a non-equi join of two scans") {
    val df = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf), col("o_orderkey") < col("l_orderkey"))
    val found = QuerySweep.unboundedNoEquiJoins(df.queryExecution.optimizedPlan)
    assert(found.exists(_.contains("condition=true")), df.queryExecution.optimizedPlan)
  }

  test("nonScalarColumns flags an array output column") {
    val df = Tables.orders(spark, sf)
      .select(col("o_orderkey"), array(col("o_custkey")).as("ids"))
    assert(QuerySweep.nonScalarColumns(df.schema) == Seq("ids: array<bigint>"))
  }
}
