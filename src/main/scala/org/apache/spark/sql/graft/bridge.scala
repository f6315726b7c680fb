package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 made the Column <-> Catalyst Expression bridge `private[sql]`
  * (Column is now backed by ColumnNode for Connect compatibility). This
  * shim re-exports the conversions a Catalyst-extending library needs,
  * from inside the `org.apache.spark.sql` namespace.
  */
object bridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame over a custom LogicalPlan (Dataset.ofRows is private[sql])
    * — the entry point for library-defined logical operators.
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `TypeCollection` (private[sql]) for an ExpectsInputTypes slot that
    * accepts an embedding as either `array<double>` or `array<float>` —
    * native float support beats an implicit Cast (which would add a
    * per-row array copy the expression can do for free in-loop).
    */
  def arrayDoubleOrFloat: org.apache.spark.sql.types.AbstractDataType =
    org.apache.spark.sql.types.TypeCollection(
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))

  /** The bytes the block manager stores for RDD `id`, in memory and on
    * disk, or None when none of its blocks is stored
    * (`getRDDStorageInfo` is private[spark]). Asks the driver's block
    * manager master: starts no job.
    */
  def storedBytes(sc: org.apache.spark.SparkContext, id: Int): Option[Long] =
    sc.getRDDStorageInfo(_.id == id).headOption.map(i => i.memSize + i.diskSize)

  /** The optimizer rules a SparkSessionExtensions instance would inject
    * (buildOptimizerRules is private[sql]) — lets tests pin WHICH rules
    * ride the class-extension path vs the extraOptimizations path.
    */
  def injectedOptimizerRules(
      ext: org.apache.spark.sql.SparkSessionExtensions,
      spark: SparkSession): Seq[org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]] =
    ext.buildOptimizerRules(spark)
}
