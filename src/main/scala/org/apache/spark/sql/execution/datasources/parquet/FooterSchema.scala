package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Re-exports, for [[graft.sources.Parquet]], the `private` pieces of
  * Spark's parquet schema inference: its file-index name filter and its
  * footer-to-schema conversion for one data file, run on the calling
  * thread. The converter is built from the session's SQL conf at call
  * time, as Spark's inference job builds it per file.
  */
object FooterSchema {
  /** False for the names Spark's file index skips (`_`/`.`-prefixed
    * except `k=v` and summary files, `._COPYING_`). */
  def listed(name: String): Boolean =
    !org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  def of(spark: SparkSession, file: FileStatus): StructType = {
    val footer = ParquetFileFormat.readParquetFootersInParallel(
      spark.sessionState.newHadoopConf(), Seq(file), ignoreCorruptFiles = false).head
    ParquetFileFormat.readSchemaFromFooter(
      footer, new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }
}
