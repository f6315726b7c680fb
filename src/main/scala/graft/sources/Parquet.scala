package graft.sources

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import org.apache.spark.sql.types.StructType

/** The one parquet reader of the engine: `spark.read.parquet` without
  * the schema-inference job.
  *
  * Given no schema, `spark.read.parquet(path)` runs a one-task Spark job
  * to read one footer. This reader reads that footer on the driver
  * instead and hands Spark the schema, so building a DataFrame over
  * parquet starts no job.
  *
  * The footer rule: list the LAST path on the driver, keep the names
  * Spark's file index keeps (no hidden, `_`- or `.`-prefixed files), and
  * convert the footer of the first data file in path order — the file
  * Spark's own inference samples — with Spark's converter under the
  * session's parquet settings at call time (`nanosAsLong`,
  * binary-as-string, INT96, timestamp-NTZ inference). A multi-path read
  * therefore takes the newest path's schema, which is the contract of
  * [[VersionedTable.readVersion]]: older dirs resolve by column name.
  *
  * The fallback: when the last path does not exist (or is a glob), holds
  * no data file, holds subdirectories (hive-style `k=v` partitions),
  * holds a `_metadata`/`_common_metadata` summary file, has a footer
  * that cannot be read, or `spark.sql.parquet.mergeSchema` is on, the
  * read is `spark.read.parquet(paths: _*)` itself — Spark's own
  * inference, its results and its errors.
  *
  * The reader keeps no state: a footer read costs a few milliseconds,
  * and every read sees the files and session settings of its own call.
  */
object Parquet {

  def read(spark: SparkSession, paths: String*): DataFrame = {
    require(paths.nonEmpty, "Parquet.read needs a path")
    footerSchema(spark, paths.last) match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
  }

  /** The schema [[read]] gives `path`. */
  def schemaOf(spark: SparkSession, path: String): StructType =
    read(spark, path).schema

  private val summaryFiles = Set(
    ParquetFileWriter.PARQUET_METADATA_FILE, ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)

  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled ||
        path.exists("{}[]*?\\".contains(_))) return None
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    Try(fs.getFileStatus(p)).toOption.flatMap { top =>
      val entries =
        if (top.isDirectory) fs.listStatus(p).toSeq.filter(f => FooterSchema.listed(f.getPath.getName))
        else Seq(top)
      if (entries.exists(f => f.isDirectory || summaryFiles(f.getPath.getName))) None
      else entries.minByOption(_.getPath.toString)
        .flatMap(f => Try(FooterSchema.of(spark, f)).toOption)
    }
  }
}
