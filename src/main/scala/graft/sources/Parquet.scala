package graft.sources

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, LogicalPlan, Project, Repartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{FooterSchema, ParquetFileFormat}
import org.apache.spark.sql.types.StructType

/** The one parquet reader of the engine: `spark.read.parquet` without
  * the schema-inference job, and without an exchange job over a
  * byte-light scan.
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
  * The one-partition claim: when the data files listed under EVERY path
  * total no more than the session's `spark.sql.files.openCostInBytes`
  * (read at call time), the read is `coalesce(1)` — the byte-light rule
  * of [[graft.operators.Parallelism]], which states what the claim buys,
  * what it costs and how explicit partition counts still fan a claimed
  * read out. `CoalesceExec(1)` reports `SinglePartition`; filters and
  * column pruning still push into the scan. [[DropClaims]] drops a
  * claim whose exchange a plan needs. A larger listing keeps Spark's
  * split planning, so at scale the reader changes nothing.
  *
  * The fallback: when the last path does not exist (or is a glob), holds
  * no data file, holds subdirectories (hive-style `k=v` partitions),
  * holds a `_metadata`/`_common_metadata` summary file, has a footer
  * that cannot be read, or `spark.sql.parquet.mergeSchema` is on, the
  * read is `spark.read.parquet(paths: _*)` itself — Spark's own
  * inference, its results and its errors. A read that any of the listing
  * rules sends to Spark for ANY of its paths makes no one-partition
  * claim.
  *
  * The reader keeps no state: a listing and a footer read cost a few
  * milliseconds, and every read sees the files and session settings of
  * its own call.
  */
object Parquet {

  def read(spark: SparkSession, paths: String*): DataFrame = {
    require(paths.nonEmpty, "Parquet.read needs a path")
    dataFiles(spark, paths.last).flatMap(fs => footerSchema(spark, fs).map((fs, _))) match {
      case Some((newest, s)) =>
        val df = spark.read.schema(s).parquet(paths: _*)
        if (byteLight(spark, newest, paths.init)) df.coalesce(1) else df
      case None => spark.read.parquet(paths: _*)
    }
  }

  /** The schema [[read]] gives `path`. */
  def schemaOf(spark: SparkSession, path: String): StructType =
    read(spark, path).schema

  private val summaryFiles = Set(
    ParquetFileWriter.PARQUET_METADATA_FILE, ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)

  /** The data files Spark's file index lists for `path`, or None when the
    * read of `path` is Spark's own (see the fallback above). */
  private def dataFiles(spark: SparkSession, path: String): Option[Seq[FileStatus]] = {
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled ||
        path.exists("{}[]*?\\".contains(_))) return None
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    Try(fs.getFileStatus(p)).toOption.flatMap { top =>
      val entries =
        if (top.isDirectory) fs.listStatus(p).toSeq.filter(f => FooterSchema.listed(f.getPath.getName))
        else Seq(top)
      if (entries.exists(f => f.isDirectory || summaryFiles(f.getPath.getName))) None
      else Some(entries)
    }
  }

  private def footerSchema(spark: SparkSession, files: Seq[FileStatus]): Option[StructType] =
    files.minByOption(_.getPath.toString).flatMap(f => Try(FooterSchema.of(spark, f)).toOption)

  /** Drops the one-partition claims whose exchanges a plan needs, in
    * two cases the claim would otherwise put on one task:
    *  - a shared claim: the same claimed scan, columns and filters
    *    reached by two branches of a diamond or a self-join. Without an
    *    exchange each branch reruns the scan and the work the branches
    *    share, since an exchange is the only subplan Spark reuses across
    *    branches (measured at sf0.1: q_cohen_kappa ran its language-id
    *    UDF three times, 0.51 -> 1.05 s; q_jaccard_join 2.1 -> 4.4 s).
    *    With the exchanges back, `ReuseExchange` runs it once;
    *  - an expanded claim: a `Generate` (explode) over the claimed scan
    *    through narrow operators. The exchange above it carries the
    *    expanded rows, not the scan's, and AQE spreads them over the
    *    cores (q_dedup_ngram: 0.41 -> 0.66 s on one task).
    * Registered by [[graft.GraftExtensions.register]] in the optimizer
    * batch after the final pushdown, where a claim sits right above its
    * pruned scan. A claim is known by that shape, so a caller's own
    * `coalesce(1)` right above a parquet scan is treated as one. */
  object DropClaims extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan = {
      val claims = plan.collect { case r: Repartition if claim(r) => r.canonicalized }
      val shared = claims.groupBy(identity).collect { case (c, n) if n.size > 1 => c }.toSet
      val expanded = plan.collect { case g: Generate => narrowClaims(g.child) }.flatten
        .map(_.canonicalized).toSet
      if (shared.isEmpty && expanded.isEmpty) plan
      else plan.transformUp {
        case r: Repartition if claim(r) && (shared(r.canonicalized) || expanded(r.canonicalized)) => r.child
      }
    }

    private def claim(r: Repartition): Boolean =
      r.numPartitions == 1 && !r.shuffle && parquetScan(r.child)

    private def parquetScan(p: LogicalPlan): Boolean = p match {
      case Project(_, c) => parquetScan(c)
      case Filter(_, c) => parquetScan(c)
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.fileFormat.isInstanceOf[ParquetFileFormat]
        case _ => false
      }
      case _ => false
    }

    /** The claims `p` reaches through narrow operators only. */
    private def narrowClaims(p: LogicalPlan): Seq[Repartition] = p match {
      case r: Repartition if claim(r) => Seq(r)
      case _: Project | _: Filter | _: Generate => narrowClaims(p.children.head)
      case _ => Nil
    }
  }

  /** Do `newest` and the data files of `older` total at most one file
    * open? Lists the older paths only while the running total fits. */
  private def byteLight(spark: SparkSession, newest: Seq[FileStatus], older: Seq[String]): Boolean = {
    val limit = spark.sessionState.conf.filesOpenCostInBytes
    def bytes(files: Seq[FileStatus]) = files.map(_.getLen).sum
    older.view.map(dataFiles(spark, _))
      .scanLeft(Option(bytes(newest)))((total, files) => for (t <- total; f <- files) yield t + bytes(f))
      .forall(_.exists(_ <= limit))
  }
}
