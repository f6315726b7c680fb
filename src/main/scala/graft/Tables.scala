package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Loaders for the harness star schema (TESTDATA.md): one parquet per table
  * under `\$dir`, read through [[graft.sources.Parquet.read]]. Explicit
  * helper per table keeps call sites readable.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // Older testdata generations wrote events.ts as TIMESTAMP(NANOS),
      // which Spark cannot represent natively; read as epoch-nanos long.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    }
    val df = graft.sources.Parquet.read(spark, s"$dir/$name.parquet")
    if (name == "events") normalizeTs(df) else df
  }

  /** The engine's contract for `events.ts` is epoch-NANOS LONG (every
    * query buckets/diffs it with integer arithmetic, and the DuckDB
    * oracle side reads the same instant via `epoch_ns(ts)`). Testdata
    * generations have flipped the physical type between TIMESTAMP(NANOS)
    * (→ long via `nanosAsLong`) and timestamp[us] (→ TIMESTAMP_NTZ /
    * TIMESTAMP); normalize any of them to the long contract here, in the
    * one loader every query shares. The NTZ→instant cast assumes the UTC
    * session timezone every entrypoint pins (build.sbt, Bench, Verify) —
    * the same wall-clock-is-UTC reading DuckDB applies to timestamp[us].
    * unix_micros·1000 is exact; a scan-stage projection, free at scale.
    */
  private def normalizeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case TimestampNTZType | TimestampType =>
      df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
    case _ => df
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
