package graft.operators

import org.apache.spark.sql.SparkSession

/** Small-files compaction — the housekeeping operator every long-lived
  * 100 TB lake needs: streaming sinks and fine-grained partition
  * overwrites accrete many tiny parquet files, and scan throughput dies
  * on per-file open cost long before data volume is the problem.
  */
object Compaction {

  /** Rewrite `srcDir`'s parquet files as ~`targetRowsPerFile`-row files
    * in `dstDir`; returns the file count written. The count()+ceil sizing
    * makes the output deterministic; `repartition(n)` is a round-robin
    * shuffle (no skew by construction, no sort) — chain
    * `sortWithinPartitions` upstream when min/max file-skipping stats on
    * a sort key matter more than pure evenness. Writes to a NEW
    * directory: compact-then-swap keeps readers consistent (overwriting
    * a directory while reading it is undefined).
    */
  def compactParquet(spark: SparkSession, srcDir: String, dstDir: String,
                     targetRowsPerFile: Long): Int = {
    require(srcDir != dstDir, "compact into a new directory, then swap")
    val df = graft.sources.Parquet.read(spark, srcDir)
    val parts = math.max(1L, math.ceil(df.count().toDouble / targetRowsPerFile).toLong).toInt
    df.repartition(parts).write.mode("overwrite").parquet(dstDir)
    parts
  }

  /** Z-order layout: range-partition AND sort by the Morton code of two
    * long dimensions, then write `files` parquet files. Rows close in
    * both dimensions land in the same file, so a 2-D box predicate reads
    * a handful of files (their min/max footer stats exclude the rest) —
    * one-dimensional sort only ever clusters its own column. The Morton
    * key is a codegen'd expression in the write path and is dropped from
    * the stored schema.
    */
  def zorderWrite(df: org.apache.spark.sql.DataFrame, dimA: String, dimB: String,
                  dstDir: String, files: Int): Unit = {
    import org.apache.spark.sql.functions.col
    import graft.functions.InterleaveBits.interleaveBits
    df.withColumn("__z", interleaveBits(col(dimA).cast("long"), col(dimB).cast("long")))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(dstDir)
  }
}
