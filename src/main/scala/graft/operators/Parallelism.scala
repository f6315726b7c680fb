package graft.operators

import org.apache.spark.sql.DataFrame

/** Scan-parallelism guard for CPU-dense small-input operators.
  *
  * Parquet split planning packs files by BYTES (`maxPartitionBytes`,
  * with a 4 MB `openCostInBytes` floor per file), so a ~10 MB table
  * scans as ~3 splits — and every downstream stage of an operator that
  * pins that scan with `localCheckpoint` inherits 3-way parallelism,
  * even on a 32-core session running decimal-heavy aggregation passes
  * (measured: q_cv_ols ran its checkpoint + two aggregate passes as
  * 3-task stages of ~1 s executor time each). Bytes-based splitting is
  * right at scale; it is blind to per-row CPU on small inputs — the
  * same blindness class as the AQE byte-coalescing trap in
  * [[FuzzyJoin]]'s verify stage.
  *
  * `widened` round-robin-repartitions a frame up to the session's
  * shuffle parallelism ONLY when the planned partition count is below
  * it — at production scale a real corpus plans thousands of splits and
  * this is a no-op, so the knob stays scale-adaptive rather than a
  * local-core-count constant. Use immediately before a load-bearing
  * localCheckpoint whose consumers do per-row arithmetic; safe only for
  * consumers that are row-order-free (the repo's exact-sum discipline).
  * The input must be free of exchanges (a scan plus narrow operators):
  * under AQE, `df.rdd` runs the jobs of every upstream query stage just
  * to count partitions.
  */
object Parallelism {

  def widened(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sessionState.conf.numShufflePartitions
    // partition planning only — no job, given an exchange-free input
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }
}
