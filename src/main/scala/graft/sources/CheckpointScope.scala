package graft.sources

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.bridge

/** Deterministic lifecycle for per-query and per-batch `localCheckpoint`
  * blocks. Spark frees a checkpoint's blocks only when the application
  * JVM's GC collects the dropped RDD and the ContextCleaner broadcasts
  * the removal (in cluster mode the blocks live on executors while the
  * decision waits on the application's heap pressure). Over a long
  * single-JVM ingest series tens of frames per batch pile up in executor
  * storage and cleanup arrives in bursts (the r13 gates-on stress
  * drifted ~+1 s/batch; scoped, it is flat — BENCH_PIPELINE_GATES_r14.json).
  *
  * A scope snapshots the persisted-RDD ids at open and, at `close()`,
  * unpersists every RDD persisted since, so it also covers checkpoints
  * made deep inside composed operators without threading a handle
  * through every signature. The release work is split in two: iterative
  * operators free the generations they supersede themselves, by handle,
  * in [[CheckpointScope.generations]]; the scope frees the rest
  * (once-pinned inputs, each loop's last generation, every other pin)
  * at the end of the query or batch it wraps.
  *
  * Contract: single writer, one scope at a time per SparkContext — do
  * not create caches you intend to KEEP inside an open scope, and do not
  * interleave two scoped batches on one context. `close()` is
  * idempotent; unpersist is non-blocking.
  */
final class CheckpointScope(sc: SparkContext) {
  private val before: Set[Int] = sc.getPersistentRDDs.keySet.toSet
  private var closed = false

  def close(): Unit = synchronized {
    if (!closed) {
      closed = true
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!before.contains(id)) rdd.unpersist(blocking = false)
      }
    }
  }
}

object CheckpointScope {
  /** Run `f` with a fresh scope; release everything it persisted. */
  def withScope[T](sc: SparkContext)(f: => T): T = {
    val s = new CheckpointScope(sc)
    try f finally s.close()
  }

  /** Step `gen` (1 for the first) of a [[generations]] loop. */
  final class Step private[CheckpointScope] (val gen: Int) {
    private[CheckpointScope] val pinned = ArrayBuffer.empty[DataFrame]
    /** Pin a scratch frame the step reads twice; freed with its input. */
    def pin(df: DataFrame): DataFrame = { val p = df.localCheckpoint(); pinned += p; p }
  }

  final case class Generations(last: DataFrame, steps: Int, stopped: Boolean)

  /** The iterate-and-checkpoint loop of every iterative operator
    * (PageRank and its variants, LabelProp, Hits, Hierarchy, KCore, Bfs,
    * Dedup.clusters, clustersStar) and the one account of its rule.
    * Runs `step` from `init` at most `n` times; returns the `last`
    * generation (still pinned), the `steps` run and whether `stop` fired.
    *
    * Pin: each step's output is `localCheckpoint`ed — eager, so it is
    * computed once for all its readers, and lineage-cutting, since an
    * update reading the previous generation twice would double its plan
    * every step. At cluster scale: a reliable `checkpoint()`. A
    * generation of one partition within the byte-light rule of
    * [[graft.operators.Parallelism]] plans as one partition
    * ([[ClaimOnePartition]]): the next step's aggregates and joins over
    * it plan no exchange.
    *
    * Release: once generation g is materialized, generation g−1 (a pinned
    * `init` included) and the frames step g pinned via [[Step.pin]] are
    * unpersisted, non-blocking, by handle: the RDD behind each frame's
    * `LogicalRDD`. Inputs the step closes over and the last generation
    * are left to the enclosing [[CheckpointScope]].
    *
    * Stop: `stop(g, i)` sees every generation, the initial (i = 0) and
    * the last included, and must answer without an action where it needs
    * none; built from actions the loop runs anyway, so no job is added.
    */
  def generations(init: DataFrame, n: Int,
                  stop: (DataFrame, Int) => Boolean = (_, _) => false)
                 (step: (DataFrame, Step) => DataFrame): Generations = {
    var g = init
    var i = 0
    var stopped = stop(g, 0)
    while (!stopped && i < n) {
      val s = new Step(i + 1)
      val next = step(g, s).localCheckpoint()
      (g +: s.pinned.toSeq).foreach(release)
      g = next
      i += 1
      stopped = stop(g, i)
    }
    Generations(g, i, stopped)
  }

  /** A `stop` firing when `measure` of a generation equals the previous
    * one's (the initial generation's is compared with `start`). */
  def unchanged[A](start: A)(measure: DataFrame => A): (DataFrame, Int) => Boolean = {
    var prev = start
    (g, _) => { val m = measure(g); val same = m == prev; prev = m; same }
  }

  /** `df.localCheckpoint()` and one integral aggregate `metric` over its
    * rows (a count, a coalesced max), observed on the checkpoint's own
    * job: the value of a frame that is pinned anyway costs no second job. */
  def pinMeasured(df: DataFrame, metric: Column): (DataFrame, Long) = {
    val obs = Observation()
    val pinned = df.observe(obs, metric.as("v")).localCheckpoint()
    (pinned, obs.get("v").asInstanceOf[Number].longValue)
  }

  /** Claims `SinglePartition` for a byte-light checkpoint (the rule of
    * [[graft.operators.Parallelism]]): a `LogicalRDD` whose RDD is
    * checkpointed, has one partition and stores at most the session's
    * `spark.sql.files.openCostInBytes`. Without the claim, every
    * aggregate, window and sort-merge join over a pinned micro-batch
    * frame plans an exchange that AQE runs as its own job.
    *
    * The size is the block manager's (memory plus disk), read without a
    * job; the optimizer's estimate of a checkpoint is its lineage's, not
    * its data's (`Long.MaxValue` over 19-272 KB ingest-batch frames).
    * Registered by [[graft.GraftExtensions.register]]. */
  object ClaimOnePartition extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
      case r: LogicalRDD if r.outputPartitioning != SinglePartition && byteLight(r) =>
        r.makeCopy(Array(r.output, r.rdd, SinglePartition, r.outputOrdering,
          Boolean.box(r.isStreaming), r.stream))
    }

    private def byteLight(r: LogicalRDD): Boolean =
      r.rdd.isCheckpointed && r.rdd.getNumPartitions == 1 &&
        bridge.storedBytes(r.rdd.sparkContext, r.rdd.id).exists(_ <= conf.filesOpenCostInBytes)
  }

  /** Unpersist the blocks behind a pinned frame; others are left alone. */
  private[graft] def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ => ()
  }
}
