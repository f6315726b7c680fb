package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{DotProduct, InterleaveBits, JaroWinkler, NfcNormalize, PolyHash, TitleCase, WordShingles}

/** Session extension wiring: registers the library's custom Catalyst
  * expressions as SQL functions, so `spark.sql("SELECT titlecase(c) ...")`
  * works alongside the Column API.
  *
  * Use either `.withExtensions(new GraftExtensions)` at session build, or
  * `GraftExtensions.register(spark)` on an existing session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.All.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[TitleCase].getName, name), builder))
    }
    e.injectOptimizerRule(_ => graft.plans.CollapseTitleCase)
    e.injectOptimizerRule(_ => graft.plans.SimplifyGraftNullGuards)
    // ReuseProjectedExpensiveInFilter is deliberately NOT injected here:
    // injectOptimizerRule lands rules inside the operator-optimization
    // FIXPOINT batches, where the later re-run of PushDownPredicates
    // pushes the floated conjunct straight back below the Project — the
    // rewrite becomes a silent no-op that only burns fixpoint
    // iterations. It needs a batch AFTER the final pushdown, which the
    // extension API does not offer; `register(spark)` places it in
    // SparkOptimizer's trailing "User Provided Optimizers" batch, the
    // only registration path where it is effective (pinned by
    // OptimizerRulesSpec).
    e.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
  }
}

object GraftExtensions {

  /** Every custom expression under its SQL name — one list drives both
    * the extension injection and the existing-session registration.
    */
  private[graft] val All: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "titlecase"       -> (exprs => TitleCase(exprs.head)),
    "poly_hash"       -> (exprs => PolyHash(exprs.head)),
    "nfc_normalize"   -> (exprs => NfcNormalize(exprs.head)),
    "dot_product"     -> (exprs => DotProduct(exprs(0), exprs(1))),
    "jaro_winkler"    -> (exprs => JaroWinkler(exprs(0), exprs(1))),
    "interleave_bits" -> (exprs => InterleaveBits(exprs(0), exprs(1))),
    "word_shingles"   -> (exprs => WordShingles(exprs(0),
      exprs(1).eval().asInstanceOf[Int]))) // n must be a literal

  /** The session every main runs queries in (Verify, Bench, Explain,
    * Plans): `local[cores]` with as many shuffle partitions, UTC, no
    * UI, nanosecond parquet timestamps readable as longs, and the graft
    * functions and rules registered.
    */
  def localSession(cores: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    register(spark)
    spark
  }

  def register(spark: SparkSession): Unit = {
    All.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }
    // The incremental-dedup candidate/payload reads prune parquet row
    // groups with In filters of up to MaxPayloadIdCollect values; the
    // default threshold (10) would collapse those to a useless min/max
    // range at the parquet boundary. Reads stay correct either way —
    // this only widens how many In values survive to row-group stats.
    if (spark.conf.get("spark.sql.parquet.pushdown.inFilterThreshold") == "10")
      spark.conf.set("spark.sql.parquet.pushdown.inFilterThreshold",
        graft.dedup.IncrementalDedup.MaxPayloadIdCollect)
    val rules = Seq(graft.plans.CollapseTitleCase, graft.plans.SimplifyGraftNullGuards,
      graft.plans.ReuseProjectedExpensiveInFilter, graft.sources.Parquet.DropClaims,
      graft.sources.CheckpointScope.ClaimOnePartition)
    spark.experimental.extraOptimizations ++=
      rules.filterNot(spark.experimental.extraOptimizations.contains)
    if (!spark.experimental.extraStrategies.contains(graft.plans.TopKStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.TopKStrategy
    }
  }
}
