package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.expressions.{EqualNullSafe, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

import graft.sources.CheckpointScope

/** The one pass behind the whole-query guards (PlansSpec's three plan
  * sweeps, QueriesSpec's non-scalar output check). Each query in
  * [[TestSpark.sweptQueries]] is built ONCE per test JVM at sf0.001 —
  * certificates enforced, inside a [[CheckpointScope]] so its pins are
  * released as the pass goes — and only the checks' findings are kept,
  * as strings: no DataFrame or plan outlives its query. A new
  * whole-query check belongs here, not in a loop of its own.
  */
object QuerySweep {
  private val sf = "/root/testdata/sf0.001"

  /** Per guard, its offenders as (query, detail). `failed` holds every
    * query whose build threw (with the exception); it fails all four. */
  final case class Findings(
      failed: Seq[(String, String)],
      doubleEvaluations: Seq[(String, String)],
      unboundedWindows: Seq[(String, String)],
      unboundedNoEquiJoins: Seq[(String, String)],
      nonScalarColumns: Seq[String])

  /** Computed by whichever guard asks first; the rest read it. */
  lazy val findings: Findings = {
    val spark = TestSpark.spark
    val perQuery = TestSpark.sweptQueries.map { case (name, fn) =>
      try CheckpointScope.withScope(spark.sparkContext) {
        val df = fn(spark, sf)
        val schema = df.schema
        val plan = df.queryExecution.optimizedPlan
        Right((
          doubleEvaluations(plan).map(name -> _),
          unboundedWindows(plan).map(name -> _),
          unboundedNoEquiJoins(plan).map(name -> _),
          nonScalarColumns(schema).map(c => s"$name.$c")))
      } catch { case NonFatal(e) => Left(name -> e.toString) }
    }
    val ok = perQuery.collect { case Right(r) => r }
    Findings(perQuery.collect { case Left(f) => f },
      ok.flatMap(_._1), ok.flatMap(_._2), ok.flatMap(_._3), ok.flatMap(_._4))
  }

  /** Custom expressions that are signature/array builders: any second
    * evaluation of one over the same rows is a plan bug. */
  def expensive(e: Expression): Seq[Expression] = e.collect {
    case x: graft.functions.MinHashSig => x
    case x: graft.functions.SimHash64 => x
    case x: graft.functions.WordNgrams => x
    case x: graft.functions.WordShingles => x
    case x: graft.functions.TitleCase => x
    case x: graft.functions.JaroWinkler => x
    case x: graft.functions.DotProduct => x
    case x: graft.functions.NfcNormalize => x
  }

  /** Expensive trees evaluated twice, in either of two shapes, both
    * counted on CANONICALLY-IDENTICAL trees:
    *   1. the same tree in a Filter AND anywhere else — predicate-
    *      pushdown substitution (incl. the guards
    *      InferFiltersFromGenerate manufactures around explode): both
    *      evaluations run over essentially the same rows.
    *   2. the same tree >= 2x within ONE non-Join node — a lost
    *      common-subexpression binding (q_array_fns' shingles,
    *      q_normalize's nfc before their fixes).
    * NOT flagged, deliberately: a tree in a Join CONDITION recomputed
    * in the Project above (q_embed_pairs' cosine threshold, fuzzy
    * joins' jaro) — the condition evaluates over candidates, the
    * projection only over survivors; a single-eval plan would compute
    * the same total while shuffling MORE rows. A tree appearing only
    * in a Filter is likewise fine (q_ann_lsh's bucket probe — pruning
    * drops it downstream). The simhash self-join diamond's legs carry
    * different attribute ids and never collide.
    */
  def doubleEvaluations(plan: LogicalPlan): Seq[String] = {
    val occ = plan.collect { case node =>
      node.expressions.flatMap(expensive).map(x => (node, x.canonicalized))
    }.flatten
    occ.groupBy(_._2).collect {
      case (tree, os) if {
        val inFilter = os.exists(_._1.isInstanceOf[Filter])
        val maxInOneNonJoinNode = os.groupBy(o => o._1).collect {
          case (n, xs) if !n.isInstanceOf[Join] => xs.size
        }.maxOption.getOrElse(0)
        (os.size >= 2 && inFilter) || maxInOneNonJoinNode >= 2
      } =>
        s"${tree.prettyName} evaluated ${os.size}x across " +
          os.map(_._1.nodeName).distinct.mkString("/")
    }.toSeq
  }

  /** Conservative "this subtree's row count does not scale with the
    * corpus" proof by plan-walk: reach an Aggregate (distinct keys), a
    * GlobalLimit (top-k head), a generated Range, or a driver-local
    * relation through nodes that cannot increase cardinality. Joins/
    * unions OF bounded inputs stay bounded (histogram x totals). Used
    * by the global-window and no-equi-key-join checks.
    */
  def boundedSubtree(p: LogicalPlan): Boolean = p match {
    case _: Aggregate | _: GlobalLimit | _: LocalRelation |
         _: OneRowRelation => true
    // a generated sequence is sized by its author, not by the corpus
    // (densified grids, digit tables) — every Range in this repo is
    // require-guarded or literal-tiny
    case _: Range => true
    case _: Project | _: Filter | _: Sort | _: Window | _: LocalLimit |
         _: Distinct | _: Deduplicate | _: SubqueryAlias |
         _: WithCTE | _: CTERelationDef | _: RepartitionOperation =>
      p.children.forall(boundedSubtree)
    case _: Join | _: Union => p.children.forall(boundedSubtree)
    case _ => false
  }

  /** Window-expression names of every unpartitioned Window (subqueries
    * included) whose input fails [[boundedSubtree]]. */
  def unboundedWindows(plan: LogicalPlan): Seq[String] =
    (plan +: plan.subqueriesAll).flatMap(_.collect {
      case w: Window if w.partitionSpec.isEmpty && !boundedSubtree(w.child) =>
        w.windowExpressions.map(_.name).mkString(",")
    })

  def hasEquiKey(j: Join): Boolean = j.condition.exists { c =>
    c.collect {
      case e: EqualTo => e
      case e: EqualNullSafe => e
    }.exists { e =>
      val lrefs = e.left.references
      val rrefs = e.right.references
      (lrefs.subsetOf(j.left.outputSet) && rrefs.subsetOf(j.right.outputSet)) ||
      (lrefs.subsetOf(j.right.outputSet) && rrefs.subsetOf(j.left.outputSet))
    }
  }

  /** An explicit broadcast() hint is the AUTHOR's bounded declaration
    * (the ANN query-set side, the decile-edge row): accepted as the
    * small side — the hint is load-bearing and a dropped one fails the
    * join check, which is the point. */
  def hintedSmall(j: Join): Boolean =
    j.hint.leftHint.exists(_.strategy.contains(BROADCAST)) ||
    j.hint.rightHint.exists(_.strategy.contains(BROADCAST))

  /** Every Join (subqueries included) with no cross-side equality, no
    * broadcast hint and neither side [[boundedSubtree]]. */
  def unboundedNoEquiJoins(plan: LogicalPlan): Seq[String] =
    (plan +: plan.subqueriesAll).flatMap(_.collect {
      case j: Join if !hasEquiKey(j) && !hintedSmall(j) &&
          !boundedSubtree(j.left) && !boundedSubtree(j.right) =>
        s"${j.joinType} join, condition=${j.condition.isDefined}"
    })

  /** "column: type" of every top-level array/map/struct output column. */
  def nonScalarColumns(schema: StructType): Seq[String] =
    schema.fields.toSeq.collect {
      case f if f.dataType.isInstanceOf[ArrayType] ||
        f.dataType.isInstanceOf[MapType] ||
        f.dataType.isInstanceOf[StructType] =>
        s"${f.name}: ${f.dataType.simpleString}"
    }
}
