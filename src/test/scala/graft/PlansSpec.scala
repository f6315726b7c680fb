package graft
// (join-hint strategy selection appended below)

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Regression guards on the physical plans of key queries — the scale
  * properties (pushdown, pruning, broadcast, codegen) that local-mode
  * row counts can't see. Guards on exchanges run over Spark's own split
  * planning (`scaleTest`): the test tables are small enough that
  * [[graft.sources.Parquet.read]] would otherwise read each as one
  * partition with no exchange above it.
  */
class PlansSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def planOf(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  /** A guard on the exchanges of a plan (their placement, shuffle
    * volume): its tables read one split per file with no one-partition
    * claim ([[TestSpark.withFileSplits]]), the plan of scans that feed an
    * exchange. At the test tables' size a claimed read plans no exchange
    * to guard. */
  private def scaleTest(name: String)(body: => Any)(implicit pos: org.scalactic.source.Position): Unit =
    test(name)(TestSpark.withFileSplits(body))

  test("PLANS.md annotations: one per query, each a SparkEntry query") {
    val names = Plans.Annotated.map(_._1)
    assert(names.diff(names.distinct).isEmpty, s"annotated twice: ${names.diff(names.distinct)}")
    assert(names.filterNot(SparkEntry.queries.contains).isEmpty,
      s"annotated but not a query: ${names.filterNot(SparkEntry.queries.contains)}")
  }

  test("q_lookup_left: broadcast join with filter pushed into the parquet scan") {
    val p = planOf("q_lookup_left")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("PushedFilters: [IsNotNull(n_nationkey), LessThan(n_nationkey,15)]"), p)
  }

  test("q_cast_project: scan reads only the projected columns") {
    val scan = SparkEntry.queries("q_cast_project")(spark, sf)
      .queryExecution.executedPlan.collectLeaves().head.toString
    // 5 output columns from a 10-column lineitem — pruning must reach the
    // scan (ReadSchema is truncated at 100 chars in toString)
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_extendedprice:double"), scan)
  }

  test("q_date_dim: narrow scan (only o_orderdate) under the dedup aggregate") {
    val p = planOf("q_date_dim")
    assert(p.contains("ReadSchema: struct<o_orderdate:timestamp_ntz>"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q_avg_first: partial + final hash aggregation (map-side combine)") {
    val p = planOf("q_avg_first")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p) // partial + final
  }

  test("q_title_case / custom expressions stay inside WholeStageCodegen") {
    val p = planOf("q_title_case")
    // whole-stage codegen renders as a "*(n)" stage prefix in toString
    assert("""\*\(\d+\) Project \[[^\n]*titlecase""".r.findFirstIn(p).isDefined, p)
    assert(p.contains("titlecase"), p)
  }

  test("q_ann_brute: the vector table is not shuffled, query side broadcast") {
    val p = planOf("q_ann_brute")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    // only the final top-k sort is allowed to move data
    assert(!p.contains("ShuffleExchange") || p.contains("TakeOrderedAndProject"), p)
  }

  scaleTest("TopKPerGroup custom operator: equals the window form, prunes before the exchange") {
    GraftExtensions.register(spark)
    val orders = Tables.orders(spark, sf)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    val custom = graft.plans.TopKPerGroup.perGroup(
      orders, Seq("o_custkey"), "o_totalprice", "o_orderkey", k = 3)
    // row-identical to the window formulation (incl. the rank column)
    val windowed = SparkEntry.queries("q_window_topk")(spark, sf)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
    assert(custom.exceptAll(windowed).isEmpty && windowed.exceptAll(custom).isEmpty)
    // physical shape + shuffle volume, AQE off so the exchange node (and
    // its metrics) sit directly in the plan tree
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val c2 = graft.plans.TopKPerGroup.perGroup(
        orders, Seq("o_custkey"), "o_totalprice", "o_orderkey", k = 3)
      c2.collect()
      val p = c2.queryExecution.executedPlan.toString
      assert(p.contains("PartialTopK") && p.contains("FinalTopK"), p)
      assert(p.indexOf("FinalTopK") < p.indexOf("Exchange"), p)
      assert(p.indexOf("Exchange") < p.indexOf("PartialTopK"), p)
      // the scale property: the exchange moves at most k rows per
      // (group, input partition), not the input
      val nInput = orders.count()
      val shuffled = c2.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e.metrics.collectFirst {
            case (k, m) if k.toLowerCase.contains("recordswritten") => m.value
          }.getOrElse(0L)
      }.sum
      assert(shuffled > 0 && shuffled < nInput / 2,
        s"exchange carried $shuffled of $nInput input rows")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q_sq8: encode + decode error are scan-stage — no Exchange at any corpus size") {
    val p = planOf("q_sq8")
    assert(!p.contains("Exchange"), p)
  }

  test("q_rendezvous: both shard tournaments are scan-stage — no Exchange") {
    val p = planOf("q_rendezvous")
    assert(!p.contains("Exchange"), p)
  }

  scaleTest("q_ewma: one hash exchange + one sort on the key serve the trailing-frame window") {
    val p = planOf("q_ewma")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("rangepartitioning"), p) // never a global sort
    assert("\\bSort \\[".r.findAllIn(p).size == 1, p)
  }

  scaleTest("q_skyline: stage-1 windows hash-partition by bucket; no dominance join in the plan") {
    val p = planOf("q_skyline")
    assert(p.contains("Exchange hashpartitioning(__b"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p)
  }

  test("q_asof_bucketed: the heavy window partitions by (key, bucket), not key alone") {
    val p = planOf("q_asof_bucketed")
    // the full-data running-last window must carry both partition keys —
    // that is the whole point of the bucketed variant (parallelism scales
    // with time buckets); the per-key carry window exists too but runs on
    // one-row-per-bucket summaries
    assert(p.contains("windowspecdefinition(user_id#") && p.contains(", __bkt#"), p)
  }

  test("q_roc_auc: ranking rides the sharded cumsum — no global sort of scores") {
    val p = planOf("q_roc_auc")
    // the checkpointed range exchange happens before this plan; what must
    // NOT appear is a global ordering of the (histogram or corpus) rows
    assert(!p.contains("rangepartitioning"), p)
    assert(p.contains("windowspecdefinition(__pid"), p) // per-shard cumsum
  }

  test("q_numeric_drift: decile edges attach as a 1-row broadcast; binning is scan-stage") {
    val p = planOf("q_numeric_drift")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p) // the edge-array attach
    // the ONLY sort-merge join is the full-outer stitch of the two
    // <=bins-row count tables (full outer can't broadcast); the corpus
    // sides must never reach it
    assert("SortMergeJoin".r.findAllIn(p).size == 1 && p.contains("FullOuter"), p)
  }

  test("identical aggregate subplans reuse one exchange (self-join diamond)") {
    val agg = Tables.customer(spark, sf)
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n"))
    // byte-identical subplan on both legs -> Spark computes the shuffle once
    val diamond = agg.alias("a").join(agg.alias("b"), Seq("c_nationkey"))
    diamond.collect()
    val plan = diamond.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage")
      || plan.toLowerCase.contains("reused"), plan)
  }

  test("unigramLogProb reuses the corpus token-count exchange for the total (no second pass)") {
    val docs = Tables.documents(spark, sf)
    val df = graft.text.Curation.unigramLogProb(docs, "text", "doc_id")
    df.queryExecution.toRdd.foreach(_ => ()) // AQE-final plan
    val plan = df.queryExecution.executedPlan.toString
    // the unigram total SUM(cf) must reuse the token-count shuffle, not
    // re-aggregate the corpus: exactly one non-reused token exchange
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"), plan)
  }

  test("AQE splits a skewed join partition at runtime (skew=true in the final plan)") {
    import spark.implicits._
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // key 1 is pathologically hot; payload pads partition bytes
      val left = (Seq.fill(60000)(1L) ++ (2L to 200L)).zipWithIndex
        .map { case (k, i) => (k, s"payload_$i" * 8) }.toDF("k", "pay")
      val right = (1L to 200L).map(k => (k, s"r$k")).toDF("rk", "name")
      // keep the payload through the join: column pruning would otherwise
      // shrink the hot partition below the skew threshold (60k identical
      // longs compress to ~1 KB)
      val joined = left.join(right, col("k") === col("rk"))
      assert(joined.collect().length == 60000 + 199) // executes THIS plan -> AQE finalizes
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), plan.take(2000))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("join strategy hints select the hinted physical operator") {
    val c = Tables.customer(spark, sf)
    val n = Tables.nation(spark, sf)
    def strat(hint: String): String =
      c.join(n.hint(hint), col("c_nationkey") === col("n_nationkey"))
        .queryExecution.sparkPlan.toString
    assert(strat("broadcast").contains("BroadcastHashJoin"))
    assert(strat("merge").contains("SortMergeJoin"))
    assert(strat("shuffle_hash").contains("ShuffledHashJoin"))
  }

  scaleTest("q_session_window: MergingSessions over a local sort, one exchange on user_id") {
    val p = planOf("q_session_window")
    assert(p.contains("MergingSessions"), p)
    // partial agg BELOW the exchange: session fragments combine map-side
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert("Exchange hashpartitioning\\(user_id#".r.findAllIn(p).size == 1, p)
    // the sort feeding MergingSessions is per-partition (global=false);
    // a rangepartitioning exchange would mean a global sort crept in
    assert("Sort \\[user_id#\\d+L ASC NULLS FIRST, session_window#\\d+ ASC NULLS FIRST\\], false".r
      .findFirstIn(p).nonEmpty, p)
    assert(!p.contains("rangepartitioning"), p)
  }

  test("null-safe equality (<=>) is still an equi-key: hash join, no nested loop") {
    val plan = SparkEntry.queries("q_nullsafe_join")(spark, sf)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("HashJoin"), plan)           // broadcast or shuffled
    assert(!plan.contains("NestedLoop"), plan)
  }

  test("q_dbscan/q_modularity: the ε-pair subtree is checkpointed once, not re-derived per consumer") {
    // Dbscan checkpoints `sym` (4 consumers) and Modularity checkpoints
    // `e` (3 consumers): the capped cosine self-join that generates the
    // ε-graph — the dominant stage — must appear in NEITHER final plan
    // (it lives behind a materialized RDD scan), and the only parquet
    // scan left in q_dbscan is the id-universe read. Before the fix the
    // pair join re-evaluated 4-6x per query — a 6x multiplier on the
    // most expensive stage at 100x scale.
    // signature of a re-derived pair generator: a scan reading the
    // embedding VECTOR column (the checkpointed graph needs only ids)
    val dbscan = planOf("q_dbscan")
    assert("FileScan parquet".r.findAllIn(dbscan).size == 1, dbscan)
    assert(!dbscan.contains("embedding:array"), dbscan)
    assert("Scan ExistingRDD".r.findAllIn(dbscan).size >= 2, dbscan)
    val modularity = planOf("q_modularity")
    assert(!modularity.contains("embedding:array"), modularity)
    assert("Scan ExistingRDD".r.findAllIn(modularity).size >= 2, modularity)
  }

  test("q_power_project: scoring is scan-stage — no Exchange from the projection") {
    // the eigenvector rides as a literal; the projection itself must
    // plan as a pure scan-stage fold (the only exchanges in the full
    // query belong to the training Gram aggregate, which runs before)
    val plan = SparkEntry.queries("q_power_project")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("q_linkage_score: one blocked join, nothing shuffles after it") {
    val plan = SparkEntry.queries("q_linkage_score")(spark, sf)
      .queryExecution.sparkPlan.toString
    // exactly one join on the blocking key; weight/decision are a
    // projection above it (no aggregate, no second exchange)
    assert("Join".r.findAllIn(plan).size >= 1, plan)
    assert(!plan.contains("HashAggregate"), plan)
  }

  test("q_bigram_logprob: shuffle records stay linear in the bigram count") {
    val docs = Tables.documents(spark, sf)
    import org.apache.spark.sql.functions.{size => asize}
    val nBigrams = docs
      .select(asize(split(col("text"), " ")).as("n")).filter(col("n") >= 2)
      .agg(org.apache.spark.sql.functions.sum(col("n") - 1)).head.getLong(0)
    val shuffled = TestSpark.shuffleRecordsOf {
      SparkEntry.queries("q_bigram_logprob")(spark, sf)
        .write.mode("overwrite").format("noop").save()
    }
    // corpus-sized tables cross the wire a bounded number of times:
    // tc build (≤ n), cb/cu folds (≤ distinct grams each), the salted
    // split legs (≤ 2n + models), V, final regroup (≤ n). A pair
    // blowup or a lost pre-aggregation lands well past 8n.
    assert(shuffled > 0 && shuffled < 8L * nBigrams,
      s"q_bigram_logprob shuffled $shuffled records for $nBigrams bigrams")
  }

  test("q_cv_ols: the corpus never shuffles — sufficient statistics move, not rows") {
    val n = Tables.lineitem(spark, sf).count()
    val shuffled = TestSpark.shuffleRecordsOf {
      SparkEntry.queries("q_cv_ols")(spark, sf)
        .write.mode("overwrite").format("noop").save()
    }
    // the fold-complement trick: training is ONE map-side-combined
    // aggregate (partials per fold per partition) and scoring joins the
    // 5-row model table broadcast — statistics move, not rows. ONE
    // bounded exception: in the small-input regime (scan planned fewer
    // splits than the session's parallelism — always true at test SFs,
    // never at corpus scale) Parallelism.widened moves each row ONCE so
    // the decimal aggregate passes aren't serialized onto ~3 scan
    // splits. So the bound is one widen pass + fold-sized partials; a
    // second corpus-sized shuffle still fails.
    assert(shuffled > 0 && shuffled < n + n / 4,
      s"q_cv_ols shuffled $shuffled records for $n input rows")
  }

  test("q_spearman / q_entity_resolution / q_modularity: shuffle records linear in input") {
    val nLi = Tables.lineitem(spark, sf).count()
    val sp = TestSpark.shuffleRecordsOf {
      SparkEntry.queries("q_spearman")(spark, sf)
        .write.mode("overwrite").format("noop").save()
    }
    // two value histograms + two rank joins + final moments: each moves
    // ≤ n rows a bounded number of times
    assert(sp > 0 && sp < 12L * nLi,
      s"q_spearman shuffled $sp records for $nLi rows")

    val nDocs = Tables.documents(spark, sf).count()
    val er = TestSpark.shuffleRecordsOf {
      SparkEntry.queries("q_entity_resolution")(spark, sf)
        .write.mode("overwrite").format("noop").save()
    }
    // pigeonhole probe fan-out is a CONSTANT 75 variants/doc (k=2);
    // a quadratic regression (all-pairs) would be ~docs²/2 — orders
    // past this bound even at sf0.001
    assert(er > 0 && er < 400L * nDocs,
      s"q_entity_resolution shuffled $er records for $nDocs docs")

    val nVec = Tables.embeddings(spark, sf).count()
    val mo = TestSpark.shuffleRecordsOf {
      SparkEntry.queries("q_modularity")(spark, sf)
        .write.mode("overwrite").format("noop").save()
    }
    // ε-graph pairs are bucket-capped; dbscan + modularity re-walk the
    // edge list a bounded number of rounds
    assert(mo > 0 && mo < 600L * nVec,
      s"q_modularity shuffled $mo records for $nVec vectors")
  }

  test("q_dedup_clusters: shuffle records stay linear in edges x iterations") {
    val emb = Tables.embeddings(spark, sf)
    val nIds = emb.count()
    val nEdges = graft.similarity.Similarity.cosinePairs(
      emb, "embedding", "vec_id", "label", threshold = 0.35).count()
    val shuffled = TestSpark.shuffleRecordsOf {
      SparkEntry.queries("q_dedup_clusters")(spark, sf)
        .write.mode("overwrite").format("noop").save()
    }
    // per label-propagation iteration: edge⋈label join (≤ 2·edges +
    // ids), neighbor-min regroup (≤ ids), label update join (≤ 2·ids);
    // the benched cosine graph's components are shallow (diameter ≤ a
    // handful), plus the bounded candidate generation of cosinePairs.
    // An accidental all-pairs generator or a diameter blowup multiplies
    // this; machine load cannot.
    val bound = 40L * (nEdges + nIds) + 10000L
    assert(shuffled > 0 && shuffled < bound,
      s"q_dedup_clusters shuffled $shuffled records " +
        s"(edges=$nEdges, ids=$nIds, bound=$bound)")
  }

  scaleTest("q_holt: shuffle records bounded by the hourly series, not the event corpus") {
    val d01 = "/root/testdata/sf0.01"
    val nBuckets = Tables.events(spark, d01)
      .select(col("event_type"), expr("ts div 3600000000000").as("b"))
      .distinct().count()
    val shuffled = TestSpark.shuffleRecordsOf {
      SparkEntry.queries("q_holt")(spark, d01)
        .write.mode("overwrite").format("noop").save()
    }
    // map-side combine collapses events to (type, hour) partials before
    // the one corpus exchange; after that everything is series-sized:
    // the HoltStatesAgg groupBy, the exploded states, and the join
    // back. A regression to per-event shuffling (lost partial agg) or
    // a per-row prefix blowup lands far past this.
    val bound = 20L * nBuckets + 32L * 32L * 8L + 10000L
    assert(shuffled > 0 && shuffled < bound,
      s"q_holt shuffled $shuffled records for $nBuckets series buckets (bound=$bound)")
  }

  scaleTest("q_dedup_minhash: shuffle records bounded by banded docs + capped candidate pairs") {
    val d01 = "/root/testdata/sf0.01"
    val docs = Tables.documents(spark, d01)
    val nDocs = docs.count()
    val nCand = graft.dedup.Dedup.minhashCandidates(docs, "text", "doc_id").count()
    val shuffled = TestSpark.shuffleRecordsOf {
      SparkEntry.queries("q_dedup_minhash")(spark, d01)
        .write.mode("overwrite").format("noop").save()
    }
    // what legitimately crosses the wire: the banded membership window +
    // pairing groupBy (≤ docs × 16 bands, twice for the stitching pass),
    // the pair dedup + verification joins (≤ a few × candidate pairs),
    // and the per-pair shingle verification regroup. A banding
    // regression (cap lost, bucket blowup, all-pairs fallback) lands
    // orders past this; machine load cannot move record counts.
    val bound = 8L * nDocs * 16 + 30L * nCand + 10000L
    assert(shuffled > 0 && shuffled < bound,
      s"q_dedup_minhash shuffled $shuffled records " +
        s"(docs=$nDocs, candidates=$nCand, bound=$bound)")
  }

  scaleTest("q_dedup_ngram: shuffle records bounded by shingle volume + DF-capped pairs") {
    val d01 = "/root/testdata/sf0.01"
    val docs = Tables.documents(spark, d01)
    val totTok = docs
      .agg(org.apache.spark.sql.functions.sum(size(split(lower(col("text")), " "))))
      .head.getLong(0)
    val nPairs = SparkEntry.queries("q_dedup_ngram")(spark, d01).count()
    val shuffled = TestSpark.shuffleRecordsOf {
      SparkEntry.queries("q_dedup_ngram")(spark, d01)
        .write.mode("overwrite").format("noop").save()
    }
    // one (bucket, shingle) exchange of the exploded shingles (≤ tokens
    // per doc), the per-shingle pair emission regrouped on (id_a, id_b)
    // (DF-capped, empirically pair-sized at this corpus's dup density),
    // and the thresholded output. An uncapped hot shingle or an
    // all-pairs join multiplies the pair leg quadratically.
    val bound = 6L * totTok + 400L * (nPairs + 1) + 10000L
    assert(shuffled > 0 && shuffled < bound,
      s"q_dedup_ngram shuffled $shuffled records " +
        s"(tokens=$totTok, outPairs=$nPairs, bound=$bound)")
  }

  test("minhashCandidates: the signature expression is evaluated ONCE per row") {
    // the sig Project feeds both the output column and the per-band
    // generator — if CollapseProject ever inlined minhash_sig into both
    // consumers, every doc would pay the signature twice (the r8
    // VERDICT's named suspect); pin it mechanically
    val docs = Tables.documents(spark, sf)
    def countIn(df: org.apache.spark.sql.DataFrame)(
        pf: PartialFunction[org.apache.spark.sql.catalyst.expressions.Expression, Unit]): Int =
      df.queryExecution.optimizedPlan.collect { case node =>
        node.expressions.map(_.collect(pf).size).sum
      }.sum
    val cand = graft.dedup.Dedup.minhashCandidates(docs, "text", "doc_id")
    val nMh = countIn(cand) { case _: graft.functions.MinHashSig => () }
    assert(nMh == 1,
      s"minhash_sig appears $nMh times in the optimized plan — " +
        "expected exactly one evaluation per row")
    // simhash is a DOCUMENTED diamond (simhashPairsFromSigs: the cheap
    // 64-bit signature plans once per self-join leg — measured faster
    // than HOF pair emission): exactly one evaluation PER LEG. 4 would
    // mean the minhash-style filter-pushdown double sneaked back in.
    val sh = graft.dedup.Dedup.simhashPairs(docs, "text", "doc_id", maxDist = 3)
    val nSh = countIn(sh) { case _: graft.functions.SimHash64 => () }
    assert(nSh == 2,
      s"simhash64 appears $nSh times in the optimized plan — " +
        "expected one per self-join leg (2)")
  }

  test("no query plan evaluates an expensive custom expression inside a Filter") {
    // the pushdown pathology class: a predicate over a column computed
    // by an expensive scan-stage expression gets pushed below its
    // Project, inlining a SECOND full evaluation per row into the
    // Filter. These expressions are signature/array builders — any
    // appearance in a Filter condition is a re-evaluation bug, never a
    // legitimate predicate. Reads every SparkEntry query's optimized
    // plan from the shared QuerySweep pass, whose doubleEvaluations
    // documents the two flagged shapes and the deliberate exceptions.
    // Found and fixed this way: minhashSignatures/simhash sig.isNotNull,
    // markedGrams size filter, q_pipeline_curation's quality gate over
    // the Gopher fold.
    val sweep = QuerySweep.findings
    assert(sweep.failed.isEmpty, s"swept queries threw: ${sweep.failed}")
    val offenders = sweep.doubleEvaluations
    assert(offenders.isEmpty,
      s"expensive-expression double evaluations: $offenders")
  }

  test("every unpartitioned Window sits over a provably bounded input") {
    // A Window with no PARTITION BY executes in ONE task — fine over a
    // top-k head or an aggregate's distinct-key table, a cluster-killer
    // over anything corpus-sized ("WindowExec: No Partition Defined"
    // is this warning's runtime face). Sweep every query's optimized
    // plan: from each unpartitioned Window, walk DOWN through nodes
    // that cannot increase cardinality (Project/Filter/Sort/Window/
    // limits/dedup) and require the chain to reach a bounding node —
    // an Aggregate (output = distinct keys, the histogram/bucket
    // tables these windows rank), a GlobalLimit (top-k heads), or a
    // driver-local relation — before any Join/Generate/Union/scan.
    // Every legitimate global window in this repo ranks one of those;
    // a new one over raw rows is a bug this sweep turns into a test
    // failure instead of a 100 TB incident (QuerySweep.boundedSubtree).
    // Plan-opaque but bounded by construction — each carries its proof
    // at the implementation site; a NEW query landing here needs the
    // same kind of argument, not a silent pass:
    val exempt = Map(
      // densified bucket grid, require(span <= maxBuckets) at
      // TimeSeries.trendDecompose — the series is localCheckpoint'd
      // (LogicalRDD), so the guard is invisible to the plan walk
      "q_trend_decompose" -> "time-span-bounded grid (require maxBuckets)",
      "q_durbin_watson" -> "time-span-bounded grid (require maxBuckets)",
      "q_series_outliers" -> "time-span-bounded grid (require maxBuckets)",
      // stage-2 skyline runs over the union of per-bucket skylines
      // (<= buckets x frontier rows — Skyline.scala's containment
      // theorem); stage-1 is hash-partitioned and not flagged
      "q_skyline" -> "union of 64 local skylines (frontier-sized)")
    val sweep = QuerySweep.findings
    assert(sweep.failed.isEmpty, s"swept queries threw: ${sweep.failed}")
    val offenders = sweep.unboundedWindows.filterNot { case (name, _) => exempt.contains(name) }
    assert(offenders.isEmpty,
      s"unpartitioned Window over unbounded input: $offenders")
  }

  test("every join without an equi-key keeps one side provably bounded") {
    // The cartesian/nested-loop class: a join Catalyst cannot hash or
    // sort-merge (no equi-key conjunct) executes as BroadcastNestedLoop
    // or CartesianProduct — fine when one side is a 1-row total or a
    // codebook (the crossJoin(broadcast(tots)) idiom, ~85 sites here),
    // an O(n x m) cluster-killer when both sides scale with the corpus.
    // Sweep every optimized plan: for each Join whose condition carries
    // NO cross-side equality, one side must pass the bounded walk.
    // An explicit broadcast() hint counts as the author's bounded
    // declaration (QuerySweep.hintedSmall).
    // Plan-opaque but bounded by construction at the implementation
    // site (both are corpus-independent level/bucket PAIR joins whose
    // input is localCheckpoint'd, so the guard is invisible here):
    val exempt = Map(
      // T(T-1)/2 pair join over the densified bucket grid,
      // require(span <= maxBuckets) at TimeSeries.mannKendall
      "q_mann_kendall" -> "require-guarded bucket grid pair join",
      // level-pair join over the QUANTIZED score table,
      // <= 10^digits levels by construction (Isotonic.scala header)
      "q_isotonic" -> "quantized level table pair join")
    val sweep = QuerySweep.findings
    assert(sweep.failed.isEmpty, s"swept queries threw: ${sweep.failed}")
    val offenders = sweep.unboundedNoEquiJoins.filterNot { case (name, _) => exempt.contains(name) }
    assert(offenders.isEmpty,
      s"no-equi-key join with both sides unbounded: $offenders")
  }

  test("q_dedup_incremental: exchanges stay linear in shingle volume, never pair-quadratic") {
    import org.apache.spark.sql.functions.{size => asize, sum => asum, greatest => agreatest}
    val docs = Tables.documents(spark, sf)
    // ~ one shingle per word (n=3 sliding windows + short-doc floor)
    val nShingles = docs
      .select(asize(split(lower(col("text")), " ")).as("n"))
      .agg(asum(agreatest(col("n") - 2, lit(1)))).head.getLong(0)
    val shuffled = TestSpark.shuffleRecordsOf {
      SparkEntry.queries("q_dedup_incremental")(spark, sf)
        .write.mode("overwrite").format("noop").save()
    }
    // Two ingests move: prefix tokens of batch + rhs (< 2 passes over
    // ~0.4x the shingle volume each), the per-pair positional reduce
    // (<= candidate rows, bucket-bounded), the verified-pair residue,
    // and the status joins (batch-sized). A lost positional filter or
    // a candidate blowup shuffles array-carrying rows well past 10x
    // the corpus shingle count.
    assert(shuffled > 0 && shuffled < 10L * nShingles,
      s"q_dedup_incremental shuffled $shuffled records for $nShingles shingles")
  }
}
