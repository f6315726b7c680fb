package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Regenerates PLANS.md: the formatted physical plans of the headline
  * queries with the scale property each one is supposed to exhibit —
  * the checked-in artifact that lets a reviewer confirm pushdown /
  * broadcast / pruning / single-exchange claims without running anything.
  * Run: sbt "runMain graft.Plans" (writes PLANS.md at the repo root).
  */
object Plans {

  private[graft] val Annotated: Seq[(String, String)] = Seq(
    "q_lookup_left" ->
      "Broadcast lookup join: the dimension filter is pushed to its scan (PushedFilters) and the dim side broadcasts — no shuffle of the fact side.",
    "q_cast_project" ->
      "Projection pushdown: ReadSchema lists only the projected columns; the whole query is one WholeStageCodegen span over the scan.",
    "q_salted_join" ->
      "Salted skew join: the hot key is spread over 8 deterministic sub-keys before the shuffle; the aggregate de-salts afterwards.",
    "q_dedup_ngram" ->
      "Hot-shingle-capped pair generation: the __df window count and the member groupBy share ONE (bucket, shingle) exchange; the DF filter sits between them.",
    "q_repetition" ->
      "Zero-shuffle per-doc stats: the top-bigram run is a fold over each doc's own sorted bigram array — the whole query lives in the scan stage (no Exchange anywhere).",
    "q_bloom_join" ->
      "Bloom-prefiltered join: might_contain filters the fact scan BEFORE the join shuffle; the sketch is a literal, so the predicate is codegen'd into the scan stage.",
    "q_asof_join" ->
      "As-of join: one exchange + one sort per by-group side (union + running last(ignoreNulls)); no range explosion, no per-row probe.",
    "q_window_running" ->
      "Shared window frames: running sum and lag use one partitioning + ordering — a single exchange and a single sort feed both.",
    "q_ann_brute" ->
      "Brute-force ANN: broadcast single-row query vector, per-row codegen'd dot products, TakeOrderedAndProject — no wide shuffle anywhere.",
    "q_holt" ->
      "Linear sequential recurrence: one HoltStatesAgg fold per series (ObjectHashAggregate) explodes every row's states and joins back — no unbounded-preceding window, no per-row prefix re-fold.",
    "q_gap_fill" ->
      "Gap fill: spine explode off a per-key min/max aggregate, left join back, forward-fill window — spine rows never exist on the driver.",
    "q_topk_custom" ->
      "Custom whole-operator pathway: FinalTopK above the exchange, PartialTopK below it — the exchange carries at most k rows per (group, partition), not the input.",
    "q_tpch_q6" ->
      "TPC-H Q6: scan-only aggregate — every filter in DataFilters at the scan, the whole query one codegen span, no shuffle before the single-row aggregate.",
    "q_tpch_q5" ->
      "TPC-H Q5: multi-way join — nation/region dimensions broadcast, fact-side joins shuffle on their keys, decimal-exact revenue aggregate.",
    "q_decontaminate" ->
      "Decontamination: the bench shingle table broadcasts (BroadcastExchange under the join), so the corpus reaches the overlap count with no pre-join shuffle; the wide exchanges are the (doc, bench) pair aggregate and the keepClean left join, which carries only 8-byte doc ids (AQE broadcasts the flagged side at runtime when it is small).",
    "q_sample_hash" ->
      "Deterministic hash sample: PartialTopK below the exchange bounds it to k rows per (stratum, partition); the md5 rank is computed in the scan stage.",
    "q_tpch_q2" ->
      "TPC-H Q2: the only SortMergeJoin is the min-cost self-match of the lineitem aggregate (large x large); every dimension side broadcasts.",
    "q_tpch_q21" ->
      "TPC-H Q21: the lineitem self semi/anti joins are SortMergeJoins on l_orderkey (large x large, the correct shape at scale); supplier/nation/region broadcast.",
    "q_chunk_overlap" ->
      "Sliding-window chunking: zero Exchange — tokenize once per doc in the Generate child, starts enumerated by sequence, slices projected per chunk.",
    "q_upsert" ->
      "CDC apply: the change set is hash-partitioned once for the latest-wins window; the anti-join reuses that partitioning on the change side.",
    "q_bitmap_distinct" ->
      "Bitmap distinct: fixed-size bitmap partials combine map-side, so the exchange carries one 4 KB buffer per (type, bucket) — not every key occurrence.",
    "q_quantize" ->
      "Int8 quantization: codebook, codes, and reconstruction error are one codegen'd projection over the scan — zero Exchange at any corpus size.",
    "q_entropy" ->
      "Token entropy: ONE repartition on the doc id serves both aggregate levels (per-token counts, then per-doc moments) — a single narrow shuffle carrying counts, not tokens.",
    "q_drift" ->
      "Drift report: each snapshot is scanned ONCE into a map-side-combined category count; totals attach via a global window over the category-sized joined table (an aggregate + cross-join formulation would recompute the join and scan each snapshot twice).",
    "q_heavy_hitters" ->
      "SpaceSaving: partial_space_saving buffers are capacity-bounded blobs per partition (the HLL exchange shape) merging into one global frequency table.",
    "q_textrank" ->
      "TextRank: bigram pairs are generated in the scan stage (zip_with over shifted slices — no posexplode self-join); each weighted-PageRank iteration is one join + re-aggregate over the vocabulary-sized rank vector; top-20 is TakeOrderedAndProject, never a global sort.",
    "q_bfs_hops" ->
      "BFS: the edge list is materialized ONCE (localCheckpoint) and re-joined per level; each level shuffles only the frontier; the settled set grows behind a per-level checkpoint so lineage stays flat.",
    "q_isotonic" ->
      "Isotonic minimax: the corpus collapses to <= 101 quantized levels in one map-side-combined aggregate; the level-pair table, running-min window, and per-level max are all corpus-INDEPENDENT — scale changes nothing after the first aggregate.",
    "q_seq_mining" ->
      "Sequence mining: ordered per-user arrays from one groupBy; n-grams are scan-stage sequence+slice folds; support is a distinct + count over (user, pattern) — map-side combined, pattern-sized output.",
    "q_conformal" ->
      "Split conformal: the md5 split predicate and residuals are scan-stage; the model is a 1-row broadcast; the order statistic rides the sharded cumsum — no global sort of residuals.",
    "q_mahalanobis" ->
      "Mahalanobis top-20: five decimal moments in ONE aggregate, parameters broadcast back, the quadratic is row-local codegen, and the top-k is TakeOrderedAndProject.",
    "q_cv_ols" ->
      "5-fold CV in one pass: the fold-grouped sufficient-statistics aggregate feeds every fold's training sums as (total - fold); the scoring join broadcasts the 5-row model table — the corpus is scanned once for training and once for test SSE.",
    "q_psm" ->
      "Propensity matching: the union+running-last as-of pattern on INTEGER scores — one sort-merge-shaped pass matches every treated unit; controls collapse to one row per distinct score first.",
    "q_group_ols" ->
      "Grouped OLS: k regressions from ONE map-side-combined aggregate; the Cramer solve is per-row arithmetic on the k-row result — no per-group scan, no driver loop.",
    "q_semdedup" ->
      "SemDeDup: bucket-local cosine pairs reduce to a checkpointed drop-set; a bloom over it splits the corpus in the scan stage, so cleared rows never shuffle and only the suspected sliver reaches the exact anti join.",
    "q_classifier_score" ->
      "In-plan model inference: features and sigmoid are one WholeStageCodegen span over the scan — scoring a corpus with a compiled-in model is zero-Exchange at any size.",
    "q_gram_matrix" ->
      "Gram matrix: one flat-buffer gram_agg per partition (partial ObjectHashAggregate below the exchange) — the shuffle carries a single ~17 KB moment blob per partition regardless of row count; the k^2 entry rows only exist AFTER the final merge, in the explode of the one result row.",
    "q_pipeline_curation" ->
      "End-to-end curation: gate + scoring + draw are scan-stage expressions; the corpus crosses an exchange only for the md5-canonical aggregate and its re-join; mixture rates are a source-cardinality aggregate broadcast back.",
    "q_crossdoc_spans" ->
      "Cross-doc span stats: rolling-gram fingerprints are scan-stage expressions; ONE fingerprint exchange serves the (gram, doc) aggregate and both ownership windows; the doc re-group is the only other shuffle — linear rows at every stage, never pair fan-out.",
    "q_session_window" ->
      "Native session windows: Spark's MergingSessions operator above a PER-PARTITION sort (Sort [...], false — never a rangepartitioning global sort); ONE exchange hash-partitioned on user_id with a partial HashAggregate below it, so session fragments combine map-side and parallelism scales with users. The per-partition sort is the operator's honest cost (MergingSessions needs (user, start)-ordered input); Sessionize.byGap (q_sessionize) pays the same shape — one exchange + one sort — for its lag/cumsum windows, so there is no cheaper formulation to switch to, and the native form also merges the pre-shuffle partial sessions.",
    "q_bm25" ->
      "BM25 retrieval: the query-term IN filter sits in the scan stage under the explode, so only matching tokens reach the one (doc, term) exchange; df and corpus stats are BroadcastExchanges; the top-k is TakeOrderedAndProject, never a global sort.",
    "q_dsir_weights" ->
      "DSIR weights: both hashed-unigram histograms collapse to <= buckets rows (map-side partial aggregate under a tiny exchange) and join back as BroadcastExchanges; the corpus crosses exactly ONE doc-id exchange, placed before the explode so documents move once, not their tokens.",
    "q_fuzzy_join" ->
      "PassJoin fuzzy join: segment/probe expansion is scan-stage Generate (constant factor per string), the candidate match is a plain shuffle hash join on the (length, segment, content) key, and levenshtein runs only on candidates — the quadratic comparison never exists in the plan.",
    "q_join_size_est" ->
      "Join-size sketch: each side's scan collapses map-side to <= depth x width histogram rows before a sketch-sized exchange; the inner-product join and per-row sum touch sketch rows only — corpus scanned once per side, nothing key-cardinality-sized moves.",
    "q_jaccard_join" ->
      "AllPairs prefix filter: candidates equi-join on each set's rarest-shingle prefix (complete by theorem — the brute-force oracle recertifies it), sizes prune before the distinct, and the exact verify joins arrays back onto CANDIDATE pairs only, never the corpus cross product.",
    "q_entity_resolution" ->
      "Entity resolution: PassJoin candidates -> levenshtein verify -> iterative component contraction (localCheckpoint'd generations) -> one cluster-key exchange shared by the size count and canonical-pick windows.",
    "q_zipf_fit" ->
      "Zipf fit: vocabulary ranks via range repartition + per-partition row_number + broadcast offsets — rank assignment has NO single-task sort, and the regression is one moment aggregate over the ranked vocabulary.",
    "q_ewma" ->
      "Trailing EWMA: the s<-s*a+x recurrence as a fold over the 20-row trailing frame of ONE user_id window — a single hash exchange and per-partition sort, bounded collected list, no stateful UDF and no driver loop (plan-pinned in PlansSpec).",
    "q_skyline" ->
      "Distributed skyline: stage-1 local frontiers are per-bucket windows (hash-partitioned on __b — fully parallel, ONE running max(struct(y, -x)) instead of a dominance join); only the <= buckets x frontier-size survivors reach the single-partition stage-2 window, the collect-k-centroids regime.",
    "q_sq8" ->
      "SQ8 encode: min/max bounds are plan literals, so codes and the midpoint-decode error are a scan-stage projection — ZERO Exchange at any corpus size (plan-pinned); the only shuffle in the operator's lifetime is the one 2x64-double bounds aggregate.",
    "q_kmeans" ->
      "Iterated k-means: cell assignment is a scan-stage argmin over the plan-literal centroid matrix; each Lloyd update is one k x d-bounded hash aggregate (map-side partials); the plan shown is the final encode — training shuffled only k x d means per iteration, never vectors.",
    "q_kcore" ->
      "k-core (final generation shown): each peel round is a degree aggregate + two semi-joins on the localCheckpoint'd shrinking edge set — no adjacency buffering, parallelism = nodes, round count = peel depth (2-core of the cosine graph).",
    "q_leakage_split" ->
      "Leakage-safe split: component labels come from the checkpointed label-prop generations; the PolyHash bucket and fold boundaries are a zero-shuffle projection OVER the final labels — folding adds nothing to the clustering's cost.",
    "q_jaro_verify" ->
      "Jaro-Winkler verify: PassJoin banding generates candidates (scan-stage Generate + equi-join); the codegen'd jaro_winkler expression runs only on candidate rows — the O(|a||b|) similarity never sees the cross product.",
    "q_dbscan" ->
      "DBSCAN (final generation shown): degree aggregate -> core semi-joins -> label prop on the CORE subgraph only -> one border min-join — every stage is neighborhood-local; the e-pair generator is the only quadratic-risk stage and is bucket-capped inside cosinePairs.",
    "q_rendezvous" ->
      "Rendezvous sharding: both HRW tournaments (5 and 6 shards) are array_max over md5 structs computed per row in the scan stage — ZERO Exchange (plan-pinned); re-sharding a 100 TB lake is a map-only rewrite of the moved ~1/(N+1) slice.",
    "q_chi_square" ->
      "Chi-squared independence: ONE corpus scan builds the contingency cells; row totals, column totals, and the (N,r,c) scalars all re-aggregate the SAME cell exchange (ReusedExchange x3 under AQE) and come back by broadcast — the corpus is read once, everything downstream is |A|x|B|-bounded.",
    "q_acf" ->
      "Autocorrelation: the corpus collapses to the localCheckpoint'd dense bucket series (the only FileScan feeds the checkpoint); stats row + both lag-join sides read the checkpoint, the lag table broadcasts, and all aggregates are exact long sums — series-sized work after one exchange, no corpus rescans.",
    "q_kaplan_meier" ->
      "Kaplan-Meier: per-subject lifetimes localCheckpoint'd (one corpus scan; the study-end max is a 1-row aggregate OF THE CHECKPOINT, broadcast back); the four cumulative windows share one duration-ordered sort over the distinct-duration-sized table.",
    "q_neyman_sample" ->
      "Neyman sampling: two honest corpus passes — a moment groupBy (strata-sized output, global window over it) and the per-stratum md5 rank sort — with the allocation joined back by broadcast; the cross-stratum normalizer makes a single-pass form impossible without materializing the corpus.",
    "q_roc_auc" ->
      "ROC AUC + AP: the distinct-score histogram is the only corpus aggregate; the sharded cumsum ranks it (per-shard window + broadcast shard offsets — no global sort), class totals broadcast as ONE row, and both statistics collapse in a map-side partial aggregate over histogram-sized input; every AUC/AP term is exact-integer arithmetic off the cumulative columns.",
    "q_spearman" ->
      "Spearman: each variable's rank table is its own histogram + sharded cumsum (histogram-sized, never corpus-sized); the corpus joins the two rank tables on (group, value) — AQE broadcasts small tables — and the five DECIMAL cross-moments fold with map-side partials, so after the joins nothing exceeds group-count rows.",
    "q_containment" ->
      "Containment verify: the q_ngram_verify skeleton unchanged — banded candidate equi-join, two hash joins attach per-doc shingle arrays, and ONE per-row array_intersect feeds containment_a/containment_b/jaccard together; no pair is ever generated from a shared shingle.",
    "q_numeric_drift" ->
      "Numeric drift: the reference half's deciles ride the exact sharded percentile dataflow and broadcast as ONE row; both halves bin in their scan stage (size(filter(edges))) and the smoothing/divergence arithmetic runs on the <=bins-row joined table — corpus cost is two scans plus two <=bins-group aggregates.",
    "q_mann_kendall" ->
      "Mann-Kendall + Theil-Sen: the corpus collapses ONCE to the checkpointed dense daily series; the T(T-1)/2 pair join is series-local (T is time-range-bounded, corpus-INDEPENDENT — a fixed cost knob, not a scale risk) and the Sen median rides the exact percentile dataflow over the slope histogram.",
    "q_bpe_pairs" ->
      "BPE pair counts: the corpus collapses to the (word, count) vocabulary aggregate; pair expansion is a scan-stage Generate OVER THE VOCAB TABLE (never the corpus) into a map-side-combined pair aggregate — the training loop repeats exactly this plan per merge, which is why the representation change is the scale story.",
    "q_linkage_score" ->
      "Fellegi-Sunter linkage: both sides hash-partition on the blocking key (the one pair-volume knob); every field agreement, the literal-weight sum, and the decision band are a single codegen'd projection over the joined stream — nothing shuffles after the blocked join.",
    "q_power_project" ->
      "Power-iteration projection: the learned eigenvector is a plan literal, so each row's exact integer score is a scan-stage fold — ZERO Exchange at any corpus size; the training pass behind it shuffles one flat GramAgg blob per partition.",
    "q_logreg_score" ->
      "Logistic-regression scoring: the trained weight vector is a plan literal, so each row's exact integer margin + thresholded class are ONE codegen projection over the scan — ZERO Exchange (plan-pinned in MlSpec); each training iteration behind it shuffled only dim+1 decimal gradient partials.",
    "q_jl_project" ->
      "JL projection: the hash-sign matrix is a plan literal and every row is independent — projection, norm, and distortion ratio are a scan-stage map with ZERO Exchange at any corpus size (plan-pinned in ProjectionSpec).",
    "q_nb_score" ->
      "Naive Bayes scoring: the dense vocab x class model and the priors arrive as BroadcastExchanges; the corpus crosses one (doc, class) exchange whose partial sums combine map-side — tokens never shuffle raw, and the argmax is a per-doc window over class-count rows.",
    "q_hierarchy" ->
      "Pointer-doubling hierarchy: each of the ceil(log2 depth) rounds is a two-long-column self-join on the id key (localCheckpoint'd, so the final plan shows ONE round, not a depth-long lineage) — a depth-D chain resolves in log D shuffles instead of D.",
    "q_unigram_segment" ->
      "Viterbi segmentation: the cost table is a plan-literal map and the DP is a per-row fold — the only exchange is the distinct-word aggregate the corpus collapses to first; segmentation work is vocabulary-sized, never corpus-sized.",
    "q_index_lookup" ->
      "Read-only probe of the persisted dedup index via the r13 posting-list layout: the index leg is a parquet scan of the postings sidecar (slim pre-exploded tokens; on a trickle probe the batch's bucket set and the snapshot-version bound land in PushedFilters) — no Generate/posexplode over the doc table anywhere — and the verify payload read is restricted to candidate ids. The probe side is the only thing exchanged.",
    "q_ann_ivfpq_incremental" ->
      "Incremental IVF-PQ probe: the scan reads (id, cell_id, codes) ONLY — ReadSchema has no vec column, so at scale the probe never touches the float vectors — with the probed cells' In(cell_id) pushed to the cell-clustered files' row-group stats; the ADC distance is a codegen'd lookup-table fold over the codes, and the top-k is the TakeOrdered tail.",
    "q_minhash_lookup" ->
      "Read-only probe of the incremental MinHash index: the index leg scans O(bands) constant-size band rows per doc (never a shingle payload) with the probe's bucket set pushed — In(bucket) in PushedFilters over the bucket-range-clustered files — and exact verification reads only candidate ids' text from the doc store (In pushed on the id). The probe's own signatures materialize in the scan stage (minhash_sig, zero exchange).",
    "q_semantic_lookup" ->
      "Embedding near-dup probe of the incremental IVF index: probe cells are assigned scan-side (the probeCells comparator-sort expression — no exchange for assignment), the probed-cell set lands as In(cell_id) in PushedFilters over the cell-clustered files' row-group stats, candidates come from ONE cell_id equi-join whose BUILD SIDE IS PINNED to the bounded probe batch (r14: estimate-driven choice broadcast the growing INDEX leg under pipeline-lineage probes — BuildLeft asserted, BuildRight refused), and the top-1-per-probe window is PARTITIONED by probe id — the index read is O(probed cells' fill), never O(index).",
    "q_semantic_lookup_adc" ->
      "The CODED near-dup probe (r14): the coarse leg reads (id, cell_id, codes) ONLY — ReadSchema has no vec column, the floats that ARE the scan cost at 100 TB stay unread — with In(cell_id) pushed and the probe side broadcast; each probe's m-by-k ADC lookup table is one scan-side expression, the per-pair distance an m-lookup fold; the exact re-rank reads floats for the ADC-surviving candidate ids only (In(id) pushed), then the float path's threshold + top-1 window finish identically.")

  def main(args: Array[String]): Unit = {
    val spark = GraftExtensions.localSession("4")
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.001"

    val sections = Annotated.map { case (name, note) =>
      val df = SparkEntry.queries(name)(spark, sf)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      s"""## $name
         |
         |$note
         |
         |```
         |${plan.trim}
         |```
         |""".stripMargin
    }

    val header =
      """# Physical plans of the headline queries
        |
        |Generated by `sbt "runMain graft.Plans"` (sf0.001 inputs; plan SHAPE is
        |scale-invariant — row counts aren't). Each section states the scale
        |property the plan is expected to show; PlansSpec pins the key ones in CI.
        |""".stripMargin

    Files.writeString(Paths.get("PLANS.md"), (header +: sections).mkString("\n"))
    println(s"wrote PLANS.md (${sections.size} queries)")
    spark.stop()
  }
}
