package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{IncrementalDedup, IncrementalMinHash}
import graft.similarity.{IncrementalIvf, Ivf}
import graft.sources.{CheckpointScope, VersionedTable}
import graft.text.IncrementalStats

/** The composed ingest path: one micro-batch drives FOUR persisted
  * artifacts under ONE transaction identity `(appId, batchId)` —
  *
  *   1. the dedup signature index (+ its token-frequency sidecar),
  *      [[graft.dedup.IncrementalDedup]];
  *   2. the term-statistics index (df/tf partials) over the KEPT docs,
  *      [[graft.text.IncrementalStats]];
  *   3. the IVF vector index over the KEPT docs' embeddings,
  *      [[graft.similarity.IncrementalIvf]];
  *   4. the per-doc decision record (dedup status + OOV quality gate),
  *      hive-partitioned by `__batch` with dynamic partition overwrite;
  *   5. (MinHash backend only) the doc store — `id, text` of every
  *      ingested doc, the relation candidate verification fetches from.
  *
  * Exactly-once without a cross-table transaction: every VersionedTable
  * commit carries the same `(appId, batchId)` txn tag, and each table's
  * ingest checks ITS OWN replay state — so a crash between any two
  * commits replays the batch, the already-committed tables skip their
  * append, the not-yet-committed ones redo it, and the results
  * partition is rewritten byte-identically (dedup statuses are pinned
  * below the original index commit, so a replay computes the same
  * statuses the first attempt did — see
  * [[IncrementalDedup.processBatch]]). SCALING.md sells exactly this
  * composition; this object is the composition.
  *
  * Per-batch cost is the sum of the parts: O(batch) signature/term/
  * assignment work against INDEXES, never against the corpus — batch
  * N+1 does not recompute batch N anywhere.
  *
  * The OOV gate FLAGS, it does not drop: a doc whose token stream is
  * mostly unseen vs the kept-corpus vocabulary (rate ≥ `oovGate`,
  * evaluated against the stats snapshot pinned BEFORE this batch) is
  * recorded `oov_flagged = true` for downstream triage — silently
  * dropping data on a drifting-vocabulary heuristic is the kind of
  * quality gate that deletes a new language from the corpus.
  */
object IngestPipeline {

  /** Which incremental dedup index backs the pipeline's stage 1.
    *
    * [[DedupBackend.Exact]] — the AllPairs prefix index
    * ([[IncrementalDedup]]): self-contained (the index stores the
    * shingle payload), exact recall. Per-doc index footprint is
    * O(doc length).
    *
    * [[DedupBackend.MinHash]] — the banded MinHash index
    * ([[IncrementalMinHash]]): O(bands) CONSTANT-size longs per doc —
    * the 100 TB choice when documents are long — at the price of LSH
    * recall (candidates are still EXACT-verified, so no false dups).
    * Verification fetches candidate text from a doc store the pipeline
    * itself maintains (`Config.docStore`, a VersionedTable of every
    * ingested doc's `id, text`) under the same `(appId, batchId)` txn
    * identity as everything else — the pipeline stays exactly-once
    * with FIVE artifacts instead of four.
    */
  sealed trait DedupBackend
  object DedupBackend {
    case object Exact extends DedupBackend
    final case class MinHash(k: Int = 64, bands: Int = 16) extends DedupBackend
  }

  /** What a coded pipeline's cell-fill measurement saw — handed to
    * `Config.onCodedFill` when `meanFill > bound`. `retrainCall` is the
    * copy-pasteable remediation (the sanctioned coded cutover).
    *
    * The recommended cell count is the TWO-TERM OPTIMUM, not the linear
    * `rows / bound`: the coded gate's per-batch cost is
    * `c + a·cells + b·(rows/cells)` — a cells-linear probe/assign term
    * plus a fill term the cells divide — so the minimizing count is
    * `cells* = sqrt(b·rows/a)`, which grows as √corpus. The sf1 decade
    * stress measured the linear policy overshooting cells* (280 chosen
    * where the fitted optimum was ~70–180 pre/post the codegen
    * assignment fix), turning the cutover into a wash against the
    * no-cutover control (BENCH_CODED_CUTOVER_SF1_r15). The slope
    * defaults are the r16 AssignCostProbe measurement on a ~20k-row
    * 64-dim batch (BENCH_ASSIGN_PROBE_r16.json); a deployment with a
    * different batch geometry measures its own via
    * `tools.AssignCostProbe` and overrides the fields.
    */
  final case class CodedFillStats(ivfIndex: String, rows: Long, cells: Int,
                                  meanFill: Double, bound: Long,
                                  batchId: Long,
                                  probeCostPerCellSec: Double =
                                    CodedFillStats.MeasuredProbeCostPerCellSec,
                                  fillCostPerRowSec: Double =
                                    CodedFillStats.MeasuredFillCostPerRowSec) {
    /** `ceil(sqrt(b·rows/a))`, floored at 2. When this comes out at or
      * below the CURRENT cell count, the probe term — not fill — binds:
      * a cutover cannot help, and the right operator move is raising
      * `codedCellFillBound` toward `rows / optimalCells` (≈ the
      * √corpus-growth rule on the bound — see its scaladoc).
      */
    def optimalCells: Int = math.max(2, math.ceil(
      math.sqrt(fillCostPerRowSec * rows / probeCostPerCellSec)).toInt)

    def retrainCall: String =
      s"IngestPipeline.retrainCodedIvf(spark, cfg, newIvfIndex = " +
        s""""$ivfIndex.v2", nCells = $optimalCells, """ +
        "iters = 3, sampleFraction = 0.1, pq = <current PqSpec>) " +
        "— call at a QUIESCE (stream stopped at a checkpoint boundary), " +
        "then adopt the returned Config" +
        (if (optimalCells <= cells)
           s"; NOTE cells* = $optimalCells <= current $cells: the " +
             "cells-linear probe term now binds, a cutover cannot " +
             "reduce this pipeline's gate cost — raise " +
             s"codedCellFillBound toward ~${rows / math.max(1, optimalCells)} " +
             "(rows/cells*) instead"
         else "")
  }

  object CodedFillStats {
    /** `a`: probe-side cost per cell per batch, seconds — the slope of
      * [[graft.similarity.Ivf.probeCells]] over a ~20k-row 64-dim
      * batch, measured by `tools.AssignCostProbe` against the codegen
      * [[graft.functions.NearestCells]] selection
      * (BENCH_ASSIGN_PROBE_r16.json).
      */
    val MeasuredProbeCostPerCellSec: Double = 0.0021
    /** `b`: fill cost per unit of mean rows-per-cell per batch, seconds
      * — the pre-cutover sem-stage slope of the sf1 decade stress
      * (BENCH_CODED_CUTOVER_SF1_r15 `model`).
      */
    val MeasuredFillCostPerRowSec: Double = 0.0014
  }

  /** What the maintenance-cadence admission re-measure saw — handed to
    * `Config.onSemanticDrift` when `fraction > bound` mid-stream.
    */
  final case class SemanticDriftStats(ivfIndex: String, threshold: Double,
                                      fraction: Double, bound: Double,
                                      batchId: Long)

  final case class Config(
    textCol: String,
    idCol: String,
    embCol: String,
    dedupIndex: String,
    statsIndex: String,
    ivfIndex: String,
    resultsDir: String,
    appId: String,
    centroids: Seq[Ivf.Centroid],
    threshold: Double = 0.8,
    oovGate: Double = 0.5,
    // OOV gate routing (VERDICT r12 finding #2): vocabularies up to
    // this many terms take the broadcast-join path; above it the gate
    // switches to the salted sort-merge plan — the regime where the
    // vocab no longer broadcasts and AQE provably cannot skew-split
    // the membership join (the vocab side feeds it straight out of its
    // distinct aggregate). ~500k terms ≈ the 10 MB broadcast default.
    // Results are identical on both paths (IncrementalStatsSpec parity).
    oovSaltVocabThreshold: Long = 500000L,
    oovSalts: Int = 8,
    // maintenance cadence: every `compactEvery` batches the tf/stats
    // PARTIALS fold (cheap, O(vocab)); every `optimizeEvery` batches —
    // opt-in — the DATA dirs compact (dedup doc+postings re-clustered,
    // IVF re-clustered by cell: one amortized O(index) rewrite that
    // bounds directory/file growth) and, with `retainVersions = Some(k)`,
    // every table vacuums versions below head−k. Vacuum makes time
    // travel below the retention window fail loudly — that is the
    // contract, not a bug (the Delta retention rule).
    compactEvery: Int = 64,
    optimizeEvery: Option[Int] = None,
    retainVersions: Option[Int] = None,
    // grow the dedup postings' token-hash bucket count at the optimize
    // cadence to hold per-bucket fill constant as the corpus grows
    // (IncrementalDedup.compactIndex's autoRebucket). Safe HERE because
    // a streaming pipeline's batches are serial by construction — the
    // modulus cutover cannot race an in-flight probe. Leave false when
    // several writers share cfg.dedupIndex; re-bucket at an
    // orchestrated quiesce instead. Exact backend only (the MinHash
    // layout has no modulus to re-scale).
    autoRebucket: Boolean = false,
    // DECONTAMINATION gate (opt-in): a persisted benchmark fingerprint
    // index (Decontaminate.buildBenchIndex — built once, eval sets
    // change rarely) probed per batch; the decision record gains
    // `contam_flagged` (shares >= 2 distinct n-grams with some
    // benchmark doc), `contam_overlap`, and `contam_bench_id`
    // (the worst-overlapping benchmark doc, null when clean). Flags,
    // never drops. The index is a STATIC input like `centroids`:
    // rebuild it at a quiesce, or replayed batches report against the
    // rebuilt index.
    benchIndex: Option[String] = None,
    // AUTO-RETRAIN of the IVF index (opt-in, single-writer cadences
    // only — the retrainInPlace contract): at the optimize cadence,
    // when mean rows-per-cell exceeds this target, retrain in place
    // with a grown cell count (monotone, capped) so probe reads stay
    // O(target fill) as the corpus grows — the vector-index twin of
    // the postings auto-rebucket. When set, `centroids` is only the
    // SEED (era 0): every batch assigns and probes under the newest
    // validated centroid era, and pinned reads resolve the era their
    // rows were assigned under (IncrementalIvf.centroidsFor).
    autoRetrainCellFill: Option[Long] = None,
    // SEMANTIC near-dup gate (opt-in): when set, each doc is probed
    // against the IVF index pinned BEFORE this batch (the kept corpus's
    // embeddings) via IncrementalIvf.nearDupPairs, and the decision
    // record gains `sem_dup_of` (the best indexed neighbour's id, null
    // when none clears the bar) and `sem_sim` (its exact cosine,
    // 6-decimal grid). Like the OOV gate it FLAGS, never drops: an
    // embedding-similarity heuristic must not silently delete
    // paraphrases the curation step wanted to triage. Recall is IVF's
    // nProbe contract.
    semanticThreshold: Option[Double] = None,
    semanticNProbe: Int = 1,
    // PQ codes for the IVF artifact (opt-in; r13 VERDICT missing #1):
    // when set, every IVF append stores `codes` under this PINNED
    // codebook (drift refuses loudly — IncrementalIvf.pinCodebook), and
    // the semantic gate runs the CODED two-phase probe
    // (IncrementalIvf.nearDupPairsAdc): a codes-only coarse ADC top-R
    // per probe, then exact re-rank on the survivors' floats fetched
    // candidate-pruned. At 100 TB the raw embeddings are the gate's
    // scan cost; with codes the coarse read is nProbe/nCells of an
    // m-byte column. Gate results match the float path whenever each
    // probe's true best neighbour ranks within `adcCandidates` by ADC —
    // the (nProbe, top-R) recall contract. Incompatible with
    // `autoRetrainCellFill`: codes pair with a codebook era exactly as
    // rows pair with centroids, and retrainInPlace refuses coded
    // indexes by design — retrain a coded index to a NEW table
    // (IncrementalIvf.retrain(pq = ...)) and cut the Config over at a
    // quiesce. processBatch/maintenance refuse the combination loudly.
    pqCodebook: Option[graft.similarity.Pq.Codebook] = None,
    adcCandidates: Int = 32,
    // CODED-index cell-fill cadence (VERDICT r14 #1 — the coded
    // pipeline's only unbounded term): `pqCodebook` rules out the
    // in-place auto-retrain (codes pair with a codebook era), so
    // nothing bounded per-cell candidate growth without operator
    // action. With this bound set, maintenance() measures the coded
    // index's mean rows-per-cell at the COMPACTION cadence (one
    // metadata-cheap count — the fill is rows / |centroids|) and past
    // it invokes `onCodedFill` — by default a loud stderr advisory
    // naming the exact retrainCodedIvf call; a deployment automates
    // the swap by supplying its own hook and running retrainCodedIvf
    // at its next quiesce boundary. maintenance() can NOT cut over
    // itself: the successor Config (new table, new centroids, new
    // codebook) must be adopted by the ingest loop's owner, and a
    // mid-stream swap would let a replayed pre-cutover batch gate
    // against the retrained index (the quiesce contract).
    //
    // SIZING (the sf1 decade lesson, BENCH_CODED_CUTOVER_SF1_r15): a
    // FIXED bound implies cells ~ rows/bound — LINEAR cells growth —
    // while the gate's cost model `a·cells + b·(rows/cells)` is
    // minimized at cells* = sqrt(b·rows/a), i.e. √corpus growth. So
    // RAISE this bound as the corpus accumulates: the bound that keeps
    // recommendations at the optimum is rows/cells* = sqrt(a·rows/b),
    // itself ~√corpus. The advisory's `CodedFillStats.retrainCall`
    // recommends cells* directly (and says so when the probe term
    // binds); this bound only controls WHEN the advisory fires.
    codedCellFillBound: Option[Long] = None,
    onCodedFill: Option[CodedFillStats => Unit] = None,
    // Semantic-drift warning hook (VERDICT r14 #3): when the admission
    // preflight is opted in (semanticAdmissionBound < 1.0),
    // maintenance() re-measures the admitted fraction at the
    // compaction cadence — the startup preflight memoizes per JVM, so
    // an embedding distribution that COLLAPSES after admission would
    // otherwise never be re-checked. Past the bound mid-stream the
    // pipeline WARNS (default: stderr) instead of refusing — killing a
    // live stream over a sampled heuristic is worse than flagging it;
    // the refusal stays a startup-only contract.
    onSemanticDrift: Option[SemanticDriftStats => Unit] = None,
    // SEMANTIC-THRESHOLD preflight (r13 degenerate-regime finding made
    // engine behavior): before the gate's first probe of a non-empty
    // index in this JVM, measure on a bounded sample the fraction of
    // candidate pairs the configured threshold ADMITS
    // (IncrementalIvf.semanticAdmissionFraction). Past this bound the
    // batch REFUSES loudly with the measured fraction — a near-dup
    // gate over an embedding space where everything is near everything
    // (collapsed/degenerate embeddings, or a threshold below the
    // space's ambient cosine) admits O(batch × index) pairs and the
    // gate would faithfully execute that.
    //
    // DISABLED by default (1.0; ADVICE r14): the measured fraction is
    // over same-cell candidate pairs, which are biased toward high
    // cosine by construction, so a dense-but-valid corpus/threshold can
    // legitimately exceed a tight bound — a refusing default would
    // surprise every existing semantic-gate config on upgrade with
    // first-batch refusals. Opt in with the density your corpus
    // tolerates (0.05 is a reasonable start for sparse-near-dup
    // regimes); the maintenance cadence re-measures and WARNS past the
    // bound mid-stream either way (see maintenance()).
    semanticAdmissionBound: Double = 1.0,
    // stage-1 index choice; MinHash additionally requires `docStore`
    dedupBackend: DedupBackend = DedupBackend.Exact,
    // VersionedTable path for the pipeline-maintained doc store
    // (`id, text` of EVERY ingested doc — kept and dup alike: the
    // MinHash index has band rows for all of them, and a candidate's
    // text must be fetchable). Required iff dedupBackend is MinHash.
    docStore: Option[String] = None)

  /** OOV-route memo per stats table: routing verdicts are PLAN
    * choices (both paths return identical rows — spec-pinned), so a
    * JVM-local memo is sound. `OovSalted` is permanent — the
    * vocabulary only grows, and a vocab past the broadcast threshold
    * never shrinks back; an under-threshold verdict is revalidated
    * once the stats version advances by [[OovRouteRevalidateEvery]]
    * (a mid-sized vocab would otherwise pay the O(vocab) count on
    * EVERY batch forever). A fresh JVM just re-derives the verdict.
    */
  private sealed trait OovRoute
  private case object OovSalted extends OovRoute
  private final case class OovBroadcastUntil(revalidateAt: Long) extends OovRoute
  private val oovRouteMemo =
    new java.util.concurrent.ConcurrentHashMap[String, OovRoute]()
  private val OovRouteRevalidateEvery = 16L

  /** Semantic-gate admission preflights already passed this JVM, keyed
    * by (index, threshold, bound) → measured fraction. One bounded
    * sample probe per key: admission density is a property of the
    * embedding DISTRIBUTION, which batches shift only glacially — a
    * distribution that drifts into degeneracy mid-stream shows up in
    * [[IncrementalIvf.assignStats]] (the drift guard) long before it
    * flips this verdict. A fresh JVM re-measures.
    */
  private val semPreflightDone =
    new java.util.concurrent.ConcurrentHashMap[String, Double]()

  /** On-disk bytes under a table's data root — the metadata-only vocab
    * floor for the OOV-route gate (dead versions inflate it: the safe
    * direction, the exact count then adjudicates).
    */
  private def statsDataBytes(table: String): Long = {
    val root = java.nio.file.Paths.get(table, "data")
    if (!java.nio.file.Files.isDirectory(root)) 0L
    else {
      val it = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        it.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size).sum
      } finally it.close()
    }
  }

  /** Ingest one micro-batch. Returns (and persists) the decision
    * record: `id, status, n_tokens, n_oov, oov_rate, oov_flagged[,
    * sem_dup_of, sem_sim][, contam_flagged, contam_overlap,
    * contam_bench_id], __batch` (the sem columns appear when
    * `Config.semanticThreshold` is set; the contam columns when
    * `Config.benchIndex` is).
    *
    * `onStage`, when set, receives `(stage, seconds)` per pipeline
    * stage. Instrumentation changes EVALUATION, not results: the lazy
    * gates (oov / sem / contam) are materialized eagerly so each
    * stage's cost is attributable — sound because every gate reads a
    * version PINNED below this batch's own commits, so eager vs
    * write-time evaluation sees byte-identical inputs. The stress
    * harness drives this face; production callers leave it None (gates
    * stay lazy, folded into the record write).
    */
  def processBatch(spark: SparkSession, batch: DataFrame, cfg: Config,
                   batchId: Long,
                   onStage: Option[(String, Double) => Unit] = None): DataFrame = {
    require(cfg.pqCodebook.isEmpty || cfg.autoRetrainCellFill.isEmpty,
      "pqCodebook and autoRetrainCellFill are mutually exclusive: codes " +
        "pair with a codebook era as rows pair with centroids, and the " +
        "in-place retrain cadence cannot cut both over atomically — " +
        "retrain a coded index to a NEW table (IncrementalIvf.retrain" +
        "(pq = ...)) and cut the Config over at a quiesce")
    def timed[T](name: String)(f: => T): T = onStage match {
      case None => f
      case Some(cb) =>
        val t0 = System.nanoTime()
        val r = f
        cb(name, (System.nanoTime() - t0) / 1e9)
        r
    }
    // every commit below carries this batch's transaction identity
    val txnApp = Some(cfg.appId)
    val txn = Some(batchId)
    // one deterministic snapshot of the micro-batch: every consumer
    // below (dedup shingling, OOV tokenizing, kept-join, IVF assign)
    // reads THIS materialization, so no re-evaluation can diverge
    // The batch's row count rides the snapshot's own checkpoint job and
    // serves every consumer that needs it — the sem gate's
    // broadcast-bound decision (which then adds zero extra jobs;
    // VERDICT r14 #7) and the MinHash doc-store file sizing
    val (docs, nDocs) = timed("snapshot")(CheckpointScope.pinMeasured(
      batch.select(col(cfg.idCol).cast("long").as("__id"),
        col(cfg.textCol).as("__text"), col(cfg.embCol).as("__emb")),
      count(lit(1))))

    // OOV gate against the stats snapshot pinned BEFORE this batch's
    // own stats commit (fresh: latest; replay: just below the original).
    // Route on the pinned vocabulary's size (one O(vocab) count — the
    // gate itself reads the same vocab, so this doubles no asymptotics):
    // broadcast join while the vocab broadcasts, salted sort-merge once
    // it doesn't (r12 finding #2 — the pipeline previously hardwired
    // the broadcast path and a production-sized vocab hit the
    // unsplittable join oovRateSalted exists to fix).
    val statsVer = VersionedTable.txnPin(cfg.statsIndex, txnApp, txn).readVersion
    val oovLazy =
      if (statsVer < 0)
        // empty vocabulary: every token is unseen, by definition
        docs.select(col("__id").as("id"),
          explode(split(lower(col("__text")), " ")).as("__t"))
          .filter(length(col("__t")) > 0)
          .groupBy(col("id"))
          .agg(count(lit(1)).as("n_tokens"), count(lit(1)).as("n_oov"))
          .withColumn("oov_rate", lit(1.0))
      else {
        // three-stage gate, cheapest first (the route is a pure plan
        // choice — results are identical either way, so every shortcut
        // only has to err toward the RIGHT PLAN, never the right
        // answer): (1) a metadata-only bytes floor (≥4 B/term
        // compressed; partials and dead versions only inflate it,
        // erring toward running the count) lets a small-vocab batch
        // skip to the broadcast plan with zero extra jobs; (2) a
        // memoized verdict — the vocabulary only grows, so a
        // crossed-threshold verdict is permanent and an under-threshold
        // count stays valid for a revalidation window instead of
        // re-running O(vocab) per batch (r13 review finding); (3) the
        // exact count adjudicates.
        val useSalted = oovRouteMemo.get(cfg.statsIndex) match {
          case OovSalted => true
          case OovBroadcastUntil(v) if statsVer < v => false
          case _ =>
            val mayExceed = statsDataBytes(cfg.statsIndex) >
              cfg.oovSaltVocabThreshold * 4
            val salted = mayExceed && IncrementalStats
              .termStats(spark, cfg.statsIndex, Some(statsVer))
              .filter(col("term").isNotNull)
              .count() > cfg.oovSaltVocabThreshold
            oovRouteMemo.put(cfg.statsIndex,
              if (salted) OovSalted
              else OovBroadcastUntil(statsVer + OovRouteRevalidateEvery))
            salted
        }
        if (useSalted)
          IncrementalStats.oovRateSalted(spark, docs, "__text", "__id",
            cfg.statsIndex, Some(statsVer), cfg.oovSalts)
        else IncrementalStats.oovRate(spark, docs, "__text", "__id",
          cfg.statsIndex, Some(statsVer))
      }
    val oov =
      if (onStage.isEmpty) oovLazy
      else timed("oov")(oovLazy.localCheckpoint())

    // centroid resolution: static config by default; under auto-retrain
    // the sidecar's newest VALIDATED era drives appends, and pinned
    // reads resolve the era their snapshot's rows were assigned under
    val appendCents =
      if (cfg.autoRetrainCellFill.isEmpty) cfg.centroids
      else {
        IncrementalIvf.seedCentroidsEra(spark, cfg.centroids, cfg.ivfIndex)
        IncrementalIvf.activeCentroids(spark, cfg.ivfIndex)
      }

    // semantic near-dup gate against the IVF index pinned BEFORE this
    // batch's own append — same pin rule as the stats gate, so replays
    // are pure. Lazy (evaluated when the caller writes the record,
    // possibly after the ivf future commits) but version-pinned, so the
    // late evaluation reads exactly the pre-batch snapshot.
    val sem = cfg.semanticThreshold.map { t =>
      val ivfVer = VersionedTable.txnPin(cfg.ivfIndex, txnApp, txn).readVersion
      val probeCents =
        if (cfg.autoRetrainCellFill.isEmpty || ivfVer < 0) appendCents
        else IncrementalIvf.centroidsFor(spark, cfg.ivfIndex, ivfVer)
      // admission preflight: once per (index, threshold) per JVM, on
      // the first non-empty pinned snapshot — a bounded sample probe
      // that refuses a degenerate threshold/embedding combination
      // BEFORE the gate builds an O(batch × index) pair set
      if (ivfVer >= 0 && cfg.semanticAdmissionBound < 1.0) {
        val key = s"${cfg.ivfIndex}#$t#${cfg.semanticAdmissionBound}"
        if (!semPreflightDone.containsKey(key)) {
          val frac = IncrementalIvf.semanticAdmissionFraction(spark,
            cfg.ivfIndex, probeCents, t, cfg.semanticNProbe,
            version = Some(ivfVer))
          require(frac <= cfg.semanticAdmissionBound,
            f"semantic gate preflight REFUSED: threshold $t admits " +
              f"$frac%.4f of sampled candidate pairs (> bound " +
              f"${cfg.semanticAdmissionBound}) on ${cfg.ivfIndex} — the " +
              "embedding space is too collapsed for this threshold (the " +
              "gate would admit a constant fraction of the corpus per " +
              "probe); raise the threshold, fix the embeddings, or raise " +
              "semanticAdmissionBound if this density is intended")
          semPreflightDone.put(key, frac)
        }
      }
      // construction is itself partly EAGER (probe checkpoint, cell
      // collect, the coded path's whole coarse phase) — time it inside
      // the stage, not around the final materialization only
      def pairs() = cfg.pqCodebook match {
        case Some(cb) if ivfVer >= 0 =>
          IncrementalIvf.nearDupPairsAdc(spark, docs, "__emb", "__id",
            probeCents, cfg.ivfIndex, t, cb, cfg.adcCandidates,
            cfg.semanticNProbe, version = Some(ivfVer),
            batchRows = Some(nDocs))
        case _ =>
          IncrementalIvf.nearDupPairs(spark, docs, "__emb", "__id",
            probeCents, cfg.ivfIndex, t, cfg.semanticNProbe,
            version = Some(ivfVer), batchRows = Some(nDocs))
      }
      if (onStage.isEmpty) pairs()
      else timed("sem")(pairs().localCheckpoint())
    }

    // dedup statuses (commits the signature/band index — and, exact
    // backend, the tf sidecar — under the txn identity; pure under
    // replay)
    val status = timed("dedup")((cfg.dedupBackend match {
      case DedupBackend.Exact =>
        IncrementalDedup.processBatch(spark, docs, "__text",
          "__id", cfg.dedupIndex, cfg.threshold, batchId,
          txnApp = txnApp, txn = txn)
      case DedupBackend.MinHash(k, bands) =>
        val storeTbl = cfg.docStore.getOrElse(throw new IllegalArgumentException(
          "the MinHash dedup backend requires cfg.docStore — candidate " +
            "verification fetches index docs' text from it"))
        // doc store commits FIRST: band rows whose text is missing from
        // the store would let a LATER batch's candidate verify silently
        // drop the pair (missed duplicate); text without band rows is
        // inert — it is never a candidate. A crash between the two
        // replays the batch: the store skips its append, the band
        // commit redoes. Files are id-sorted and data-sized so the
        // verify stage's In(id) pushdown prunes at row-group level.
        if (!VersionedTable.txnPin(storeTbl, txnApp, txn).replayed) {
          VersionedTable.commit(
            docs.select(col("__id").as("id"), col("__text").as("text"))
              .coalesce(math.max(1L, nDocs / 200000L).toInt)
              .sortWithinPartitions(col("id")),
            storeTbl, "append", txn, txnApp)
        }
        // unpinned read is sound: the store is append-only immutable-
        // by-id, and candidate ids come from the INDEX snapshot pinned
        // inside processBatch — extra newer texts are never fetched
        val store = VersionedTable.read(spark, storeTbl)
          .select(col("id").as("__id"), col("text").as("__text"))
        IncrementalMinHash.processBatch(spark, docs, "__text", "__id",
          cfg.dedupIndex, store, cfg.threshold, batchId, k, bands,
          txnApp = txnApp, txn = txn)
    }).select(col("id"), col("status")).localCheckpoint())

    // the kept subset feeds the corpus-statistics and vector indexes:
    // both describe the DEDUPED corpus, so dup docs contribute nothing.
    // Checkpointed once — the two consumers below run CONCURRENTLY and
    // would otherwise each recompute the kept-join.
    val kept = timed("kept")(docs.join(
      status.filter(col("status") === "kept").select(col("id")),
      docs("__id") === col("id")).select(col("__id"), col("__text"), col("__emb"))
      .localCheckpoint())
    // The two index appends are independent jobs over the same pinned
    // `kept` snapshot, committing to DIFFERENT tables — submit them from
    // separate threads so the scheduler overlaps their stages (on a
    // cluster: stats tokenization and IVF assignment are disjoint
    // CPU/shuffle profiles; serializing them leaves half the executors
    // idle per phase). Exactly-once is unchanged: each table skips its
    // own replayed (appId, batchId) append, and if either thread fails
    // the whole batch fails and replays — the committed table skips,
    // the uncommitted one redoes, same as the sequential crash window
    // already spec-covered in StreamingSpec.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    timed("stats_ivf") {
      val statsF = Future(IncrementalStats.addBatch(spark, kept, "__text",
        "__id", cfg.statsIndex, batchId,
        txnApp = txnApp, txn = txn))
      val ivfF = Future(IncrementalIvf.addBatch(spark, kept, "__emb", "__id",
        appendCents, cfg.ivfIndex, batchId,
        txnApp = txnApp, txn = txn,
        codebook = cfg.pqCodebook))
      // BOTH futures must settle before this batch can fail: a detached
      // survivor racing a checkpoint replay could land its commit AFTER
      // the replay's txnPin check and double-append the same
      // (appId, batchId). Await.ready (not result) on each, THEN rethrow
      // the first failure — no zombie outlives the batch attempt.
      Await.ready(statsF, Duration.Inf)
      Await.ready(ivfF, Duration.Inf)
      statsF.value.get.get
      ivfF.value.get.get
    }

    // contamination gate: probe-only, no commit, independent of every
    // other stage — computed over the SAME checkpointed docs snapshot
    val contam = cfg.benchIndex.map { t =>
      val probe = graft.dedup.Decontaminate.probeBenchIndex(spark, docs,
        "__text", "__id", t, keepClean = false)
      if (onStage.isEmpty) probe
      else timed("contam")(probe.localCheckpoint())
    }

    val rec = status.join(oov, Seq("id"), "left")
      .select(col("id"), col("status"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        coalesce(col("oov_rate"), lit(0.0)).as("oov_rate"))
      .withColumn("oov_flagged", col("oov_rate") >= cfg.oovGate)
    val rec2 = sem.fold(rec)(s => rec.join(
      s.select(col("id"), col("near_id").as("sem_dup_of"),
        col("cos_sim").as("sem_sim")),
      Seq("id"), "left"))
    contam.fold(rec2)(c => rec2.join(
        c.select(col("doc_id").as("id"),
          col("contaminated").as("contam_flagged"),
          col("max_overlap").as("contam_overlap"),
          col("worst_bench_id").as("contam_bench_id")),
        Seq("id"), "left")
      .withColumn("contam_flagged", coalesce(col("contam_flagged"), lit(false)))
      .withColumn("contam_overlap", coalesce(col("contam_overlap"), lit(0L))))
      .withColumn("__batch", lit(batchId))
  }

  /** The sanctioned CODED-index retrain-and-cutover (the path the
    * pqCodebook + autoRetrainCellFill refusal documents): retrain the
    * pipeline's IVF artifact to a NEW table with fresh centroids AND a
    * fresh codebook trained on one pinned sample
    * ([[IncrementalIvf.retrain]] with `pq`), bridge exactly-once across
    * the cutover, and return the successor Config — the caller swaps
    * it in and continues.
    *
    * Call at a QUIESCE: the stream stopped at a checkpoint boundary (no
    * batch below the cutover can replay afterward), which a serial
    * pipeline's own maintenance slot satisfies by construction. The
    * exactly-once bridge ([[graft.sources.VersionedTable.seedTxns]])
    * copies the source index's per-app txn watermarks into the new
    * table's checkpoint, so even an unexpected replay of a pre-cutover
    * batch appends NOTHING to the new index — without it the new
    * table's empty txn log would silently double that batch's vectors.
    * (Its decision record would still recompute sem flags against the
    * retrained index — the reason the quiesce contract demands a
    * checkpoint boundary, not just a pause.)
    *
    * Crash windows: after the retrain commit but before the seed (or
    * before the caller adopts the returned Config), the new table is an
    * unreferenced orphan — rerun the helper; the old index was never
    * touched and stays the live artifact until the Config swap, which
    * is atomic per caller.
    */
  def retrainCodedIvf(spark: SparkSession, cfg: Config, newIvfIndex: String,
                      nCells: Int, iters: Int, sampleFraction: Double,
                      pq: IncrementalIvf.PqSpec,
                      seed: Long = 42L): Config = {
    require(cfg.pqCodebook.isDefined,
      "retrainCodedIvf is the coded-index cutover — a float pipeline " +
        "retrains in place (autoRetrainCellFill) or via IncrementalIvf.retrain")
    val res = IncrementalIvf.retrain(spark, cfg.ivfIndex, newIvfIndex,
      nCells, iters, sampleFraction, seed, pq = Some(pq))
    VersionedTable.seedTxns(newIvfIndex,
      VersionedTable.txnMaxes(cfg.ivfIndex))
    cfg.copy(ivfIndex = newIvfIndex, centroids = res.cents,
      pqCodebook = res.codebook)
  }

  /** Post-batch maintenance on the configured cadences — called by
    * [[streamingSink]] after each batch and directly by batch-mode
    * ingest loops. Every step is RMW-safe and idempotent under replay:
    *   - every `compactEvery` batches: fold the tf + term-stats
    *     PARTIALS (cheap — O(vocab), keeps per-ingest reads
    *     O(distinct keys) instead of O(batches × keys));
    *   - every `optimizeEvery` batches (opt-in): compact the DATA —
    *     dedup doc table re-clustered by id + postings rebuilt + IVF
    *     re-clustered by cell — one amortized O(index) rewrite that
    *     bounds data-dir/file counts (10k batches must not mean 10k
    *     dirs per table), then vacuum versions below head −
    *     `retainVersions`. Vacuumed history fails loudly on read —
    *     the retention contract.
    */
  def maintenance(spark: SparkSession, cfg: Config, batchId: Long): Unit = {
    require(cfg.pqCodebook.isEmpty || cfg.autoRetrainCellFill.isEmpty,
      "pqCodebook and autoRetrainCellFill are mutually exclusive — see " +
        "processBatch; coded indexes retrain to a NEW table at a quiesce")
    val exact = cfg.dedupBackend == DedupBackend.Exact
    if (batchId % cfg.compactEvery == cfg.compactEvery - 1) {
      if (exact) IncrementalDedup.compactTokenFreq(spark, cfg.dedupIndex)
      IncrementalStats.compact(spark, cfg.statsIndex)
      // coded cell-fill cadence (VERDICT r14 #1): the coded pipeline's
      // per-cell candidate sets grow unboundedly at fixed cells — the
      // measured sem-stage ramp — and its only relief valve is a manual
      // retrainCodedIvf cutover nothing prompted. Measure mean fill
      // here (one count; cells are the pinned Config centroids) and
      // surface it loudly past the bound.
      for (bound <- cfg.codedCellFillBound if cfg.pqCodebook.isDefined) {
        require(bound >= 1, s"codedCellFillBound must be >= 1, got $bound")
        if (VersionedTable.latestVersion(cfg.ivfIndex) >= 0
            && cfg.centroids.nonEmpty) {
          val rows = VersionedTable.read(spark, cfg.ivfIndex).count()
          val mean = rows.toDouble / cfg.centroids.size
          if (mean > bound) {
            val stats = CodedFillStats(cfg.ivfIndex, rows,
              cfg.centroids.size, mean, bound, batchId)
            cfg.onCodedFill match {
              case Some(hook) => hook(stats)
              case None => System.err.println(
                f"[graft] CODED IVF CELL-FILL ADVISORY: ${stats.ivfIndex} " +
                  f"holds ${stats.rows} rows over ${stats.cells} cells " +
                  f"(mean fill ${stats.meanFill}%.1f > bound $bound) — " +
                  "per-cell candidate sets grow unboundedly at fixed " +
                  s"cells; retrain to a new table: ${stats.retrainCall}")
            }
          }
        }
      }
      // semantic-drift re-measure (VERDICT r14 #3): the startup
      // preflight memoizes per JVM; re-run the bounded sample at this
      // cadence so a distribution that collapses AFTER admission is
      // surfaced. Warn, never refuse, mid-stream — and refresh the
      // memo so the measurement is on record for the JVM.
      for (t <- cfg.semanticThreshold if cfg.semanticAdmissionBound < 1.0) {
        val ver = VersionedTable.latestVersion(cfg.ivfIndex)
        if (ver >= 0) {
          val probeCents =
            if (cfg.autoRetrainCellFill.isEmpty) cfg.centroids
            else IncrementalIvf.activeCentroids(spark, cfg.ivfIndex)
          val frac = IncrementalIvf.semanticAdmissionFraction(spark,
            cfg.ivfIndex, probeCents, t, cfg.semanticNProbe,
            version = Some(ver))
          semPreflightDone.put(
            s"${cfg.ivfIndex}#$t#${cfg.semanticAdmissionBound}", frac)
          if (frac > cfg.semanticAdmissionBound) {
            val stats = SemanticDriftStats(cfg.ivfIndex, t, frac,
              cfg.semanticAdmissionBound, batchId)
            cfg.onSemanticDrift match {
              case Some(hook) => hook(stats)
              case None => System.err.println(
                f"[graft] SEMANTIC ADMISSION DRIFT: ${cfg.ivfIndex} at " +
                  f"threshold $t now admits ${frac}%.4f of sampled " +
                  f"candidate pairs (> bound ${cfg.semanticAdmissionBound}) " +
                  "— the embedding space has drifted toward degeneracy " +
                  "since admission; raise the threshold or fix the " +
                  "embeddings (the gate keeps running: mid-stream this " +
                  "warns, only startup refuses)")
            }
          }
        }
      }
    }
    cfg.optimizeEvery.foreach { every =>
      if (batchId % every == every - 1) {
        if (exact)
          IncrementalDedup.compactIndex(spark, cfg.dedupIndex,
            autoRebucket = cfg.autoRebucket)
        else {
          IncrementalMinHash.compactIndex(spark, cfg.dedupIndex)
          // re-cluster the doc store by id so the verify fetch's In(id)
          // pushdown keeps pruning after many small appends
          cfg.docStore.filter(VersionedTable.latestVersion(_) >= 0)
            .foreach { tbl =>
              val files = math.max(1L,
                VersionedTable.read(spark, tbl).count() / 200000L).toInt
              VersionedTable.compactBy(spark, tbl)(df =>
                df.repartitionByRange(files, col("id"))
                  .sortWithinPartitions(col("id")))
            }
        }
        // IVF: retrain-in-place when per-cell fill exceeds the target
        // (the overwrite re-clusters by cell as it reassigns, so the
        // compactBy below is redundant that round); otherwise the plain
        // cell-clustered compaction
        val retrained =
          cfg.autoRetrainCellFill.exists { fill =>
            require(fill >= 1, s"autoRetrainCellFill must be >= 1, got $fill")
            if (VersionedTable.latestVersion(cfg.ivfIndex) < 0) false
            else {
              IncrementalIvf.seedCentroidsEra(spark, cfg.centroids, cfg.ivfIndex)
              val rows = VersionedTable.read(spark, cfg.ivfIndex).count()
              val cur = IncrementalIvf.activeCentroids(spark, cfg.ivfIndex).size
              // monotone growth, overflow-safe ceil-divide, capped so the
              // assignCell plan literal stays small (4096 cells x 64 dims
              // = 2 MB of doubles)
              val need = if (rows == 0) 0L else (rows - 1) / fill + 1
              val want = math.min(4096L, math.max(cur.toLong, need)).toInt
              if (want > cur) {
                IncrementalIvf.retrainInPlace(spark, cfg.ivfIndex,
                  nCells = want, iters = 3,
                  sampleFraction = math.min(1.0,
                    math.max(0.05, 200.0 * want / math.max(1L, rows))))
                // the index changed in place: preflight verdicts keyed
                // on this path are stale — drop them so the next gate
                // (or the cadence re-measure) measures the retrained
                // distribution, not the memo (VERDICT r14 #3)
                semPreflightDone.keySet.removeIf(_.startsWith(cfg.ivfIndex + "#"))
                true
              } else false
            }
          }
        if (!retrained
            && graft.sources.VersionedTable.latestVersion(cfg.ivfIndex) >= 0)
          VersionedTable.compactBy(spark, cfg.ivfIndex)(df =>
            df.repartition(col("cell_id"))
              .sortWithinPartitions(col("cell_id")))
        cfg.retainVersions.foreach { keep =>
          (Seq(cfg.dedupIndex, cfg.statsIndex, cfg.ivfIndex)
             ++ (if (exact)
                   Seq(IncrementalDedup.postingsTable(cfg.dedupIndex),
                     IncrementalDedup.tokenFreqTable(cfg.dedupIndex))
                 else cfg.docStore.toSeq))
            .foreach { tbl =>
              val head = VersionedTable.latestVersion(tbl)
              if (head >= 0) VersionedTable.vacuum(tbl, head - keep)
            }
        }
      }
    }
  }

  /** Structured Streaming face: each micro-batch runs [[processBatch]]
    * and lands the decision record in `resultsDir/__batch=<id>/` via
    * dynamic partition overwrite — a checkpoint replay rewrites exactly
    * its own partition with identical rows, so the results directory is
    * exactly-once alongside all three indexes — then [[maintenance]]
    * on the configured cadences.
    */
  def streamingSink(docs: DataFrame, cfg: Config)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        // batch-scoped checkpoint lifecycle: every localCheckpoint this
        // batch materializes (snapshot, statuses, kept, gate probes,
        // candidate stages deep inside the indexes) is released when the
        // batch's record is durably written — NOT when driver GC happens
        // to run ContextCleaner. Without this, a long-running stream
        // accumulates checkpoint blocks in executor storage and batch
        // times drift until a GC burst frees them (the r13 gates-on
        // stress curve, attributed and fixed in r14).
        graft.sources.CheckpointScope.withScope(s.sparkContext) {
          processBatch(s, batch, cfg, batchId)
            .write.mode("overwrite").partitionBy("__batch")
            .parquet(cfg.resultsDir)
          maintenance(s, cfg, batchId)
        }
    }
}
