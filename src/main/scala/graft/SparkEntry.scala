package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import scala.collection.immutable.ListMap

import graft.operators.{Audit, Curation, CurationState, Dedup, Graph, Layout, Multimodal, Overlap, Pipeline, Relational => R, Sampling, Similarity, TextOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2.4 (plus the LLM-pipeline surface) is
  * registered in [[queries]]; every oracle-expressible one has matching
  * DuckDB SQL in [[oracleSql]] with IDENTICAL output column names (the
  * driver sorts columns by name before hashing values).
  *
  * Determinism rules shared with the oracle SQL (see Relational.scala
  * scaladoc): money sums run over decimal(18,4) (order-independent, exact),
  * free doubles snap to decimal(18,6) before summing, timestamps are
  * emitted as formatted strings, and every top-k/window query carries a
  * unique tie-breaker.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    R.q07AggTpchQ1(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = ListMap(
    // ---- relational surface (SURVEY §2.4) ----
    "q01_scan_count"      -> (R.q01ScanCount _),
    "q02_filter_project"  -> (R.q02FilterProject _),
    "q03_join_broadcast"  -> (R.q03JoinBroadcast _),
    "q04_join_shuffle"    -> (R.q04JoinShuffle _),
    "q05_join_semi"       -> (R.q05JoinSemi _),
    "q06_join_anti"       -> (R.q06JoinAnti _),
    "q07_agg_tpch_q1"     -> (R.q07AggTpchQ1 _),
    "q08_distinct_agg"    -> (R.q08DistinctAgg _),
    "q09_approx_distinct" -> (R.q09ApproxDistinctChecked _), // hash-green since r12: frozen estimates + DuckDB-recomputed 5% bound
    "q10_rollup"          -> (R.q10Rollup _),
    "q11_cube"            -> (R.q11Cube _),
    "q12_window_rank"     -> (R.q12WindowRank _),
    "q13_window_running"  -> (R.q13WindowRunning _),
    "q14_topk"            -> (R.q14TopK _),
    "q15_set_ops"         -> (R.q15SetOps _),
    "q16_union_all"       -> (R.q16UnionAll _),
    "q17_scalar_fns"      -> (R.q17ScalarFns _),
    "q18_json_fns"        -> (R.q18JsonFns _),
    "q19_array_fns"       -> (R.q19ArrayFns _),
    "q20_explode"         -> (R.q20Explode _),
    "q21_hourly_window"   -> (R.q21HourlyWindow _),
    "q24_map_fns"         -> (R.q24MapFns _),
    "q25_sliding_window"  -> (R.q25SlidingWindow _),
    "q26_session_window"  -> (R.q26SessionWindow _),
    "q27_asof_join"       -> (R.qAsofJoin _),
    "pit_join"            -> (R.qPitJoin _), // SCD2 point-in-time dimension lookup (DuckDB ASOF oracle)
    "ingest_anomaly"      -> (R.qIngestAnomaly _), // trailing-week z-score monitor over daily counts
    "funnel_latency"      -> (R.qFunnelLatency _), // exact median step-to-step time via the grouped quantile refinement
    "q28_percentiles"     -> (R.q28Percentiles _),
    "q28_percentiles_scale" -> (R.q28PercentilesScale _), // bounded refinement == single-agg (shared oracle)
    "q55_sessionize"      -> (R.q55Sessionize _), // labeled sessions + cross-session features
    "q29_grouping_sets"   -> (R.q29GroupingSets _),
    "q30_pivot"           -> (R.q30Pivot _),
    "q32_scalar_subquery" -> (R.q32ScalarSubquery _),
    "q33_outer_join"      -> (R.q33OuterJoin _),
    "q34_full_outer"      -> (R.q34FullOuter _),
    "q35_window_suite"    -> (R.q35WindowSuite _),
    "q36_date_fns"        -> (R.q36DateFns _),
    "q37_approx_percentile" -> (R.q37ApproxPercentileChecked _), // hash-green since r12: frozen estimates + DuckDB-recomputed rank-interval bound
    "q22_shipping_priority" -> (R.q22ShippingPriority _),
    "q23_local_supplier"  -> (R.q23LocalSupplierVolume _),
    // ---- LLM-pipeline: dedup ----
    "dedup_exact"         -> (Dedup.qDedupExact _),
    "dedup_incremental"   -> (Dedup.qDedupIncremental _),
    "dedup_incremental_bloom" -> (Dedup.qDedupIncrementalBloom _), // bloom-pruned plan, same oracle
    reg(NgramJaccard),
    reg(PrefixJaccard),
    reg(OverlapExact), // cross-source distinct-shingle overlap (ground truth)
    reg(OverlapKmv), // hash table frozen; oracle recomputes k-min selection + pairwise estimates (hash-green since r11); merge-invariance + bounds in OverlapSpec
    "overlap_purge"       -> (Overlap.qOverlapPurge _), // NEW r16 (VERDICT r15 task 4): RTBF rebuild of the non-linear KMV sketches at SOURCE grain (untouched sources keep their sketches); flagged hash table frozen, oracle recomputes estimates over live rows alone
    reg(MinHashLsh), // sig/bucket tables frozen; oracle recomputes pairs + agreement (hash-green since r10)
    reg(MinHashLshMd5), // oracle twin: md5-string permutations, hash-matched in DuckDB
    reg(LshEval), // banded-LSH precision/recall vs the exact Jaccard truth
    reg(DedupAgreement), // pairwise agreement matrix of the three near-dup detectors
    reg(MinHashIncremental), // new-batch near-dups vs corpus signature table
    reg(DedupClusters),
    reg(DedupClustersIncremental), // NEW r13: CC maintenance over prior labels + batch edges; oracle = full recompute
    reg(DedupClustersMaintain), // NEW r14 (VERDICT r13 task 2): the recurring fold alone, prior state read from a frozen parquet table; same full-recompute oracle
    reg(CanonicalSelect), // cluster labels + quality argmax
    reg(EditDistance),
    "simhash"             -> (Dedup.qSimHash _),      // token-hash bag frozen; oracle recomputes votes + bit assembly (hash-green since r11)
    reg(SimHashMd5), // oracle twin: md5 bit source, hash-matched in DuckDB
    "simhash_pairs"       -> (Dedup.qSimHashPairs _), // signatures frozen; oracle recomputes banding + hamming gate (hash-green since r10)
    reg(SimHashPairsMd5), // oracle twin: banded hex chunks + per-digit hamming
    // ---- LLM-pipeline: similarity search ----
    "ann_brute"           -> (Similarity.qAnnBrute _),
    "nearest_neighbor"    -> (Similarity.qNearestNeighbor _),
    reg(AnnLsh), // bucket table frozen to parquet; oracle recomputes candidates + exact cosine + ranking (hash-green since r10)
    "embedding_dedup"     -> (Similarity.qEmbeddingDedup _),
    "embedding_dedup_blocked" -> (Similarity.qEmbeddingDedupBlocked _), // delegates to the two-level quantizer; same frozen-assignment oracle (hash-green since r10)
    "embedding_dedup_2level"  -> (Similarity.qEmbeddingDedupTwoLevel _), // assignments frozen; oracle recomputes within-cell pairs + cosine gate (hash-green since r10)
    reg(AnnTwoLevel), // cell assignments frozen; oracle recomputes candidates + ranking (hash-green since r10)
    reg(AnnIvf), // cell/probe tables frozen to parquet; oracle recomputes scan + ranking (hash-green since r10)
    reg(AnnPq), // ADC shortlist frozen to parquet; oracle recomputes re-rank + top-3 (hash-green since r10)
    reg(AnnIvfPq), // ADC shortlist frozen; oracle recomputes re-rank + top-3 (hash-green since r10)
    reg(AnnEval), // NEW r13 (ADVICE r12): recall@3 audit of all five ANN paths vs exact top-3; oracle re-derives both sides
    reg(AnnExactTop3), // NEW r14 (VERDICT r13 task 1): the audit's exact ground-truth table registered in its own right, so the bench bills the corpus scan once
    "embedding_centroids" -> (Similarity.qEmbeddingCentroids _), // decimal-exact per-label mean vectors
    "centroid_incremental" -> (Similarity.qCentroidIncremental _), // merged (label,dim) decimal partials == direct (shared oracle)
    "embedding_drift"     -> (Similarity.qEmbeddingDrift _), // per-label centroid L2 shift between snapshots
    "embedding_quantize"  -> (Similarity.qEmbeddingQuantize _), // int8 symmetric quantization, integer-exact kernel
    // ---- LLM-pipeline: text analysis ----
    "lang_id"             -> (TextOps.qLangId _),
    "temperature_mix"     -> (Pipeline.qTemperatureMix _), // NEW r13: alpha=0.25 language-temperature resampling; sqrt(sqrt(n)) keeps it IEEE-exact cross-engine
    "quality_score"       -> (TextOps.qQualityScore _),
    "token_count"         -> (TextOps.qTokenCount _),
    "corpus_stats"        -> (TextOps.qCorpusStats _),
    "fingerprint"         -> (TextOps.qFingerprint _),
    "winnow_fingerprint"  -> (TextOps.qWinnowFingerprint _), // k-gram hash table frozen; oracle recomputes window-min + distinct (hash-green since r11)
    reg(WinnowMd5), // oracle twin: md5-string window min, hash-matched in DuckDB
    reg(TfIdf),
    reg(Bm25TopTerms),
    reg(Bm25Search), // sparse top-k retrieval (decimal-exact ranking)
    reg(Bm25Incremental), // merged state+fresh partials == direct (shared oracle)
    "hybrid_search"       -> (Similarity.qHybridSearch _), // BM25 candidates -> embedding cosine re-rank, RRF fusion
    "triplet_mine"        -> (Similarity.qTripletMine _), // contrastive (anchor, pos, neg) triplets with margin
    "triplet_mine_scale"  -> (Similarity.qTripletMineScale _), // positives from the frozen two-level assignment; oracle recomputes gate + negatives + margins (hash-green since r10)
    reg(VocabBuild),
    reg(VocabCoverage), // Zipf coverage curve at vocab-size milestones
    reg(OovRate), // per-source OOV mass vs the top-N vocab (tokenizer sizing report)
    "token_fertility"     -> (TextOps.qTokenFertility _), // per-language chars-per-token under both tokenizers
    "bpe_pair_counts"     -> (TextOps.qBpePairCounts _),
    "bpe_merges"          -> (TextOps.qBpeMerges _), // 8 chained CTE rounds recompute every argmax + greedy merge in DuckDB (hash-green since r11); loop also pinned vs hand-computed reference in OperatorSpec
    "bpe_tokenize"        -> (TextOps.qBpeTokenize _), // apply step oracled via the frozen segmentation artifact (bpeSegsPath); the merge loop itself is oracled by bpe_merges' chained CTEs
    "html_extract"        -> (TextOps.qHtmlExtract _), // web-corpus boilerplate strip + entity decode
    "q39_array_setops"    -> (TextOps.qArraySetOps _),
    "q40_range_band_join" -> (R.qRangeBandJoin _),
    "q41_unpivot"         -> (R.qUnpivot _),
    "q42_range_join_bucketed" -> (R.qRangeJoinBucketed _),
    "q43_hll_sketch_merge" -> (R.qHllMergeChecked _), // hash-green since r12: frozen estimates + DuckDB-recomputed merge==direct and 5% bound
    "q44_minmax_by"       -> (R.q44MinMaxBy _),
    "q45_stats_agg"       -> (R.q45StatsAgg _),
    "q46_histogram"       -> (R.q46Histogram _),
    "q47_interval_join"   -> (R.q47IntervalJoin _),
    "q48_range_frame"     -> (R.q48RangeFrame _),
    "q50_lateral"         -> (R.q50Lateral _),
    "q51_topk_agg"        -> (R.q51TopKAgg _),
    "q52_variant"         -> (R.q52Variant _),
    "q53_funnel"          -> (R.qFunnel _), // ordered event-sequence funnel
    "q54_retention"       -> (R.q54Retention _), // weekly cohort retention triangle
    "doc_chunk"           -> (TextOps.qDocChunk _),
    "passage_search"      -> (TextOps.qPassageSearch _), // BM25 over sliding chunks: top-k passages (RAG grain)
    "q49_resample_ffill"  -> (R.q49ResampleFfill _),
    "scd2_snapshot"       -> (R.qScd2Snapshot _),
    "merge_apply"         -> (R.qMergeApply _), // CDC MERGE: changelog -> next snapshot, last writer wins
    reg(HeavyHitters), // hash-green since r12: frozen top-k + DuckDB-recomputed exact-agreement and top-k validity
    reg(CmsCounts), // NEW r13: mergeable count-min sketch; md5 rows are portable so DuckDB recomputes the WHOLE sketch + bounds — no frozen artifact
    reg(CmsLookup), // NEW r14 (VERDICT r13 task 6): point-frequency serving from the FROZEN merged sketch; oracle recomputes the whole serving path
    reg(HeavyHittersExact), // hash-green twin of the sketch entry
    "pmi_collocations"    -> (TextOps.qPmiCollocations _), // phrase mining: top bigrams by PMI with count floor
    "skipgram_cooc"       -> (TextOps.qSkipgramCooc _), // GloVe-style windowed co-occurrence matrix (1/dist weighted)
    // ---- LLM-pipeline: corpus curation ----
    "repetition_signals"  -> (Curation.qRepetitionSignals _),
    "contamination"       -> (Curation.qContamination _),
    "contamination_semantic" -> (Similarity.qContaminationSemantic _), // per-eval-item closest training doc by cosine (NEW r15)
    "pii_scrub"           -> (Curation.qPiiScrub _),
    "signal_projection"   -> (Curation.qSignalProjection _),
    "segment_dedup"       -> (Curation.qSegmentDedup _),
    "substring_dedup"     -> (Dedup.qSubstringDedup _), // NEW r14 (VERDICT r13 task 5): Lee-et-al-class exact cross-doc substring excision at token granularity, keep-first; artifact-free md5 twin
    "substring_dedup_incremental" -> (Dedup.qSubstringDedupIncremental _), // NEW r14: batch-vs-published-corpus form; prior side = distinct-gram presence index (additively maintainable)
    reg(GramIndexCompact), // NEW r15 (VERDICT r14 task 1): g-bucketed compaction of the streamed gram partials — the once-per-cycle state build of the serve split
    "gram_index_purge"    -> (Dedup.qGramIndexPurge _), // NEW r15 (VERDICT r14 task 2): refcounted gram index after a purge epoch — (g, cnt>0) == index rebuilt from the purged corpus
    "substring_dedup_purged" -> (Dedup.qSubstringDedupPurged _), // NEW r15: serve leg over the purged refcount index — purged docs' grams stop excising (RTBF propagates, no state rebuild)
    reg(SubstringDedupServe), // NEW r15: serve path over the bucketed index (zero index-side Exchange) + broadcast fresh partials; result == substring_dedup_incremental
    "decontaminate_substring" -> (Dedup.qDecontaminateSubstring _), // NEW r14: excise verbatim >=15-token benchmark passages from the training split (index rule only; contamination SCORES, this REMOVES)
    "boilerplate_strip"   -> (Curation.qBoilerplateStrip _), // corpus-frequency segment removal (CCNet-style)
    "robust_outliers"     -> (Curation.qRobustOutliers _), // median/MAD per-source length gate
    "quality_calibrate"   -> (Curation.qQualityCalibrate _), // per-source percentile-rank score calibration
    "rtbf_purge"          -> (Curation.qRtbfPurge _), // opt-out purge by content hash + per-source audit
    "corpus_diff"         -> (R.qCorpusDiff _), // snapshot diff: added/removed/changed/unchanged
    "rollup_incremental"  -> (R.qRollupIncremental _), // mergeable-partials ETL; == direct recompute
    "equidepth_hist"      -> (R.qEquidepthHist _), // exact-decile equal-mass buckets (optimizer stats)
    "selectivity_estimate" -> (R.qSelectivityEstimate _), // histogram cardinality estimates vs actual counts
    "unigram_surprisal"   -> (Curation.qUnigramSurprisal _),
    "heldout_surprisal"   -> (Curation.qHeldoutSurprisal _), // leak-free LM eval: train-split model scores the valid split
    "bigram_surprisal"    -> (Curation.qBigramSurprisal _),
    "bigram_surprisal_scale" -> (Curation.qBigramSurprisalScaleArtifact _), // sketch cutoffs frozen to the pplCutsPath artifact; oracle recomputes scores + applies them (hash-green since r10)
    "sequence_pack"       -> (Curation.qSequencePack _),
    "pack_assemble"       -> (Curation.qPackAssemble _), // packed bins -> actual training examples
    "classifier_score"    -> (Curation.qClassifierScore _), // broadcast-model linear scoring
    "classifier_eval"     -> (Curation.qClassifierEval _), // threshold-sweep P/R/F1 vs the quality-gate label
    reg(ClassifierTrain), // NEW r12: distributed GD training of the hashed-feature quality model; bit-exact integer/decimal algebra, oracle re-runs all rounds as chained CTEs
    reg(ClassifierTrainScore), // serve leg of the trained model: broadcast join + integer margins
    // ---- LLM-pipeline: multimodal ----
    "multimodal_meta"     -> (Multimodal.qMultimodalMeta _),
    // raw media_features / media_frames (the live codec boundary itself)
    // are BENCH-ONLY since r16 (VERDICT r15 task 3): DuckDB cannot decode
    // PNG/WAV, so they can never be oracle rows — their correctness lives
    // in the driver-gated _check twins below (live decode vs frozen
    // boundary, hash-green) + OperatorSpec determinism pins, and their
    // throughput stays measured via [[benchOnly]].
    "media_resize"        -> (Multimodal.qMediaResize _), // decoded input dims frozen; oracle recomputes the resize-box arithmetic (hash-green since r11)
    "media_report"        -> (Multimodal.qMediaReport _), // decoded table frozen; oracle recomputes the per-type aggregation algebra (NEW r11)
    "media_frame_audit"   -> (Multimodal.qMediaFrameAudit _), // frozen dims table; oracle recomputes the sampler's stride/index arithmetic (NEW r12)
    "media_features_check" -> (Multimodal.qMediaFeaturesCheck _), // NEW r13: LIVE decode totals vs frozen boundary — the codec OUTPUT is driver-gated
    "media_frames_check"  -> (Multimodal.qMediaFramesCheck _), // NEW r13: live frame-sampler accounting vs frozen per-frame table, per asset
    // ---- LLM-pipeline: split / sample / order ----
    "hash_split"          -> (Sampling.qHashSplit _),
    "stratified_sample"   -> (Sampling.qStratifiedSample _),
    "global_shuffle"      -> (Sampling.qGlobalShuffle _),
    "split_drift"         -> (Sampling.qSplitDrift _),
    reg(SplitLeakage), // near-dup pairs straddling the doc-keyed split
    reg(ClusterSplit), // leakage-free split keyed on near-dup cluster reps
    "domain_cap"          -> (Sampling.qDomainCap _),
    "weighted_sample"     -> (Sampling.qWeightedSample _), // integer systematic token-weighted sampling
    "reservoir_sample"    -> (Sampling.qReservoirSample _), // Efraimidis–Spirakis weighted reservoir per source (without replacement, NEW r11)
    reg(DsirWeights), // DSIR hashed-ngram importance model (1024-bucket log-ratio table, NEW r15)
    reg(DsirSelect), // DSIR hard selection: top-k docs by importance score
    reg(DsirResample), // DSIR sampled selection: Gumbel-top-k ∝ exp(score), content-keyed
    // ---- data layout (multi-dimensional clustering) ----
    "zorder_key"          -> (Layout.qZorderKey _), // Morton key over integer min-max buckets
    // ---- LLM-pipeline: end-to-end curation composition ----
    "training_mix"        -> (Pipeline.qTrainingMix _),
    "release_manifest"    -> (Pipeline.qReleaseManifest _), // per-(source, split, band) accounting + order-free checksum
    "kanon_release"       -> (Pipeline.qKanonRelease _), // k-anonymity floor on released group stats
    "epoch_plan"          -> (Pipeline.qEpochPlan _), // temperature-α token-budget epoch allocation
    "domain_mix"          -> (Pipeline.qDomainMix _),
    reg(CorpusCurate),
    reg(CurationFunnel), // per-gate drop accounting over the curation keep conjunction
    reg(CurationReport), // per-source gate-flag counts + keep rate (the dashboard grain)
    "corpus_curate_scale" -> (Pipeline.qCorpusCurateScale _), // sketch cutoffs frozen to this entry's own pplCutsPath("curate") artifact; oracle recomputes scores + gating (hash-green since r10)
    reg(CurationStateReport), // frozen-artifact scalar audit (counts + tercile cutoffs), hash-gated
    reg(CurateIncremental), // fresh batch gated by FROZEN state-corpus statistics (no state rescan)
    // ---- graph analytics (iterative join+agg rounds) ----
    "pagerank"            -> (Graph.qPageRank _),
    // ---- cross-source distribution drift ----
    reg(CorpusDivergence),
    // ---- corpus diversity ----
    reg(NoveltyScore), // df=1 fraction of each doc's 3-grams
    // ---- warehouse data-quality audit ----
    "dq_audit"            -> (Audit.qDqAudit _), // Deequ-style constraint metrics (nulls/keys/FK/ranges)
    "skew_report"         -> (Audit.qSkewReport _), // power-of-two key-skew size classes over events.user_id
  )

  // ---- the catalogue DAG ----
  // Every shared pipeline is declared once, here: each node names the
  // upstream artifacts its step reads. [[queries]] registers the derived
  // standalone form (dependencies built fresh, then the node's own step);
  // graft.Bench walks [[catalogue]] once per pass and bills each artifact
  // once; graft.tools.Profile and PlanLintSpec read the same nodes.

  private def reg(n: Node[_]): (String, (SparkSession, String) => DataFrame) =
    n.name -> n.entry.getOrElse(sys.error(s"${n.name} reports no frame"))

  private def leaf(name: String)(f: (SparkSession, String) => DataFrame): Node[DataFrame] =
    Node.frame(name)(in => f(in.spark, in.dir))

  private def docs(in: Node.In): DataFrame = graft.Tables.documents(in.spark, in.dir)

  private val pairCols = Seq(col("doc_a"), col("doc_b"))

  // Shingle pipeline: the word-3-gram table is materialized once and read
  // by every Jaccard / MinHash / overlap / novelty consumer; the exact
  // pair list (ngram_jaccard) and its CC labels (dedup_clusters) feed the
  // cascade's clusterers, verifiers and split audits.
  val ShingleTable = Node.frame("shingle_table")(in => Dedup.shingleTable(docs(in)))
  val NgramJaccard = Node.frame("ngram_jaccard", ShingleTable)(in =>
    Dedup.ngramJaccardFrom(in(ShingleTable)))
  val PrefixJaccard = Node.frame("prefix_jaccard", ShingleTable)(in =>
    Dedup.prefixJaccardFrom(in(ShingleTable)))
  val MinHashLsh = Node.frame("minhash_lsh", ShingleTable)(in =>
    Dedup.minHashLshFrom(in(ShingleTable), in.dir))
  val MinHashLshMd5 = Node.frame("minhash_lsh_md5", ShingleTable)(in =>
    Dedup.minHashLshMd5From(in(ShingleTable)))
  val LshEval = Node.frame("lsh_eval", ShingleTable)(in => Dedup.lshEvalFrom(in(ShingleTable)))
  val MinHashIncremental = Node.frame("minhash_incremental", ShingleTable) { in =>
    val sh = in(ShingleTable)
    Dedup.minHashIncrementalFrom(sh.filter(col("doc_id") % 2 === 1), sh.filter(col("doc_id") % 2 === 0))
  }
  val DedupClusters = Node.frame("dedup_clusters", NgramJaccard)(in =>
    Dedup.clusterPairs(in(NgramJaccard).select(pairCols: _*)))
  val DedupClustersIncremental = Node.frame("dedup_clusters_incremental", NgramJaccard)(in =>
    Dedup.dedupClustersIncremental(in(NgramJaccard)))
  val DedupClustersMaintain = Node.frame("dedup_clusters_maintain", NgramJaccard)(in =>
    Dedup.dedupClustersMaintain(in(NgramJaccard), in.dir))
  val CanonicalSelect = Node.frame("canonical_select", DedupClusters)(in =>
    Dedup.canonicalSelect(docs(in), in(DedupClusters)))
  val EditDistance = Node.frame("q38_edit_distance", NgramJaccard)(in =>
    Dedup.editDistanceFrom(docs(in), in(NgramJaccard)))
  val SplitLeakage = Node.frame("split_leakage", NgramJaccard)(in =>
    Sampling.splitLeakageFrom(in(NgramJaccard).select(pairCols: _*),
      Sampling.qHashSplit(in.spark, in.dir).select(col("doc_id"), col("split"))))
  val ClusterSplit = Node.frame("cluster_split", DedupClusters)(in =>
    Sampling.clusterSplitFrom(docs(in), in(DedupClusters).select(col("doc_id"), col("cluster_id"))))
  val NoveltyScore = Node.frame("novelty_score", ShingleTable)(in =>
    TextOps.noveltyScoreFrom(in(ShingleTable)))
  private def sourceShingles(in: Node.In): DataFrame =
    Overlap.sourceShinglesFrom(in(ShingleTable), docs(in).select(col("doc_id"), col("source")))
  val OverlapExact = Node.frame("overlap_exact", ShingleTable)(in =>
    Overlap.overlapExact(sourceShingles(in).persist()))
  val OverlapKmv = Node.frame("overlap_kmv", ShingleTable)(in =>
    Overlap.overlapKmvFrozen(sourceShingles(in), in.dir))
  val SimHashMd5 = leaf("simhash_md5")(Dedup.qSimHashMd5)
  val SimHashPairsMd5 = Node.frame("simhash_pairs_md5", SimHashMd5)(in =>
    Dedup.simHashPairsMd5From(in(SimHashMd5)))
  val WinnowMd5 = leaf("winnow_md5")(TextOps.qWinnowFingerprintMd5)
  val DedupAgreement = Node.frame("dedup_agreement", NgramJaccard, SimHashPairsMd5, WinnowMd5)(in =>
    Dedup.dedupAgreementFrom(in(NgramJaccard).select(pairCols: _*),
      in(SimHashPairsMd5).select(pairCols: _*), in(WinnowMd5)))

  // Token pipeline: the (doc_id, source, token) explode is materialized
  // once; the CMS merged sketch is frozen once and served by cms_lookup.
  val TokenTable = Node.frame("token_table")(in => TextOps.tokenTable(docs(in)))
  private def overTokens(name: String)(f: DataFrame => DataFrame): Node[DataFrame] =
    Node.frame(name, TokenTable)(in => f(in(TokenTable)))
  val TfIdf = Node.frame("q31_tfidf", TokenTable)(in => TextOps.tfIdfFrom(in(TokenTable), docs(in)))
  val Bm25TopTerms = overTokens("bm25_topterms")(TextOps.bm25TopTermsFrom)
  val Bm25Search = overTokens("bm25_search")(TextOps.bm25SearchFromTokens(_, TextOps.Bm25Query, 10))
  val Bm25Incremental = overTokens("bm25_incremental")(tk =>
    TextOps.bm25IncrementalFromTokens(tk.filter(col("doc_id") % 3 =!= 0),
      tk.filter(col("doc_id") % 3 === 0), TextOps.Bm25Query, 10))
  val VocabBuild = overTokens("vocab_build")(TextOps.vocabBuildFrom(_, 1000))
  val VocabCoverage = overTokens("vocab_coverage")(TextOps.vocabCoverageFrom)
  val OovRate = overTokens("oov_rate")(TextOps.oovRateFrom)
  val CorpusDivergence = overTokens("corpus_divergence")(TextOps.corpusDivergenceFrom)
  val HeavyHitters = Node.frame("heavy_hitters", TokenTable)(in =>
    TextOps.heavyHittersCheckedFrom(in(TokenTable), in.dir))
  val HeavyHittersExact = overTokens("heavy_hitters_exact")(TextOps.heavyHittersExactFrom)
  val CmsCounts = overTokens("cms_counts")(TextOps.cmsCountsFrom)
  val CmsSketchBuild = Node.frame("cms_sketch_build", TokenTable)(in =>
    TextOps.cmsSketchFrozen(in(TokenTable), in.dir))
  val CmsLookup = Node.frame("cms_lookup", CmsSketchBuild, TokenTable)(in =>
    TextOps.cmsLookupFrom(in(CmsSketchBuild), in(TokenTable)))

  // Curation: the per-doc verdict frame feeds the funnel and the report;
  // the frozen state bundle (written once per ingest cycle) feeds the
  // fresh-batch server and the audit report.
  val CorpusCurate = leaf("corpus_curate")(Pipeline.qCorpusCurate)
  val CurationFunnel = Node.frame("curation_funnel", CorpusCurate)(in =>
    Pipeline.curationFunnel(in(CorpusCurate)))
  val CurationReport = Node.frame("curation_report", CorpusCurate)(in =>
    Pipeline.curationReport(in(CorpusCurate)))
  val CurationStateBuild = Node.typed("curation_state_build")(in =>
    CurationState.frozen(docs(in).filter(col("doc_id") % 2 === 0)))
  val CurateIncremental = Node.frame("curate_incremental", CurationStateBuild)(in =>
    Pipeline.curateIncrementalFromState(in(CurationStateBuild), docs(in).filter(col("doc_id") % 2 === 1)))
  val CurationStateReport = Node.frame("curation_state_report", CurationStateBuild)(in =>
    Pipeline.curationStateReport(in(CurationStateBuild)))

  // Classifier lifecycle: the 12-round GD is billed once; the serve leg
  // scores with the trained weight table.
  val ClassifierTrain = leaf("classifier_train")(Curation.qClassifierTrain)
  val ClassifierTrainScore = Node.frame("classifier_train_score", ClassifierTrain)(in =>
    Curation.classifierTrainScoreFrom(docs(in), in(ClassifierTrain)))

  // ANN: five production pipelines and the exact ground truth, each billed
  // once; the recall audit reads their outputs.
  val AnnLsh = leaf("ann_lsh")(Similarity.qAnnLsh)
  val AnnIvf = leaf("ann_ivf")(Similarity.qAnnIvf)
  val AnnPq = leaf("ann_pq")(Similarity.qAnnPq)
  val AnnIvfPq = leaf("ann_ivfpq")(Similarity.qAnnIvfPq)
  val AnnTwoLevel = leaf("ann_2level")(Similarity.qAnnTwoLevel)
  val AnnExactTop3 = leaf("ann_exact_top3")(Similarity.annExactTop3)
  private val annLegs = Similarity.AnnEvalMethods.zip(Seq(AnnLsh, AnnIvf, AnnPq, AnnIvfPq, AnnTwoLevel))
  val AnnEval = Node.frame("ann_eval", annLegs.map(_._2) :+ AnnExactTop3: _*)(in =>
    Similarity.annEvalFrom(annLegs.map { case (m, n) => m -> in(n) }, in(AnnExactTop3)))

  // Substring serve split: the bucketed compaction is the once-per-cycle
  // state build; the serve leg probes it with zero index-side Exchange.
  // Its result equals substring_dedup_incremental, so the oracle
  // recomputes the whole pipeline from base parquet.
  val GramIndexCompact = Node.typed("gram_index_compact")(in =>
    Dedup.buildGramServeState(in.spark, in.dir)).reporting((s, st) => s.table(st._1))
  val SubstringDedupServe = Node.frame("substring_dedup_serve", GramIndexCompact) { in =>
    val (table, freshPath) = in(GramIndexCompact)
    Dedup.substringDedupFromBucketed(in.spark, table, in.spark.read.parquet(freshPath),
      Dedup.substringInjectedDocs(in.spark, in.dir).filter(col("doc_id") % 5 === 2))
  }

  // DSIR: the importance model is fit once per corpus; both selection
  // legs read it (decimal log ratios) and pay their own scoring pass.
  val DsirWeights = Node.frame("dsir_weights")(in =>
    Sampling.dsirWeights(docs(in), col("lang") === "en"))
    .reporting((_, wt) => Sampling.dsirWeightTable(wt))
  val DsirSelect = Node.frame("dsir_select", DsirWeights)(in =>
    Sampling.dsirSelectFrom(docs(in), in(DsirWeights)))
  val DsirResample = Node.frame("dsir_resample", DsirWeights)(in =>
    Sampling.dsirResampleFrom(docs(in), in(DsirWeights)))

  /** The shared pipelines in walk order, each pipeline's nodes contiguous
    * so an artifact is released soon after its last consumer. */
  private val pipelines: Seq[Node[_]] = Seq(
    ShingleTable, NgramJaccard, PrefixJaccard, MinHashLsh, MinHashLshMd5, LshEval,
    MinHashIncremental, DedupClusters, DedupClustersIncremental, DedupClustersMaintain,
    CanonicalSelect, EditDistance, SplitLeakage, ClusterSplit, NoveltyScore,
    OverlapExact, OverlapKmv, SimHashMd5, SimHashPairsMd5, WinnowMd5, DedupAgreement,
    TokenTable, TfIdf, Bm25TopTerms, Bm25Search, Bm25Incremental, VocabBuild,
    VocabCoverage, OovRate, CorpusDivergence, HeavyHitters, HeavyHittersExact,
    CmsCounts, CmsSketchBuild, CmsLookup,
    CorpusCurate, CurationFunnel, CurationReport,
    CurationStateBuild, CurateIncremental, CurationStateReport,
    ClassifierTrain, ClassifierTrainScore,
    AnnLsh, AnnIvf, AnnPq, AnnIvfPq, AnnTwoLevel, AnnExactTop3, AnnEval,
    GramIndexCompact, SubstringDedupServe,
    DsirWeights, DsirSelect, DsirResample)

  /** Everything the bench times, in dependency order: the shared
    * pipelines, then every other [[queries]] and [[benchOnly]] entry as
    * a node of its own. */
  lazy val catalogue: Seq[Node[_]] = {
    val declared = pipelines.map(_.name).toSet
    pipelines ++ (queries ++ benchOnly).toSeq.collect {
      case (name, fn) if !declared(name) => leaf(name)(fn)
    }
  }

  /** The DECLARED exact all-pairs baselines, each with a registered
    * sublinear scale twin: Bench reports their sf1 time in its own
    * quadratic_total field so the headline tracks the scale path. */
  val quadraticBaselines: Set[String] = Set("prefix_jaccard", "triplet_mine", "embedding_dedup")

  // Shared DuckDB fragments (documents text normalization must equal
  // TextOps.normText / normWords exactly).
  private val NORM  = raw"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
  private val WORDS = s"string_split($NORM, ' ')"

  /** DSIR model CTEs shared by the three dsir_* twins: gram stream
    * (unigrams + bigrams of the shared tokenization), 32-bit md5 bucket
    * mod [[Sampling.DsirBuckets]], per-bucket target/raw counts and the
    * add-1-smoothed log ratio snapped at 6 decimals as DECIMAL(18,6).
    * list_filter drops the [""] token string_split yields for empty
    * text, mirroring the Spark-side zero-length-word filter in
    * Sampling.dsirGrams (ADVICE r15: empty docs carry no gram). */
  private lazy val DSIR_CTES =
    s"""w AS (SELECT doc_id, lang, list_filter($WORDS, x -> len(x) > 0) AS l FROM documents),
       |gr AS (SELECT doc_id, lang,
       |         unnest(l || list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])) AS g
       |       FROM w),
       |hb AS (SELECT doc_id, lang, md5('dsir:' || g) AS h FROM gr),
       |bk AS (SELECT doc_id, lang,
       |         CAST(${duckHex("h", 8)} % ${Sampling.DsirBuckets} AS BIGINT) AS bucket FROM hb),
       |bc AS (SELECT bucket,
       |         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_target,
       |         count(*) AS n_raw
       |       FROM bk GROUP BY 1),
       |tot AS (SELECT sum(n_target) AS t, sum(n_raw) AS r FROM bc),
       |wt AS (SELECT bucket, n_target, n_raw,
       |         CAST(round(ln(CAST(n_target + 1 AS DOUBLE) / CAST(t + ${Sampling.DsirBuckets} AS DOUBLE))
       |                  - ln(CAST(n_raw + 1 AS DOUBLE) / CAST(r + ${Sampling.DsirBuckets} AS DOUBLE)), 6)
       |              AS DECIMAL(18,6)) AS log_ratio
       |       FROM bc, tot)""".stripMargin

  /** Per-doc DSIR score CTE (exact decimal sum over the gram stream). */
  private lazy val DSIR_SCORE_CTE =
    """sc AS (SELECT bk.doc_id, CAST(sum(wt.log_ratio) AS DECIMAL(18,6)) AS score
      |       FROM bk JOIN wt USING (bucket) GROUP BY 1)""".stripMargin

  /** KMV k-min selection + pairwise union/intersection estimates over a
    * caller-supplied (source, h) hash CTE body — shared by overlap_kmv
    * (all rows of its frozen hash artifact) and overlap_purge (live rows
    * of its flagged artifact). DuckDB independently recomputes the
    * k-minimum selection (unsigned 64-bit order == ORDER BY (h < 0), h),
    * the per-source and pairwise-union cardinality estimates ((k-1)/U_k
    * with U_k as a (0,1) fraction — the CAST chain reproduces
    * KMinValues.fraction's IEEE ops bit-for-bit), the sketch-intersection
    * Jaccard, and the rint rounding (round_even == math.rint, verified on
    * the half-way cases m/512*1e6 can hit). */
  private def kmvEstimateSql(hshBody: String): String = {
    val k = graft.functions.KMinValues.DefaultK
    def frac(h: String) =
      s"(CAST(xor($h, -9223372036854775807 - 1) AS DOUBLE) + 9223372036854775808.0) / 1.8446744073709552e19"
    s"""WITH hsh AS ($hshBody),
       |rk AS (SELECT source, h,
       |         row_number() OVER (PARTITION BY source ORDER BY (h < 0), h) AS rn
       |       FROM hsh),
       |sk AS (SELECT source, h, rn FROM rk WHERE rn <= $k),
       |se AS (SELECT source, count(*) AS n,
       |         max(CASE WHEN rn = $k THEN ${frac("h")} END) AS fr
       |       FROM sk GROUP BY source),
       |est AS (SELECT source,
       |          CASE WHEN n < $k THEN CAST(n AS DOUBLE)
       |               ELSE round_even(($k - 1) / fr, 0) END AS e
       |        FROM se),
       |pairs AS (SELECT a.source AS sa, b.source AS sb
       |          FROM est a JOIN est b ON a.source < b.source),
       |uv AS (SELECT p.sa, p.sb, s.h,
       |         max(CASE WHEN s.source = p.sa THEN 1 ELSE 0 END) AS ina,
       |         max(CASE WHEN s.source = p.sb THEN 1 ELSE 0 END) AS inb
       |       FROM pairs p JOIN sk s ON s.source IN (p.sa, p.sb)
       |       GROUP BY p.sa, p.sb, s.h),
       |ur AS (SELECT sa, sb, h, ina, inb,
       |         row_number() OVER (PARTITION BY sa, sb ORDER BY (h < 0), h) AS rn
       |       FROM uv),
       |ua AS (SELECT sa, sb, count(*) AS usize,
       |         sum(CASE WHEN ina = 1 AND inb = 1 THEN 1 ELSE 0 END) AS m,
       |         max(CASE WHEN rn = $k THEN ${frac("h")} END) AS fr
       |       FROM ur WHERE rn <= $k GROUP BY sa, sb),
       |jz AS (SELECT sa, sb, usize, fr,
       |         CASE WHEN usize = 0 THEN 0.0 ELSE CAST(m AS DOUBLE) / usize END AS jac
       |       FROM ua)
       |SELECT j.sa AS source_a, j.sb AS source_b,
       |  ea.e AS est_a, eb.e AS est_b,
       |  round_even(j.jac * (CASE WHEN j.usize < $k THEN CAST(j.usize AS DOUBLE)
       |                           ELSE ($k - 1) / j.fr END), 0) AS est_common,
       |  round_even(j.jac * 1e6, 0) / 1e6 AS est_jaccard
       |FROM jz j JOIN est ea ON j.sa = ea.source JOIN est eb ON j.sb = eb.source""".stripMargin
  }

  /** The driver's verify data directory — frozen-artifact oracle paths are
    * pinned to it and ALWAYS built via the same Scala path helper the
    * Spark writer uses (r10 ADVICE: a raw string literal desynchronizes
    * silently when a helper changes; EntryContractSpec lints that no
    * oracle SQL carries a literal artifact path the helpers don't
    * produce). */
  private val VerifySf = "/root/testdata/sf0.01"

  /** Shared oracle for q28_percentiles (single exact-percentile agg) and
    * q28_percentiles_scale (bounded quantile refinement). */
  private val Q28PercentilesSql =
    """SELECT event_type,
      |  round(quantile_cont("value", 0.5), 6) AS p50,
      |  round(quantile_cont("value", 0.95), 6) AS p95,
      |  count(*) AS n
      |FROM events GROUP BY event_type""".stripMargin

  /** Direct whole-corpus BM25 top-k — the oracle for BOTH bm25_search
    * (direct Spark form) and bm25_incremental (merged-partials Spark
    * form: the shared SQL makes the hash match the merged==direct
    * equivalence proof). */
  /** BM25 scoring CTE chain (per-(doc, query-term) decimal partial `s`),
    * shared by bm25_search / bm25_incremental / hybrid_search. */
  private lazy val BM25_CTES =
    s"""tok AS (SELECT doc_id, unnest($WORDS) AS w FROM documents),
       |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
       |df AS (SELECT w, count(*) AS df
       |       FROM (SELECT DISTINCT doc_id, w FROM tok) GROUP BY w),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |              CAST(sum(dl) AS BIGINT) AS tot_tokens FROM dl),
       |q AS (SELECT unnest([${TextOps.Bm25Query.map(t => s"'$t'").mkString(", ")}]) AS w),
       |sc AS (SELECT tf.doc_id,
       |         CAST(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
       |           (tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl /
       |             (CAST(tot_tokens AS DOUBLE) / n_docs))), 6) AS DECIMAL(12,6)) AS s
       |       FROM tf JOIN q USING (w) JOIN df USING (w) JOIN dl USING (doc_id) CROSS JOIN st)""".stripMargin

  private lazy val Bm25SearchSql =
    s"""WITH $BM25_CTES
       |SELECT doc_id, n_matched, CAST(sd AS DOUBLE) AS score FROM (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matched, sum(s) AS sd
       |  FROM sc GROUP BY doc_id)
       |ORDER BY sd DESC, doc_id LIMIT 10""".stripMargin

  /** DuckDB fragment parsing the first `n` lowercase-hex digits of string
    * expression `h` into a BIGINT — mirrors Spark's
    * `conv(substring(h, 1, n), 16, 10)` for the md5-keyed sampling ops
    * (same per-digit strpos parse the simhash oracle uses). */
  private def duckHex(h: String, n: Int): String =
    (1 to n)
      .map(k => s"(strpos('0123456789abcdef', substr($h, $k, 1)) - 1) * ${1L << (4 * (n - k))}")
      .mkString("(", " + ", ")")
  /** DuckDB fragment mirroring Layout.spread16's Morton magic-mask
    * cascade ((x | x<<s) & m per step) on a BIGINT expression `e` —
    * fully parenthesized; e is duplicated 2^4 times so pass a short
    * column reference, not a subexpression. */
  private def duckSpread(e: String): String =
    Seq((8, 0x00FF00FFL), (4, 0x0F0F0F0FL), (2, 0x33333333L), (1, 0x55555555L))
      .foldLeft(e) { case (x, (s, m)) => s"((($x) | (($x) << $s)) & $m)" }

  /** dot(a,b) over dim-64 float lists in double, sequential fold like
    * Spark's `aggregate` (same accumulation order → identical doubles). */
  private def dot(a: String, b: String) =
    s"list_sum([CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) FOR i IN range(1, 65)])"
  private def l2(a: String) =
    s"sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN $a]))"

  /** Word-3-gram inverted-index CTE chain shared by ngram_jaccard and
    * dedup_clusters (must mirror Dedup.shingleTable + the DF cap). */
  private val NGRAM_CTES =
    s"""w AS (SELECT doc_id, $WORDS AS words FROM documents),
       |sh AS (SELECT doc_id,
       |         list_distinct([concat_ws(' ', words[i], words[i+1], words[i+2])
       |                        FOR i IN range(1, len(words) - 1)]) AS sh
       |       FROM w WHERE len(words) >= 3),
       |ex AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
       |rare AS (SELECT shingle FROM ex GROUP BY shingle HAVING count(*) <= 100),
       |ex2 AS (SELECT ex.doc_id, ex.shingle FROM ex JOIN rare USING (shingle)),
       |cnt AS (SELECT doc_id, len(sh) AS n FROM sh),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
       |          FROM ex2 a JOIN ex2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2)""".stripMargin

  /** Full-graph connected-components CC over the exact-Jaccard pair graph —
    * shared VERBATIM by dedup_clusters and dedup_clusters_incremental: the
    * incremental labeling must equal the from-scratch one, so both entries
    * hash against the same oracle. */
  private lazy val DEDUP_CLUSTERS_SQL =
    s"""WITH RECURSIVE $NGRAM_CTES,
       |pairs AS (
       |  SELECT doc_a, doc_b FROM inter
       |  JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
       |  WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5),
       |bi AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |       UNION SELECT doc_b, doc_a FROM pairs),
       |verts AS (SELECT DISTINCT a AS id FROM bi),
       |reach(id, r) AS (
       |  SELECT id, id FROM verts
       |  UNION
       |  SELECT bi.b, reach.r FROM bi JOIN reach ON bi.a = reach.id),
       |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
       |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY cluster_id)
       |SELECT id AS doc_id, cluster_id, cluster_size
       |FROM lab JOIN sz USING (cluster_id)""".stripMargin

  /** Shared by dedup_incremental and its bloom-pruned twin (same answer,
    * different plan). */
  private val DEDUP_INCREMENTAL_SQL =
    s"""WITH f AS (SELECT doc_id, md5($NORM) AS content_fp FROM documents),
       |known AS (SELECT DISTINCT content_fp FROM f WHERE doc_id % 2 = 0),
       |fresh AS (SELECT content_fp, min(doc_id) AS keep_id, count(*) AS dup_count
       |          FROM f WHERE doc_id % 2 = 1 GROUP BY 1)
       |SELECT content_fp, keep_id, dup_count FROM fresh
       |WHERE NOT EXISTS (SELECT 1 FROM known k WHERE k.content_fp = fresh.content_fp)""".stripMargin

  /** md5-MinHash SQL pieces shared by minhash_lsh_md5 and
    * minhash_incremental (must mirror Dedup.md5Sigs / md5BandTable /
    * md5Agreement). */
  private val MINHASH_MINS = (0 until Dedup.MinHashPerms)
    .map(p => s"min(md5('mh:$p:' || shingle)) AS m$p").mkString(", ")

  private def minhashBandSelects(sig: String): String = {
    val rows = Dedup.MinHashPerms / Dedup.LshBands
    (0 until Dedup.LshBands).map { b =>
      val cat = (0 until rows).map(k => s"m${b * rows + k}").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($cat) AS bkey FROM $sig"
    }.mkString(" UNION ALL ")
  }

  private val MINHASH_AGREE = (0 until Dedup.MinHashPerms)
    .map(p => s"CASE WHEN sa.m$p = sb.m$p THEN 1 ELSE 0 END").mkString(" + ")

  /** md5-SimHash CTE chain shared by simhash_md5 and simhash_pairs_md5
    * (must mirror Dedup.simHashMd5): per-token md5, 16 positional hex-digit
    * parses, 64 ±1 vote sums, hex-string signature re-assembly. */
  private val SIMHASH_MD5_CTES = {
    val votes = (0 until 64).map { j =>
      val mask = 1 << (3 - j % 4)
      s"sum(CASE WHEN (d${j / 4} // $mask) % 2 = 1 THEN 1 ELSE -1 END) AS v$j"
    }.mkString(", ")
    val digits = (0 until 16)
      .map(k => s"strpos('0123456789abcdef', substr(h, ${k + 1}, 1)) - 1 AS d$k")
      .mkString(", ")
    val outDigits = (0 until 16).map { m =>
      val dv = (0 until 4).map(b => s"(CASE WHEN v${4 * m + b} > 0 THEN ${8 >> b} ELSE 0 END)")
        .mkString(" + ")
      s"substr('0123456789abcdef', ($dv) + 1, 1)"
    }.mkString(" || ")
    s"""tok AS (SELECT doc_id, unnest($WORDS) AS w FROM documents),
       |h AS (SELECT doc_id, md5('sh:' || w) AS h FROM tok),
       |d AS (SELECT doc_id, $digits FROM h),
       |v AS (SELECT doc_id, $votes FROM d GROUP BY doc_id),
       |sig AS (SELECT doc_id, $outDigits AS simhash FROM v)""".stripMargin
  }

  /** Script-range language heuristic shared by lang_id, training_mix and
    * temperature_mix (must mirror TextOps.langIdExpr). */
  private val LANG_CASE =
    raw"""CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
         |     WHEN regexp_matches(text, '[\x{3040}-\x{30ff}]') THEN 'ja'
         |     WHEN regexp_matches(text, '[\x{0400}-\x{04ff}]') THEN 'ru'
         |     WHEN regexp_matches(text, '[\x{ac00}-\x{d7af}]') THEN 'ko'
         |     WHEN regexp_matches(text, '^[\x00-\x7f]*$$') THEN 'en'
         |     ELSE 'other' END""".stripMargin

  /** Power-of-two size-class CASE chains shared with Audit.skewReport —
    * integer comparisons only (no float log2), so both engines bucket
    * identically. One chain yields the class index, the other its cap. */
  private val SKEW_CLASS_CASE = (0 to graft.operators.Audit.SkewMaxClass)
    .map(c => s"WHEN n <= ${1L << c} THEN $c")
    .mkString("CASE ", " ", s" ELSE ${graft.operators.Audit.SkewMaxClass + 1} END")

  private val SKEW_CAP_CASE = (0 to graft.operators.Audit.SkewMaxClass)
    .map(c => s"WHEN n <= ${1L << c} THEN CAST(${1L << c} AS BIGINT)")
    .mkString("CASE ", " ",
      s" ELSE CAST(${1L << (graft.operators.Audit.SkewMaxClass + 1)} AS BIGINT) END")

  /** Full per-document curation verdict SQL — shared by corpus_curate
    * and curation_funnel (the funnel aggregates this frame's gate
    * columns in keep-conjunction order). */
  /** Shared by embedding_centroids and centroid_incremental (the merged-
    * partials twin computes the SAME answer — decimal sums are
    * associative, so the driver hash match proves merged == direct). */
  private val EMBEDDING_CENTROIDS_SQL =
    """WITH tok AS (SELECT label,
      |        unnest([{'d': i, 'x': embedding[i]} FOR i IN range(1, 65)]) AS s
      |      FROM embeddings),
      |e AS (SELECT label, s.d - 1 AS dim, s.x AS x FROM tok),
      |a AS (SELECT label, dim, count(*) AS n,
      |        -- widen to DOUBLE before the decimal snap (Spark casts
      |        -- float->decimal through the double value; DuckDB's direct
      |        -- float->decimal rounds the float's shortest repr), and
      |        -- round() explicitly first: Spark's decimal cast is
      |        -- HALF_UP but DuckDB's is HALF_EVEN, which diverges on
      |        -- binary-exact values like odd multiples of 2^-10 whose
      |        -- expansion ends in a literal 5 at digit 10; DuckDB
      |        -- round() is half-away-from-zero = Java HALF_UP, and the
      |        -- cast of the pre-rounded double can no longer tie
      |        CAST(sum(CAST(round(CAST(x AS DOUBLE), 9) AS DECIMAL(18,9))) AS DOUBLE) AS sx
      |      FROM e GROUP BY 1, 2)
      |SELECT CAST(label AS BIGINT) AS label, CAST(dim AS BIGINT) AS dim,
      |  CAST(n AS BIGINT) AS n, sx / n AS m
      |FROM a""".stripMargin

  /** Corpus bigram-LM scoring CTEs shared by bigram_surprisal (exact
    * ntile tercile) and bigram_surprisal_scale (frozen sketch cutoffs):
    * both buckets sit on the SAME per-doc avg_surprisal table. */
  private lazy val BIGRAM_SCORES_CTES =
    s"""w AS (SELECT doc_id, $WORDS AS l FROM documents),
       |tok AS (SELECT doc_id, unnest(l) AS w FROM w),
       |c1 AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
       |tot AS (SELECT count(*) AS t FROM tok),
       |bg AS (SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
       |  FROM (SELECT doc_id, l, unnest(range(1, len(l))) AS i FROM w)),
       |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
       |sc AS (SELECT bg.doc_id,
       |    -ln(${Curation.BigramLambda} * (CAST(c2.c2 AS DOUBLE) / u1.c)
       |      + ${Curation.UnigramLambda} * (CAST(u2.c AS DOUBLE) / t)) AS s
       |  FROM bg JOIN c2 USING (w1, w2)
       |  JOIN c1 u1 ON bg.w1 = u1.w
       |  JOIN c1 u2 ON bg.w2 = u2.w
       |  CROSS JOIN tot),
       |agg AS (SELECT doc_id, count(*) AS n_bigrams,
       |    round(avg(s), 6) AS avg_surprisal
       |  FROM sc GROUP BY 1)""".stripMargin

  /** Exact-cosine re-rank + top-3 over a frozen (query_id, nn_id)
    * shortlist — shared by the PQ-family twins. */
  private def annShortlistRerankSql(path: String) =
    s"""WITH sl AS (SELECT * FROM read_parquet('$path/*.parquet')),
       |e AS (SELECT vec_id, embedding AS v FROM embeddings),
       |sc AS (SELECT query_id, nn_id,
       |         round(${dot("a.v", "b.v")} / (${l2("a.v")} * ${l2("b.v")}), 4) AS cos
       |       FROM sl JOIN e a ON sl.nn_id = a.vec_id
       |       JOIN e b ON sl.query_id = b.vec_id)
       |SELECT query_id, nn_id, cos, CAST(rn AS INT) AS rn FROM (
       |  SELECT sc.*, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, nn_id) AS rn FROM sc)
       |WHERE rn <= 3""".stripMargin

  /** ann_lsh / ann_ivf / ann_2level twins as reusable vals (r13: also
    * composed into ANN_EVAL_SQL): the frozen bucket/cell assignment comes
    * from the engine under test; candidate generation, the exact cosine
    * kernel, and the top-3 ranking are recomputed by DuckDB. */
  private lazy val ANN_LSH_SQL =
    s"""WITH eb AS (SELECT * FROM read_parquet('${Similarity.annArtifactPath(VerifySf, "lsh")}/*.parquet')),
       |e AS (SELECT vec_id, embedding AS v FROM embeddings),
       |qb AS (SELECT vec_id AS query_id, tbl, bucket FROM eb WHERE vec_id < 100),
       |cand AS (SELECT DISTINCT query_id, eb.vec_id AS nn_id
       |         FROM eb JOIN qb USING (tbl, bucket) WHERE eb.vec_id <> qb.query_id),
       |sc AS (SELECT query_id, nn_id,
       |         round(${dot("a.v", "b.v")} / (${l2("a.v")} * ${l2("b.v")}), 4) AS cos
       |       FROM cand JOIN e a ON cand.nn_id = a.vec_id
       |       JOIN e b ON cand.query_id = b.vec_id)
       |SELECT query_id, nn_id, cos, CAST(rn AS INT) AS rn FROM (
       |  SELECT sc.*, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, nn_id) AS rn FROM sc)
       |WHERE rn <= 3""".stripMargin

  private lazy val ANN_IVF_SQL =
    s"""WITH cells AS (SELECT * FROM read_parquet('${Similarity.annArtifactPath(VerifySf, "ivf-cells")}/*.parquet')),
       |probes AS (SELECT * FROM read_parquet('${Similarity.annArtifactPath(VerifySf, "ivf-probes")}/*.parquet')),
       |e AS (SELECT vec_id, embedding AS v FROM embeddings),
       |cand AS (SELECT query_id, vec_id AS nn_id
       |         FROM cells JOIN probes USING (cell) WHERE vec_id <> query_id),
       |sc AS (SELECT query_id, nn_id,
       |         round(${dot("a.v", "b.v")} / (${l2("a.v")} * ${l2("b.v")}), 4) AS cos
       |       FROM cand JOIN e a ON cand.nn_id = a.vec_id
       |       JOIN e b ON cand.query_id = b.vec_id)
       |SELECT query_id, nn_id, cos, CAST(rn AS INT) AS rn FROM (
       |  SELECT sc.*, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, nn_id) AS rn FROM sc)
       |WHERE rn <= 3""".stripMargin

  private lazy val ANN_2LEVEL_SQL =
    s"""WITH cells AS (SELECT * FROM read_parquet('${Similarity.annArtifactPath(VerifySf, "2level-cells")}/*.parquet')),
       |e AS (SELECT vec_id, embedding AS v FROM embeddings),
       |qb AS (SELECT vec_id AS query_id, coarse, fine FROM cells WHERE vec_id < 100),
       |cand AS (SELECT DISTINCT query_id, cells.vec_id AS nn_id
       |         FROM cells JOIN qb USING (coarse, fine)
       |         WHERE cells.rk <= ${Similarity.BlockProbes}
       |           AND cells.vec_id <> qb.query_id),
       |sc AS (SELECT query_id, nn_id,
       |         round(${dot("a.v", "b.v")} / (${l2("a.v")} * ${l2("b.v")}), 4) AS cos
       |       FROM cand JOIN e a ON cand.nn_id = a.vec_id
       |       JOIN e b ON cand.query_id = b.vec_id)
       |SELECT query_id, nn_id, cos, CAST(rn AS INT) AS rn FROM (
       |  SELECT sc.*, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, nn_id) AS rn FROM sc)
       |WHERE rn <= 3""".stripMargin

  /** ann_eval twin (r13, ADVICE r12): DuckDB re-derives BOTH sides — the
    * five method top-3s from the frozen assignment/shortlist artifacts
    * (the per-method twin SQLs verbatim, as subqueries) and the exact
    * brute-force top-3 per query — then counts set intersections. Integer
    * hits + one 4-dp division, so the hash gate is float-hazard-free. */
  private lazy val ANN_EVAL_SQL = {
    val methodSql = Seq(
      "lsh" -> ANN_LSH_SQL,
      "ivf" -> ANN_IVF_SQL,
      "pq" -> annShortlistRerankSql(Similarity.annArtifactPath(VerifySf, "pq-shortlist")),
      "ivfpq" -> annShortlistRerankSql(Similarity.annArtifactPath(VerifySf, "ivfpq-shortlist")),
      "2level" -> ANN_2LEVEL_SQL)
      .map { case (m, sql) =>
        s"SELECT '$m' AS method, query_id, nn_id FROM (\n$sql\n)" }
      .mkString("\nUNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 100),
       |exact AS (SELECT query_id, nn_id FROM (
       |  SELECT q.query_id, e.vec_id AS nn_id,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY round(${dot("e.v", "q.qv")} / (${l2("e.v")} * ${l2("q.qv")}), 4) DESC,
       |               e.vec_id) AS rn
       |  FROM e, q WHERE e.vec_id <> q.query_id) WHERE rn <= 3),
       |ann AS ($methodSql),
       |univ AS (SELECT m.method, e.vec_id AS query_id FROM e
       |         CROSS JOIN (SELECT unnest([${Similarity.AnnEvalMethods.map(m => s"'$m'").mkString(", ")}]) AS method) m
       |         WHERE e.vec_id < 100),
       |hits AS (SELECT method, query_id, count(*) AS h
       |         FROM ann JOIN exact USING (query_id, nn_id) GROUP BY 1, 2)
       |SELECT univ.method, univ.query_id,
       |  CAST(coalesce(h, 0) AS INT) AS hits,
       |  round(CAST(coalesce(h, 0) AS DOUBLE) / 3.0, 4) AS recall
       |FROM univ LEFT JOIN hits USING (method, query_id)""".stripMargin
  }

  /** Shared by embedding_dedup_2level and embedding_dedup_blocked (the
    * blocked entry delegates to the same two-level quantizer): within-cell
    * pair generation + the exact cosine threshold gate over the frozen
    * assignment table. */
  private lazy val EMBEDDING_DEDUP_2LEVEL_SQL =
    s"""WITH asg AS (SELECT * FROM read_parquet('${Similarity.annArtifactPath(VerifySf, "dedup2l")}/*.parquet')),
       |e AS (SELECT vec_id, embedding AS v FROM embeddings),
       |cp AS (SELECT DISTINCT x.vec_id AS ia, y.vec_id AS ib
       |       FROM asg x JOIN asg y
       |         ON x.coarse = y.coarse AND x.fine = y.fine AND x.vec_id < y.vec_id)
       |SELECT ia AS id_a, ib AS id_b, cos FROM (
       |  SELECT ia, ib,
       |    round(${dot("a.v", "b.v")} / (${l2("a.v")} * ${l2("b.v")}), 4) AS cos
       |  FROM cp JOIN e a ON cp.ia = a.vec_id JOIN e b ON cp.ib = b.vec_id)
       |WHERE cos >= 0.4""".stripMargin

  /** ppl-gate CTE bodies for [[corpusCurateSql]]: the exact ntile tercile
    * (corpus_curate) and the frozen-sketch-cutoff form reading the
    * pplCutsPath artifact (corpus_curate_scale — only the sketch boundary
    * comes from the engine under test; DuckDB recomputes the scores and
    * the whole gating algebra). */
  private val PPL_EXACT_CTE =
    """SELECT doc_id, avg_surprisal,
      |    CASE ntile(3) OVER (ORDER BY avg_surprisal, doc_id)
      |      WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
      |  FROM pagg""".stripMargin
  private val PPL_FROZEN_CTE =
    s"""SELECT doc_id, avg_surprisal,
      |    CASE WHEN avg_surprisal <= cut1 THEN 'head'
      |         WHEN avg_surprisal <= cut2 THEN 'middle'
      |         ELSE 'tail' END AS ppl_bucket
      |  FROM pagg CROSS JOIN (SELECT cut1, cut2
      |    FROM read_parquet('${Curation.pplCutsPath(VerifySf, "curate")}/*.parquet'))""".stripMargin

  private def corpusCurateSql(pplCte: String) =
    s"""WITH t AS (SELECT doc_id, text, source, $WORDS AS words FROM documents),
       |keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5($NORM)),
       |base AS (SELECT doc_id, len(words) AS n_words, len(list_distinct(words)) AS n_uniq FROM t),
       |bg0 AS (SELECT doc_id, unnest(list_transform(range(1, len(words)), i -> words[i] || ' ' || words[i+1])) AS g FROM t),
       |bgc AS (SELECT doc_id, g, count(*) AS c FROM bg0 GROUP BY 1, 2),
       |topb AS (SELECT doc_id, max(c) AS top_bigram_count FROM bgc GROUP BY 1),
       |repf AS (SELECT b.doc_id,
       |    (round(1.0 - CAST(n_uniq AS DOUBLE) / n_words, 6) > ${Curation.DupWordFracMax}
       |     OR round(CAST(coalesce(top_bigram_count, 0) AS DOUBLE) / (n_words - 1), 6)
       |       > ${Curation.TopBigramFracMax}) AS repetitive
       |  FROM base b LEFT JOIN topb USING (doc_id)),
       |g5 AS (SELECT doc_id, source,
       |  unnest(list_transform(range(1, len(words) - ${Curation.ContamK - 2}),
       |    i -> concat_ws(' ', words[i], words[i+1], words[i+2], words[i+3], words[i+4]))) AS g FROM t),
       |bench AS (SELECT DISTINCT g FROM g5 WHERE source = '${Curation.BenchmarkSource}'),
       |dg AS (SELECT DISTINCT doc_id, g FROM g5 WHERE source <> '${Curation.BenchmarkSource}'),
       |ctot AS (SELECT doc_id, count(*) AS n_grams FROM dg GROUP BY 1),
       |chit AS (SELECT doc_id, count(*) AS n_contaminated FROM dg JOIN bench USING (g) GROUP BY 1),
       |conf AS (SELECT ct.doc_id,
       |    round(CAST(coalesce(n_contaminated, 0) AS DOUBLE) / n_grams, 6)
       |      >= ${Curation.ContamFracMin} AS contaminated
       |  FROM ctot ct LEFT JOIN chit USING (doc_id)),
       |sq AS (SELECT doc_id,
       |    round(least(len(words) / 100.0, 1.0) *
       |      (1.0 - CAST(len([w FOR w IN words
       |                       IF w IN ('the','a','of','and','to','in','is','it')]) AS DOUBLE)
       |        / len(words)), 4) AS quality
       |  FROM t),
       |tok AS (SELECT doc_id, unnest(words) AS w FROM t),
       |c1 AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
       |tot2 AS (SELECT count(*) AS tt FROM tok),
       |bgs AS (SELECT doc_id, words[i] AS w1, words[i + 1] AS w2
       |  FROM (SELECT doc_id, words, unnest(range(1, len(words))) AS i FROM t)),
       |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bgs GROUP BY 1, 2),
       |sc AS (SELECT bgs.doc_id,
       |    -ln(${Curation.BigramLambda} * (CAST(c2.c2 AS DOUBLE) / u1.c)
       |      + ${Curation.UnigramLambda} * (CAST(u2.c AS DOUBLE) / tt)) AS s
       |  FROM bgs JOIN c2 USING (w1, w2)
       |  JOIN c1 u1 ON bgs.w1 = u1.w JOIN c1 u2 ON bgs.w2 = u2.w CROSS JOIN tot2),
       |pagg AS (SELECT doc_id, round(avg(s), 6) AS avg_surprisal FROM sc GROUP BY 1),
       |ppl AS ($pplCte),
       |pd AS (SELECT source, count(*) AS n_source FROM documents GROUP BY 1),
       |dtot AS (SELECT sum(n_source) AS n_total,
       |    CAST(sum(CAST(sqrt(CAST(n_source AS DOUBLE)) AS DECIMAL(18,6))) AS DOUBLE) AS sum_w FROM pd),
       |cut AS (SELECT source,
       |    least(1.0, sqrt(CAST(n_source AS DOUBLE)) / sum_w
       |      * floor(n_total / 2) / CAST(n_source AS DOUBLE)) AS keep_prob
       |  FROM pd CROSS JOIN dtot),
       |mix AS (SELECT d.doc_id,
       |    ('0' || substr(md5(d.text), 1, 4)) <
       |      printf('%05x', CAST(floor(c.keep_prob * 65536) AS BIGINT)) AS mix_kept
       |  FROM documents d JOIN cut c USING (source))
       |SELECT d.doc_id, d.source,
       |  (k.doc_id IS NOT NULL) AS dedup_rep,
       |  repf.repetitive,
       |  coalesce(conf.contaminated, TRUE) AS contaminated,
       |  sq.quality,
       |  ppl.avg_surprisal,
       |  coalesce(ppl.ppl_bucket, 'tail') AS ppl_bucket,
       |  mix.mix_kept,
       |  ((k.doc_id IS NOT NULL) AND NOT repf.repetitive
       |    AND NOT coalesce(conf.contaminated, TRUE)
       |    AND sq.quality >= ${Pipeline.CurateQualityMin}
       |    AND coalesce(ppl.ppl_bucket, 'tail') <> 'tail'
       |    AND mix.mix_kept) AS keep
       |FROM documents d
       |LEFT JOIN keep k ON d.doc_id = k.doc_id
       |JOIN repf ON d.doc_id = repf.doc_id
       |LEFT JOIN conf ON d.doc_id = conf.doc_id
       |JOIN sq ON d.doc_id = sq.doc_id
       |LEFT JOIN ppl ON d.doc_id = ppl.doc_id
       |JOIN mix ON d.doc_id = mix.doc_id""".stripMargin

  private val CORPUS_CURATE_SQL = corpusCurateSql(PPL_EXACT_CTE)
  private val CORPUS_CURATE_SCALE_SQL = corpusCurateSql(PPL_FROZEN_CTE)

  /** Chained-CTE gradient-descent twin for classifier_train (the
    * bpe_merges pattern — DuckDB re-runs ALL training rounds, no frozen
    * artifact): w0 = 0; each round recomputes the integer micro-unit
    * margins, the rational-sigmoid residual (IEEE +,-,*,/,abs only — no
    * libm transcendentals, so the doubles are bit-identical across
    * engines), the decimal(20,12)-snapped gradient sum, and the floored
    * micro-unit weight update. Bit-exactness argument in
    * [[graft.operators.Curation.classifierTrain]]'s scaladoc. */
  private lazy val CLASSIFIER_TRAIN_CTES: String = {
    val rounds = (1 to Curation.TrainIters).map { k =>
      val prev = s"w${k - 1}"
      s"""m$k AS MATERIALIZED (SELECT e.doc_id, CAST(sum(e.x * w.w_micro) AS BIGINT) AS margin_micro,
         |    max(e.n_feats) AS n_feats, max(e.y) AS y
         |  FROM ex e JOIN $prev w USING (bucket) GROUP BY 1),
         |r$k AS MATERIALIZED (SELECT doc_id,
         |    (0.5 + z / (2.0 * (1.0 + abs(z)))) - CAST(y AS DOUBLE) AS r
         |  FROM (SELECT doc_id, CAST(margin_micro AS DOUBLE)
         |      / (CAST(n_feats AS DOUBLE) * 1000000.0) AS z, y FROM m$k)),
         |g$k AS MATERIALIZED (SELECT e.bucket,
         |    sum(CAST(((CAST(e.x AS DOUBLE) / CAST(e.n_feats AS DOUBLE)) * r.r)
         |      * (${Curation.TrainEta} / nn.n) AS DECIMAL(20,12))) AS g
         |  FROM ex e JOIN r$k r USING (doc_id) CROSS JOIN nn GROUP BY 1),
         |w$k AS MATERIALIZED (SELECT w.bucket,
         |    w.w_micro - CAST(floor(coalesce(g.g, CAST(0 AS DECIMAL(20,12))) * 1000000) AS BIGINT) AS w_micro
         |  FROM $prev w LEFT JOIN g$k g USING (bucket))""".stripMargin
    }.mkString(",\n")
    s"""WITH t AS MATERIALIZED (SELECT doc_id, $WORDS AS words FROM documents),
       |tok AS (SELECT doc_id, unnest(words) AS w FROM t),
       |f0 AS (SELECT doc_id,
       |    CAST(${duckHex("md5('feat:' || w)", 8)} % 4096 AS BIGINT) AS bucket FROM tok),
       |fx AS MATERIALIZED (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS x FROM f0 GROUP BY 1, 2),
       |nf AS (SELECT doc_id, CAST(sum(x) AS BIGINT) AS n_feats FROM fx GROUP BY 1),
       |lab AS (SELECT doc_id, CASE WHEN
       |    round(least(len(words) / 100.0, 1.0) *
       |      (1.0 - CAST(len([w FOR w IN words
       |                       IF w IN ('the','a','of','and','to','in','is','it')]) AS DOUBLE)
       |        / len(words)), 4) >= ${Curation.TrainLabelMin} THEN 1 ELSE 0 END AS y
       |  FROM t),
       |ex AS MATERIALIZED (SELECT fx.doc_id, fx.bucket, fx.x, nf.n_feats, lab.y
       |  FROM fx JOIN nf USING (doc_id) JOIN lab USING (doc_id)),
       |nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
       |w0 AS MATERIALIZED (SELECT r AS bucket, CAST(0 AS BIGINT) AS w_micro FROM range(4096) rng(r)),
       |$rounds""".stripMargin
  }

  /** Full simhash-banded-pairs query — shared by simhash_pairs_md5 and
    * dedup_agreement. */
  private lazy val SIMHASH_PAIRS_MD5_SQL: String = {
      // hamming between 16-hex-digit signatures: per-digit bit_count(xor)
      val hamming = (0 until 16).map(k =>
        s"bit_count(xor(strpos('0123456789abcdef', substr(a.simhash, ${k + 1}, 1)) - 1, " +
          s"strpos('0123456789abcdef', substr(b.simhash, ${k + 1}, 1)) - 1))").mkString(" + ")
      s"""WITH $SIMHASH_MD5_CTES,
         |ch AS (SELECT doc_id, simhash, c, substr(simhash, c * 4 + 1, 4) AS ckey
         |       FROM sig, LATERAL (SELECT unnest(range(0, 4)) AS c) t)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST($hamming AS BIGINT) AS hamming
         |FROM ch a JOIN ch b
         |  ON a.c = b.c AND a.ckey = b.ckey AND a.doc_id < b.doc_id
         |WHERE $hamming <= 6""".stripMargin
  }

  /** Full winnowing-fingerprint query — shared by winnow_md5 and
    * dedup_agreement. */
  private lazy val WINNOW_MD5_SQL: String =
    s"""WITH w AS (SELECT doc_id, $WORDS AS words FROM documents),
       |kg AS (SELECT doc_id, i AS pos,
       |    md5(concat_ws(' ', ${(0 until TextOps.WinnowK).map(k => s"words[i+$k]").mkString(", ")})) AS h
       |  FROM w, LATERAL (SELECT unnest(range(1, len(words) - ${TextOps.WinnowK - 2})) AS i) t)
       |SELECT DISTINCT doc_id,
       |  min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN CURRENT ROW AND ${TextOps.WinnowW - 1} FOLLOWING) AS fp
       |FROM kg""".stripMargin

  /** Exact df-capped Jaccard pair query (the ngram_jaccard body) —
    * shared by dedup_agreement. */
  private lazy val NGRAM_PAIRS_SQL: String =
    s"""WITH $NGRAM_CTES
       |SELECT doc_a, doc_b FROM inter
       |JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
       |WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops (HLL,
    * xxhash64-based signatures, approximate ANN, stub decode) → driver
    * records a weaker rows-only check; each has a deterministic twin here.
    */
  def oracleSql: Map[String, String] = ListMap(
    "q01_scan_count" -> "SELECT count(*) AS n FROM lineitem",

    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS DOUBLE) AS net_price
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-01-01'""".stripMargin,

    "q03_join_broadcast" ->
      """SELECT o_orderkey, c_custkey, c_name, o_totalprice AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin,

    "q04_join_shuffle" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,

    "q05_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,

    "q06_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)""".stripMargin,

    "q07_agg_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS avg_qty,
        |  round(CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q08_distinct_agg" ->
      """SELECT event_type, count(DISTINCT user_id) AS uniq_users
        |FROM events GROUP BY event_type""".stripMargin,

    // q09: the HLL ESTIMATES are frozen to parquet by the entry (the one
    // engine-specific piece); DuckDB recomputes the exact per-group
    // distinct from events.parquet and the whole relative-error algebra
    // from the frozen file — the 5% accuracy claim itself is hash-gated
    // (r11 VERDICT task 1; sketch-check pattern shared by q37/q43/
    // heavy_hitters).
    "q09_approx_distinct" ->
      s"""WITH fz AS (SELECT * FROM read_parquet('${R.sketchArtifactPath(VerifySf, "q09")}/*.parquet')),
         |ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_users
         |       FROM events GROUP BY 1),
         |j AS (SELECT fz.event_type, approx_users, exact_users,
         |        round(abs(CAST(approx_users AS DOUBLE) - CAST(exact_users AS DOUBLE))
         |          / CAST(exact_users AS DOUBLE), 6) AS rel_err
         |      FROM fz JOIN ex USING (event_type))
         |SELECT event_type, approx_users, exact_users, rel_err,
         |  CAST(rel_err <= 0.05 AS INT) AS within_bound
         |FROM j""".stripMargin,

    // q37: frozen approx percentiles; DuckDB recomputes each group's
    // exact rank interval [count(v<x)/n, count(v<=x)/n] around the frozen
    // value x and the distance-from-target algebra — identical double
    // expression shapes on both sides.
    "q37_approx_percentile" ->
      s"""WITH fz AS (SELECT * FROM read_parquet('${R.sketchArtifactPath(VerifySf, "q37")}/*.parquet')),
         |j AS (SELECT e.event_type, CAST(e.value AS DOUBLE) AS v, p50_approx, p95_approx
         |      FROM events e JOIN fz USING (event_type)),
         |a AS (SELECT event_type, p50_approx, p95_approx, count(*) AS n,
         |        sum(CASE WHEN v <  p50_approx THEN 1 ELSE 0 END) AS lt50,
         |        sum(CASE WHEN v <= p50_approx THEN 1 ELSE 0 END) AS le50,
         |        sum(CASE WHEN v <  p95_approx THEN 1 ELSE 0 END) AS lt95,
         |        sum(CASE WHEN v <= p95_approx THEN 1 ELSE 0 END) AS le95
         |      FROM j GROUP BY 1, 2, 3),
         |r AS (SELECT event_type, p50_approx, p95_approx,
         |        round(greatest(CAST(lt50 AS DOUBLE) / CAST(n AS DOUBLE) - 0.5,
         |          0.5 - CAST(le50 AS DOUBLE) / CAST(n AS DOUBLE), 0.0), 6) AS rank_err_p50,
         |        round(greatest(CAST(lt95 AS DOUBLE) / CAST(n AS DOUBLE) - 0.95,
         |          0.95 - CAST(le95 AS DOUBLE) / CAST(n AS DOUBLE), 0.0), 6) AS rank_err_p95
         |      FROM a)
         |SELECT event_type, p50_approx, p95_approx, rank_err_p50, rank_err_p95,
         |  CAST(rank_err_p50 <= 0.005 AND rank_err_p95 <= 0.005 AS INT) AS within_bound
         |FROM r""".stripMargin,

    "q10_rollup" ->
      """WITH t AS (
        |  SELECT n_name, CAST(year(o_orderdate) AS INT) AS order_year, o_totalprice
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |              JOIN nation ON c_nationkey = n_nationkey)
        |SELECT n_name, order_year,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders
        |FROM t GROUP BY ROLLUP(n_name, order_year)""".stripMargin,

    "q11_cube" ->
      """WITH t AS (
        |  SELECT event_type, CAST(year(ts) AS INT) AS event_year, "value" FROM events)
        |SELECT event_type, event_year, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM t GROUP BY CUBE(event_type, event_year)""".stripMargin,

    "q12_window_rank" ->
      """SELECT o_custkey, o_orderkey, total, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice AS total,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin,

    "q13_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) OVER (
        |    PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
        |FROM lineitem""".stripMargin,

    "q14_topk" ->
      """SELECT p_partkey, p_name, p_retailprice AS price FROM part
        |ORDER BY p_retailprice DESC, p_partkey LIMIT 10""".stripMargin,

    "q15_set_ops" ->
      """WITH ev AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day, event_type FROM events)
        |(SELECT user_id, day FROM ev WHERE event_type = 'purchase'
        | INTERSECT
        | SELECT user_id, day FROM ev WHERE event_type = 'click')
        |EXCEPT
        |SELECT user_id, day FROM ev WHERE event_type = 'error'""".stripMargin,

    "q16_union_all" ->
      """WITH u AS (
        |  SELECT 'buyers' AS tag, user_id FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT 'whales' AS tag, user_id FROM events WHERE "value" > 50.0)
        |SELECT tag, count(*) AS n, count(DISTINCT user_id) AS uniq
        |FROM u GROUP BY tag""".stripMargin,

    "q17_scalar_fns" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
        |  upper(substring(o_orderpriority, 3, 20)) AS priority_name,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1, 2""".stripMargin,

    "q18_json_fns" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k_typed
        |FROM events""".stripMargin,

    "q19_array_fns" ->
      s"""SELECT vec_id, CAST(len(embedding) AS INT) AS dim,
         |  CAST(embedding[1] AS DOUBLE) AS first_val,
         |  round(${l2("embedding")}, 3) AS l2_norm
         |FROM embeddings""".stripMargin,

    "q20_explode" ->
      """SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS INT) AS pos,
        |  CAST(unnest(embedding) AS DOUBLE) AS val
        |FROM embeddings WHERE vec_id < 100""".stripMargin,

    "q21_hourly_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q24_map_fns" ->
      """SELECT event_id,
        |  array_to_string(list_sort(json_keys(props)), ',') AS keys_csv,
        |  CAST(len(json_keys(props)) AS INT) AS n_keys,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
        |  event_type AS type_val,
        |  CAST(user_id AS VARCHAR) AS uid_val,
        |  strftime(ts, '%Y-%m-%d') AS day_val
        |FROM events""".stripMargin,

    "q25_sliding_window" ->
      """WITH e AS (SELECT make_timestamp(epoch_ns(ts)//1000) AS ts, event_type, "value"
        |           FROM events),
        |g AS (SELECT event_type, "value",
        |        make_timestamp((epoch_ns(ts)//1000//1000000//1800)*1800*1000000) AS w0
        |      FROM events),
        |w AS (SELECT event_type, "value", w0 AS ws FROM g
        |      UNION ALL
        |      SELECT event_type, "value", w0 - INTERVAL 30 MINUTE FROM g)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start, event_type,
        |  count(*) AS n, CAST(sum(CAST("value" AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM w GROUP BY 1, 2""".stripMargin,

    "q26_session_window" ->
      """WITH e AS (SELECT user_id, make_timestamp(epoch_ns(ts)//1000) AS ts, "value"
        |           FROM events),
        |m AS (SELECT user_id, ts, "value",
        |        CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |                  < INTERVAL 10 MINUTE THEN 0 ELSE 1 END AS new_s
        |      FROM e),
        |s AS (SELECT user_id, ts, "value",
        |        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |      FROM m)
        |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        |  count(*) AS n_events,
        |  CAST(sum(CAST("value" AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM s GROUP BY user_id, sid""".stripMargin,

    "q22_shipping_priority" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_shipdate > TIMESTAMP '1998-06-15'
        |  AND o_orderdate < TIMESTAMP '1998-06-15'
        |  AND c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q23_local_supplier" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name""".stripMargin,

    "dedup_exact" ->
      s"""SELECT md5($NORM) AS content_fp, min(doc_id) AS keep_id, count(*) AS dup_count
         |FROM documents GROUP BY 1""".stripMargin,

    "dedup_incremental" -> DEDUP_INCREMENTAL_SQL,
    // the bloom changes the PLAN (definitely-new rows skip the anti-join),
    // not the answer — identical oracle by design
    "dedup_incremental_bloom" -> DEDUP_INCREMENTAL_SQL,

    "ngram_jaccard" ->
      s"""WITH $NGRAM_CTES
         |SELECT doc_a, doc_b,
         |  round(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 3) AS jaccard
         |FROM inter JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
         |WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5""".stripMargin,

    // prefix_jaccard is output-identical to ngram_jaccard by construction
    // (prefix filtering only prunes candidate GENERATION; verification
    // recomputes the exact capped intersection) — same oracle, verbatim
    "prefix_jaccard" ->
      s"""WITH $NGRAM_CTES
         |SELECT doc_a, doc_b,
         |  round(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 3) AS jaccard
         |FROM inter JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
         |WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5""".stripMargin,

    // overlap_exact: source-grain distinct-shingle sets; same 3-gram
    // construction as NGRAM_CTES but keyed (and deduped) by source. All
    // C(sources,2) pairs kept (zero intersections coalesce to 0).
    "overlap_exact" ->
      s"""WITH w AS (SELECT source, $WORDS AS words FROM documents),
         |sh AS (SELECT source, words FROM w WHERE len(words) >= 3),
         |ex AS (SELECT DISTINCT source,
         |         concat_ws(' ', words[i], words[i+1], words[i+2]) AS shingle
         |       FROM (SELECT source, words, unnest(range(1, len(words) - 1)) AS i FROM sh)),
         |cnt AS (SELECT source, count(*) AS n FROM ex GROUP BY 1),
         |inter AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS i
         |          FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.source < b.source
         |          GROUP BY 1, 2)
         |SELECT ca.source AS source_a, cb.source AS source_b, ca.n AS n_a, cb.n AS n_b,
         |  coalesce(i, CAST(0 AS BIGINT)) AS n_common,
         |  round(CAST(coalesce(i, CAST(0 AS BIGINT)) AS DOUBLE)
         |    / (ca.n + cb.n - coalesce(i, CAST(0 AS BIGINT))), 6) AS jaccard
         |FROM cnt ca JOIN cnt cb ON ca.source < cb.source
         |LEFT JOIN inter ON inter.source_a = ca.source AND inter.source_b = cb.source""".stripMargin,

    // overlap_kmv twin (r10 VERDICT task 1): the per-source xxhash64
    // shingle-hash table is frozen (Overlap.overlapArtifactPath); DuckDB
    // independently recomputes the k-minimum selection (unsigned 64-bit
    // order == ORDER BY (h < 0), h), the per-source and pairwise-union
    // cardinality estimates ((k-1)/U_k with U_k as a (0,1) fraction —
    // the CAST chain below reproduces KMinValues.fraction's IEEE ops
    // bit-for-bit), the sketch-intersection Jaccard, and the rint
    // rounding (round_even == math.rint, verified on the half-way
    // cases m/512*1e6 can hit).
    "overlap_kmv" -> kmvEstimateSql(
      s"""SELECT DISTINCT source, h
         |  FROM read_parquet('${Overlap.overlapArtifactPath(VerifySf)}/*.parquet')""".stripMargin),

    // overlap_purge twin (r16, VERDICT r15 task 4): the SAME k-min +
    // pairwise-estimate recomputation as overlap_kmv, over the LIVE rows
    // of the purge entry's flagged hash artifact alone — the oracle is a
    // from-scratch rebuild over the post-purge corpus, which the Spark
    // side's source-grain path (untouched sources keep prior sketches)
    // must equal exactly.
    "overlap_purge" -> kmvEstimateSql(
      s"""SELECT DISTINCT source, h
         |  FROM read_parquet('${Overlap.overlapPurgeArtifactPath(VerifySf)}/*.parquet')
         |  WHERE live""".stripMargin),

    "minhash_lsh_md5" ->
      // generated wide-form SQL: 64 min(md5) aggregates (lexicographic min
      // of fixed-width hex == numeric min of the permutation value), 16
      // band keys over 4 signature rows each, positionwise agreement / 64
      s"""WITH $NGRAM_CTES,
         |sig AS (SELECT doc_id, $MINHASH_MINS FROM ex GROUP BY doc_id),
         |bands AS (${minhashBandSelects("sig")}),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b,
         |  round(($MINHASH_AGREE) / ${Dedup.MinHashPerms}.0, 6) AS est_jaccard
         |FROM cand
         |JOIN sig sa ON cand.doc_a = sa.doc_id
         |JOIN sig sb ON cand.doc_b = sb.doc_id
         |WHERE round(($MINHASH_AGREE) / ${Dedup.MinHashPerms}.0, 6) >= 0.5""".stripMargin,

    "lsh_eval" ->
      s"""WITH $NGRAM_CTES,
         |truth AS (SELECT doc_a, doc_b
         |          FROM inter JOIN cnt ca ON doc_a = ca.doc_id
         |                     JOIN cnt cb ON doc_b = cb.doc_id
         |          WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5),
         |sig AS (SELECT doc_id, $MINHASH_MINS FROM ex GROUP BY doc_id),
         |bands AS (${minhashBandSelects("sig")}),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |est AS (SELECT doc_a, doc_b FROM cand
         |        JOIN sig sa ON cand.doc_a = sa.doc_id
         |        JOIN sig sb ON cand.doc_b = sb.doc_id
         |        WHERE round(($MINHASH_AGREE) / ${Dedup.MinHashPerms}.0, 6) >= 0.5),
         |m AS (SELECT
         |  (SELECT count(*) FROM truth) AS n_truth,
         |  (SELECT count(*) FROM cand) AS n_cand,
         |  (SELECT count(*) FROM cand JOIN truth USING (doc_a, doc_b)) AS n_cand_hit,
         |  (SELECT count(*) FROM est) AS n_est,
         |  (SELECT count(*) FROM est JOIN truth USING (doc_a, doc_b)) AS n_est_hit)
         |SELECT n_truth, n_cand, n_cand_hit, n_est, n_est_hit,
         |  round(CAST(n_cand_hit AS DOUBLE) / greatest(n_cand, 1), 6) AS cand_precision,
         |  round(CAST(n_cand_hit AS DOUBLE) / greatest(n_truth, 1), 6) AS cand_recall,
         |  round(CAST(n_est_hit AS DOUBLE) / greatest(n_est, 1), 6) AS est_precision,
         |  round(CAST(n_est_hit AS DOUBLE) / greatest(n_truth, 1), 6) AS est_recall
         |FROM m""".stripMargin,

    "minhash_incremental" ->
      s"""WITH $NGRAM_CTES,
         |sign AS (SELECT doc_id, $MINHASH_MINS FROM ex WHERE doc_id % 2 = 1 GROUP BY doc_id),
         |sigo AS (SELECT doc_id, $MINHASH_MINS FROM ex WHERE doc_id % 2 = 0 GROUP BY doc_id),
         |bn AS (${minhashBandSelects("sign")}),
         |bo AS (${minhashBandSelects("sigo")}),
         |cand AS (SELECT DISTINCT n.doc_id AS doc_new, o.doc_id AS doc_old
         |         FROM bn n JOIN bo o ON n.band = o.band AND n.bkey = o.bkey)
         |SELECT doc_new, doc_old,
         |  round(($MINHASH_AGREE) / ${Dedup.MinHashPerms}.0, 6) AS est_jaccard
         |FROM cand
         |JOIN sign sa ON cand.doc_new = sa.doc_id
         |JOIN sigo sb ON cand.doc_old = sb.doc_id
         |WHERE round(($MINHASH_AGREE) / ${Dedup.MinHashPerms}.0, 6) >= 0.5""".stripMargin,

    "simhash_md5" ->
      s"""WITH $SIMHASH_MD5_CTES
         |SELECT doc_id, simhash FROM sig""".stripMargin,

    // simhash twin (r10 VERDICT task 2): the per-(doc, token-occurrence)
    // xxhash64 BAG is frozen (Dedup.dedupArtifactPath "simhash-toks");
    // DuckDB recomputes the 64 signed vote sums (arithmetic >> + mask,
    // the simhash_pairs-verified semantics) and assembles the two's-
    // complement BIGINT signature — bit 63 as the explicit Long.MinValue
    // literal, bits 0..62 as positive literals; terms are disjoint so the
    // 64-term scalar sum never overflows. The md5 twin (simhash_md5)
    // additionally verifies signature construction with a portable hash.
    "simhash" -> {
      val votes = (0 until 64)
        .map(j => s"sum(CASE WHEN ((h >> $j) & 1) = 1 THEN 1 ELSE -1 END) AS b$j")
        .mkString(",\n|    ")
      val asm = (0 until 63).map(j => s"CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END")
        .mkString(" +\n|  ") + " +\n|  CASE WHEN b63 > 0 THEN -9223372036854775807 - 1 ELSE 0 END"
      s"""WITH h AS (SELECT doc_id, h
         |  FROM read_parquet('${Dedup.dedupArtifactPath(VerifySf, "simhash-toks")}/*.parquet')),
         |v AS (SELECT doc_id,
         |    $votes
         |  FROM h GROUP BY doc_id)
         |SELECT doc_id,
         |  $asm AS simhash
         |FROM v""".stripMargin
    },

    "simhash_pairs_md5" -> SIMHASH_PAIRS_MD5_SQL,

    "winnow_md5" -> WINNOW_MD5_SQL,

    // winnow_fingerprint twin (r10 VERDICT task 2): the per-(doc, pos)
    // k-gram xxhash64 table is frozen (TextOps.textArtifactPath
    // "winnow-kgrams"); DuckDB recomputes the sliding-window minimum
    // (same ROWS frame over the same pos order) and the distinct. The
    // md5 twin (winnow_md5) pins the k-gram construction portably.
    "winnow_fingerprint" ->
      s"""WITH kg AS (SELECT doc_id, pos, h
         |  FROM read_parquet('${TextOps.textArtifactPath(VerifySf, "winnow-kgrams")}/*.parquet')),
         |mn AS (SELECT doc_id,
         |         min(h) OVER (PARTITION BY doc_id ORDER BY pos
         |           ROWS BETWEEN CURRENT ROW AND ${TextOps.WinnowW - 1} FOLLOWING) AS fp
         |       FROM kg)
         |SELECT DISTINCT doc_id, fp FROM mn""".stripMargin,

    "dedup_agreement" ->
      s"""WITH a AS (SELECT doc_a, doc_b FROM ($NGRAM_PAIRS_SQL)),
         |b AS (SELECT doc_a, doc_b FROM ($SIMHASH_PAIRS_MD5_SQL)),
         |fpc AS (SELECT doc_id, fp FROM ($WINNOW_MD5_SQL)),
         |c AS (SELECT DISTINCT f1.doc_id AS doc_a, f2.doc_id AS doc_b
         |      FROM fpc f1 JOIN fpc f2 ON f1.fp = f2.fp AND f1.doc_id < f2.doc_id),
         |m AS (
         |  SELECT 'jaccard' AS method_a, 'simhash' AS method_b,
         |    (SELECT count(*) FROM a) AS n_a, (SELECT count(*) FROM b) AS n_b,
         |    (SELECT count(*) FROM a JOIN b USING (doc_a, doc_b)) AS n_common
         |  UNION ALL SELECT 'jaccard', 'winnow',
         |    (SELECT count(*) FROM a), (SELECT count(*) FROM c),
         |    (SELECT count(*) FROM a JOIN c USING (doc_a, doc_b))
         |  UNION ALL SELECT 'simhash', 'winnow',
         |    (SELECT count(*) FROM b), (SELECT count(*) FROM c),
         |    (SELECT count(*) FROM b JOIN c USING (doc_a, doc_b)))
         |SELECT method_a, method_b, n_a, n_b, n_common,
         |  round(CAST(n_common AS DOUBLE)
         |    / CAST(greatest(n_a + n_b - n_common, 1) AS DOUBLE), 6) AS pair_jaccard
         |FROM m""".stripMargin,

    "dedup_clusters" -> DEDUP_CLUSTERS_SQL,

    // dedup_clusters_incremental: the oracle is DELIBERATELY the identical
    // full-graph recursive-CTE CC — the incremental maintenance must land
    // on exactly the from-scratch labeling, so the hash match IS the
    // incremental==full proof (the rollup_incremental convention).
    "dedup_clusters_incremental" -> DEDUP_CLUSTERS_SQL,
    // dedup_clusters_maintain (r14): same full-recompute recursive-CTE —
    // the hash match proves the frozen-state fold equals the full graph.
    "dedup_clusters_maintain" -> DEDUP_CLUSTERS_SQL,

    "ingest_anomaly" ->
      """WITH daily AS (
        |  SELECT date_diff('day', DATE '1970-01-01',
        |           CAST(make_timestamp(epoch_ns(ts)//1000) AS DATE)) AS day,
        |         CAST(count(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1),
        |sc AS (SELECT day, n_events,
        |  round(avg(n_events) OVER tw, 4) AS mu,
        |  round(stddev_samp(n_events) OVER tw, 4) AS sigma
        |  FROM daily
        |  WINDOW tw AS (ORDER BY day RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT CAST(day AS BIGINT) AS day, n_events, mu, sigma,
        |  CASE WHEN sigma IS NOT NULL AND sigma > 0
        |       THEN round((n_events - mu) / sigma, 4) END AS z,
        |  coalesce(sigma IS NOT NULL AND sigma > 0 AND
        |    abs(round((n_events - mu) / sigma, 4)) >= 2.0, FALSE) AS flagged
        |FROM sc""".stripMargin,

    // pit_join: the oracle deliberately uses DuckDB's NATIVE ASOF JOIN —
    // an independent algorithm from the Spark union+window composition,
    // so the hash match cross-checks semantics, not a shared plan.
    "pit_join" ->
      """WITH dim AS (
        |  SELECT c_custkey AS ck, DATE '1990-01-01' AS dt, c_mktsegment AS seg FROM customer
        |  UNION ALL SELECT c_custkey, DATE '1995-06-15', 'V1:' || c_mktsegment
        |    FROM customer WHERE c_custkey % 3 = 0
        |  UNION ALL SELECT c_custkey, DATE '1997-03-01', 'V2:' || c_mktsegment
        |    FROM customer WHERE c_custkey % 9 = 0),
        |f AS (SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS dt FROM orders)
        |SELECT f.o_orderkey, f.o_custkey, strftime(f.dt, '%Y-%m-%d') AS order_date,
        |  dim.seg AS mktsegment_at_order
        |FROM f ASOF JOIN dim ON f.o_custkey = dim.ck AND f.dt >= dim.dt""".stripMargin,

    "q27_asof_join" ->
      """WITH e AS (SELECT event_id, user_id, make_timestamp(epoch_ns(ts)//1000) AS ts,
        |             event_type, "value" FROM events),
        |m AS (SELECT *,
        |    last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
        |      OVER w AS prev_click_ts,
        |    last_value(CASE WHEN event_type = 'click' THEN "value" END IGNORE NULLS)
        |      OVER w AS prev_click_val
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
        |  strftime(prev_click_ts, '%Y-%m-%d %H:%M:%S.%f') AS prev_click_ts,
        |  CAST(prev_click_val AS DOUBLE) AS prev_click_value
        |FROM m WHERE event_type = 'purchase'""".stripMargin,

    "q28_percentiles" -> Q28PercentilesSql,

    "q55_sessionize" ->
      s"""WITH e AS (SELECT user_id, event_id, epoch_ns(ts)//1000 AS us FROM events),
         |l AS (SELECT user_id, event_id, us,
         |        lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us
         |      FROM e),
         |m AS (SELECT user_id, event_id, us,
         |        CASE WHEN prev_us IS NULL OR us - prev_us > ${R.SessionGapUs}
         |             THEN 1 ELSE 0 END AS new_sess
         |      FROM l),
         |x AS (SELECT user_id, us,
         |        sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
         |      FROM m),
         |sess AS (SELECT user_id, session_idx, CAST(count(*) AS BIGINT) AS n_events,
         |        min(us) AS start_us, max(us) AS end_us
         |      FROM x GROUP BY 1, 2)
         |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx, n_events,
         |  CAST(end_us - start_us AS BIGINT) AS duration_us,
         |  CAST(coalesce(start_us - lag(end_us) OVER
         |    (PARTITION BY user_id ORDER BY session_idx), -1) AS BIGINT) AS gap_us
         |FROM sess""".stripMargin,

    // q28_percentiles_scale: same oracle as q28 — the Spark side runs the
    // bounded quantile refinement, so the hash match IS the equivalence
    // proof (the bm25_incremental / rollup_incremental precedent).
    "q28_percentiles_scale" -> Q28PercentilesSql,

    "q29_grouping_sets" ->
      """WITH t AS (
        |  SELECT n_name, CAST(year(o_orderdate) AS INT) AS order_year, o_totalprice
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |              JOIN nation ON c_nationkey = n_nationkey)
        |SELECT n_name, order_year,
        |  CAST(grouping(n_name) AS INT) AS g_nation,
        |  CAST(grouping(order_year) AS INT) AS g_year,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM t GROUP BY GROUPING SETS ((n_name), (order_year), ())""".stripMargin,

    "q30_pivot" ->
      """WITH t AS (
        |  SELECT n_name, CAST(year(o_orderdate) AS INT) AS order_year, o_totalprice
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |              JOIN nation ON c_nationkey = n_nationkey)
        |SELECT n_name,
        |  CAST(sum(CASE WHEN order_year = 1996
        |    THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS y1996,
        |  CAST(sum(CASE WHEN order_year = 1997
        |    THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS y1997,
        |  CAST(sum(CASE WHEN order_year = 1998
        |    THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS y1998
        |FROM t GROUP BY n_name""".stripMargin,

    "q32_scalar_subquery" ->
      """SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS acctbal,
        |  (SELECT count(*) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey) AS n_orders
        |FROM customer c
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)""".stripMargin,

    "q33_outer_join" ->
      """SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
        |  CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,4))), 0) AS DOUBLE) AS total,
        |  NULLIF(count(o_orderkey), 0) AS n_or_null
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name""".stripMargin,

    "q34_full_outer" ->
      """WITH b AS (SELECT user_id, count(*) AS n_buys FROM events
        |           WHERE event_type = 'purchase' GROUP BY user_id),
        |c AS (SELECT user_id, count(*) AS n_clicks FROM events
        |      WHERE event_type = 'click' GROUP BY user_id)
        |SELECT coalesce(b.user_id, c.user_id) AS user_id,
        |  coalesce(n_buys, 0) AS n_buys,
        |  coalesce(n_clicks, 0) AS n_clicks
        |FROM b FULL OUTER JOIN c ON b.user_id = c.user_id""".stripMargin,

    "q35_window_suite" ->
      """SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS total,
        |  CAST(lag(o_totalprice, 1) OVER w AS DOUBLE) AS next_cheaper,
        |  CAST(lead(o_totalprice, 1) OVER w AS DOUBLE) AS next_pricier,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  first_value(o_orderkey) OVER w AS top_order
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey)""".stripMargin,

    "q36_date_fns" ->
      """SELECT o_orderkey,
        |  strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS ship_by,
        |  CAST(datediff('day', o_orderdate, DATE '1998-12-31') AS INT) AS days_to_eoy,
        |  strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
        |  CAST(dayofweek(o_orderdate) AS INT) AS dow,
        |  CAST(quarter(o_orderdate) AS INT) AS qtr
        |FROM orders""".stripMargin,

    // embedding_quantize: all-integer kernel — floor(double(float)*1e6)
    // is identical in both engines (floats widen losslessly), and both
    // `div` (Spark) and `//` (DuckDB) truncate toward zero, so codes,
    // saturation counts and L1 error match exactly with no float policy.
    "embedding_quantize" ->
      s"""WITH x AS (SELECT vec_id, unnest(embedding) AS v FROM embeddings),
         |xi AS (SELECT vec_id,
         |         CAST(floor(CAST(v AS DOUBLE) * ${Similarity.QuantGrain}) AS BIGINT) AS xi
         |       FROM x),
         |m AS (SELECT vec_id, greatest(max(abs(xi)), 1) AS maxabs FROM xi GROUP BY 1),
         |c AS (SELECT xi.vec_id, xi.xi, m.maxabs,
         |        (xi.xi * 127) // m.maxabs AS code
         |      FROM xi JOIN m ON xi.vec_id = m.vec_id)
         |SELECT vec_id, max(maxabs) AS scale_micro,
         |  CAST(sum(code) AS BIGINT) AS code_sum,
         |  CAST(sum(abs(code)) AS BIGINT) AS code_abs_sum,
         |  CAST(sum(CASE WHEN abs(code) = 127 THEN 1 ELSE 0 END) AS BIGINT) AS n_saturated,
         |  CAST(sum(abs(xi - (code * maxabs) // 127)) AS BIGINT) AS l1_err_micro
         |FROM c GROUP BY vec_id""".stripMargin,

    "novelty_score" ->
      s"""WITH w AS (SELECT doc_id, $WORDS AS words FROM documents),
         |sh AS (SELECT doc_id,
         |         list_distinct([concat_ws(' ', words[i], words[i+1], words[i+2])
         |                        FOR i IN range(1, len(words) - 1)]) AS sh
         |       FROM w WHERE len(words) >= 3),
         |ex AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
         |dfs AS (SELECT shingle, count(*) AS df FROM ex GROUP BY 1)
         |SELECT doc_id, count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
         |  round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 3) AS novelty
         |FROM ex JOIN dfs USING (shingle) GROUP BY doc_id""".stripMargin,

    "embedding_centroids" -> EMBEDDING_CENTROIDS_SQL,
    "centroid_incremental" -> EMBEDDING_CENTROIDS_SQL,

    "embedding_drift" ->
      """WITH tok AS (SELECT vec_id, label,
        |        unnest([{'d': i, 'x': embedding[i]} FOR i IN range(1, 65)]) AS s
        |      FROM embeddings),
        |e AS (SELECT vec_id, label, s.d - 1 AS dim, s.x AS x FROM tok),
        |a AS (SELECT (vec_id % 2) AS half, label, dim, count(*) AS n,
        |        CAST(sum(CAST(round(CAST(x AS DOUBLE), 9) AS DECIMAL(18,9))) AS DOUBLE) AS sx
        |      FROM e GROUP BY 1, 2, 3),
        |m AS (SELECT half, label, dim, n, sx / n AS m FROM a),
        |j AS (SELECT b.label, b.dim, b.n AS n_base, c.n AS n_cur,
        |        CAST(round((b.m - c.m) * (b.m - c.m), 12) AS DECIMAL(18,12)) AS d2
        |      FROM m b JOIN m c ON b.label = c.label AND b.dim = c.dim
        |      WHERE b.half = 0 AND c.half = 1)
        |SELECT CAST(label AS BIGINT) AS label, CAST(max(n_base) AS BIGINT) AS n_base,
        |  CAST(max(n_cur) AS BIGINT) AS n_cur,
        |  round(sqrt(CAST(sum(d2) AS DOUBLE)), 6) AS drift_l2
        |FROM j GROUP BY label""".stripMargin,

    "classifier_score" ->
      s"""WITH tok AS (SELECT doc_id, unnest($WORDS) AS w FROM documents),
         |f AS (SELECT doc_id,
         |        CAST(${duckHex("md5('feat:' || w)", 8)} % 4096 AS BIGINT) AS bucket
         |      FROM tok),
         |m AS (SELECT r AS bucket, (r % 7) - 3 AS w10 FROM range(4096) t(r)),
         |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         |        CAST(sum(w10) AS BIGINT) AS margin_x10
         |      FROM f JOIN m USING (bucket) GROUP BY 1)
         |SELECT doc_id, n_feats, margin_x10,
         |  margin_x10 / (n_feats * 10.0) AS score,
         |  margin_x10 / (n_feats * 10.0) > 0 AS keep
         |FROM a""".stripMargin,

    "classifier_eval" ->
      s"""WITH tok AS (SELECT doc_id, unnest($WORDS) AS w FROM documents),
         |f AS (SELECT doc_id,
         |        CAST(${duckHex("md5('feat:' || w)", 8)} % 4096 AS BIGINT) AS bucket
         |      FROM tok),
         |m AS (SELECT r AS bucket, (r % 7) - 3 AS w10 FROM range(4096) t(r)),
         |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         |        CAST(sum(w10) AS BIGINT) AS margin_x10
         |      FROM f JOIN m USING (bucket) GROUP BY 1),
         |sc AS (SELECT doc_id, margin_x10 / (n_feats * 10.0) AS score FROM a),
         |t AS (SELECT doc_id, $WORDS AS words FROM documents),
         |lab AS (SELECT doc_id,
         |    round(least(len(words) / 100.0, 1.0) *
         |      (1.0 - CAST(len([w FOR w IN words
         |                       IF w IN ('the','a','of','and','to','in','is','it')]) AS DOUBLE)
         |        / len(words)), 4) >= ${Pipeline.CurateQualityMin} AS label
         |  FROM t),
         |th AS (SELECT CAST(unnest([${Curation.EvalThresholdHundredths.mkString(", ")}])
         |         AS DOUBLE) / 100.0 AS threshold),
         |c AS (SELECT threshold,
         |    CAST(sum(CASE WHEN score > threshold AND label THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(sum(CASE WHEN score > threshold AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(sum(CASE WHEN score <= threshold AND label THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |    CAST(sum(CASE WHEN score <= threshold AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |  FROM sc JOIN lab USING (doc_id) CROSS JOIN th GROUP BY 1)
         |SELECT threshold, tp, fp, fn, tn,
         |  round(CAST(tp AS DOUBLE) / greatest(tp + fp, 1), 6) AS precision,
         |  round(CAST(tp AS DOUBLE) / greatest(tp + fn, 1), 6) AS recall,
         |  round(CASE WHEN CAST(tp AS DOUBLE) / greatest(tp + fp, 1)
         |               + CAST(tp AS DOUBLE) / greatest(tp + fn, 1) > 0.0
         |    THEN 2.0 * (CAST(tp AS DOUBLE) / greatest(tp + fp, 1))
         |             * (CAST(tp AS DOUBLE) / greatest(tp + fn, 1))
         |         / (CAST(tp AS DOUBLE) / greatest(tp + fp, 1)
         |            + CAST(tp AS DOUBLE) / greatest(tp + fn, 1))
         |    ELSE 0.0 END, 6) AS f1
         |FROM c""".stripMargin,

    "classifier_train" ->
      s"""$CLASSIFIER_TRAIN_CTES
         |SELECT bucket, w_micro FROM w${Curation.TrainIters}""".stripMargin,

    "classifier_train_score" ->
      s"""$CLASSIFIER_TRAIN_CTES,
         |sc AS (SELECT fx.doc_id, CAST(sum(fx.x) AS BIGINT) AS n_feats,
         |    CAST(sum(fx.x * w.w_micro) AS BIGINT) AS margin_micro
         |  FROM fx JOIN w${Curation.TrainIters} w USING (bucket) GROUP BY 1)
         |SELECT doc_id, n_feats, margin_micro,
         |  CAST(margin_micro AS DOUBLE) / (CAST(n_feats AS DOUBLE) * 1000000.0) AS score,
         |  margin_micro > 0 AS keep
         |FROM sc""".stripMargin,

    "hash_split" ->
      s"""WITH h AS (SELECT doc_id,
         |            md5('split:' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
         |b AS (SELECT doc_id, CAST(${duckHex("h", 8)} % 100 AS BIGINT) AS bucket FROM h)
         |SELECT doc_id, bucket,
         |  CASE WHEN bucket < 90 THEN 'train'
         |       WHEN bucket < 95 THEN 'valid' ELSE 'test' END AS split
         |FROM b""".stripMargin,

    "split_leakage" ->
      s"""WITH $NGRAM_CTES,
         |pairs AS (
         |  SELECT doc_a, doc_b FROM inter
         |  JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
         |  WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5),
         |h AS (SELECT doc_id,
         |        CAST(${duckHex("md5('split:' || CAST(doc_id AS VARCHAR))", 8)} % 100 AS BIGINT)
         |          AS bucket FROM documents),
         |sp AS (SELECT doc_id,
         |        CASE WHEN bucket < 90 THEN 'train'
         |             WHEN bucket < 95 THEN 'valid' ELSE 'test' END AS split FROM h),
         |cell AS (SELECT least(sa.split, sb.split) AS split_lo,
         |                greatest(sa.split, sb.split) AS split_hi
         |         FROM pairs JOIN sp sa ON pairs.doc_a = sa.doc_id
         |                    JOIN sp sb ON pairs.doc_b = sb.doc_id)
         |SELECT split_lo, split_hi, count(*) AS n_pairs,
         |  split_lo <> split_hi AS is_leak
         |FROM cell GROUP BY 1, 2""".stripMargin,

    "cluster_split" ->
      s"""WITH RECURSIVE $NGRAM_CTES,
         |pairs AS (
         |  SELECT doc_a, doc_b FROM inter
         |  JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
         |  WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5),
         |bi AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |       UNION SELECT doc_b, doc_a FROM pairs),
         |verts AS (SELECT DISTINCT a AS id FROM bi),
         |reach(id, r) AS (
         |  SELECT id, id FROM verts
         |  UNION
         |  SELECT bi.b, reach.r FROM bi JOIN reach ON bi.a = reach.id),
         |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |k AS (SELECT d.doc_id, coalesce(lab.cluster_id, d.doc_id) AS cluster_key
         |      FROM documents d LEFT JOIN lab ON d.doc_id = lab.id),
         |b AS (SELECT doc_id, cluster_key,
         |        CAST(${duckHex("md5('split:' || CAST(cluster_key AS VARCHAR))", 8)} % 100
         |          AS BIGINT) AS bucket FROM k)
         |SELECT doc_id, cluster_key, bucket,
         |  CASE WHEN bucket < 90 THEN 'train'
         |       WHEN bucket < 95 THEN 'valid' ELSE 'test' END AS split
         |FROM b""".stripMargin,

    "stratified_sample" ->
      """WITH k AS (SELECT doc_id, source,
        |            md5('samp:' || CAST(doc_id AS VARCHAR)) AS skey FROM documents),
        |r AS (SELECT doc_id, source,
        |  CAST(row_number() OVER (PARTITION BY source ORDER BY skey, doc_id) AS BIGINT)
        |    AS sample_rank,
        |  CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_stratum FROM k)
        |SELECT doc_id, source, sample_rank, n_stratum FROM r
        |WHERE sample_rank * 5 <= n_stratum""".stripMargin,

    "global_shuffle" ->
      s"""WITH k AS (SELECT doc_id,
         |            md5('shuf:' || CAST(doc_id AS VARCHAR)) AS skey FROM documents),
         |b AS (SELECT doc_id, skey, CAST(${duckHex("skey", 2)} AS BIGINT) AS bucket FROM k),
         |c AS (SELECT bucket, count(*) AS n FROM b GROUP BY 1),
         |o AS (SELECT bucket, CAST(coalesce(sum(n) OVER (ORDER BY bucket
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS base
         |      FROM c),
         |r AS (SELECT doc_id, bucket,
         |        row_number() OVER (PARTITION BY bucket ORDER BY skey, doc_id) AS rn FROM b)
         |SELECT r.doc_id, CAST(o.base + r.rn - 1 AS BIGINT) AS shuffle_pos
         |FROM r JOIN o USING (bucket)""".stripMargin,

    "domain_cap" ->
      """WITH k AS (SELECT doc_id, source,
        |            md5('cap:' || CAST(doc_id AS VARCHAR)) AS ckey FROM documents),
        |r AS (SELECT doc_id, source,
        |  CAST(row_number() OVER (PARTITION BY source ORDER BY ckey, doc_id) AS BIGINT)
        |    AS cap_rank FROM k)
        |SELECT doc_id, source, cap_rank FROM r WHERE cap_rank <= 30""".stripMargin,

    // weighted_sample: one global window cumsum here; the engine's form is
    // the two-level bucket + broadcast-prefix-sum equivalent (same answer,
    // pinned in SamplingSpec).
    "weighted_sample" ->
      s"""WITH k AS (SELECT doc_id, CAST(len($WORDS) AS BIGINT) AS n_tokens,
         |             md5('ws:' || CAST(doc_id AS VARCHAR)) AS ckey FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |        coalesce(sum(n_tokens) OVER (ORDER BY ckey, doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cw
         |      FROM k)
         |SELECT doc_id, n_tokens,
         |  CAST((cw + n_tokens) // ${Sampling.SampleStep} - cw // ${Sampling.SampleStep} AS BIGINT) AS n_picks
         |FROM c WHERE (cw + n_tokens) // ${Sampling.SampleStep} > cw // ${Sampling.SampleStep}""".stripMargin,

    // reservoir_sample twin: the Efraimidis–Spirakis key recomputed from
    // scratch — u = (md5-hex15 + 1)/16^15 (both engines CAST the same
    // BIGINT to DOUBLE), key = round(-ln(u)·1e6/w, 6) (the bm25/surprisal
    // round-before-rank convention absorbs last-ulp ln differences), then
    // the per-source top-k by (key, doc_id). The key itself is rank-only
    // and never output.
    "reservoir_sample" ->
      s"""WITH t AS (SELECT doc_id, source,
         |             CAST(len($WORDS) AS BIGINT) AS n_tokens FROM documents),
         |tt AS (SELECT * FROM t WHERE n_tokens > 0),
         |k AS (SELECT doc_id, source, n_tokens,
         |        round(-ln((CAST(${duckHex("md5('res:' || CAST(doc_id AS VARCHAR))", 15)} AS DOUBLE) + 1.0)
         |            / 1.152921504606846976e18)
         |          * 1000000.0 / CAST(n_tokens AS DOUBLE), 6) AS rkey
         |      FROM tt)
         |SELECT source, doc_id, n_tokens, CAST(rn AS BIGINT) AS res_rank FROM (
         |  SELECT k.*, row_number() OVER (PARTITION BY source ORDER BY rkey, doc_id) AS rn
         |  FROM k)
         |WHERE rn <= ${Sampling.ReservoirK}""".stripMargin,

    // DSIR twins: the whole pipeline recomputed from base parquet —
    // unigram+bigram gram stream (the repetition_signals bigram spelling),
    // 32-bit md5 bucket hash mod 1024, add-1-smoothed log ratio snapped
    // at 6 decimals (absorbs last-ulp ln differences), exact decimal
    // per-doc sums, and the (key desc, doc_id) top-k. The Gumbel key in
    // dsir_resample mirrors the reservoir_sample h15 convention with
    // +0.5 so u stays strictly inside (0,1).
    "dsir_weights" ->
      s"""WITH $DSIR_CTES
         |SELECT bucket, CAST(n_target AS BIGINT) AS n_target, n_raw,
         |  CAST(log_ratio AS DOUBLE) AS log_ratio FROM wt""".stripMargin,

    "dsir_select" ->
      s"""WITH $DSIR_CTES,
         |$DSIR_SCORE_CTE
         |SELECT doc_id, CAST(score AS DOUBLE) AS score,
         |  CAST(rn AS BIGINT) AS sel_rank FROM (
         |  SELECT sc.*, row_number() OVER (ORDER BY score DESC, doc_id) AS rn FROM sc)
         |WHERE rn <= ${Sampling.DsirK}""".stripMargin,

    "dsir_resample" ->
      s"""WITH $DSIR_CTES,
         |$DSIR_SCORE_CTE,
         |gk AS (SELECT doc_id, score,
         |         CAST(round(-ln(-ln(
         |             (CAST(${duckHex("md5('dsirg:' || CAST(doc_id AS VARCHAR))", 15)} AS DOUBLE) + 0.5)
         |               / 1.152921504606846976e18)), 6) AS DECIMAL(18,6)) AS gkey
         |       FROM sc),
         |gs AS (SELECT doc_id, score, gkey,
         |         CAST(score + gkey AS DECIMAL(18,6)) AS g_score FROM gk)
         |SELECT doc_id, CAST(score AS DOUBLE) AS score, CAST(gkey AS DOUBLE) AS gkey,
         |  CAST(g_score AS DOUBLE) AS g_score, CAST(rn AS BIGINT) AS sel_rank FROM (
         |  SELECT gs.*, row_number() OVER (ORDER BY g_score DESC, doc_id) AS rn FROM gs)
         |WHERE rn <= ${Sampling.DsirK}""".stripMargin,

    "zorder_key" ->
      s"""WITH d AS (SELECT o_orderkey, o_custkey,
         |             date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS d_day
         |           FROM orders),
         |b AS (SELECT min(o_custkey) AS xlo, max(o_custkey) AS xhi,
         |             min(d_day) AS ylo, max(d_day) AS yhi FROM d),
         |k AS (SELECT o_orderkey,
         |        (CAST(o_custkey - xlo AS BIGINT) * 65536) // (xhi - xlo + 1) AS bucket_x,
         |        (CAST(d_day - ylo AS BIGINT) * 65536) // (yhi - ylo + 1) AS bucket_y
         |      FROM d, b)
         |SELECT o_orderkey, CAST(bucket_x AS BIGINT) AS bucket_x,
         |  CAST(bucket_y AS BIGINT) AS bucket_y,
         |  CAST(${duckSpread("bucket_x")} | (${duckSpread("bucket_y")} << 1) AS BIGINT) AS zkey
         |FROM k""".stripMargin,

    "split_drift" ->
      s"""WITH t AS (SELECT doc_id, $WORDS AS words FROM documents),
         |qv AS (SELECT doc_id,
         |        round(least(len(words) / 100.0, 1.0) *
         |          (1.0 - CAST(len([w FOR w IN words
         |                           IF w IN ('the','a','of','and','to','in','is','it')]) AS DOUBLE)
         |            / len(words)), 4) AS q FROM t),
         |h AS (SELECT doc_id,
         |        md5('split:' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
         |sp AS (SELECT doc_id, CAST(${duckHex("h", 8)} % 100 AS BIGINT) AS b100 FROM h),
         |j AS (SELECT least(CAST(floor(qv.q * 10) AS BIGINT), 9) AS bucket,
         |        CASE WHEN b100 < 90 THEN 'train' ELSE 'valid' END AS split
         |      FROM qv JOIN sp USING (doc_id) WHERE b100 < 95),
         |c AS (SELECT bucket,
         |        CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
         |        CAST(sum(CASE WHEN split = 'valid' THEN 1 ELSE 0 END) AS BIGINT) AS n_valid
         |      FROM j GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_train) AS BIGINT) AS tot_train,
         |               CAST(sum(n_valid) AS BIGINT) AS tot_valid FROM c),
         |b AS (SELECT CAST(s.r AS INT) AS bucket,
         |        coalesce(c.n_train, 0) AS n_train, coalesce(c.n_valid, 0) AS n_valid
         |      FROM range(10) s(r) LEFT JOIN c ON c.bucket = s.r)
         |SELECT bucket, n_train, n_valid,
         |  round(((n_train + 1.0) / (tot_train + 10.0) - (n_valid + 1.0) / (tot_valid + 10.0)) *
         |    ln(((n_train + 1.0) / (tot_train + 10.0)) / ((n_valid + 1.0) / (tot_valid + 10.0))),
         |    6) AS psi
         |FROM b CROSS JOIN tot""".stripMargin,

    "canonical_select" ->
      s"""WITH RECURSIVE $NGRAM_CTES,
         |pairs AS (
         |  SELECT doc_a, doc_b FROM inter
         |  JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
         |  WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5),
         |bi AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |       UNION SELECT doc_b, doc_a FROM pairs),
         |verts AS (SELECT DISTINCT a AS id FROM bi),
         |reach(id, r) AS (
         |  SELECT id, id FROM verts
         |  UNION
         |  SELECT bi.b, reach.r FROM bi JOIN reach ON bi.a = reach.id),
         |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY cluster_id),
         |qual AS (SELECT doc_id,
         |    round(least(len($WORDS) / 100.0, 1.0) *
         |      (1.0 - CAST(len([w FOR w IN $WORDS
         |                       IF w IN ('the','a','of','and','to','in','is','it')]) AS DOUBLE)
         |        / len($WORDS)), 4) AS canonical_quality
         |  FROM documents)
         |SELECT cluster_id, id AS canonical_id, canonical_quality, cluster_size
         |FROM lab JOIN sz USING (cluster_id) JOIN qual ON qual.doc_id = lab.id
         |QUALIFY row_number() OVER (PARTITION BY cluster_id
         |  ORDER BY canonical_quality DESC, id) = 1""".stripMargin,

    "funnel_latency" ->
      """WITH e AS (SELECT user_id, event_type,
        |            make_timestamp(epoch_ns(ts)//1000) AS ts FROM events),
        |s0 AS (SELECT user_id, min(ts) AS t FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |s1 AS (SELECT e.user_id, min(e.ts) AS t FROM e
        |       JOIN s0 ON e.user_id = s0.user_id AND e.ts > s0.t
        |       WHERE event_type = 'click' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM e
        |       JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
        |       WHERE event_type = 'purchase' GROUP BY 1),
        |g AS (SELECT 'view->click' AS step_pair,
        |        CAST(epoch_ns(s1.t)//1000 - epoch_ns(s0.t)//1000 AS DOUBLE) AS gap
        |      FROM s1 JOIN s0 USING (user_id)
        |      UNION ALL
        |      SELECT 'click->purchase',
        |        CAST(epoch_ns(s2.t)//1000 - epoch_ns(s1.t)//1000 AS DOUBLE)
        |      FROM s2 JOIN s1 USING (user_id))
        |SELECT step_pair, CAST(count(*) AS BIGINT) AS n_users,
        |  quantile_cont(gap, 0.5) AS median_gap_us
        |FROM g GROUP BY 1""".stripMargin,

    "q53_funnel" ->
      """WITH e AS (SELECT user_id, event_type,
        |            make_timestamp(epoch_ns(ts)//1000) AS ts FROM events),
        |s0 AS (SELECT user_id, min(ts) AS t FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |s1 AS (SELECT e.user_id, min(e.ts) AS t FROM e
        |       JOIN s0 ON e.user_id = s0.user_id AND e.ts > s0.t
        |       WHERE event_type = 'click' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM e
        |       JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
        |       WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT CAST(0 AS BIGINT) AS step_idx, 'view' AS step,
        |       CAST(count(*) AS BIGINT) AS users FROM s0
        |UNION ALL SELECT 1, 'click', count(*) FROM s1
        |UNION ALL SELECT 2, 'purchase', count(*) FROM s2""".stripMargin,

    "q54_retention" ->
      """WITH e AS (SELECT user_id,
        |            date_trunc('week', make_timestamp(epoch_ns(ts)//1000)) AS wk
        |          FROM events),
        |f AS (SELECT user_id, min(wk) AS cohort FROM e GROUP BY 1),
        |j AS (SELECT DISTINCT e.user_id, cohort,
        |        datediff('day', cohort, wk) // 7 AS week_offset
        |      FROM e JOIN f USING (user_id))
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week,
        |  CAST(week_offset AS BIGINT) AS week_offset,
        |  CAST(count(*) AS BIGINT) AS users
        |FROM j GROUP BY 1, 2""".stripMargin,

    "html_extract" -> {
      // mirror TextOps.htmlFromDocuments + htmlExtract exactly; DuckDB
      // regexp_replace needs the 'g' flag (Spark's replaces all by default)
      val chain = Seq(
        raw"(?s)<script.*?</script>" -> " ",
        raw"(?s)<style.*?</style>" -> " ",
        raw"(?s)<nav.*?</nav>" -> " ",
        raw"(?s)<footer.*?</footer>" -> " ",
        "<[^>]+>" -> " ",
        "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&amp;" -> "&")
        .foldLeft("html") { case (e, (p, r)) =>
          s"regexp_replace($e, '$p', '$r', 'g')"
        }
      s"""WITH page AS (SELECT doc_id,
         |    '<html><head><title>Doc ' || doc_id || '</title><style>p{margin:0}</style>' ||
         |    '<script>var t=1<2;</script></head>' ||
         |    '<body><nav>Home | About | Contact</nav><h1>Doc ' || doc_id || '</h1><p>' ||
         |    replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;') ||
         |    '</p><footer>&copy; 2026 Example Corp</footer></body></html>' AS html
         |  FROM documents)
         |SELECT doc_id,
         |  regexp_extract(html, '(?s)<title>(.*?)</title>', 1) AS title,
         |  trim(regexp_replace($chain, '\\s+', ' ', 'g')) AS clean_text
         |FROM page""".stripMargin
    },

    // heavy_hitters: frozen combined-sketch top-10; DuckDB recomputes the
    // exact global term counts, the 10th-largest-count cutoff (the k-th
    // largest — ADVICE r12 tightened this from the too-loose 11th), and
    // both verdicts (count agreement — the sketch's 65536 slots exceed
    // this corpus's vocabulary, so counts must be exact — and
    // tie-tolerant top-k validity: every selected term's exact count >=
    // the cutoff).
    "heavy_hitters" ->
      s"""WITH fz AS (SELECT * FROM read_parquet('${TextOps.textArtifactPath(VerifySf, "hh-top")}/*.parquet')),
         |tok AS (SELECT unnest($WORDS) AS term FROM documents),
         |c AS (SELECT term, count(*) AS exact_n FROM tok GROUP BY 1),
         |k AS (SELECT min(exact_n) AS k10 FROM
         |       (SELECT exact_n FROM c ORDER BY exact_n DESC, term LIMIT 10))
         |SELECT rank, fz.term, n, COALESCE(exact_n, 0) AS exact_n,
         |  CAST(n = COALESCE(exact_n, 0) AS INT) AS count_match,
         |  CAST(COALESCE(exact_n, 0) >= k10 AS INT) AS is_valid_topk
         |FROM fz LEFT JOIN c ON fz.term = c.term CROSS JOIN k""".stripMargin,

    // cms_counts twin (r13): the md5 row hashes are engine-portable, so
    // DuckDB rebuilds BOTH sketch paths (per-source accumulate + merge,
    // and the direct global sketch), the per-term min-estimates, the
    // exact counts, and all three integer verdicts from the base parquet
    // — the only sketch entry needing no frozen artifact. The bound check
    // is integer cross-multiplication, so no division enters the hash.
    "cms_counts" -> {
      val w = TextOps.CmsWidth
      s"""WITH tok AS (SELECT source, unnest($WORDS) AS w FROM documents),
         |tc AS (SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2),
         |rows AS (SELECT unnest([${(0 until TextOps.CmsDepth).mkString(", ")}]) AS r),
         |ps AS (SELECT source, r,
         |         CAST(${duckHex("md5('cms:' || CAST(r AS VARCHAR) || ':' || w)", 8)} % $w AS BIGINT) AS b,
         |         CAST(sum(c) AS BIGINT) AS cnt
         |       FROM tc CROSS JOIN rows GROUP BY 1, 2, 3),
         |mg AS (SELECT r, b, CAST(sum(cnt) AS BIGINT) AS cnt FROM ps GROUP BY 1, 2),
         |g AS (SELECT w, CAST(sum(c) AS BIGINT) AS c FROM tc GROUP BY 1),
         |dr AS (SELECT r,
         |         CAST(${duckHex("md5('cms:' || CAST(r AS VARCHAR) || ':' || w)", 8)} % $w AS BIGINT) AS b,
         |         CAST(sum(c) AS BIGINT) AS cnt
         |       FROM g CROSS JOIN rows GROUP BY 1, 2),
         |q AS (SELECT unnest([${TextOps.CmsQueryTerms.map(t => s"'$t'").mkString(", ")}]) AS term),
         |qb AS (SELECT term, r,
         |         CAST(${duckHex("md5('cms:' || CAST(r AS VARCHAR) || ':' || term)", 8)} % $w AS BIGINT) AS b
         |       FROM q CROSS JOIN rows),
         |em AS (SELECT term, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est_merged
         |       FROM qb LEFT JOIN mg USING (r, b) GROUP BY 1),
         |ed AS (SELECT term, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est_direct
         |       FROM qb LEFT JOIN dr USING (r, b) GROUP BY 1),
         |ex AS (SELECT w AS term, c AS exact_n FROM g),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM tok)
         |SELECT em.term, est_merged, est_direct,
         |  CAST(coalesce(exact_n, 0) AS BIGINT) AS exact_n, n_tokens,
         |  CAST(est_merged = est_direct AS INT) AS merge_match,
         |  CAST(est_merged >= coalesce(exact_n, 0) AS INT) AS over_ok,
         |  CAST((est_merged - coalesce(exact_n, 0)) * $w <= 2 * n_tokens AS INT) AS bound_ok
         |FROM em JOIN ed USING (term) LEFT JOIN ex USING (term) CROSS JOIN nt""".stripMargin
    },

    // cms_lookup (r14): the SERVING path — DuckDB rebuilds the merged
    // sketch from base parquet (so the hash also proves the frozen
    // artifact == the recomputed sketch), answers the probe set with the
    // same min-over-rows read, recomputes the probe-filtered exact counts
    // and the integer over/bound verdicts.
    "cms_lookup" -> {
      val w = TextOps.CmsWidth
      val probes = TextOps.CmsProbeTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH tok AS (SELECT source, unnest($WORDS) AS w FROM documents),
         |tc AS (SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2),
         |rows AS (SELECT unnest([${(0 until TextOps.CmsDepth).mkString(", ")}]) AS r),
         |ps AS (SELECT source, r,
         |         CAST(${duckHex("md5('cms:' || CAST(r AS VARCHAR) || ':' || w)", 8)} % $w AS BIGINT) AS b,
         |         CAST(sum(c) AS BIGINT) AS cnt
         |       FROM tc CROSS JOIN rows GROUP BY 1, 2, 3),
         |mg AS (SELECT r, b, CAST(sum(cnt) AS BIGINT) AS cnt FROM ps GROUP BY 1, 2),
         |q AS (SELECT unnest([$probes]) AS term),
         |qb AS (SELECT term, r,
         |         CAST(${duckHex("md5('cms:' || CAST(r AS VARCHAR) || ':' || term)", 8)} % $w AS BIGINT) AS b
         |       FROM q CROSS JOIN rows),
         |est AS (SELECT term, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est
         |        FROM qb LEFT JOIN mg USING (r, b) GROUP BY 1),
         |ex AS (SELECT w AS term, CAST(count(*) AS BIGINT) AS exact_n
         |       FROM tok WHERE w IN ($probes) GROUP BY 1),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM tok)
         |SELECT est.term, est,
         |  CAST(coalesce(exact_n, 0) AS BIGINT) AS exact_n, n_tokens,
         |  CAST(est >= coalesce(exact_n, 0) AS INT) AS over_ok,
         |  CAST((est - coalesce(exact_n, 0)) * $w <= 2 * n_tokens AS INT) AS bound_ok
         |FROM est LEFT JOIN ex USING (term) CROSS JOIN nt""".stripMargin
    },

    "heavy_hitters_exact" ->
      s"""WITH tok AS (SELECT source, unnest($WORDS) AS term FROM documents),
         |c AS (SELECT source, term, count(*) AS n FROM tok GROUP BY 1, 2),
         |r AS (SELECT source, term, n,
         |       row_number() OVER (PARTITION BY source ORDER BY n DESC, term) - 1 AS rank
         |     FROM c)
         |SELECT source, CAST(rank AS INT) AS rank, term, CAST(n AS BIGINT) AS n
         |FROM r WHERE rank < 10""".stripMargin,

    // pmi_collocations: PMI is one double expression over exact integer
    // counts, identical multiplication order on both sides; rounded to
    // 6 dp BEFORE ordering so the top-k cut is taken on agreed values.
    "pmi_collocations" ->
      s"""WITH w AS (SELECT doc_id, $WORDS AS l FROM documents),
         |tok AS (SELECT doc_id, unnest(l) AS w FROM w),
         |c1 AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
         |tott AS (SELECT count(*) AS t FROM tok),
         |bg AS (SELECT l[i] AS w1, l[i + 1] AS w2
         |  FROM (SELECT l, unnest(range(1, len(l))) AS i FROM w)),
         |totb AS (SELECT count(*) AS bt FROM bg),
         |c2 AS (SELECT w1, w2, count(*) AS pair_count FROM bg
         |       GROUP BY 1, 2 HAVING count(*) >= ${TextOps.PmiMinPairCount})
         |SELECT w1, w2, pair_count,
         |  round(ln((CAST(pair_count AS DOUBLE) * t * t)
         |    / (CAST(bt AS DOUBLE) * u1.c * u2.c)), 6) AS pmi
         |FROM c2 JOIN c1 u1 ON c2.w1 = u1.w JOIN c1 u2 ON c2.w2 = u2.w
         |CROSS JOIN tott CROSS JOIN totb
         |ORDER BY pmi DESC, w1, w2 LIMIT ${TextOps.PmiTopK}""".stripMargin,

    // skipgram_cooc: pairs canonicalize as (least, greatest); the 1/k
    // distance weight is computed in DOUBLE (matching Spark) and summed
    // as decimal(18,6), so the aggregate is order-independent and exact.
    "skipgram_cooc" ->
      s"""WITH w AS (SELECT doc_id, $WORDS AS l FROM documents),
         |pos AS (SELECT l, unnest(range(1, len(l) + 1)) AS i FROM w),
         |ks AS (SELECT unnest([1, 2, 3]) AS k),
         |pairs AS (SELECT least(l[i], l[i + k]) AS wa, greatest(l[i], l[i + k]) AS wb,
         |    CAST(round(CAST(1 AS DOUBLE) / k, 6) AS DECIMAL(18,6)) AS wt
         |  FROM pos CROSS JOIN ks WHERE i + k <= len(l))
         |SELECT wa, wb, count(*) AS pair_count, CAST(sum(wt) AS DOUBLE) AS w_sum
         |FROM pairs GROUP BY 1, 2 HAVING count(*) >= ${TextOps.CoocMinCount}""".stripMargin,

    "vocab_coverage" ->
      s"""WITH tok AS (SELECT unnest($WORDS) AS w FROM documents),
         |c AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
         |t AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM c),
         |r AS (SELECT row_number() OVER (ORDER BY c DESC, w) AS vocab_size,
         |        sum(c) OVER (ORDER BY c DESC, w ROWS UNBOUNDED PRECEDING) AS cum
         |      FROM c),
         |m AS (SELECT unnest([${TextOps.CoverageMilestones.mkString(", ")}]) AS vocab_size)
         |SELECT CAST(vocab_size AS BIGINT) AS vocab_size,
         |  CAST(cum AS BIGINT) AS cum_tokens,
         |  round(CAST(cum AS DOUBLE) / t, 6) AS coverage
         |FROM r JOIN m USING (vocab_size) CROSS JOIN t""".stripMargin,

    "vocab_build" ->
      s"""WITH tok AS (SELECT doc_id, unnest($WORDS) AS token FROM documents),
         |c AS (SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
         |      FROM tok GROUP BY 1),
         |top AS (SELECT * FROM c ORDER BY tf DESC, token LIMIT 1000)
         |SELECT CAST(row_number() OVER (ORDER BY tf DESC, token) - 1 AS BIGINT)
         |  AS token_id, token, tf, df
         |FROM top""".stripMargin,

    // oov_rate: same (tf desc, token) top-N cut as vocab_build; the rate
    // is one integer/integer double division, rounded identically.
    "oov_rate" ->
      s"""WITH tok AS (SELECT source, unnest($WORDS) AS w FROM documents),
         |c AS (SELECT w, count(*) AS tf FROM tok GROUP BY 1),
         |v AS (SELECT w FROM c ORDER BY tf DESC, w LIMIT 1000)
         |SELECT source, count(*) AS n_tokens,
         |  CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |  round(CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE), 6) AS oov_rate
         |FROM tok LEFT JOIN v USING (w) GROUP BY source""".stripMargin,

    "token_fertility" ->
      raw"""WITH t AS (SELECT lang, len($WORDS) AS ws,
           |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS re,
           |  CAST(length(text) AS BIGINT) AS ch FROM documents)
           |SELECT lang, count(*) AS n_docs,
           |  CAST(sum(ws) AS BIGINT) AS ws_tokens,
           |  CAST(sum(re) AS BIGINT) AS re_tokens,
           |  CAST(sum(ch) AS BIGINT) AS n_chars,
           |  round(CAST(sum(ch) AS DOUBLE) / greatest(sum(ws), 1), 6) AS ws_chars_per_token,
           |  round(CAST(sum(ch) AS DOUBLE) / greatest(sum(re), 1), 6) AS re_chars_per_token
           |FROM t GROUP BY lang""".stripMargin,

    // The apply-step twin reads the SAME frozen segmentation parquet the
    // Spark entry writes and serves from (TextOps.bpeSegsPath): the merge
    // loop itself is iterative (bpe_merges, rows-only), but everything
    // downstream of it — the salted vocab join + per-doc aggregation — is
    // hash-gated here. Path is pinned to the driver's verify SF (0.01).
    "bpe_tokenize" ->
      s"""WITH segs AS (SELECT w, n_pieces, saved
         |  FROM read_parquet('${TextOps.bpeSegsPath(VerifySf)}/*.parquet')),
         |t AS (SELECT doc_id, unnest($WORDS) AS w FROM documents),
         |tt AS (SELECT doc_id, w FROM t WHERE len(w) > 0)
         |SELECT doc_id, count(*) AS n_words,
         |  CAST(sum(n_pieces) AS BIGINT) AS bpe_tokens,
         |  CAST(sum(saved) AS BIGINT) AS chars_saved
         |FROM tt JOIN segs USING (w) GROUP BY doc_id""".stripMargin,

    "bpe_pair_counts" ->
      s"""WITH t AS (SELECT unnest($WORDS) AS w FROM documents),
         |wf AS (SELECT w, count(*) AS freq FROM t WHERE len(w) > 0 GROUP BY 1),
         |syms AS (SELECT freq, list_append(string_split(w, ''), '</w>') AS s FROM wf),
         |pr AS (SELECT unnest([s[i] || ' ' || s[i + 1] FOR i IN range(1, len(s))]) AS pair,
         |              freq FROM syms),
         |agg AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_freq FROM pr GROUP BY 1)
         |SELECT pair, pair_freq FROM agg
         |ORDER BY pair_freq DESC, pair ASC LIMIT 50""".stripMargin,

    // bpe_merges twin (r10 VERDICT task 3): the 8-round argmax-and-merge
    // loop expressed as 8 chained CTE stages over the word-frequency
    // table — no frozen artifact at all; DuckDB recomputes EVERY round's
    // pair counts, the (count desc, left asc, right asc) argmax, and the
    // greedy left-to-right merge application. The merge uses replace()
    // over a double-space-wrapped symbol encoding (' a  b ' per adjacent
    // pair): wrapping each symbol as ' sym ' makes adjacent matches share
    // no characters, so replace's leftmost non-overlapping scan is
    // EXACTLY TextOps.mergePair's greedy i+=2 walk (verified on the
    // aaa/aaaa chain cases); symbols never contain a space (whitespace
    // tokenization), so the encoding is unambiguous and the space-joined
    // pair string preserves the (left, right) tuple sort order.
    // Symbol seeding agrees across engines for ARBITRARY text, not just
    // BMP (r11 ADVICE, resolved by measurement — see TextOps.bpeTrain):
    // Spark's split(w, '') is UTF8String-based and yields codepoints
    // with surrogate pairs intact, same as string_split(w, '').
    "bpe_merges" -> {
      def round(r: Int): String = {
        val prev = s"w${r - 1}"
        s"""p$r AS (SELECT l[g] || ' ' || l[g+1] AS pair, freq
           |  FROM (SELECT freq, string_split(trim(s), '  ') AS l FROM $prev) t$r,
           |       unnest(generate_series(1, len(t$r.l) - 1)) AS u$r(g)),
           |c$r AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS c FROM p$r GROUP BY 1),
           |m$r AS (SELECT string_split(pair, ' ')[1] AS a, string_split(pair, ' ')[2] AS b, c
           |        FROM c$r ORDER BY c DESC, string_split(pair, ' ')[1], string_split(pair, ' ')[2]
           |        LIMIT 1),
           |w$r AS (SELECT freq, replace(s, ' ' || m.a || '  ' || m.b || ' ', ' ' || m.a || m.b || ' ') AS s
           |        FROM $prev CROSS JOIN m$r m)""".stripMargin
      }
      val rounds = (1 to TextOps.BpeMergeRounds).map(round).mkString(",\n")
      val out = (1 to TextOps.BpeMergeRounds).map(r =>
        s"SELECT $r AS merge_rank, a AS left_sym, b AS right_sym, a || b AS merged, c AS pair_freq FROM m$r")
        .mkString("\nUNION ALL\n")
      s"""WITH t AS (SELECT unnest($WORDS) AS w FROM documents),
         |wf AS (SELECT w, count(*) AS freq FROM t WHERE len(w) > 0 GROUP BY 1),
         |w0 AS (SELECT freq,
         |  ' ' || array_to_string(list_append(string_split(w, ''), '</w>'), '  ') || ' ' AS s
         |  FROM wf),
         |$rounds
         |$out""".stripMargin
    },

    "release_manifest" ->
      s"""WITH t AS (SELECT doc_id, source, text, $NORM AS norm, $WORDS AS words FROM documents),
         |s AS (SELECT source, text, words,
         |  round(least(len(words) / 100.0, 1.0) *
         |    (1.0 - CAST(len([w FOR w IN words IF w IN ('the','a','of','and','to','in','is','it')]) AS DOUBLE)
         |      / len(words)), 4) AS q,
         |  CAST(${duckHex("md5('split:' || CAST(doc_id AS VARCHAR))", 8)} % 100 AS BIGINT) AS bucket,
         |  CAST(${duckHex("md5(norm)", 15)} AS DECIMAL(38,0)) AS fp_dec
         |  FROM t)
         |SELECT source,
         |  CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'valid' ELSE 'test' END AS split,
         |  CASE WHEN q < 0.2 THEN 'low' WHEN q < 0.5 THEN 'mid' ELSE 'high' END AS quality_band,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len(words)) AS BIGINT) AS n_tokens,
         |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
         |  CAST(CAST(sum(fp_dec) AS DECIMAL(38,0)) AS VARCHAR) AS checksum
         |FROM s GROUP BY 1, 2, 3""".stripMargin,

    "kanon_release" ->
      s"""WITH g AS (SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2)
         |SELECT source, lang, CAST(n AS BIGINT) AS n_docs FROM g
         |WHERE n >= ${graft.operators.Pipeline.KAnonThreshold}
         |UNION ALL
         |SELECT '__suppressed__' AS source, '__suppressed__' AS lang,
         |  CAST(sum(n) AS BIGINT) AS n_docs
         |FROM g WHERE n < ${graft.operators.Pipeline.KAnonThreshold}
         |HAVING sum(n) IS NOT NULL""".stripMargin,

    "epoch_plan" ->
      s"""WITH t AS (SELECT source, CAST(sum(len($WORDS)) AS BIGINT) AS src_tokens
         |           FROM documents GROUP BY 1),
         |w AS (SELECT source, src_tokens,
         |        CAST(sqrt(CAST(src_tokens AS DOUBLE)) AS DECIMAL(18,6)) AS w FROM t),
         |tot AS (SELECT CAST(sum(w) AS DECIMAL(38,6)) AS tot_w,
         |               CAST(sum(src_tokens) AS BIGINT) AS tot_tokens FROM w)
         |SELECT source, src_tokens,
         |  round(CAST(w AS DOUBLE) / CAST(tot_w AS DOUBLE), 6) AS mix_weight,
         |  round(2.0 * CAST(tot_tokens AS DOUBLE)
         |    * (CAST(w AS DOUBLE) / CAST(tot_w AS DOUBLE))
         |    / CAST(src_tokens AS DOUBLE), 4) AS epochs,
         |  round(2.0 * CAST(tot_tokens AS DOUBLE)
         |    * (CAST(w AS DOUBLE) / CAST(tot_w AS DOUBLE))
         |    / CAST(src_tokens AS DOUBLE), 4) > 4.0 AS repeat_warn
         |FROM w CROSS JOIN tot""".stripMargin,

    "training_mix" ->
      s"""WITH t AS (SELECT doc_id, text, $NORM AS norm, $WORDS AS words FROM documents),
         |sq AS (SELECT doc_id,
         |    round(least(len(words) / 100.0, 1.0) *
         |      (1.0 - CAST(len([w FOR w IN words
         |                       IF w IN ('the','a','of','and','to','in','is','it')]) AS DOUBLE)
         |        / len(words)), 4) AS quality,
         |    len(words) AS ws_tokens
         |  FROM t),
         |keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5($NORM)),
         |lang AS (SELECT doc_id, $LANG_CASE AS pred_lang FROM documents)
         |SELECT d.doc_id, pred_lang, quality, ws_tokens,
         |  substr(md5(text), 1, 2) AS sample_bucket
         |FROM documents d
         |JOIN keep USING (doc_id) JOIN lang USING (doc_id) JOIN sq USING (doc_id)
         |WHERE quality >= 0.05
         |  AND substr(md5(text), 1, 2) <
         |    CASE WHEN pred_lang = 'en' THEN '80'
         |         WHEN pred_lang = 'ru' THEN 'c0' ELSE 'zz' END""".stripMargin,

    "corpus_curate" -> CORPUS_CURATE_SQL,
    "corpus_curate_scale" -> CORPUS_CURATE_SCALE_SQL,

    // Mirrors the state-side CTEs of curate_incremental's oracle: the same
    // fingerprint/LM/tercile/gram statistics, reported as the one-row
    // artifact audit instead of applied to a fresh batch.
    "curation_state_report" -> {
      val lam2 = graft.operators.Curation.BigramLambda
      val lam1 = graft.operators.Curation.UnigramLambda
      s"""WITH state AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
         |fs AS (SELECT DISTINCT md5($NORM) AS fp FROM state),
         |sw AS (SELECT doc_id, $WORDS AS l FROM state),
         |stok AS (SELECT doc_id, unnest(l) AS w FROM sw),
         |stt AS (SELECT CAST(count(*) AS BIGINT) AS t,
         |               CAST(count(DISTINCT w) AS BIGINT) AS v FROM stok),
         |c1 AS (SELECT w, count(*) AS c FROM stok GROUP BY 1),
         |sbg AS (SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
         |  FROM (SELECT doc_id, l, unnest(range(1, len(l))) AS i FROM sw)),
         |c2 AS (SELECT w1, w2, count(*) AS c2 FROM sbg GROUP BY 1, 2),
         |scs AS (SELECT sbg.doc_id,
         |  -ln($lam2 * (CAST(coalesce(c2.c2, 0) + 1 AS DOUBLE)
         |        / CAST(coalesce(u1.c, 0) + v + 1 AS DOUBLE))
         |      + $lam1 * (CAST(coalesce(u2.c, 0) + 1 AS DOUBLE)
         |        / CAST(t + v + 1 AS DOUBLE))) AS s
         |  FROM sbg LEFT JOIN c2 USING (w1, w2)
         |  LEFT JOIN c1 u1 ON sbg.w1 = u1.w LEFT JOIN c1 u2 ON sbg.w2 = u2.w
         |  CROSS JOIN stt),
         |paggs AS (SELECT doc_id, round(avg(s), 6) AS avg_surprisal FROM scs GROUP BY 1),
         |b AS (SELECT quantile_cont(avg_surprisal, [${1.0 / 3}, ${2.0 / 3}]) AS bs FROM paggs),
         |bw AS (SELECT doc_id, $WORDS AS words FROM state
         |       WHERE source = '${Curation.BenchmarkSource}'),
         |bg AS (SELECT DISTINCT unnest(list_transform(range(1, len(words) - ${Curation.ContamK - 2}),
         |    i -> concat_ws(' ', words[i], words[i+1], words[i+2], words[i+3], words[i+4]))) AS g
         |  FROM bw)
         |SELECT
         |  (SELECT count(*) FROM state) AS n_docs,
         |  (SELECT count(DISTINCT source) FROM state) AS n_sources,
         |  (SELECT t FROM stt) AS total_tokens,
         |  (SELECT v FROM stt) AS vocab,
         |  (SELECT count(*) FROM fs) AS n_fp,
         |  (SELECT count(*) FROM bg) AS n_bench_grams,
         |  (SELECT round(bs[1], 6) FROM b) AS ppl_cut_1,
         |  (SELECT round(bs[2], 6) FROM b) AS ppl_cut_2""".stripMargin
    },

    "curate_incremental" -> {
      val lam2 = graft.operators.Curation.BigramLambda
      val lam1 = graft.operators.Curation.UnigramLambda
      def smoothed(bg: String) =
        s"""-ln($lam2 * (CAST(coalesce(c2.c2, 0) + 1 AS DOUBLE)
           |      / CAST(coalesce(u1.c, 0) + v + 1 AS DOUBLE))
           |    + $lam1 * (CAST(coalesce(u2.c, 0) + 1 AS DOUBLE)
           |      / CAST(t + v + 1 AS DOUBLE))) AS s
           |  FROM $bg LEFT JOIN c2 USING (w1, w2)
           |  LEFT JOIN c1 u1 ON $bg.w1 = u1.w LEFT JOIN c1 u2 ON $bg.w2 = u2.w
           |  CROSS JOIN stt""".stripMargin
      s"""WITH state AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
         |fresh AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
         |fs AS (SELECT doc_id, md5($NORM) AS fp FROM fresh),
         |ks AS (SELECT DISTINCT md5($NORM) AS fp FROM state),
         |dk AS (SELECT min(doc_id) AS doc_id FROM fs f
         |       WHERE NOT EXISTS (SELECT 1 FROM ks WHERE ks.fp = f.fp) GROUP BY fp),
         |fw AS (SELECT doc_id, $WORDS AS words FROM fresh),
         |base AS (SELECT doc_id, len(words) AS n_words, len(list_distinct(words)) AS n_uniq FROM fw),
         |bg0 AS (SELECT doc_id, unnest(list_transform(range(1, len(words)), i -> words[i] || ' ' || words[i+1])) AS g FROM fw),
         |bgc AS (SELECT doc_id, g, count(*) AS c FROM bg0 GROUP BY 1, 2),
         |topb AS (SELECT doc_id, max(c) AS top_bigram_count FROM bgc GROUP BY 1),
         |repf AS (SELECT b.doc_id,
         |    (round(1.0 - CAST(n_uniq AS DOUBLE) / n_words, 6) > ${Curation.DupWordFracMax}
         |     OR round(CAST(coalesce(top_bigram_count, 0) AS DOUBLE) / (n_words - 1), 6)
         |       > ${Curation.TopBigramFracMax}) AS repetitive
         |  FROM base b LEFT JOIN topb USING (doc_id)),
         |aw AS (SELECT doc_id, source, $WORDS AS words FROM documents
         |       WHERE source = '${Curation.BenchmarkSource}' OR doc_id % 2 = 1),
         |g5 AS (SELECT doc_id, source,
         |  unnest(list_transform(range(1, len(words) - ${Curation.ContamK - 2}),
         |    i -> concat_ws(' ', words[i], words[i+1], words[i+2], words[i+3], words[i+4]))) AS g FROM aw),
         |bench AS (SELECT DISTINCT g FROM g5 WHERE source = '${Curation.BenchmarkSource}'),
         |dg AS (SELECT DISTINCT doc_id, g FROM g5 WHERE source <> '${Curation.BenchmarkSource}'),
         |ctot AS (SELECT doc_id, count(*) AS n_grams FROM dg GROUP BY 1),
         |chit AS (SELECT doc_id, count(*) AS n_contaminated FROM dg JOIN bench USING (g) GROUP BY 1),
         |conf AS (SELECT ct.doc_id,
         |    round(CAST(coalesce(n_contaminated, 0) AS DOUBLE) / n_grams, 6)
         |      >= ${Curation.ContamFracMin} AS contaminated
         |  FROM ctot ct LEFT JOIN chit USING (doc_id)),
         |sq AS (SELECT doc_id,
         |    round(least(len(words) / 100.0, 1.0) *
         |      (1.0 - CAST(len([w FOR w IN words
         |                       IF w IN ('the','a','of','and','to','in','is','it')]) AS DOUBLE)
         |        / len(words)), 4) AS quality
         |  FROM fw),
         |sw AS (SELECT doc_id, $WORDS AS l FROM state),
         |stok AS (SELECT doc_id, unnest(l) AS w FROM sw),
         |c1 AS (SELECT w, count(*) AS c FROM stok GROUP BY 1),
         |stt AS (SELECT CAST(count(*) AS BIGINT) AS t,
         |               CAST(count(DISTINCT w) AS BIGINT) AS v FROM stok),
         |sbg AS (SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
         |  FROM (SELECT doc_id, l, unnest(range(1, len(l))) AS i FROM sw)),
         |c2 AS (SELECT w1, w2, count(*) AS c2 FROM sbg GROUP BY 1, 2),
         |fwl AS (SELECT doc_id, $WORDS AS l FROM fresh),
         |fbg AS (SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
         |  FROM (SELECT doc_id, l, unnest(range(1, len(l))) AS i FROM fwl)),
         |scs AS (SELECT sbg.doc_id, ${smoothed("sbg")}),
         |paggs AS (SELECT doc_id, round(avg(s), 6) AS avg_surprisal FROM scs GROUP BY 1),
         |b AS (SELECT quantile_cont(avg_surprisal, [${1.0 / 3}, ${2.0 / 3}]) AS bs FROM paggs),
         |scf AS (SELECT fbg.doc_id, ${smoothed("fbg")}),
         |paggf AS (SELECT doc_id, round(avg(s), 6) AS avg_surprisal FROM scf GROUP BY 1),
         |ppl AS (SELECT paggf.doc_id, avg_surprisal,
         |    CASE WHEN avg_surprisal <= bs[1] THEN 'head'
         |         WHEN avg_surprisal <= bs[2] THEN 'middle' ELSE 'tail' END AS ppl_bucket
         |  FROM paggf CROSS JOIN b),
         |pd AS (SELECT source, count(*) AS n_source FROM state GROUP BY 1),
         |dtot AS (SELECT sum(n_source) AS n_total,
         |    CAST(sum(CAST(sqrt(CAST(n_source AS DOUBLE)) AS DECIMAL(18,6))) AS DOUBLE) AS sum_w FROM pd),
         |cut AS (SELECT source,
         |    least(1.0, sqrt(CAST(n_source AS DOUBLE)) / sum_w
         |      * floor(n_total / 2) / CAST(n_source AS DOUBLE)) AS keep_prob
         |  FROM pd CROSS JOIN dtot),
         |mix AS (SELECT d.doc_id,
         |    ('0' || substr(md5(d.text), 1, 4)) <
         |      coalesce(printf('%05x', CAST(floor(c.keep_prob * 65536) AS BIGINT)), '00000')
         |      AS mix_kept
         |  FROM fresh d LEFT JOIN cut c USING (source))
         |SELECT d.doc_id, d.source,
         |  (k.doc_id IS NOT NULL) AS dedup_rep,
         |  repf.repetitive,
         |  coalesce(conf.contaminated, TRUE) AS contaminated,
         |  sq.quality,
         |  ppl.avg_surprisal,
         |  coalesce(ppl.ppl_bucket, 'tail') AS ppl_bucket,
         |  mix.mix_kept,
         |  ((k.doc_id IS NOT NULL) AND NOT repf.repetitive
         |    AND NOT coalesce(conf.contaminated, TRUE)
         |    AND sq.quality >= ${Pipeline.CurateQualityMin}
         |    AND coalesce(ppl.ppl_bucket, 'tail') <> 'tail'
         |    AND mix.mix_kept) AS keep
         |FROM fresh d
         |LEFT JOIN dk k ON d.doc_id = k.doc_id
         |JOIN repf ON d.doc_id = repf.doc_id
         |LEFT JOIN conf ON d.doc_id = conf.doc_id
         |JOIN sq ON d.doc_id = sq.doc_id
         |LEFT JOIN ppl ON d.doc_id = ppl.doc_id
         |JOIN mix ON d.doc_id = mix.doc_id""".stripMargin
    },

    "curation_report" ->
      s"""WITH cc AS ($CORPUS_CURATE_SQL)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN NOT dedup_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |  CAST(sum(CASE WHEN repetitive THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
         |  CAST(sum(CASE WHEN contaminated THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
         |  CAST(sum(CASE WHEN quality < ${Pipeline.CurateQualityMin} THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_low_quality,
         |  CAST(sum(CASE WHEN ppl_bucket = 'tail' THEN 1 ELSE 0 END) AS BIGINT) AS n_ppl_tail,
         |  CAST(sum(CASE WHEN NOT mix_kept THEN 1 ELSE 0 END) AS BIGINT) AS n_mix_dropped,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
         |  round(CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
         |    / greatest(count(*), 1), 6) AS keep_rate
         |FROM cc GROUP BY source""".stripMargin,

    "curation_funnel" ->
      s"""WITH cc AS ($CORPUS_CURATE_SQL),
         |a AS (SELECT count(*) AS n0,
         |  CAST(sum(CASE WHEN dedup_rep THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |  CAST(sum(CASE WHEN dedup_rep AND NOT repetitive THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         |  CAST(sum(CASE WHEN dedup_rep AND NOT repetitive AND NOT contaminated
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n3,
         |  CAST(sum(CASE WHEN dedup_rep AND NOT repetitive AND NOT contaminated
         |           AND quality >= ${Pipeline.CurateQualityMin} THEN 1 ELSE 0 END) AS BIGINT) AS n4,
         |  CAST(sum(CASE WHEN dedup_rep AND NOT repetitive AND NOT contaminated
         |           AND quality >= ${Pipeline.CurateQualityMin} AND ppl_bucket <> 'tail'
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n5,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n6
         |  FROM cc),
         |f AS (SELECT 1 AS stage_idx, 'dedup' AS stage, n0 AS n_in, n1 AS n_out FROM a
         |  UNION ALL SELECT 2, 'repetition', n1, n2 FROM a
         |  UNION ALL SELECT 3, 'contamination', n2, n3 FROM a
         |  UNION ALL SELECT 4, 'quality', n3, n4 FROM a
         |  UNION ALL SELECT 5, 'perplexity', n4, n5 FROM a
         |  UNION ALL SELECT 6, 'domain_mix', n5, n6 FROM a)
         |SELECT stage_idx, stage, n_in, n_out, n_in - n_out AS n_dropped,
         |  round(CAST(n_in - n_out AS DOUBLE) / greatest(n_in, 1), 6) AS drop_rate
         |FROM f""".stripMargin,

    "domain_mix" ->
      s"""WITH pd AS (SELECT source, count(*) AS n_source FROM documents GROUP BY 1),
         |tot AS (SELECT sum(n_source) AS n_total,
         |    CAST(sum(CAST(sqrt(CAST(n_source AS DOUBLE)) AS DECIMAL(18,6))) AS DOUBLE) AS sum_w FROM pd),
         |cut AS (SELECT source, n_source,
         |    least(1.0, sqrt(CAST(n_source AS DOUBLE)) / sum_w
         |      * floor(n_total / 2) / CAST(n_source AS DOUBLE)) AS keep_prob
         |  FROM pd CROSS JOIN tot)
         |SELECT d.doc_id, d.source, c.n_source,
         |  round(c.keep_prob, 6) AS keep_prob,
         |  '0' || substr(md5(d.text), 1, 4) AS bucket,
         |  ('0' || substr(md5(d.text), 1, 4)) <
         |    printf('%05x', CAST(floor(c.keep_prob * 65536) AS BIGINT)) AS kept
         |FROM documents d JOIN cut c USING (source)""".stripMargin,

    // minhash_lsh twin: the xxhash64 signature and band-key tables are
    // frozen; pair generation, the 64-slot agreement estimate and the
    // 0.5 threshold are recomputed by DuckDB. (The md5 twin additionally
    // verifies signature CONSTRUCTION with a portable hash.)
    "minhash_lsh" ->
      s"""WITH sg AS (SELECT * FROM read_parquet('${Dedup.dedupArtifactPath(VerifySf, "minhash-sigs")}/*.parquet')),
         |bk AS (SELECT * FROM read_parquet('${Dedup.dedupArtifactPath(VerifySf, "minhash-buckets")}/*.parquet')),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bk a JOIN bk b
         |           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |est AS (SELECT doc_a, doc_b,
         |    round(CAST(list_sum([CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END
         |                         FOR i IN range(1, ${Dedup.MinHashPerms + 1})]) AS DOUBLE)
         |      / ${Dedup.MinHashPerms}.0, 4) AS est_jaccard
         |  FROM cand JOIN sg sa ON cand.doc_a = sa.doc_id
         |  JOIN sg sb ON cand.doc_b = sb.doc_id)
         |SELECT doc_a, doc_b, est_jaccard FROM est WHERE est_jaccard >= 0.5""".stripMargin,

    // simhash_pairs twin: the 64-bit signatures are frozen; chunking
    // (arithmetic shift + mask — semantics verified identical in both
    // engines), the banded join, hamming and the <=6 gate are recomputed.
    "simhash_pairs" ->
      s"""WITH sg AS (SELECT * FROM read_parquet('${Dedup.dedupArtifactPath(VerifySf, "simhash-sigs")}/*.parquet')),
         |ch AS (SELECT doc_id, simhash, c AS chunk,
         |         (simhash >> (c * 16)) & 65535 AS ckey
         |       FROM sg CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS c))
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM ch a JOIN ch b
         |  ON a.chunk = b.chunk AND a.ckey = b.ckey AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 6""".stripMargin,

    // PQ / IVF-PQ twins: the ADC shortlist is the sketch boundary —
    // frozen to parquet; the oracle recomputes the exact-cosine re-rank
    // and the top-3 independently (annShortlistRerankSql).
    "ann_pq" -> annShortlistRerankSql(Similarity.annArtifactPath(VerifySf, "pq-shortlist")),
    "ann_ivfpq" -> annShortlistRerankSql(Similarity.annArtifactPath(VerifySf, "ivfpq-shortlist")),

    // two-level quantizer twins: the (vec_id, coarse, fine[, rk])
    // assignment is frozen; candidate generation, the exact cosine kernel
    // and the ranking/threshold gate are recomputed by DuckDB.
    "ann_2level" -> ANN_2LEVEL_SQL,

    // ann_eval (r13): the five per-method twins composed verbatim +
    // DuckDB's own exact top-3 — the recall table is integer set
    // intersections, so a hash match certifies the whole audit.
    "ann_eval" -> ANN_EVAL_SQL,

    // ann_exact_top3 (r14): the audit's exact side as its own entry —
    // same CTE as ANN_EVAL_SQL's `exact`, kept with cos + rn so the
    // ground-truth table is fully pinned (not just the id pairs).
    "ann_exact_top3" ->
      s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 100),
         |sc AS (SELECT q.query_id, e.vec_id AS nn_id,
         |         round(${dot("e.v", "q.qv")} / (${l2("e.v")} * ${l2("q.qv")}), 4) AS cos
         |       FROM e, q WHERE e.vec_id <> q.query_id)
         |SELECT query_id, nn_id, cos, CAST(rn AS INT) AS rn FROM (
         |  SELECT sc.*, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, nn_id) AS rn FROM sc)
         |WHERE rn <= 3""".stripMargin,

    "embedding_dedup_2level" -> EMBEDDING_DEDUP_2LEVEL_SQL,
    "embedding_dedup_blocked" -> EMBEDDING_DEDUP_2LEVEL_SQL,

    // triplet_mine_scale: positives come from the frozen two-level
    // assignment (same artifact as embedding_dedup_2level); everything
    // downstream — cosine gate, deterministic negative draw, margins —
    // is recomputed by the oracle exactly as in triplet_mine.
    "triplet_mine_scale" ->
      s"""WITH asg AS (SELECT * FROM read_parquet('${Similarity.annArtifactPath(VerifySf, "dedup2l")}/*.parquet')),
         |e AS (SELECT vec_id, embedding AS v FROM embeddings),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
         |cp AS (SELECT DISTINCT x.vec_id AS ia, y.vec_id AS ib
         |       FROM asg x JOIN asg y
         |         ON x.coarse = y.coarse AND x.fine = y.fine AND x.vec_id < y.vec_id),
         |pos AS (SELECT ia AS anchor_id, ib AS pos_id,
         |    round(${dot("a.v", "b.v")} / (${l2("a.v")} * ${l2("b.v")}), 4) AS cos_pos
         |  FROM cp JOIN e a ON cp.ia = a.vec_id JOIN e b ON cp.ib = b.vec_id
         |  WHERE round(${dot("a.v", "b.v")} / (${l2("a.v")} * ${l2("b.v")}), 4) >= 0.4),
         |hx AS (SELECT anchor_id, pos_id, cos_pos,
         |    md5('neg:' || CAST(anchor_id AS VARCHAR) || ':' || CAST(pos_id AS VARCHAR)) AS hex
         |  FROM pos),
         |d0 AS (SELECT anchor_id, pos_id, cos_pos,
         |    (${duckHex("hex", 15)}) % (n - 2) AS neg0
         |  FROM hx CROSS JOIN n),
         |d1 AS (SELECT anchor_id, pos_id, cos_pos,
         |    neg0 + CASE WHEN neg0 >= anchor_id THEN 1 ELSE 0 END AS neg1 FROM d0),
         |d2 AS (SELECT anchor_id, pos_id, cos_pos,
         |    neg1 + CASE WHEN neg1 >= pos_id THEN 1 ELSE 0 END AS neg_id FROM d1)
         |SELECT anchor_id, pos_id, neg_id, cos_pos,
         |  round(${dot("av.v", "nv.v")} / (${l2("av.v")} * ${l2("nv.v")}), 4) AS cos_neg,
         |  round(cos_pos
         |    - round(${dot("av.v", "nv.v")} / (${l2("av.v")} * ${l2("nv.v")}), 4), 4) AS margin
         |FROM d2 JOIN e av ON d2.anchor_id = av.vec_id
         |         JOIN e nv ON d2.neg_id = nv.vec_id""".stripMargin,

    // ann_lsh / ann_ivf twins read the frozen bucket/cell-assignment
    // parquet the Spark entries write (Similarity.annArtifactPath): the
    // hash/quantizer assignment is taken from the engine under test,
    // candidate generation + the exact cosine kernel + the top-3 ranking
    // are recomputed independently. Paths pinned to the verify SF (0.01).
    "ann_lsh" -> ANN_LSH_SQL,

    "ann_ivf" -> ANN_IVF_SQL,

    "ann_brute" ->
      s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
         |SELECT e.vec_id AS nn_id,
         |  round(${dot("e.v", "q.qv")} / (${l2("e.v")} * ${l2("q.qv")}), 4) AS cos
         |FROM e, q WHERE e.vec_id <> 0
         |ORDER BY cos DESC, nn_id LIMIT 5""".stripMargin,

    "nearest_neighbor" ->
      s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 100),
         |scored AS (
         |  SELECT q.query_id, e.vec_id AS nn_id,
         |    round(${dot("e.v", "q.qv")} / (${l2("e.v")} * ${l2("q.qv")}), 4) AS cos
         |  FROM e, q WHERE e.vec_id <> q.query_id)
         |SELECT query_id, nn_id, cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, nn_id) AS rn FROM scored) WHERE rn = 1""".stripMargin,

    "embedding_dedup" ->
      s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  round(${dot("a.v", "b.v")} / (${l2("a.v")} * ${l2("b.v")}), 4) AS cos
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |WHERE round(${dot("a.v", "b.v")} / (${l2("a.v")} * ${l2("b.v")}), 4) >= 0.4""".stripMargin,

    // triplet_mine: embedding_dedup's pair grain + a md5-keyed negative
    // draw through the order-statistics skip (neg0 in [0, n-3] maps
    // bijectively onto [0, n-1] \ {anchor, pos} — exact, no rejection).
    "triplet_mine" ->
      s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
         |pos AS (SELECT a.vec_id AS anchor_id, b.vec_id AS pos_id,
         |    round(${dot("a.v", "b.v")} / (${l2("a.v")} * ${l2("b.v")}), 4) AS cos_pos
         |  FROM e a JOIN e b ON a.vec_id < b.vec_id
         |  WHERE round(${dot("a.v", "b.v")} / (${l2("a.v")} * ${l2("b.v")}), 4) >= 0.4),
         |hx AS (SELECT anchor_id, pos_id, cos_pos,
         |    md5('neg:' || CAST(anchor_id AS VARCHAR) || ':' || CAST(pos_id AS VARCHAR)) AS hex
         |  FROM pos),
         |d0 AS (SELECT anchor_id, pos_id, cos_pos,
         |    (${duckHex("hex", 15)}) % (n - 2) AS neg0
         |  FROM hx CROSS JOIN n),
         |d1 AS (SELECT anchor_id, pos_id, cos_pos,
         |    neg0 + CASE WHEN neg0 >= anchor_id THEN 1 ELSE 0 END AS neg1 FROM d0),
         |d2 AS (SELECT anchor_id, pos_id, cos_pos,
         |    neg1 + CASE WHEN neg1 >= pos_id THEN 1 ELSE 0 END AS neg_id FROM d1)
         |SELECT anchor_id, pos_id, neg_id, cos_pos,
         |  round(${dot("av.v", "nv.v")} / (${l2("av.v")} * ${l2("nv.v")}), 4) AS cos_neg,
         |  round(cos_pos
         |    - round(${dot("av.v", "nv.v")} / (${l2("av.v")} * ${l2("nv.v")}), 4), 4) AS margin
         |FROM d2 JOIN e av ON d2.anchor_id = av.vec_id
         |         JOIN e nv ON d2.neg_id = nv.vec_id""".stripMargin,

    "lang_id" ->
      s"""SELECT doc_id, lang AS labeled_lang,
         |  $LANG_CASE AS pred_lang
         |FROM documents""".stripMargin,

    // temperature_mix twin (r13): the domain_mix recipe at (language ×
    // source) cell grain over TOKEN mass, alpha = 0.25 — sqrt(sqrt(t)) is
    // two correctly-rounded IEEE ops (pow(x, .25) would go through libm
    // and is not), weights decimal-snap before the cross-cell sum, and
    // the keep decision is the same 16-bit hex-bucket string compare.
    "temperature_mix" ->
      s"""WITH l AS (SELECT doc_id, text, source, $LANG_CASE AS lang,
         |             CAST(len($WORDS) AS BIGINT) AS n_tok
         |           FROM documents),
         |pc AS (SELECT lang, source, CAST(sum(n_tok) AS BIGINT) AS cell_tokens
         |       FROM l GROUP BY 1, 2),
         |tot AS (SELECT sum(cell_tokens) AS total_tokens,
         |    CAST(sum(CAST(sqrt(sqrt(CAST(cell_tokens AS DOUBLE))) AS DECIMAL(18,6))) AS DOUBLE) AS sum_w
         |  FROM pc),
         |cut AS (SELECT lang, source, cell_tokens,
         |    least(1.0, sqrt(sqrt(CAST(cell_tokens AS DOUBLE))) / sum_w
         |      * floor(total_tokens * 2 / 5) / CAST(cell_tokens AS DOUBLE)) AS keep_prob
         |  FROM pc CROSS JOIN tot)
         |SELECT l.doc_id, l.lang, l.source, c.cell_tokens,
         |  round(c.keep_prob, 6) AS keep_prob,
         |  '0' || substr(md5('tmix:' || l.text), 1, 4) AS bucket,
         |  ('0' || substr(md5('tmix:' || l.text), 1, 4)) <
         |    printf('%05x', CAST(floor(c.keep_prob * 65536) AS BIGINT)) AS kept
         |FROM l JOIN cut c USING (lang, source)""".stripMargin,

    "quality_score" ->
      s"""WITH t AS (SELECT doc_id, text, $NORM AS norm, $WORDS AS words FROM documents),
         |s AS (SELECT *,
         |  CAST(len([w FOR w IN words IF w IN ('the','a','of','and','to','in','is','it')]) AS DOUBLE)
         |    / len(words) AS stop_ratio FROM t)
         |SELECT doc_id, length(text) AS n_chars, len(words) AS n_words,
         |  round(CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(words), 4) AS avg_word_len,
         |  round(stop_ratio, 4) AS stopword_ratio,
         |  round(CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
         |    / length(text), 4) AS punct_ratio,
         |  round(least(len(words) / 100.0, 1.0) * (1.0 - stop_ratio), 4) AS quality
         |FROM s""".stripMargin,

    // quality_calibrate: percent_rank = (rank-1)/(n-1) in both engines;
    // the (quality, doc_id) ORDER BY makes ranks unique, and the decile
    // derives from the SAME 6-dp-rounded rank on both sides.
    "quality_calibrate" ->
      s"""WITH t AS (SELECT doc_id, source, $WORDS AS words FROM documents),
         |s AS (SELECT doc_id, source,
         |  CAST(len([w FOR w IN words IF w IN ('the','a','of','and','to','in','is','it')]) AS DOUBLE)
         |    / len(words) AS stop_ratio, len(words) AS nw FROM t),
         |q AS (SELECT doc_id, source,
         |  round(least(nw / 100.0, 1.0) * (1.0 - stop_ratio), 4) AS quality FROM s),
         |r AS (SELECT doc_id, source, quality,
         |  round(percent_rank() OVER (PARTITION BY source ORDER BY quality, doc_id), 6) AS q_rank
         |  FROM q)
         |SELECT doc_id, source, quality, q_rank,
         |  CAST(least(floor(q_rank * 10), 9) AS INT) AS decile FROM r""".stripMargin,

    "corpus_stats" ->
      s"""WITH t AS (SELECT source, text, $WORDS AS words FROM documents),
         |s AS (SELECT source,
         |  $LANG_CASE AS lang,
         |  len(words) AS toks,
         |  length(text) AS chars,
         |  round(least(len(words) / 100.0, 1.0) *
         |    (1.0 - CAST(len([w FOR w IN words IF w IN ('the','a','of','and','to','in','is','it')]) AS DOUBLE)
         |      / len(words)), 4) AS q
         |  FROM t)
         |SELECT source, lang, count(*) AS n_docs,
         |  CAST(sum(toks) AS BIGINT) AS total_tokens,
         |  CAST(sum(chars) AS BIGINT) AS total_chars,
         |  round(CAST(sum(CAST(q AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS avg_quality,
         |  CAST(min(toks) AS BIGINT) AS min_tokens,
         |  CAST(max(toks) AS BIGINT) AS max_tokens
         |FROM s GROUP BY 1, 2""".stripMargin,

    "token_count" ->
      raw"""SELECT doc_id,
           |  len($WORDS) AS ws_tokens,
           |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS re_tokens,
           |  len(list_distinct($WORDS)) AS uniq_tokens
           |FROM documents""".stripMargin,

    "fingerprint" ->
      s"""SELECT doc_id, md5($NORM) AS content_fp,
         |  md5(array_to_string(list_sort(list_distinct($WORDS)), ' ')) AS bow_fp
         |FROM documents""".stripMargin,

    "repetition_signals" ->
      s"""WITH w AS (SELECT doc_id, $WORDS AS l FROM documents),
         |base AS (SELECT doc_id, len(l) AS n_words, len(list_distinct(l)) AS n_uniq FROM w),
         |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])) AS g FROM w),
         |bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
         |topb AS (SELECT doc_id, max(c) AS top_bigram_count FROM bgc GROUP BY 1)
         |SELECT b.doc_id, n_words,
         |  round(1.0 - CAST(n_uniq AS DOUBLE) / n_words, 6) AS dup_word_frac,
         |  coalesce(top_bigram_count, 0) AS top_bigram_count,
         |  round(CAST(coalesce(top_bigram_count, 0) AS DOUBLE) / (n_words - 1), 6) AS top_bigram_frac,
         |  (round(1.0 - CAST(n_uniq AS DOUBLE) / n_words, 6) > ${Curation.DupWordFracMax}
         |    OR round(CAST(coalesce(top_bigram_count, 0) AS DOUBLE) / (n_words - 1), 6) > ${Curation.TopBigramFracMax})
         |    AS repetitive
         |FROM base b LEFT JOIN topb t ON b.doc_id = t.doc_id""".stripMargin,

    "contamination" ->
      s"""WITH w AS (SELECT doc_id, source, $WORDS AS l FROM documents),
         |g AS (SELECT doc_id, source,
         |  unnest(list_transform(range(1, len(l) - ${Curation.ContamK - 2}),
         |    i -> concat_ws(' ', l[i], l[i+1], l[i+2], l[i+3], l[i+4]))) AS g FROM w),
         |bench AS (SELECT DISTINCT g FROM g WHERE source = '${Curation.BenchmarkSource}'),
         |dg AS (SELECT DISTINCT doc_id, g FROM g WHERE source <> '${Curation.BenchmarkSource}'),
         |tot AS (SELECT doc_id, count(*) AS n_grams FROM dg GROUP BY 1),
         |hit AS (SELECT doc_id, count(*) AS n_contaminated FROM dg JOIN bench USING (g) GROUP BY 1)
         |SELECT t.doc_id, n_grams,
         |  coalesce(n_contaminated, 0) AS n_contaminated,
         |  round(CAST(coalesce(n_contaminated, 0) AS DOUBLE) / n_grams, 6) AS contamination_frac,
         |  round(CAST(coalesce(n_contaminated, 0) AS DOUBLE) / n_grams, 6) >= ${Curation.ContamFracMin}
         |    AS contaminated
         |FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id""".stripMargin,

    // contamination_semantic twin: per benchmark vector, the closest
    // non-benchmark corpus vector by cosine — argmax as rn=1 over
    // (cos DESC, doc_id), mirroring Spark's struct-max (cos, -doc_id).
    "contamination_semantic" ->
      s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
         |d AS (SELECT doc_id, source FROM documents),
         |j AS (SELECT vec_id, v, source FROM e JOIN d ON vec_id = doc_id
         |      WHERE ${l2("v")} > 0),
         |b AS (SELECT vec_id AS bench_id, v AS bv FROM j
         |      WHERE source = '${Curation.BenchmarkSource}'
         |      ORDER BY bench_id LIMIT ${Similarity.SemanticBenchK}),
         |c AS (SELECT vec_id AS cid, v FROM j WHERE source <> '${Curation.BenchmarkSource}'),
         |sc AS (SELECT bench_id, cid,
         |         round(${dot("c.v", "b.bv")} / (${l2("c.v")} * ${l2("b.bv")}), 4) AS cos
         |       FROM c, b)
         |SELECT bench_id, cid AS doc_id, cos FROM (
         |  SELECT sc.*, row_number() OVER (PARTITION BY bench_id
         |    ORDER BY cos DESC, cid) AS rn FROM sc) WHERE rn = 1""".stripMargin,

    "pii_scrub" ->
      raw"""WITH r AS (SELECT doc_id,
           |  text || ' contact user' || CAST(doc_id AS VARCHAR)
           |    || '@example.com from 10.' || CAST(doc_id % 200 AS VARCHAR)
           |    || '.0.1 call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(raw, '${Curation.EmailRe}')) AS INT) AS n_emails,
           |  CAST(len(regexp_extract_all(raw, '${Curation.Ipv4Re}')) AS INT) AS n_ips,
           |  CAST(len(regexp_extract_all(raw, '${Curation.PhoneRe}')) AS INT) AS n_phones,
           |  regexp_replace(regexp_replace(regexp_replace(raw,
           |    '${Curation.EmailRe}', '<EMAIL>', 'g'),
           |    '${Curation.Ipv4Re}', '<IP>', 'g'),
           |    '${Curation.PhoneRe}', '<PHONE>', 'g') AS clean_text,
           |  length(regexp_replace(regexp_replace(regexp_replace(raw,
           |    '${Curation.EmailRe}', '<EMAIL>', 'g'),
           |    '${Curation.Ipv4Re}', '<IP>', 'g'),
           |    '${Curation.PhoneRe}', '<PHONE>', 'g')) AS clean_len
           |FROM r""".stripMargin,

    "signal_projection" ->
      s"""WITH t AS (SELECT doc_id, text, $WORDS AS words FROM documents)
         |SELECT doc_id,
         |  $LANG_CASE AS pred_lang,
         |  round(least(len(words) / 100.0, 1.0) *
         |    (1.0 - CAST(len([w FOR w IN words
         |                     IF w IN ('the','a','of','and','to','in','is','it')]) AS DOUBLE)
         |      / len(words)), 4) AS quality,
         |  len(words) AS ws_tokens,
         |  CAST(len(regexp_extract_all(text, '${Curation.EmailRe}'))
         |    + len(regexp_extract_all(text, '${Curation.Ipv4Re}'))
         |    + len(regexp_extract_all(text, '${Curation.PhoneRe}')) AS INT) AS n_pii,
         |  length(regexp_replace(regexp_replace(regexp_replace(text,
         |    '${Curation.EmailRe}', '<EMAIL>', 'g'),
         |    '${Curation.Ipv4Re}', '<IP>', 'g'),
         |    '${Curation.PhoneRe}', '<PHONE>', 'g')) AS clean_len
         |FROM t""".stripMargin,

    "unigram_surprisal" ->
      s"""WITH tok AS (SELECT doc_id, unnest($WORDS) AS w FROM documents),
         |vocab AS (SELECT w, count(*) AS cw FROM tok GROUP BY 1),
         |tot AS (SELECT count(*) AS t FROM tok)
         |SELECT doc_id, count(*) AS n_tokens,
         |  round(avg(-ln(CAST(cw AS DOUBLE) / t)), 6) AS avg_surprisal
         |FROM tok JOIN vocab USING (w) CROSS JOIN tot
         |GROUP BY doc_id""".stripMargin,

    "heldout_surprisal" ->
      s"""WITH h AS (SELECT doc_id,
         |        CAST(${duckHex("md5('split:' || CAST(doc_id AS VARCHAR))", 8)} % 100
         |          AS BIGINT) AS bucket FROM documents),
         |sp AS (SELECT doc_id, CASE WHEN bucket < 90 THEN 'train'
         |         WHEN bucket < 95 THEN 'valid' ELSE 'test' END AS split FROM h),
         |ttok AS (SELECT unnest($WORDS) AS w
         |         FROM documents JOIN sp USING (doc_id) WHERE split = 'train'),
         |vocab AS (SELECT w, count(*) AS cw FROM ttok GROUP BY 1),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS t,
         |              CAST(count(DISTINCT w) AS BIGINT) AS v FROM ttok),
         |vtok AS (SELECT doc_id, unnest($WORDS) AS w
         |         FROM documents JOIN sp USING (doc_id) WHERE split = 'valid')
         |SELECT doc_id, count(*) AS n_tokens,
         |  CAST(sum(CASE WHEN cw IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |  round(avg(-ln(CAST(coalesce(cw, 0) + 1 AS DOUBLE)
         |    / CAST(t + v + 1 AS DOUBLE))), 6) AS avg_surprisal
         |FROM vtok LEFT JOIN vocab USING (w) CROSS JOIN st
         |GROUP BY doc_id""".stripMargin,

    "bigram_surprisal" ->
      s"""WITH $BIGRAM_SCORES_CTES
         |SELECT doc_id, n_bigrams, avg_surprisal,
         |  CASE ntile(3) OVER (ORDER BY avg_surprisal, doc_id)
         |    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
         |FROM agg""".stripMargin,

    // The scale twin recomputes scores INDEPENDENTLY and applies the
    // frozen percentile_approx cutoffs from the parquet artifact the
    // Spark entry wrote (Curation.pplCutsPath; the bpe_tokenize pattern —
    // only the sketch boundary itself is taken from the engine under
    // test, everything downstream is verified). Path pinned to the
    // driver's verify SF (0.01).
    "bigram_surprisal_scale" ->
      s"""WITH $BIGRAM_SCORES_CTES,
         |cut AS (SELECT cut1, cut2
         |  FROM read_parquet('${Curation.pplCutsPath(VerifySf, "bigram")}/*.parquet'))
         |SELECT doc_id, n_bigrams, avg_surprisal,
         |  CASE WHEN avg_surprisal <= cut1 THEN 'head'
         |       WHEN avg_surprisal <= cut2 THEN 'middle'
         |       ELSE 'tail' END AS ppl_bucket
         |FROM agg CROSS JOIN cut""".stripMargin,

    "sequence_pack" ->
      s"""WITH sized AS (SELECT doc_id,
         |    substr(md5($NORM), 1, 2) AS bucket,
         |    len($WORDS) AS n_tokens
         |  FROM documents),
         |packed AS (SELECT doc_id, bucket, n_tokens,
         |    coalesce(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_excl
         |  FROM sized)
         |SELECT doc_id, bucket, n_tokens,
         |  CAST(cum_excl // ${Curation.PackBudget} AS BIGINT) AS bin,
         |  CAST(cum_excl % ${Curation.PackBudget} AS BIGINT) AS bin_offset
         |FROM packed""".stripMargin,

    // pack_assemble: the sequence_pack CTE chain + ordered reassembly of
    // each (bucket, bin)'s normalized texts into one training example.
    "pack_assemble" ->
      s"""WITH sized AS (SELECT doc_id,
         |    substr(md5($NORM), 1, 2) AS bucket,
         |    len($WORDS) AS n_tokens,
         |    $NORM AS nt
         |  FROM documents),
         |packed AS (SELECT doc_id, bucket, n_tokens, nt,
         |    coalesce(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_excl
         |  FROM sized)
         |SELECT bucket, CAST(cum_excl // ${Curation.PackBudget} AS BIGINT) AS bin,
         |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  string_agg(nt, '${Curation.PackSep}'
         |    ORDER BY cum_excl % ${Curation.PackBudget}, doc_id) AS seq_text
         |FROM packed GROUP BY 1, 2""".stripMargin,

    "segment_dedup" ->
      s"""WITH w AS (SELECT doc_id, $WORDS AS l FROM documents),
         |seg AS (SELECT doc_id, s.s AS seg,
         |    array_to_string(l[(s.s * ${Curation.SegWords} + 1):(s.s * ${Curation.SegWords} + ${Curation.SegWords})], ' ') AS seg_text
         |  FROM w, LATERAL (SELECT unnest(range(0,
         |    CAST(ceil(len(l) / ${Curation.SegWords}.0) AS BIGINT))) AS s) s),
         |mark AS (SELECT doc_id, seg, seg_text,
         |    row_number() OVER (PARTITION BY seg_text ORDER BY doc_id, seg) = 1 AS kept
         |  FROM seg)
         |SELECT doc_id, count(*) AS n_segs,
         |  CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
         |  coalesce(string_agg(CASE WHEN kept THEN seg_text END, ' ' ORDER BY seg), '') AS clean_text
         |FROM mark GROUP BY doc_id""".stripMargin,

    // substring_dedup (r14): artifact-free — md5 window keys are
    // engine-portable, so DuckDB recomputes the whole pipeline (planted
    // passage injected identically, k-gram windows, first-doc table,
    // covered-position expansion, anti-join, ordered reassembly) from
    // base parquet. NOT EXISTS per the playbook (never NOT IN (SELECT)).
    "substring_dedup" -> {
      val k = Dedup.SubstringK
      s"""WITH base AS (SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 3
         |         THEN text || ' ${Dedup.SubstringPassage} tail' || CAST(doc_id AS VARCHAR)
         |         ELSE text END AS text
         |  FROM documents),
         |w AS (SELECT doc_id, $WORDS AS l FROM base),
         |kg AS (SELECT doc_id, i,
         |         md5(array_to_string(list_slice(l, i, i + ${k - 1}), ' ')) AS g
         |       FROM (SELECT doc_id, l, unnest(range(1, len(l) - $k + 2)) AS i
         |             FROM w WHERE len(l) >= $k)),
         |fd AS (SELECT g, min(doc_id) AS first_doc FROM kg GROUP BY 1),
         |dw AS (SELECT kg.doc_id, kg.i FROM kg JOIN fd USING (g)
         |       WHERE kg.doc_id > fd.first_doc),
         |cov AS (SELECT DISTINCT doc_id, i + o AS pos
         |        FROM dw CROSS JOIN (SELECT unnest(range(0, $k)) AS o) os),
         |tok AS (SELECT doc_id, i AS pos, l[i] AS tok
         |        FROM (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i FROM w)),
         |kept AS (SELECT t.doc_id, t.pos, t.tok FROM tok t WHERE NOT EXISTS
         |         (SELECT 1 FROM cov c WHERE c.doc_id = t.doc_id AND c.pos = t.pos)),
         |cl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |         string_agg(tok, ' ' ORDER BY pos) AS clean_text
         |       FROM kept GROUP BY 1)
         |SELECT w.doc_id, CAST(len(l) AS BIGINT) AS n_tokens,
         |  CAST(len(l) - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
         |  coalesce(clean_text, '') AS clean_text
         |FROM w LEFT JOIN cl USING (doc_id)""".stripMargin
    },

    // substring_dedup_incremental (r14): batch docs dedup against the
    // prior corpus's distinct-gram presence index (prior always wins)
    // plus keep-first within the batch; only batch docs are emitted.
    "substring_dedup_incremental" -> {
      val k = Dedup.SubstringK
      s"""WITH base AS (SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 3
         |         THEN text || ' ${Dedup.SubstringPassage} tail' || CAST(doc_id AS VARCHAR)
         |         ELSE text END AS text
         |  FROM documents),
         |wp AS (SELECT doc_id, $WORDS AS l FROM base WHERE doc_id % 5 <> 2),
         |wb AS (SELECT doc_id, $WORDS AS l FROM base WHERE doc_id % 5 = 2),
         |pidx AS (SELECT DISTINCT
         |           md5(array_to_string(list_slice(l, i, i + ${k - 1}), ' ')) AS g
         |         FROM (SELECT l, unnest(range(1, len(l) - $k + 2)) AS i
         |               FROM wp WHERE len(l) >= $k)),
         |bg AS (SELECT doc_id, i,
         |         md5(array_to_string(list_slice(l, i, i + ${k - 1}), ' ')) AS g
         |       FROM (SELECT doc_id, l, unnest(range(1, len(l) - $k + 2)) AS i
         |             FROM wb WHERE len(l) >= $k)),
         |fd AS (SELECT g, min(doc_id) AS first_doc FROM bg GROUP BY 1),
         |dw AS (SELECT bg.doc_id, bg.i FROM bg
         |         WHERE EXISTS (SELECT 1 FROM pidx WHERE pidx.g = bg.g)
         |       UNION
         |       SELECT bg.doc_id, bg.i FROM bg JOIN fd USING (g)
         |         WHERE bg.doc_id > fd.first_doc),
         |cov AS (SELECT DISTINCT doc_id, i + o AS pos
         |        FROM dw CROSS JOIN (SELECT unnest(range(0, $k)) AS o) os),
         |tok AS (SELECT doc_id, i AS pos, l[i] AS tok
         |        FROM (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i FROM wb)),
         |kept AS (SELECT t.doc_id, t.pos, t.tok FROM tok t WHERE NOT EXISTS
         |         (SELECT 1 FROM cov c WHERE c.doc_id = t.doc_id AND c.pos = t.pos)),
         |cl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |         string_agg(tok, ' ' ORDER BY pos) AS clean_text
         |       FROM kept GROUP BY 1)
         |SELECT wb.doc_id, CAST(len(l) AS BIGINT) AS n_tokens,
         |  CAST(len(l) - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
         |  coalesce(clean_text, '') AS clean_text
         |FROM wb LEFT JOIN cl USING (doc_id)""".stripMargin
    },

    // gram_index_compact (r15): the compacted bucketed index content is
    // the distinct gram set of the pre-watermark ingest epochs (doc_id %
    // 5 in {0,1,3}); DuckDB rebuilds it from base parquet, so the hash
    // covers sink partials + distinct + bucketed write end to end.
    "gram_index_compact" -> {
      val k = Dedup.SubstringK
      s"""WITH base AS (SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 3
         |         THEN text || ' ${Dedup.SubstringPassage} tail' || CAST(doc_id AS VARCHAR)
         |         ELSE text END AS text
         |  FROM documents),
         |wp AS (SELECT doc_id, $WORDS AS l FROM base WHERE doc_id % 5 IN (0, 1, 3))
         |SELECT DISTINCT md5(array_to_string(list_slice(l, i, i + ${k - 1}), ' ')) AS g
         |FROM (SELECT l, unnest(range(1, len(l) - $k + 2)) AS i
         |      FROM wp WHERE len(l) >= $k)""".stripMargin
    },

    // gram_index_purge (r15): the refcounted index after publish(+1)/
    // purge(-1) epochs must equal the index REBUILT from the live corpus
    // alone. Purged docs (prior passage carriers, doc_id % 7 = 3) are
    // excluded on the twin side; the remaining live prior docs carry no
    // injected text, so the twin reads base parquet directly.
    "gram_index_purge" -> {
      val k = Dedup.SubstringK
      s"""WITH w AS (SELECT doc_id, $WORDS AS l FROM documents
         |           WHERE doc_id % 5 <> 2 AND doc_id % 7 <> 3),
         |kg AS (SELECT DISTINCT doc_id,
         |         md5(array_to_string(list_slice(l, i, i + ${k - 1}), ' ')) AS g
         |       FROM (SELECT doc_id, l, unnest(range(1, len(l) - $k + 2)) AS i
         |             FROM w WHERE len(l) >= $k))
         |SELECT g, CAST(count(*) AS BIGINT) AS cnt FROM kg GROUP BY 1""".stripMargin
    },

    // substring_dedup_purged (r15): incremental serve against the PURGED
    // index — prior side excludes the purged passage carriers, so the
    // batch's first carrier keeps its planted passage (in-batch
    // keep-first only). Full recompute from base parquet.
    "substring_dedup_purged" -> {
      val k = Dedup.SubstringK
      s"""WITH base AS (SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 3
         |         THEN text || ' ${Dedup.SubstringPassage} tail' || CAST(doc_id AS VARCHAR)
         |         ELSE text END AS text
         |  FROM documents),
         |wp AS (SELECT doc_id, $WORDS AS l FROM base
         |       WHERE doc_id % 5 <> 2 AND doc_id % 7 <> 3),
         |wb AS (SELECT doc_id, $WORDS AS l FROM base WHERE doc_id % 5 = 2),
         |pidx AS (SELECT DISTINCT
         |           md5(array_to_string(list_slice(l, i, i + ${k - 1}), ' ')) AS g
         |         FROM (SELECT l, unnest(range(1, len(l) - $k + 2)) AS i
         |               FROM wp WHERE len(l) >= $k)),
         |bg AS (SELECT doc_id, i,
         |         md5(array_to_string(list_slice(l, i, i + ${k - 1}), ' ')) AS g
         |       FROM (SELECT doc_id, l, unnest(range(1, len(l) - $k + 2)) AS i
         |             FROM wb WHERE len(l) >= $k)),
         |fd AS (SELECT g, min(doc_id) AS first_doc FROM bg GROUP BY 1),
         |dw AS (SELECT bg.doc_id, bg.i FROM bg
         |         WHERE EXISTS (SELECT 1 FROM pidx WHERE pidx.g = bg.g)
         |       UNION
         |       SELECT bg.doc_id, bg.i FROM bg JOIN fd USING (g)
         |         WHERE bg.doc_id > fd.first_doc),
         |cov AS (SELECT DISTINCT doc_id, i + o AS pos
         |        FROM dw CROSS JOIN (SELECT unnest(range(0, $k)) AS o) os),
         |tok AS (SELECT doc_id, i AS pos, l[i] AS tok
         |        FROM (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i FROM wb)),
         |kept AS (SELECT t.doc_id, t.pos, t.tok FROM tok t WHERE NOT EXISTS
         |         (SELECT 1 FROM cov c WHERE c.doc_id = t.doc_id AND c.pos = t.pos)),
         |cl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |         string_agg(tok, ' ' ORDER BY pos) AS clean_text
         |       FROM kept GROUP BY 1)
         |SELECT wb.doc_id, CAST(len(l) AS BIGINT) AS n_tokens,
         |  CAST(len(l) - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
         |  coalesce(clean_text, '') AS clean_text
         |FROM wb LEFT JOIN cl USING (doc_id)""".stripMargin
    },

    // substring_dedup_serve (r15): the bucketed-index serve path is
    // semantically identical to substring_dedup_incremental (gram
    // presence is additive across compacted + fresh partials), so the
    // twin is the same full-recompute pipeline from base parquet — the
    // hash proves the compaction/fresh split changed nothing.
    "substring_dedup_serve" -> {
      val k = Dedup.SubstringK
      s"""WITH base AS (SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 3
         |         THEN text || ' ${Dedup.SubstringPassage} tail' || CAST(doc_id AS VARCHAR)
         |         ELSE text END AS text
         |  FROM documents),
         |wp AS (SELECT doc_id, $WORDS AS l FROM base WHERE doc_id % 5 <> 2),
         |wb AS (SELECT doc_id, $WORDS AS l FROM base WHERE doc_id % 5 = 2),
         |pidx AS (SELECT DISTINCT
         |           md5(array_to_string(list_slice(l, i, i + ${k - 1}), ' ')) AS g
         |         FROM (SELECT l, unnest(range(1, len(l) - $k + 2)) AS i
         |               FROM wp WHERE len(l) >= $k)),
         |bg AS (SELECT doc_id, i,
         |         md5(array_to_string(list_slice(l, i, i + ${k - 1}), ' ')) AS g
         |       FROM (SELECT doc_id, l, unnest(range(1, len(l) - $k + 2)) AS i
         |             FROM wb WHERE len(l) >= $k)),
         |fd AS (SELECT g, min(doc_id) AS first_doc FROM bg GROUP BY 1),
         |dw AS (SELECT bg.doc_id, bg.i FROM bg
         |         WHERE EXISTS (SELECT 1 FROM pidx WHERE pidx.g = bg.g)
         |       UNION
         |       SELECT bg.doc_id, bg.i FROM bg JOIN fd USING (g)
         |         WHERE bg.doc_id > fd.first_doc),
         |cov AS (SELECT DISTINCT doc_id, i + o AS pos
         |        FROM dw CROSS JOIN (SELECT unnest(range(0, $k)) AS o) os),
         |tok AS (SELECT doc_id, i AS pos, l[i] AS tok
         |        FROM (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i FROM wb)),
         |kept AS (SELECT t.doc_id, t.pos, t.tok FROM tok t WHERE NOT EXISTS
         |         (SELECT 1 FROM cov c WHERE c.doc_id = t.doc_id AND c.pos = t.pos)),
         |cl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |         string_agg(tok, ' ' ORDER BY pos) AS clean_text
         |       FROM kept GROUP BY 1)
         |SELECT wb.doc_id, CAST(len(l) AS BIGINT) AS n_tokens,
         |  CAST(len(l) - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
         |  coalesce(clean_text, '') AS clean_text
         |FROM wb LEFT JOIN cl USING (doc_id)""".stripMargin
    },

    // decontaminate_substring (r14): training docs lose every window
    // whose gram exists in the benchmark's distinct-gram set — NO
    // intra-batch rule; both planted passages replicated verbatim.
    "decontaminate_substring" -> {
      val k = Dedup.SubstringK
      s"""WITH bw AS (SELECT doc_id,
         |    string_split(lower(trim(regexp_replace(text || ' ${Dedup.DecontamPassage}', '\\s+', ' ', 'g'))), ' ') AS l
         |  FROM documents WHERE source = '${Curation.BenchmarkSource}'),
         |tw AS (SELECT doc_id,
         |    string_split(lower(trim(regexp_replace(
         |      CASE WHEN doc_id % 9 = 4
         |           THEN text || ' ${Dedup.DecontamPassage} trail' || CAST(doc_id AS VARCHAR)
         |           ELSE text END, '\\s+', ' ', 'g'))), ' ') AS l
         |  FROM documents WHERE source <> '${Curation.BenchmarkSource}'),
         |pidx AS (SELECT DISTINCT
         |           md5(array_to_string(list_slice(l, i, i + ${k - 1}), ' ')) AS g
         |         FROM (SELECT l, unnest(range(1, len(l) - $k + 2)) AS i
         |               FROM bw WHERE len(l) >= $k)),
         |bg AS (SELECT doc_id, i,
         |         md5(array_to_string(list_slice(l, i, i + ${k - 1}), ' ')) AS g
         |       FROM (SELECT doc_id, l, unnest(range(1, len(l) - $k + 2)) AS i
         |             FROM tw WHERE len(l) >= $k)),
         |dw AS (SELECT bg.doc_id, bg.i FROM bg
         |       WHERE EXISTS (SELECT 1 FROM pidx WHERE pidx.g = bg.g)),
         |cov AS (SELECT DISTINCT doc_id, i + o AS pos
         |        FROM dw CROSS JOIN (SELECT unnest(range(0, $k)) AS o) os),
         |tok AS (SELECT doc_id, i AS pos, l[i] AS tok
         |        FROM (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i FROM tw)),
         |kept AS (SELECT t.doc_id, t.pos, t.tok FROM tok t WHERE NOT EXISTS
         |         (SELECT 1 FROM cov c WHERE c.doc_id = t.doc_id AND c.pos = t.pos)),
         |cl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |         string_agg(tok, ' ' ORDER BY pos) AS clean_text
         |       FROM kept GROUP BY 1)
         |SELECT tw.doc_id, CAST(len(l) AS BIGINT) AS n_tokens,
         |  CAST(len(l) - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
         |  coalesce(clean_text, '') AS clean_text
         |FROM tw LEFT JOIN cl USING (doc_id)""".stripMargin
    },

    // boilerplate_strip shares segment_dedup's segment grid; the policy
    // differs (df >= BoilerplateDocFreq removes the segment EVERYWHERE,
    // keep-first keeps one copy) so the mark CTE is the only change.
    "boilerplate_strip" ->
      s"""WITH w AS (SELECT doc_id, $WORDS AS l FROM documents),
         |seg AS (SELECT doc_id, s.s AS seg,
         |    array_to_string(l[(s.s * ${Curation.SegWords} + 1):(s.s * ${Curation.SegWords} + ${Curation.SegWords})], ' ') AS seg_text
         |  FROM w, LATERAL (SELECT unnest(range(0,
         |    CAST(ceil(len(l) / ${Curation.SegWords}.0) AS BIGINT))) AS s) s),
         |hot AS (SELECT seg_text FROM seg GROUP BY seg_text
         |        HAVING count(DISTINCT doc_id) >= ${Curation.BoilerplateDocFreq}),
         |mark AS (SELECT doc_id, seg, seg_text,
         |    NOT EXISTS (SELECT 1 FROM hot WHERE hot.seg_text = seg.seg_text) AS kept
         |  FROM seg)
         |SELECT doc_id, count(*) AS n_segs,
         |  CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
         |  coalesce(string_agg(CASE WHEN kept THEN seg_text END, ' ' ORDER BY seg), '') AS clean_text
         |FROM mark GROUP BY doc_id""".stripMargin,

    "equidepth_hist" ->
      s"""WITH b AS (SELECT quantile_cont(CAST(l_extendedprice AS DOUBLE),
         |             [${(1 to 9).map(i => s"0.$i").mkString(", ")}]) AS bs FROM lineitem),
         |a AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x,
         |        (${(1 to 9).map(i => s"CASE WHEN CAST(l_extendedprice AS DOUBLE) >= bs[$i] THEN 1 ELSE 0 END").mkString(" + ")}) AS bucket
         |      FROM lineitem, b)
         |SELECT CAST(bucket AS INT) AS bucket, CAST(count(*) AS BIGINT) AS n,
         |  min(x) AS lo, max(x) AS hi
         |FROM a GROUP BY 1""".stripMargin,

    "selectivity_estimate" -> {
      val predsSql = R.SelPredicates
        .map { case (id, lo, hi) =>
          s"SELECT $id AS pred_id, CAST($lo AS DOUBLE) AS lo, CAST($hi AS DOUBLE) AS hi" }
        .mkString(" UNION ALL ")
      def passed(v: String) =
        s"LEAST(9, ${(1 to 9).map(i => s"CASE WHEN $v >= bs[$i] THEN 1 ELSE 0 END").mkString(" + ")})"
      def cdf(j: String, v: String) =
        s"""(CAST($j AS DOUBLE) + CASE
           |      WHEN (CASE WHEN $j = 9 THEN mx ELSE bs[$j + 1] END)
           |           > (CASE WHEN $j = 0 THEN mn ELSE bs[$j] END)
           |      THEN LEAST(1.0, GREATEST(0.0,
           |        ($v - (CASE WHEN $j = 0 THEN mn ELSE bs[$j] END))
           |        / ((CASE WHEN $j = 9 THEN mx ELSE bs[$j + 1] END)
           |           - (CASE WHEN $j = 0 THEN mn ELSE bs[$j] END))))
           |      ELSE CASE WHEN $v >= (CASE WHEN $j = 0 THEN mn ELSE bs[$j] END)
           |           THEN 1.0 ELSE 0.0 END END) / 10.0""".stripMargin
      s"""WITH li AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem),
         |b AS (SELECT quantile_cont(x, [${(1 to 9).map(i => s"0.$i").mkString(", ")}]) AS bs
         |      FROM li),
         |st AS (SELECT min(x) AS mn, max(x) AS mx, CAST(count(*) AS BIGINT) AS n FROM li),
         |p AS ($predsSql),
         |j AS (SELECT pred_id, lo, hi, bs, mn, mx, n,
         |        ${passed("lo")} AS jlo, ${passed("hi")} AS jhi
         |      FROM p CROSS JOIN b CROSS JOIN st),
         |e AS (SELECT pred_id, lo, hi, n,
         |        round(n * (${cdf("jhi", "hi")} - ${cdf("jlo", "lo")}), 2) AS est_rows
         |      FROM j),
         |act AS (SELECT pred_id, CAST(count(*) AS BIGINT) AS actual_rows
         |        FROM li JOIN p ON x >= lo AND x < hi GROUP BY 1)
         |SELECT e.pred_id, e.lo, e.hi, e.est_rows,
         |  coalesce(actual_rows, 0) AS actual_rows,
         |  round(abs(e.est_rows - CAST(coalesce(actual_rows, 0) AS DOUBLE))
         |    / CAST(n AS DOUBLE), 6) AS abs_err_frac
         |FROM e LEFT JOIN act USING (pred_id)""".stripMargin
    },

    // rollup_incremental: the oracle is the DIRECT recompute — the Spark
    // side runs the split-partials-and-merge path, so the hash match IS
    // the merged==direct equivalence proof.
    "rollup_incremental" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS order_year, o_orderpriority,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders GROUP BY 1, 2""".stripMargin,

    "dq_audit" ->
      """SELECT 'customer' AS tbl, 'row_count' AS metric, CAST(count(*) AS BIGINT) AS value FROM customer
        |UNION ALL SELECT 'customer', 'dup_custkey', CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT) FROM customer
        |UNION ALL SELECT 'customer', 'null_name', CAST(count(CASE WHEN c_name IS NULL THEN 1 END) AS BIGINT) FROM customer
        |UNION ALL SELECT 'orders', 'row_count', CAST(count(*) AS BIGINT) FROM orders
        |UNION ALL SELECT 'orders', 'null_custkey', CAST(count(CASE WHEN o_custkey IS NULL THEN 1 END) AS BIGINT) FROM orders
        |UNION ALL SELECT 'orders', 'dup_orderkey', CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) FROM orders
        |UNION ALL SELECT 'orders', 'negative_total', CAST(count(CASE WHEN o_totalprice < 0 THEN 1 END) AS BIGINT) FROM orders
        |UNION ALL SELECT 'orders', 'null_orderdate', CAST(count(CASE WHEN o_orderdate IS NULL THEN 1 END) AS BIGINT) FROM orders
        |UNION ALL SELECT 'lineitem', 'row_count', CAST(count(*) AS BIGINT) FROM lineitem
        |UNION ALL SELECT 'lineitem', 'qty_out_of_range', CAST(count(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 END) AS BIGINT) FROM lineitem
        |UNION ALL SELECT 'lineitem', 'negative_price', CAST(count(CASE WHEN l_extendedprice < 0 THEN 1 END) AS BIGINT) FROM lineitem
        |UNION ALL SELECT 'lineitem', 'discount_out_of_range', CAST(count(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 END) AS BIGINT) FROM lineitem
        |UNION ALL SELECT 'orders', 'orphan_custkey', CAST(count(*) AS BIGINT) FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE o.o_custkey = c.c_custkey)
        |UNION ALL SELECT 'lineitem', 'orphan_orderkey', CAST(count(*) AS BIGINT) FROM lineitem l
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o2 WHERE l.l_orderkey = o2.o_orderkey)""".stripMargin,

    "skew_report" ->
      s"""WITH pk AS (SELECT user_id AS k, count(*) AS n FROM events GROUP BY 1),
         |cls AS (SELECT $SKEW_CLASS_CASE AS size_class, $SKEW_CAP_CASE AS class_cap, n FROM pk),
         |byc AS (SELECT size_class, class_cap, count(*) AS n_keys,
         |          CAST(sum(n) AS BIGINT) AS rows_in_class,
         |          CAST(max(n) AS BIGINT) AS max_key_rows
         |        FROM cls GROUP BY 1, 2),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total_rows FROM pk)
         |SELECT size_class, class_cap, n_keys, rows_in_class, max_key_rows,
         |  round(CAST(rows_in_class AS DOUBLE) / CAST(total_rows AS DOUBLE), 6) AS share
         |FROM byc CROSS JOIN tot""".stripMargin,

    "rtbf_purge" ->
      s"""WITH f AS (SELECT doc_id, source, md5($NORM) AS fp FROM documents),
         |opt AS (SELECT DISTINCT fp AS opt_fp FROM f WHERE doc_id % 17 = 0)
         |SELECT source,
         |  CAST(sum(CASE WHEN opt_fp IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN opt_fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_purged,
         |  count(DISTINCT CASE WHEN opt_fp IS NOT NULL THEN fp END) AS n_matched_fps
         |FROM f LEFT JOIN opt ON fp = opt_fp GROUP BY source""".stripMargin,

    "merge_apply" ->
      s"""WITH base AS (SELECT doc_id, source, md5($NORM) AS fp,
         |        0 AS version, 'upsert' AS op FROM documents),
         |u1 AS (SELECT doc_id, source, md5(fp || ':v1') AS fp, 1 AS version, 'upsert' AS op
         |       FROM base WHERE doc_id % 7 = 0),
         |del AS (SELECT doc_id, source, '' AS fp, 2 AS version, 'delete' AS op
         |       FROM base WHERE doc_id % 11 = 0),
         |ins AS (SELECT doc_id + 1000000 AS doc_id, source, md5(fp || ':new') AS fp,
         |        1 AS version, 'upsert' AS op FROM base WHERE doc_id % 13 = 0),
         |u2 AS (SELECT doc_id, source, md5(fp || ':v2') AS fp, 3 AS version, 'upsert' AS op
         |       FROM base WHERE doc_id % 21 = 0),
         |a AS (SELECT * FROM base UNION ALL SELECT * FROM u1 UNION ALL SELECT * FROM del
         |      UNION ALL SELECT * FROM ins UNION ALL SELECT * FROM u2),
         |r AS (SELECT doc_id, source, fp, version, op,
         |        row_number() OVER (PARTITION BY doc_id ORDER BY version DESC) AS rn
         |      FROM a)
         |SELECT doc_id, source, fp, CAST(version AS BIGINT) AS version
         |FROM r WHERE rn = 1 AND op <> 'delete'""".stripMargin,

    "corpus_diff" ->
      s"""WITH f AS (SELECT doc_id, source, md5($NORM) AS fp FROM documents),
         |new AS (
         |  SELECT doc_id, source,
         |    CASE WHEN doc_id % 7 = 0 THEN md5(fp || ':v2') ELSE fp END AS fp
         |  FROM f WHERE doc_id % 11 <> 0
         |  UNION ALL
         |  SELECT doc_id + 1000000, source, md5(fp || ':new') FROM f WHERE doc_id % 13 = 0)
         |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         |  coalesce(o.source, n.source) AS source,
         |  CASE WHEN o.doc_id IS NULL THEN 'added'
         |       WHEN n.doc_id IS NULL THEN 'removed'
         |       WHEN o.fp <> n.fp THEN 'changed' ELSE 'unchanged' END AS status,
         |  coalesce(o.fp, '') AS old_fp, coalesce(n.fp, '') AS new_fp
         |FROM f o FULL OUTER JOIN new n ON o.doc_id = n.doc_id""".stripMargin,

    // robust_outliers: interpolated medians of integer token counts end in
    // .0/.5 (exact doubles), so every derived value and the boolean are
    // engine-portable with no rounding guard (see Curation.robustOutliers).
    "robust_outliers" ->
      s"""WITH lens AS (SELECT doc_id, source, CAST(len($WORDS) AS BIGINT) AS len FROM documents),
         |med AS (SELECT source, quantile_cont(len, 0.5) AS med FROM lens GROUP BY source),
         |dev AS (SELECT l.doc_id, l.source, l.len, m.med, abs(l.len - m.med) AS adev
         |        FROM lens l JOIN med m USING (source)),
         |mad AS (SELECT source, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY source)
         |SELECT d.doc_id, d.source, d.len, d.med, a.mad,
         |  CASE WHEN a.mad = 0 THEN d.adev > 0 ELSE d.adev > ${Curation.MadK} * a.mad END AS is_outlier
         |FROM dev d JOIN mad a USING (source)""".stripMargin,

    "q38_edit_distance" ->
      s"""WITH $NGRAM_CTES,
         |pairs AS (
         |  SELECT doc_a, doc_b FROM inter
         |  JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
         |  WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5),
         |nd AS (SELECT doc_id, $NORM AS norm FROM documents)
         |SELECT doc_a, doc_b,
         |  CAST(levenshtein(a.norm, b.norm) AS INT) AS edit_dist,
         |  round(1.0 - CAST(levenshtein(a.norm, b.norm) AS DOUBLE) /
         |    greatest(length(a.norm), length(b.norm)), 4) AS edit_sim
         |FROM pairs JOIN nd a ON doc_a = a.doc_id JOIN nd b ON doc_b = b.doc_id""".stripMargin,

    "q39_array_setops" ->
      s"""WITH t AS (SELECT doc_id, list_distinct($WORDS) AS toks FROM documents),
         |s AS (SELECT ['the','a','of','and','to','in','is','it'] AS stop)
         |SELECT doc_id,
         |  coalesce(array_to_string(list_sort(list_intersect(toks, stop)), ','), '') AS stop_csv,
         |  CAST(len(list_filter(toks, x -> NOT list_contains(stop, x))) AS INT) AS n_nonstop,
         |  CAST(len(list_distinct(toks || stop)) AS INT) AS n_union
         |FROM t, s""".stripMargin,

    "q40_range_band_join" ->
      """WITH bands(lo, hi, band) AS (VALUES
        |  (0.0, 10.0, 'low'), (10.0, 25.0, 'mid'),
        |  (25.0, 40.0, 'high'), (40.0, 1e9, 'bulk'))
        |SELECT band, count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN bands ON l_quantity >= lo AND l_quantity < hi
        |GROUP BY band""".stripMargin,

    "q42_range_join_bucketed" ->
      """WITH bands AS (SELECT CAST(i AS INT) AS band_id, CAST(i AS DOUBLE) AS lo,
        |    CAST(i + 3 AS DOUBLE) AS hi FROM range(60) t(i))
        |SELECT band_id, count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN bands ON l_quantity >= lo AND l_quantity < hi
        |GROUP BY band_id""".stripMargin,

    // q43: frozen (merged, direct) HLL estimates; DuckDB recomputes the
    // exact distinct plus BOTH verdicts — merge==direct (HLL union is
    // register-wise max, so the per-day rollup must reproduce the one-pass
    // sketch) and the 5% relative-error bound (the q09 pattern).
    "q43_hll_sketch_merge" ->
      s"""WITH fz AS (SELECT * FROM read_parquet('${R.sketchArtifactPath(VerifySf, "q43")}/*.parquet')),
         |ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_users
         |       FROM events GROUP BY 1),
         |j AS (SELECT fz.event_type, merged_distinct, direct_distinct, exact_users,
         |        round(abs(CAST(merged_distinct AS DOUBLE) - CAST(exact_users AS DOUBLE))
         |          / CAST(exact_users AS DOUBLE), 6) AS rel_err
         |      FROM fz JOIN ex USING (event_type))
         |SELECT event_type, merged_distinct, direct_distinct, exact_users,
         |  CAST(merged_distinct = direct_distinct AS INT) AS merge_equal,
         |  rel_err, CAST(rel_err <= 0.05 AS INT) AS within_bound
         |FROM j""".stripMargin,

    "q44_minmax_by" ->
      """WITH t AS (SELECT o_custkey, o_orderkey, o_totalprice,
        |    lpad(CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS VARCHAR), 19, '0')
        |      || '|' || lpad(CAST(o_orderkey AS VARCHAR), 20, '0') AS ord_key
        |  FROM orders)
        |SELECT o_custkey,
        |  max_by(o_orderkey, ord_key) AS biggest_order,
        |  min_by(o_orderkey, ord_key) AS smallest_order,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_spend,
        |  count(*) AS n_orders
        |FROM t GROUP BY o_custkey""".stripMargin,

    "q45_stats_agg" ->
      """SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
        |  round(covar_samp(l_quantity, l_extendedprice), 2) AS qty_price_covar,
        |  round(stddev_samp(l_discount), 6) AS disc_stddev,
        |  round(var_samp(l_quantity), 4) AS qty_var,
        |  round(regr_slope(l_extendedprice, l_quantity), 4) AS price_per_qty,
        |  round(regr_intercept(l_extendedprice, l_quantity), 2) AS price_intercept,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q46_histogram" ->
      """WITH h AS (SELECT CAST(floor("value" / 25) AS INT) AS bucket, count(*) AS n,
        |    CAST(sum(CAST("value" AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY 1)
        |SELECT bucket, n, sum_value,
        |  CAST(sum(n) OVER (ORDER BY bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n
        |FROM h""".stripMargin,

    "q47_interval_join" ->
      """WITH e AS (SELECT event_id, user_id, make_timestamp(epoch_ns(ts)//1000) AS ts,
        |             event_type FROM events),
        |p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts FROM e
        |      WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_id, user_id, ts AS c_ts FROM e
        |      WHERE event_type = 'click')
        |SELECT purchase_id, click_id, user_id,
        |  strftime(p_ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
        |  strftime(c_ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts
        |FROM p JOIN c USING (user_id)
        |WHERE c_ts >= p_ts - INTERVAL 10 MINUTE AND c_ts <= p_ts""".stripMargin,

    "q48_range_frame" ->
      """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  count(*) OVER w AS n_orders_30d,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE) AS spend_30d
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
        |  RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q52_variant" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
        |  json_extract_string(props, '$.k') AS k_str,
        |  CAST(json_extract_string(props, '$.missing') AS INT) AS missing_val
        |FROM events""".stripMargin,

    "q51_topk_agg" ->
      """SELECT o_custkey, o_orderkey, total, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice AS total,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin,

    "q50_lateral" ->
      """SELECT c_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS total
        |FROM customer c,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
        |         WHERE o.o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t""".stripMargin,

    "doc_chunk" ->
      s"""WITH w AS (SELECT doc_id, $WORDS AS words FROM documents),
         |c AS (SELECT doc_id, words,
         |  unnest(range(0, CAST(ceil(greatest(len(words) - ${TextOps.ChunkWindow}, 0)
         |    / ${TextOps.ChunkStride}.0) AS BIGINT) + 1)) AS chunk_idx FROM w)
         |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
         |  CAST(len(words[(chunk_idx*${TextOps.ChunkStride}+1):(chunk_idx*${TextOps.ChunkStride}+${TextOps.ChunkWindow})]) AS INT) AS n_tokens,
         |  array_to_string(words[(chunk_idx*${TextOps.ChunkStride}+1):(chunk_idx*${TextOps.ChunkStride}+${TextOps.ChunkWindow})], ' ') AS chunk_text
         |FROM c""".stripMargin,

    "passage_search" ->
      s"""WITH w0 AS (SELECT doc_id, $WORDS AS words FROM documents),
         |c AS (SELECT doc_id, words,
         |  unnest(range(0, CAST(ceil(greatest(len(words) - ${TextOps.ChunkWindow}, 0)
         |    / ${TextOps.ChunkStride}.0) AS BIGINT) + 1)) AS chunk_idx FROM w0),
         |ch AS (SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
         |  words[(chunk_idx*${TextOps.ChunkStride}+1):(chunk_idx*${TextOps.ChunkStride}+${TextOps.ChunkWindow})] AS chunk
         |  FROM c),
         |tok AS (SELECT doc_id, chunk_idx, unnest(chunk) AS w FROM ch),
         |tf AS (SELECT doc_id, chunk_idx, w, count(*) AS tf FROM tok GROUP BY 1, 2, 3),
         |dl AS (SELECT doc_id, chunk_idx, count(*) AS dl FROM tok GROUP BY 1, 2),
         |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |              CAST(sum(dl) AS BIGINT) AS tot_tokens FROM dl),
         |q AS (SELECT unnest([${TextOps.Bm25Query.map(t => s"'$t'").mkString(", ")}]) AS w),
         |sc AS (SELECT tf.doc_id, tf.chunk_idx,
         |         CAST(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
         |           (tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl /
         |             (CAST(tot_tokens AS DOUBLE) / n_docs))), 6) AS DECIMAL(12,6)) AS s
         |       FROM tf JOIN q USING (w) JOIN df USING (w)
         |       JOIN dl USING (doc_id, chunk_idx) CROSS JOIN st)
         |SELECT doc_id, chunk_idx, n_matched, CAST(sd AS DOUBLE) AS score FROM (
         |  SELECT doc_id, chunk_idx, CAST(count(*) AS BIGINT) AS n_matched, sum(s) AS sd
         |  FROM sc GROUP BY doc_id, chunk_idx)
         |ORDER BY sd DESC, doc_id, chunk_idx LIMIT 10""".stripMargin,

    "q49_resample_ffill" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(make_timestamp(epoch_ns(ts)//1000) AS DATE) AS day,
        |    CAST(sum(CAST("value" AS DECIMAL(18,6))) AS DOUBLE) AS day_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |grid AS (
        |  SELECT user_id, CAST(unnest(generate_series(min(day), max(day),
        |    INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM daily GROUP BY user_id)
        |SELECT g.user_id, strftime(g.day, '%Y-%m-%d') AS day,
        |  (d.day_value IS NOT NULL) AS observed,
        |  last_value(d.day_value IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
        |FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day""".stripMargin,

    "scd2_snapshot" ->
      """WITH e AS (SELECT user_id, event_id, make_timestamp(epoch_ns(ts)//1000) AS ts,
        |             "value" FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT user_id, event_id, ts, "value",
        |        lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to_ts
        |      FROM e)
        |SELECT user_id, event_id, CAST("value" AS DOUBLE) AS attr_value,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
        |  coalesce(strftime(valid_to_ts, '%Y-%m-%d %H:%M:%S.%f'),
        |           '9999-12-31 00:00:00.000000') AS valid_to,
        |  (valid_to_ts IS NULL) AS is_current
        |FROM m""".stripMargin,

    "q41_unpivot" ->
      """WITH u AS (
        |  SELECT p_partkey, 'retailprice' AS attribute,
        |    CAST(p_retailprice AS DOUBLE) AS value FROM part
        |  UNION ALL
        |  SELECT p_partkey, 'size', CAST(p_size AS DOUBLE) FROM part)
        |SELECT attribute, count(*) AS n,
        |  round(avg(value), 4) AS avg_value,
        |  round(max(value), 4) AS max_value
        |FROM u GROUP BY attribute""".stripMargin,

    "q31_tfidf" ->
      s"""WITH tok AS (SELECT doc_id, unnest($WORDS) AS w FROM documents),
         |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
         |df AS (SELECT w, count(*) AS df
         |       FROM (SELECT DISTINCT doc_id, w FROM tok) GROUP BY w),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |sc AS (SELECT doc_id, w AS term,
         |         round(tf * ln((n_docs + 1.0) / (df + 1.0)), 4) AS tfidf
         |       FROM tf JOIN df USING (w) CROSS JOIN n)
         |SELECT doc_id, term, tfidf, CAST(rn AS INT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY tfidf DESC, term) AS rn FROM sc)
         |WHERE rn <= 3""".stripMargin,

    // constants are spelled (1.2 + 1.0) etc. so each engine folds the SAME
    // IEEE additions the Scala side computes from Bm25K1/Bm25B — a literal
    // 2.2 is a different double than 1.2 + 1.0
    "bm25_topterms" ->
      s"""WITH tok AS (SELECT doc_id, unnest($WORDS) AS w FROM documents),
         |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
         |df AS (SELECT w, count(*) AS df
         |       FROM (SELECT DISTINCT doc_id, w FROM tok) GROUP BY w),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |              CAST(sum(dl) AS BIGINT) AS tot_tokens FROM dl),
         |sc AS (SELECT tf.doc_id, w AS term,
         |         round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
         |           (tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl /
         |             (CAST(tot_tokens AS DOUBLE) / n_docs))), 4) AS bm25
         |       FROM tf JOIN df USING (w) JOIN dl USING (doc_id) CROSS JOIN st)
         |SELECT doc_id, term, bm25, CAST(rn AS INT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY bm25 DESC, term) AS rn FROM sc)
         |WHERE rn <= 3""".stripMargin,

    // bm25_search: per-(doc, term) scores rounded to 6 dp and summed as
    // DECIMAL, so the rank key is order-independent and engine-exact —
    // the k-boundary cannot flip on a float-accumulation ulp.
    "bm25_search" -> Bm25SearchSql,

    // bm25_incremental: the oracle is the DIRECT whole-corpus recompute —
    // the Spark side merges state + fresh-load partials, so the hash
    // match IS the merged==direct equivalence proof (rollup_incremental
    // precedent).
    "bm25_incremental" -> Bm25SearchSql,

    // hybrid_search: the BM25 chain cut at HybridN candidates, re-ranked
    // by cosine to the vec_id-0 query vector, fused by reciprocal-rank
    // fusion over INTEGER ranks (unique via score-then-doc_id tiebreaks,
    // so the fused double is identical across engines).
    "hybrid_search" ->
      s"""WITH $BM25_CTES,
         |cand AS (SELECT doc_id, CAST(sd AS DOUBLE) AS bm25 FROM (
         |    SELECT doc_id, sum(s) AS sd FROM sc GROUP BY doc_id)
         |  ORDER BY sd DESC, doc_id LIMIT ${Similarity.HybridN}),
         |e AS (SELECT vec_id, embedding AS v FROM embeddings),
         |qv AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |sc2 AS (SELECT cand.doc_id, bm25,
         |         round(${dot("e.v", "qv.qv")} / (${l2("e.v")} * ${l2("qv.qv")}), 4) AS cos
         |        FROM cand JOIN e ON cand.doc_id = e.vec_id CROSS JOIN qv),
         |rk AS (SELECT doc_id, bm25, cos,
         |         CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS r_lex,
         |         CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS INT) AS r_sem
         |       FROM sc2)
         |SELECT doc_id, bm25, cos, r_lex, r_sem,
         |  round(CAST(1 AS DOUBLE) / (${Similarity.RrfC} + r_lex)
         |    + CAST(1 AS DOUBLE) / (${Similarity.RrfC} + r_sem), 6) AS rrf
         |FROM rk ORDER BY rrf DESC, doc_id LIMIT ${Similarity.HybridK}""".stripMargin,

    "multimodal_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_md5,
        |  CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT) AS n_chunks
        |FROM documents""".stripMargin,

    // media_resize twin (r10 VERDICT task 7): decoded input dims frozen
    // (Multimodal.mediaArtifactPath "resize-in" — a REAL ImageIO/
    // AudioSystem decode pass on executors); DuckDB recomputes the
    // aspect-keeping box arithmetic. floor() == Scala's positive .toInt
    // truncation; the s >= 1 passthrough keeps decoded dims verbatim;
    // audio (and degenerate zero-dim payloads) pass through.
    "media_resize" ->
      s"""WITH f AS (SELECT asset_id, media_type, width AS w0, height AS h0, n_frames
         |  FROM read_parquet('${Multimodal.mediaArtifactPath(VerifySf, "resize-in")}/*.parquet')),
         |sc AS (SELECT asset_id, media_type, w0, h0, n_frames,
         |         least(1.0, least(320.0 / w0, 240.0 / h0)) AS s
         |       FROM f WHERE media_type <> 'audio' AND w0 > 0 AND h0 > 0)
         |SELECT asset_id, media_type,
         |  CASE WHEN s >= 1.0 THEN w0
         |       ELSE greatest(1, CAST(floor(w0 * s) AS INT)) END AS width,
         |  CASE WHEN s >= 1.0 THEN h0
         |       ELSE greatest(1, CAST(floor(h0 * s) AS INT)) END AS height,
         |  n_frames
         |FROM sc
         |UNION ALL
         |SELECT asset_id, media_type, w0 AS width, h0 AS height, n_frames
         |FROM f WHERE media_type = 'audio' OR w0 = 0 OR h0 = 0""".stripMargin,

    // media_report twin: the decoded per-asset table is the frozen
    // boundary; the per-type aggregation algebra (counts, byte/frame
    // mass, dimension envelope, order-free decimal checksum) is
    // recomputed by DuckDB from the same parquet.
    "media_report" ->
      s"""WITH f AS (SELECT *
         |  FROM read_parquet('${Multimodal.mediaArtifactPath(VerifySf, "features")}/*.parquet'))
         |SELECT media_type,
         |  count(*) AS n_assets,
         |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
         |  CAST(sum(n_frames_sampled) AS BIGINT) AS total_frames,
         |  max(width) AS max_width,
         |  max(height) AS max_height,
         |  CAST(CAST(sum(CAST(checksum AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR)
         |    AS checksum_sum
         |FROM f GROUP BY media_type""".stripMargin,

    // media_features_check twin (r13): the per-asset DECODED table is
    // frozen by the entry itself; DuckDB recomputes the identical per-type
    // totals from that parquet while the Spark side aggregates the LIVE
    // decode — a hash match certifies live decode content == frozen
    // boundary content, putting the codec OUTPUT under the driver gate.
    "media_features_check" ->
      s"""WITH f AS (SELECT *
         |  FROM read_parquet('${Multimodal.mediaArtifactPath(VerifySf, "features-check")}/*.parquet'))
         |SELECT media_type,
         |  count(*) AS n_assets,
         |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
         |  CAST(sum(n_frames_sampled) AS BIGINT) AS total_frames,
         |  CAST(CAST(sum(CAST(checksum AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR)
         |    AS checksum_sum
         |FROM f GROUP BY media_type""".stripMargin,

    // media_frames_check twin (r13): same pattern at per-asset grain over
    // the frozen per-frame table the entry wrote.
    "media_frames_check" ->
      s"""WITH f AS (SELECT *
         |  FROM read_parquet('${Multimodal.mediaArtifactPath(VerifySf, "frames-check")}/*.parquet'))
         |SELECT asset_id,
         |  count(*) AS n_frames_sampled,
         |  CAST(sum(frame_bytes) AS BIGINT) AS total_frame_bytes,
         |  CAST(CAST(sum(CAST(frame_checksum AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR)
         |    AS checksum_sum
         |FROM f GROUP BY asset_id""".stripMargin,

    // media_frame_audit twin: the header-parse dims/frame-count table is
    // the frozen boundary; DuckDB re-derives the sampler's stride
    // arithmetic (per-type sample count n, then frame_idx =
    // (n_frames * i) // n in integer math) and the Spark side emits the
    // REAL sampler's positions — a hash match proves decode-and-sample
    // lands exactly on the arithmetic's positions for every asset.
    "media_frame_audit" ->
      s"""WITH f AS (SELECT asset_id, media_type, n_frames
         |  FROM read_parquet('${Multimodal.mediaArtifactPath(VerifySf, "frames-in")}/*.parquet')),
         |n AS (SELECT asset_id, media_type, n_frames,
         |        CASE media_type
         |          WHEN 'image' THEN 1
         |          WHEN 'audio' THEN least(4, greatest(1, n_frames))
         |          ELSE least(4, n_frames) END AS n
         |      FROM f),
         |e AS (SELECT asset_id, media_type, n_frames, n, unnest(range(n)) AS i
         |      FROM n WHERE n > 0)
         |SELECT asset_id, media_type, n_frames,
         |  CAST(i AS INT) AS sample_i,
         |  CAST((CAST(n_frames AS BIGINT) * i) // n AS INT) AS frame_idx
         |FROM e""".stripMargin,

    // Integer micro-unit PageRank: every division is `//` (DuckDB) / `div`
    // (Spark) on BIGINT, sums stay integral (HUGEINT→BIGINT cast), so the
    // 3-round recurrence is bit-exact across engines. The CTE chain is the
    // Graph.pageRank loop unrolled (1e12 = Graph.PrScale, 3 = Graph.PrIters).
    "pagerank" ->
      """WITH ol AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |       FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |edges AS (SELECT src, dst FROM ol UNION ALL SELECT dst AS src, src AS dst FROM ol),
        |deg AS (SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM deg),
        |r0 AS (SELECT node, outdeg, 1000000000000 // n AS pr FROM deg CROSS JOIN nn),
        |i1 AS (SELECT e.dst AS node, CAST(sum(r.pr // r.outdeg) AS BIGINT) AS inflow
        |       FROM edges e JOIN r0 r ON e.src = r.node GROUP BY 1),
        |r1 AS (SELECT d.node, d.outdeg,
        |         (15 * (1000000000000 // nn.n)) // 100 + (85 * i1.inflow) // 100 AS pr
        |       FROM i1 JOIN deg d ON i1.node = d.node CROSS JOIN nn),
        |i2 AS (SELECT e.dst AS node, CAST(sum(r.pr // r.outdeg) AS BIGINT) AS inflow
        |       FROM edges e JOIN r1 r ON e.src = r.node GROUP BY 1),
        |r2 AS (SELECT d.node, d.outdeg,
        |         (15 * (1000000000000 // nn.n)) // 100 + (85 * i2.inflow) // 100 AS pr
        |       FROM i2 JOIN deg d ON i2.node = d.node CROSS JOIN nn),
        |i3 AS (SELECT e.dst AS node, CAST(sum(r.pr // r.outdeg) AS BIGINT) AS inflow
        |       FROM edges e JOIN r2 r ON e.src = r.node GROUP BY 1),
        |r3 AS (SELECT d.node, d.outdeg,
        |         (15 * (1000000000000 // nn.n)) // 100 + (85 * i3.inflow) // 100 AS pr
        |       FROM i3 JOIN deg d ON i3.node = d.node CROSS JOIN nn)
        |SELECT node, pr FROM r3""".stripMargin,

    // Per-word JS terms are doubles with the SAME expression tree as the
    // Spark side (left-assoc 0.5*p*ln((2.0*p)/(p+q))), rounded to 12 dp
    // and summed as DECIMAL(30,12) — order-invariant — then rounded to 6.
    "corpus_divergence" ->
      s"""WITH tok AS (SELECT source, unnest($WORDS) AS w FROM documents),
         |counts AS (SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2),
         |totals AS (SELECT source, CAST(sum(c) AS BIGINT) AS tot FROM counts GROUP BY 1),
         |vocab AS (SELECT DISTINCT w FROM counts),
         |vs AS (SELECT count(*) AS v FROM vocab),
         |pairs AS (SELECT a.source AS source_a, a.tot AS tot_a,
         |                 b.source AS source_b, b.tot AS tot_b
         |          FROM totals a, totals b WHERE a.source < b.source),
         |pq AS (SELECT pa.source_a, pa.source_b,
         |         (CAST(COALESCE(ca.c, 0) AS DOUBLE) + 1.0)
         |           / CAST(pa.tot_a + vs.v AS DOUBLE) AS p,
         |         (CAST(COALESCE(cb.c, 0) AS DOUBLE) + 1.0)
         |           / CAST(pa.tot_b + vs.v AS DOUBLE) AS q
         |       FROM vocab v CROSS JOIN pairs pa CROSS JOIN vs
         |       LEFT JOIN counts ca ON ca.source = pa.source_a AND ca.w = v.w
         |       LEFT JOIN counts cb ON cb.source = pa.source_b AND cb.w = v.w)
         |SELECT source_a, source_b, count(*) AS n_terms,
         |  round(CAST(sum(CAST(round(
         |      0.5 * p * ln(2.0 * p / (p + q)) + 0.5 * q * ln(2.0 * q / (p + q)),
         |    12) AS DECIMAL(30,12))) AS DOUBLE), 6) AS js
         |FROM pq GROUP BY 1, 2""".stripMargin,
  )

  /** Machine-readable manifest of every registered query with NO
    * [[oracleSql]] entry — rows-only BY DECLARED DESIGN, not broken
    * (VERDICT r6 task 8: `err: "no_oracle"` in the driver artifact was
    * indistinguishable from not-implemented). Each value names the
    * deterministic twin that IS hash-matched and/or the bound test that
    * pins the approximation. [[Verify]] dumps this beside oracle_sql.json
    * and `tools/oracle_check.py` prints it, so the driver artifact itself
    * carries the declaration. Kept in sync by a VerifySpec assertion:
    * keys == queries.keySet -- oracleSql.keySet. */
  def rowsOnly: Map[String, String] = ListMap.empty

  /** Bench-only entries (VERDICT r15 task 3): runnable surfaces whose
    * output a SQL oracle can NEVER check — the live codec boundary
    * itself (DuckDB cannot decode PNG/WAV). They are NOT part of
    * [[queries]], so the driver's correctness artifact carries zero
    * `no_oracle` rows; their correctness is driver-gated through the
    * registered `_check` twins (live decode vs frozen boundary,
    * hash-green) plus OperatorSpec determinism pins, and [[graft.Bench]]
    * appends this map to its catalogue so codec throughput stays a
    * measured, regression-tracked number. */
  def benchOnly: Map[String, (SparkSession, String) => DataFrame] = ListMap(
    // real ImageIO/AudioSystem decode of every asset: checksums over
    // decoded rasters/samples; distributed==local pinned in OperatorSpec
    "media_features" -> ((s: SparkSession, d: String) =>
      Multimodal.extractFeatures(Multimodal.mediaFromDocuments(s, d)).toDF()),
    // frame sampler: per-frame re-decode (stride/index arithmetic is
    // hash-gated separately via media_frame_audit's frozen-dims oracle)
    "media_frames" -> ((s: SparkSession, d: String) =>
      Multimodal.sampleFrames(Multimodal.mediaFromDocuments(s, d), 4).toDF()),
  )
}
