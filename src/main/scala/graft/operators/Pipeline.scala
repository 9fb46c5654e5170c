package graft.operators

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end training-data preparation: the operators of this library
  * composed the way a corpus-curation pass actually runs them. One query,
  * oracle-checked, proving the pieces compose without driver round-trips:
  *
  *   1. exact dedup — keep only each content group's representative
  *      ([[Dedup.qDedupExact]] keep table, left-semi joined);
  *   2. per-document signals — language ID, quality score, token count
  *      (all pure codegen'd projections from [[TextOps]]);
  *   3. quality filter;
  *   4. DETERMINISTIC per-language downsampling: the first two hex chars
  *      of md5(text) are a uniform [0, 256) bucket that both engines
  *      compute identically, so `bucket < threshold` is an exact,
  *      reproducible, content-keyed Bernoulli sample — 'en' keeps 1/2
  *      ('80'/'100'), 'ru' keeps 3/4 ('c0'), other languages keep all
  *      (every hex bucket < 'zz'). Content-keyed sampling survives
  *      re-partitioning, re-runs, and scale-out unchanged — the property
  *      that makes a 100 TB curation run resumable.
  *
  * Scale shape: signals and sampling are per-row projections (no shuffle);
  * the dedup keep-table join is the one shuffle, on doc_id. At cluster
  * scale the keep table is the output of the dedup stage read back from
  * storage — the join shape is identical.
  */
object Pipeline {

  /** Temperature for [[qDomainMix]]: sampling weight ∝ share^α. α = 0.5 is
    * implemented as sqrt — unlike pow, sqrt is IEEE correctly-rounded in
    * both the JVM and C libm, so Spark and the DuckDB oracle compute
    * bit-identical cutoffs and the keep decision hash-matches exactly. */
  val MixTargetFrac = 0.5

  /** Domain-mixture sampling — the multi-corpus reweighting step of a
    * pretraining data recipe: sources are resampled toward temperature-
    * flattened shares (weight ∝ share^0.5), so over-represented domains are
    * downsampled and rare domains keep everything, with the total kept
    * volume targeted at [[MixTargetFrac]] of the corpus.
    *
    * For domain d with n_d of N documents: q_d = sqrt(n_d) / Σ_e sqrt(n_e)
    * (the share^α normalization — the N^α factor cancels), and each
    * document keeps with p_d = min(1, q_d · M / n_d), M = ⌊N/2⌋.
    *
    * The keep decision is CONTENT-KEYED and portable (the training_mix
    * recipe, widened from a fixed to a computed threshold): the first 4 hex
    * chars of md5(text) are a uniform 16-bit bucket; keep iff
    * '0'||bucket < the 5-digit hex of ⌊p_d·65536⌋ — a pure string compare
    * both engines evaluate identically (p_d = 1 yields '10000', above every
    * bucket). Content-keyed sampling survives re-partitioning, re-runs and
    * scale-out — the resumability property that matters at 100 TB.
    *
    * Scale: the per-domain count table is DOMAINS rows — broadcast; the
    * corpus side is one scan with per-row projections, zero data shuffle.
    */
  def qDomainMix(s: SparkSession, d: String): DataFrame =
    domainMix(documents(s, d))

  def domainMix(docs: DataFrame): DataFrame = domainMixFrozen(docs, docs)

  /** [[domainMix]] with the per-source statistics FROZEN from a separate
    * frame (`statsDocs`) — the incremental-ingest form: a fresh batch is
    * sampled under the state corpus's cutoffs without rescanning it. A
    * source absent from the stats frame keeps nothing (left join,
    * keep_prob 0). */
  def domainMixFrozen(statsDocs: DataFrame, docs: DataFrame): DataFrame =
    domainMixFromCounts(
      statsDocs.groupBy("source").agg(count(lit(1)).as("n_source")), docs)

  /** [[domainMixFrozen]] from an explicit (source, n_source) count table —
    * the frozen-artifact form ([[CurationState]]): the per-source counts
    * may be loaded from parquet instead of recomputed. */
  def domainMixFromCounts(perDomain: DataFrame, docs: DataFrame): DataFrame = {
    // sum_w is DECIMAL-SNAPPED (the epoch_plan convention): each sqrt
    // weight lands on the decimal(18,6) grid before summing, so the sum
    // is order/grouping-independent and bit-identical across engines.
    // A raw double sum is partial-aggregation-grouping-dependent: at the
    // r12 sf1 tier every replica source has EQUAL counts, keep_prob sits
    // mathematically at exactly 0.5, and a 1-ulp sum_w difference flipped
    // floor(keep_prob*65536) between 32767 and 32768 — one '07fff'-bucket
    // document per ~65k flipped its mix verdict vs the oracle.
    val totals = perDomain.agg(
      sum(col("n_source")).as("n_total"),
      sum(sqrt(col("n_source").cast("double")).cast("decimal(18,6)"))
        .cast("double").as("sum_w"))
    val cutoffs = perDomain.crossJoin(broadcast(totals))
      .select(
        col("source"), col("n_source"),
        least(
          lit(1.0),
          sqrt(col("n_source").cast("double")) / col("sum_w")
            * floor(col("n_total") / 2).cast("double")
            / col("n_source").cast("double")).as("keep_prob"))
      .withColumn("cut_hex",
        lpad(lower(hex(floor(col("keep_prob") * 65536).cast("long"))), 5, "0"))
    docs.select(col("doc_id"), col("source"),
        concat(lit("0"), substring(md5(col("text").cast("binary")), 1, 4)).as("bucket"))
      .join(broadcast(cutoffs), Seq("source"), "left")
      .select(
        col("doc_id"), col("source"),
        coalesce(col("n_source"), lit(0L)).as("n_source"),
        round(coalesce(col("keep_prob"), lit(0.0)), 6).as("keep_prob"),
        col("bucket"),
        (col("bucket") < coalesce(col("cut_hex"), lit("00000"))).as("kept"))
  }

  /** Language×domain temperature mixture (temperature_mix, NEW r13) —
    * the multilingual pretraining resampler (the mC4 / XLM-R / ROOTS
    * recipe): corpus CELLS (language × source — the grain multilingual
    * recipes actually balance; on this all-English fixture the cells
    * reduce to sources) are resampled toward temperature-flattened
    * shares of TOKEN MASS, weight ∝ tokens^α, so heavy cells are
    * downsampled and light cells keep everything, with kept volume
    * targeted at ⌊2T/5⌋ tokens. Token mass, not doc count, because
    * that's what a training-mix budget is denominated in — and because
    * it gives organically varying weights (doc counts in the fixture are
    * uniform by construction, which is exactly the degenerate case the
    * r12 domain_mix knife-edge lived on).
    *
    * Temperature: α = 0.25, implemented as sqrt(sqrt(tokens)) — libm
    * `pow(x, 0.25)` is NOT correctly-rounded across implementations, but
    * each chained `sqrt` is IEEE-exact in both the JVM and DuckDB, so
    * the weights are bit-identical cross-engine (the reasoning that
    * fixed α at 0.5 for domain_mix; 0.25 is the flattest IEEE-exact rung
    * below it, and multilingual recipes flatten harder than domain
    * recipes). Weights decimal-snap before the cross-cell sum
    * (order-free); the per-doc keep decision is the content-keyed 16-bit
    * hex-bucket compare — resumable at 100 TB. Scale: the cell table is
    * languages×sources rows (broadcast); one corpus scan with per-row
    * projections, zero data shuffle. */
  def qTemperatureMix(s: SparkSession, d: String): DataFrame =
    temperatureMix(documents(s, d))

  def temperatureMix(docs: DataFrame): DataFrame = {
    val labeled = docs.select(col("doc_id"), col("text"), col("source"),
      TextOps.langIdExpr(col("text")).as("lang"),
      size(TextOps.normWords(col("text"))).cast("long").as("n_tok"))
    val perCell = labeled.groupBy(col("lang"), col("source"))
      .agg(sum(col("n_tok")).as("cell_tokens"))
    val w = sqrt(sqrt(col("cell_tokens").cast("double")))
    val totals = perCell.agg(
      sum(col("cell_tokens")).as("total_tokens"),
      sum(w.cast("decimal(18,6)")).cast("double").as("sum_w"))
    val cutoffs = perCell.crossJoin(broadcast(totals))
      .select(col("lang"), col("source"), col("cell_tokens"),
        least(
          lit(1.0),
          w / col("sum_w")
            * floor(col("total_tokens") * 2 / 5).cast("double")
            / col("cell_tokens").cast("double")).as("keep_prob"))
      .withColumn("cut_hex",
        lpad(lower(hex(floor(col("keep_prob") * 65536).cast("long"))), 5, "0"))
    labeled.select(col("doc_id"), col("lang"), col("source"),
        concat(lit("0"),
          substring(md5(concat(lit("tmix:"), col("text")).cast("binary")), 1, 4))
          .as("bucket"))
      .join(broadcast(cutoffs), Seq("lang", "source"))
      .select(col("doc_id"), col("lang"), col("source"), col("cell_tokens"),
        round(col("keep_prob"), 6).as("keep_prob"),
        col("bucket"),
        (col("bucket") < col("cut_hex")).as("kept"))
  }

  /** Quality floor shared with [[qTrainingMix]]. */
  val CurateQualityMin = 0.05

  /** The full curation pass — every per-document gate of this library
    * composed into one decision table, the way a production corpus run
    * actually stacks them:
    *
    *   keep = exact-dedup representative
    *        ∧ ¬repetitive (Gopher repetition signals)
    *        ∧ ¬benchmark-contaminated (5-gram overlap; the benchmark slice
    *          itself — absent from the contamination table — is excluded)
    *        ∧ quality ≥ [[CurateQualityMin]]
    *        ∧ perplexity tercile ≠ tail (CCNet-style bigram-LM cut;
    *          documents too short to score a bigram are excluded)
    *        ∧ domain-mix sampled (temperature reweighting)
    *
    * Whole-composition DuckDB-oracled (the individually-oracled gates, and
    * the exact boolean algebra joining them — left joins with coalesce
    * defaults where a gate's table is sparse). Every signal rides ONE
    * doc_id-keyed join pipeline; gate tables are per-document aggregates,
    * so at 100 TB each join side is |corpus| rows of a few columns — the
    * shuffle shape of the dedup keep-table join repeated, not a new shape.
    */
  def qCorpusCurate(s: SparkSession, d: String): DataFrame =
    corpusCurate(s, d, exactTercile = true)

  /** The 100 TB form of [[qCorpusCurate]]: identical boolean algebra, but
    * the perplexity gate buckets on [[Curation.bigramSurprisalScaleFrom]]'s
    * percentile_approx cutoffs (one tiny broadcast, two comparisons per
    * document) instead of the exact `ntile(3)` — which is an unpartitioned
    * global window funneling every document through ONE task. Documents
    * within sketch error of a boundary may land one bucket over vs the
    * exact form (≥95% keep-agreement asserted in CurationSpec); since r10
    * the entry is HASH-GREEN anyway: the sketch cutoffs round-trip through
    * this entry's own pplCutsPath("curate") parquet artifact and the
    * DuckDB twin recomputes the scores and the whole gating algebra
    * against the same frozen boundary. */
  def qCorpusCurateScale(s: SparkSession, d: String): DataFrame =
    corpusCurate(s, d, exactTercile = false)

  private def corpusCurate(s: SparkSession, d: String, exactTercile: Boolean): DataFrame = {
    // ONE tokenize explode feeds all three n-gram gates (the shared
    // shingle-table pattern applied to curation — at 100 TB tokenization
    // is a full corpus scan, paid once, not three times)
    val toks = Curation.tokens(documents(s, d)).persist()
    val keepRep = Dedup.qDedupExact(s, d)
      .select(col("keep_id").as("doc_id"), lit(true).as("dedup_rep"))
    val rep = Curation.repetitionSignalsFrom(toks).select(col("doc_id"), col("repetitive"))
    val con = Curation.contaminationFromTokens(toks).select(col("doc_id"), col("contaminated"))
    val qual = TextOps.qQualityScore(s, d).select(col("doc_id"), col("quality"))
    // scale form: the sketch cutoffs go through THIS entry's own
    // pplCutsPath("curate") parquet artifact so the DuckDB twin applies
    // the identical frozen boundary regardless of entry execution order
    val ppl = (if (exactTercile) Curation.bigramSurprisalFrom(toks)
               else Curation.bigramSurprisalScaleArtifactFrom(s, d, toks, "curate"))
      .select(col("doc_id"), col("avg_surprisal"), col("ppl_bucket"))
    val mix = Pipeline.qDomainMix(s, d).select(col("doc_id"), col("kept").as("mix_kept"))
    documents(s, d).select(col("doc_id"), col("source"))
      .join(keepRep, Seq("doc_id"), "left")
      .join(rep, Seq("doc_id"))
      .join(con, Seq("doc_id"), "left") // benchmark docs have no contamination row
      .join(qual, Seq("doc_id"))
      .join(ppl, Seq("doc_id"), "left") // <2-token docs score no bigram
      .join(mix, Seq("doc_id"))
      .select(
        col("doc_id"), col("source"),
        coalesce(col("dedup_rep"), lit(false)).as("dedup_rep"),
        col("repetitive"),
        coalesce(col("contaminated"), lit(true)).as("contaminated"),
        col("quality"),
        col("avg_surprisal"),
        coalesce(col("ppl_bucket"), lit("tail")).as("ppl_bucket"),
        col("mix_kept"))
      .withColumn("keep",
        col("dedup_rep") && !col("repetitive") && !col("contaminated") &&
          col("quality") >= CurateQualityMin &&
          col("ppl_bucket") =!= "tail" && col("mix_kept"))
  }

  /** Curation loss funnel — the observability report every large-scale
    * curation run ships alongside its output: how many documents each
    * gate of [[qCorpusCurate]]'s keep conjunction removed, in gate order
    * (dedup → repetition → contamination → quality → perplexity →
    * domain mix). A gate whose drop rate jumps between runs is the first
    * diagnostic a pipeline operator reads; the final n_out equals the
    * curated corpus size by construction.
    *
    * Cumulative conjunctions (not per-gate independent drops) so each
    * stage's n_in is the previous stage's n_out — the funnel property.
    * Scale shape: corpus_curate's per-doc verdict frame + ONE 1-row agg
    * of conditional sums (map-side combined), then a 6-row stack. */
  def curationFunnel(cc: DataFrame): DataFrame = {
    val g1 = col("dedup_rep")
    val g2 = g1 && !col("repetitive")
    val g3 = g2 && !col("contaminated")
    val g4 = g3 && col("quality") >= CurateQualityMin
    val g5 = g4 && col("ppl_bucket") =!= "tail"
    val g6 = g5 && col("mix_kept")
    val agg = cc.agg(
      count(lit(1)).as("n0"),
      sum(when(g1, 1L).otherwise(0L)).as("n1"),
      sum(when(g2, 1L).otherwise(0L)).as("n2"),
      sum(when(g3, 1L).otherwise(0L)).as("n3"),
      sum(when(g4, 1L).otherwise(0L)).as("n4"),
      sum(when(g5, 1L).otherwise(0L)).as("n5"),
      sum(when(g6, 1L).otherwise(0L)).as("n6"))
    agg.select(expr(
      """stack(6,
        |  1, 'dedup',         n0, n1,
        |  2, 'repetition',    n1, n2,
        |  3, 'contamination', n2, n3,
        |  4, 'quality',       n3, n4,
        |  5, 'perplexity',    n4, n5,
        |  6, 'domain_mix',    n5, n6) AS (stage_idx, stage, n_in, n_out)""".stripMargin))
      .select(col("stage_idx"), col("stage"), col("n_in"), col("n_out"),
        (col("n_in") - col("n_out")).as("n_dropped"),
        // greatest(·, 1): a gate that drops EVERYTHING hands the next stage
        // n_in = 0 — report drop_rate 0 there (0/1), not a Spark-NULL vs
        // DuckDB-NaN divergence (ADVICE r9; guard mirrored in the oracle)
        round((col("n_in") - col("n_out")).cast("double") /
          greatest(col("n_in"), lit(1L)).cast("double"), 6)
          .as("drop_rate"))
  }

  /** Per-source curation report (curation_report) — the dashboard grain
    * of [[curationFunnel]]: for each SOURCE, how many documents each
    * gate flags and what fraction survives. A source whose keep rate
    * collapses (or whose contamination rate spikes) is the
    * acquisition-pipeline alarm; the funnel says WHICH gate, this says
    * WHOSE data. One source-grain conditional agg over the shared
    * corpus_curate verdict frame. */
  def curationReport(cc: DataFrame): DataFrame = {
    // n_docs is a per-group count(*) so it is always >= 1; the greatest
    // guard is belt-and-braces consistency with the funnel (ADVICE r9)
    def rate(c: org.apache.spark.sql.Column) =
      round(c.cast("double") / greatest(col("n_docs"), lit(1L)).cast("double"), 6)
    cc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!col("dedup_rep"), 1L).otherwise(0L)).as("n_dup"),
        sum(when(col("repetitive"), 1L).otherwise(0L)).as("n_repetitive"),
        sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_contaminated"),
        sum(when(col("quality") < CurateQualityMin, 1L).otherwise(0L)).as("n_low_quality"),
        sum(when(col("ppl_bucket") === "tail", 1L).otherwise(0L)).as("n_ppl_tail"),
        sum(when(!col("mix_kept"), 1L).otherwise(0L)).as("n_mix_dropped"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
      .select(col("source"), col("n_docs"), col("n_dup"), col("n_repetitive"),
        col("n_contaminated"), col("n_low_quality"), col("n_ppl_tail"),
        col("n_mix_dropped"), col("n_keep"),
        rate(col("n_keep")).as("keep_rate"))
  }

  /** Incremental curation (curate_incremental) — [[qCorpusCurate]] for a
    * GROWING corpus: a fresh ingest batch is gated using statistics
    * FROZEN from the state corpus, which is never rescanned — the only
    * state-side artifacts touched are the ones a production pipeline
    * materializes anyway (fingerprint table, token/bigram count tables,
    * tercile cutoffs, per-source counts). Halves derive from doc_id
    * parity (the established incremental-split convention) so the oracle
    * reproduces the split. Gate by gate:
    *
    *  - dedup: fresh keeper (min doc_id per fingerprint) anti-joined
    *    against the state fingerprint table ([[Dedup.qDedupIncremental]]
    *    semantics);
    *  - repetition + quality: per-document, stateless — same expressions
    *    as the batch composition;
    *  - contamination: the benchmark set is a FIXED asset (all
    *    benchmark-source docs from either half) — fresh docs gate
    *    against it exactly as in batch;
    *  - perplexity: an add-one-smoothed interpolated bigram LM from the
    *    STATE tokens scores fresh docs (smoothing gives unseen words and
    *    bigrams a finite, deterministic surprisal — the batch form's
    *    unsmoothed LM can't score out-of-corpus text), and the tercile
    *    cutoffs are the state corpus's own self-scored boundaries
    *    ([[Relational.equidepthBoundsArray]], frozen — a fresh doc
    *    cannot shift the gate it's judged by);
    *  - domain mix: [[domainMixFrozen]] under state source counts.
    *
    * Output schema matches [[qCorpusCurate]] (fresh docs only). Scale
    * shape: SERVING is entirely fresh-batch-sized — the state statistics
    * are a persisted [[CurationState]] artifact (written once per ingest
    * cycle, merged from per-batch partials) that the server only READS;
    * the three LM lookups use the salted left join (Zipf hot keys spread
    * structurally, misses kept as NULL → smoothed).
    *
    * The registered entry runs THROUGH the persisted artifact: the state
    * half's statistics are written to a scratch directory and loaded back
    * before serving, so the driver's hash gate covers the parquet round
    * trip as well as the gating algebra (r9 VERDICT task 1). */
  /** Frozen-artifact audit report (curation_state_report): the scalar
    * summary of a [[CurationState]] — corpus and source totals, vocabulary
    * size, fingerprint and benchmark-gram cardinalities, and the two
    * frozen perplexity tercile cutoffs — the one row a pipeline logs (and
    * alerts on) after every finalize. Oracled end to end, so the artifact
    * CONTENTS are driver-hash-gated, not just their downstream gating
    * effect. All six counts are exact longs; the cutoffs round the same
    * doubles both engines derive from identical inputs. Scale shape: six
    * bounded aggregates crossJoined (every side ≤ 1 row). */
  def curationStateReport(cs: CurationState): DataFrame =
    cs.srcCounts
      .agg(sum(col("n_source")).as("n_docs"), count(lit(1)).as("n_sources"))
      .crossJoin(broadcast(cs.stats))
      .crossJoin(broadcast(cs.fp.agg(count(lit(1)).as("n_fp"))))
      .crossJoin(broadcast(cs.benchGrams.agg(count(lit(1)).as("n_bench_grams"))))
      .crossJoin(broadcast(cs.bounds))
      .select(col("n_docs"), col("n_sources"),
        col("t").as("total_tokens"), col("v").as("vocab"),
        col("n_fp"), col("n_bench_grams"),
        round(element_at(col("bs"), 1), 6).as("ppl_cut_1"),
        round(element_at(col("bs"), 2), 6).as("ppl_cut_2"))

  /** Direct (no-artifact) form — [[CurationState.compute]] piped straight
    * into the server; tests pin artifact == direct. */
  def curateIncremental(state: DataFrame, fresh: DataFrame): DataFrame =
    curateIncrementalFromState(CurationState.compute(state), fresh)

  /** Serve one fresh ingest batch against a FROZEN [[CurationState]] — all
    * work here is fresh-batch-sized: the state side contributes only its
    * materialized count tables (vocabulary grain), fingerprint / benchmark
    * gram sets (anti-join / semi-join sides), a 1-row stats frame and the
    * 1-row tercile bounds. Nothing rescans state documents. */
  def curateIncrementalFromState(cs: CurationState, fresh: DataFrame): DataFrame = {
    // three consumers (repetition, contamination, LM) share the fresh
    // tokenize; callers running entries back-to-back should clearCache
    // after materializing (the bench does; ADVICE r9 cache note).
    // (A pre-partitioned+sorted cache was probed in r10 and bought
    // nothing — the per-gate window exchanges are not the cost; the
    // fresh 5-gram distinct in the contamination gate is, and that is
    // irreducible fresh-batch-sized work.)
    val toksFresh = Curation.tokens(fresh).persist()

    val keepRep = CurationState.contentFp(fresh)
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .join(cs.fp, Seq("fp"), "left_anti")
      .select(col("doc_id"), lit(true).as("dedup_rep"))

    val rep = Curation.repetitionSignalsFrom(toksFresh)
      .select(col("doc_id"), col("repetitive"))

    // the benchmark set is a FIXED asset spanning both halves: the frozen
    // state-side grams union any benchmark docs arriving in this batch
    val freshGrams = Curation.contamGrams(toksFresh)
    val benchAll = cs.benchGrams.unionByName(
        freshGrams.filter(col("source") === Curation.BenchmarkSource).select("g"))
      .distinct()
    val con = Curation.contaminationAgainst(benchAll,
        freshGrams.filter(col("source") =!= Curation.BenchmarkSource)
          .select("doc_id", "g"))
      .select(col("doc_id"), col("contaminated"))

    val qual = fresh.select(col("doc_id"), TextOps.qualityExpr(col("text")).as("quality"))

    val ppl = CurationState.lmScores(
        CurationState.bigramsOf(toksFresh), cs.c1, cs.c2, cs.stats)
      .crossJoin(broadcast(cs.bounds))
      .select(col("doc_id"), col("avg_surprisal"),
        when(col("avg_surprisal") <= element_at(col("bs"), 1), "head")
          .when(col("avg_surprisal") <= element_at(col("bs"), 2), "middle")
          .otherwise("tail").as("ppl_bucket"))

    val mix = domainMixFromCounts(cs.srcCounts, fresh)
      .select(col("doc_id"), col("kept").as("mix_kept"))

    fresh.select(col("doc_id"), col("source"))
      .join(keepRep, Seq("doc_id"), "left")
      .join(rep, Seq("doc_id"))
      .join(con, Seq("doc_id"), "left") // benchmark docs have no contamination row
      .join(qual, Seq("doc_id"))
      .join(ppl, Seq("doc_id"), "left") // <2-token docs score no bigram
      .join(mix, Seq("doc_id"))
      .select(
        col("doc_id"), col("source"),
        coalesce(col("dedup_rep"), lit(false)).as("dedup_rep"),
        col("repetitive"),
        coalesce(col("contaminated"), lit(true)).as("contaminated"),
        col("quality"),
        col("avg_surprisal"),
        coalesce(col("ppl_bucket"), lit("tail")).as("ppl_bucket"),
        col("mix_kept"))
      .withColumn("keep",
        col("dedup_rep") && !col("repetitive") && !col("contaminated") &&
          col("quality") >= CurateQualityMin &&
          col("ppl_bucket") =!= "tail" && col("mix_kept"))
  }

  def qTrainingMix(s: SparkSession, d: String): DataFrame = {
    val keep = Dedup.qDedupExact(s, d).select(col("keep_id").as("doc_id"))
    val lang = TextOps.qLangId(s, d).select(col("doc_id"), col("pred_lang"))
    val qual = TextOps.qQualityScore(s, d).select(col("doc_id"), col("quality"))
    val toks = TextOps.qTokenCount(s, d).select(col("doc_id"), col("ws_tokens"))
    val threshold = when(col("pred_lang") === "en", lit("80"))
      .when(col("pred_lang") === "ru", lit("c0"))
      .otherwise(lit("zz"))
    documents(s, d).select(col("doc_id"), col("text"))
      .join(keep, Seq("doc_id"), "left_semi")
      .join(lang, Seq("doc_id"))
      .join(qual, Seq("doc_id"))
      .join(toks, Seq("doc_id"))
      .filter(col("quality") >= 0.05)
      .withColumn("sample_bucket", substring(md5(col("text").cast("binary")), 1, 2))
      .filter(col("sample_bucket") < threshold)
      .select(col("doc_id"), col("pred_lang"), col("quality"),
        col("ws_tokens"), col("sample_bucket"))
  }

  /** Corpus release manifest (release_manifest): the accounting artifact
    * a training-data release ships — per (source, split, quality band):
    * document / whitespace-token / character counts and an
    * ORDER-INDEPENDENT content checksum (each document's md5 prefix as a
    * decimal, summed in decimal(38,0) — any partitioning, row order, or
    * merge schedule yields the same digest, the rollup_incremental
    * mergeability discipline). A consumer re-derives the digest from
    * delivered files to prove the release complete and unaltered without
    * trusting row order or a manifest-side sort.
    *
    * Composes the deterministic content-keyed split ([[Sampling.hashSplit]]
    * convention), FIXED quality-score bands (corpus-free cutoffs — no
    * global rank, so the manifest of a shard equals the shard of the
    * manifest), and the md5 fingerprint family. One scan, one
    * (source, split, band) agg — map-side combined, dimension-grain out. */
  def qReleaseManifest(s: SparkSession, d: String): DataFrame =
    releaseManifest(documents(s, d))

  /** See [[qReleaseManifest]]; OperatorSpec pins shard-mergeability
    * (union of shard manifests re-aggregated == whole-corpus manifest). */
  def releaseManifest(docs: DataFrame): DataFrame = {
    val bucket =
      conv(substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("long") % 100
    val split = when(bucket < 90, "train").when(bucket < 95, "valid").otherwise("test")
    val q = TextOps.qualityExpr(col("text"))
    val band = when(q < 0.2, "low").when(q < 0.5, "mid").otherwise("high")
    val fpDec = conv(substring(md5(TextOps.normText(col("text")).cast("binary")), 1, 15), 16, 10)
      .cast("decimal(38,0)")
    docs
      .select(col("source"), split.as("split"), band.as("quality_band"),
        size(TextOps.normWords(col("text"))).cast("long").as("toks"),
        length(col("text")).cast("long").as("chars"), fpDec.as("fp_dec"))
      .groupBy(col("source"), col("split"), col("quality_band"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"),
        sum(col("chars")).as("n_chars"),
        // checksum travels as STRING: a decimal(38,0) crosses engine
        // boundaries with engine-specific numeric rendering (float on
        // one side, exact decimal on the other) — digits are portable
        sum(col("fp_dec")).cast("decimal(38,0)").cast("string").as("checksum"))
  }

  /** k-anonymity floor for released corpus statistics: per-(source, lang)
    * document counts are publishable only when the group holds at least
    * [[KAnonThreshold]] documents; smaller groups are rolled into one
    * `__suppressed__` row so their combined mass is still accounted for
    * but no small cohort is individually identifiable. This is the
    * aggregate-release face of the governance family ([[Curation.qRtbfPurge]]
    * is the record-level one).
    *
    * Scale shape: one scan, one dimension-grain agg, then a filter split —
    * the suppressed branch re-aggregates ≤ #groups rows. Exact longs only. */
  val KAnonThreshold = 10

  def qKanonRelease(s: SparkSession, d: String): DataFrame =
    kanonRelease(documents(s, d))

  def kanonRelease(docs: DataFrame): DataFrame = {
    val g = docs.groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n_docs"))
    val released = g.filter(col("n_docs") >= KAnonThreshold)
      .select(col("source"), col("lang"), col("n_docs"))
    // agg over a possibly-empty input yields one NULL-sum row; the filter
    // drops it so the suppressed row appears only when something was hidden
    val suppressed = g.filter(col("n_docs") < KAnonThreshold)
      .agg(sum(col("n_docs")).as("n_docs"))
      .filter(col("n_docs").isNotNull)
      .select(lit("__suppressed__").as("source"), lit("__suppressed__").as("lang"),
        col("n_docs"))
    released.unionByName(suppressed)
  }

  /** Temperature-weighted epoch allocation — the data-budget planner that
    * turns per-source token counts into a sampling mix: weight each source
    * by tokens^α (α = 0.5, the multilingual-LM temperature convention that
    * up-weights small sources without letting any source dominate), then
    * compute how many EPOCHS of each source a fixed token budget
    * (2× the corpus here) implies. Sources whose allocation exceeds 4
    * epochs are flagged — the published diminishing-returns knee for
    * repeated data — telling the curator to either cap the source's
    * weight or find more data.
    *
    * Float policy: the α-weights are sqrt values snapped to decimal(18,6)
    * BEFORE the cross-source sum (order-independent, engine-exact — the
    * repo-wide free-double rule); the published ratios divide those exact
    * decimals as doubles and round. The totals frame is 1 row and
    * broadcast; everything else is one source-grain agg. */
  val EpochBudgetMult = 2.0
  val EpochRepeatKnee = 4.0

  def qEpochPlan(s: SparkSession, d: String): DataFrame =
    epochPlan(documents(s, d))

  def epochPlan(docs: DataFrame): DataFrame = {
    val t = docs
      .select(col("source"), size(TextOps.normWords(col("text"))).cast("long").as("toks"))
      .groupBy(col("source")).agg(sum(col("toks")).as("src_tokens"))
    val w = t.withColumn("w",
      sqrt(col("src_tokens").cast("double")).cast("decimal(18,6)"))
    val tot = w.agg(sum(col("w")).cast("decimal(38,6)").as("tot_w"),
      sum(col("src_tokens")).as("tot_tokens"))
    val ratio = col("w").cast("double") / col("tot_w").cast("double")
    val epochs = round(
      lit(EpochBudgetMult) * col("tot_tokens").cast("double") * ratio
        / col("src_tokens").cast("double"), 4)
    w.crossJoin(broadcast(tot))
      .select(col("source"), col("src_tokens"),
        round(ratio, 6).as("mix_weight"),
        epochs.as("epochs"),
        (epochs > EpochRepeatKnee).as("repeat_warn"))
  }
}
