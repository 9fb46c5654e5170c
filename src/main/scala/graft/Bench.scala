package graft
import org.apache.spark.sql.SparkSession
/** Benchmark main: times every registered query at SPARK_GRAFT_SF_DIR and
  * prints one short JSON line PER QUERY ({"query":name,"sec":min}) followed
  * by a compact summary line ({"metric":"total",...}) — multi-line since
  * round 9 because the single all-queries line outgrew the driver's tail
  * capture (BENCH_r08 parsed:null). A failed query records sec = -1 and
  * is listed in "failed" — a broken query must never masquerade as a fast
  * one (VERDICT r01 §wrong-6).
  *
  * Protocol (VERDICT r02 §perf): this box swings ±40% under co-tenant
  * load, so a single-run number cannot distinguish a true regression from
  * noise. The whole suite runs SPARK_GRAFT_BENCH_RUNS (default 3) full
  * passes and reports the per-query MIN across passes; within a pass each
  * query is timed once with caches cleared between queries, so a min is an
  * honest cold-ish run, not a cache replay.
  *
  * Pipeline sharing: ngram_jaccard and minhash_lsh both consume the word-
  * shingle table. In production that table is materialized once (the
  * scaladoc design in Dedup.shingleTable); the bench mirrors it — each pass
  * builds + persists the shingle table, timed as its own "shingle_table"
  * entry, and both downstream queries read the cached table, so the
  * tokenize shuffle is paid (and counted) exactly once per pass.
  *
  * sf1 addendum (r12): when target/testdata/sf1 exists (or
  * SPARK_GRAFT_SF1_DIR points elsewhere; SPARK_GRAFT_SF1=0 disables,
  * SPARK_GRAFT_SF1_RUNS overrides the pass count), extra passes run the
  * whole catalogue at the 10x tier and land as a compact "sf1" object on
  * the summary line plus a full "sf1_queries" map in bench.json — the
  * whole-catalogue scaling measurement VERDICT r11 task 6 asked for.
  * Min-of-2 r13..r15; ONE full pass since r16 (the second all-inclusive
  * sf1 pass busted the r15 harness deadline) with entries new this round
  * still getting min-of-2 via a partial second pass ([[newSf1Entries]]).
  *
  * Deadline awareness (r16, VERDICT r15 task 1): the whole run fits
  * SPARK_GRAFT_BENCH_DEADLINE_S (default 2700 s). sf0.1 pass 1 always
  * runs; later passes are DEFERRED when their projected cost (1.15x the
  * slowest completed pass, plus a reservation for one sf1 pass) would
  * bust the deadline, then backfilled after the sf1 tier from whatever
  * budget remains; the summary line is printed and bench.json
  * rewritten after EVERY completed pass; a shutdown hook (stdout + file
  * only, no Spark calls) flushes the latest totals on SIGTERM. The
  * summary carries passes_run so BENCH_DIFF can normalize a shortened
  * round; "runs" keeps its requested-count semantics. BenchContractSpec
  * pins all of this against the sf0.001 fixture on every sbt test. */
object Bench {
  /** Entries first registered THIS round: they get min-of-2 at the sf1
    * tier via a partial second pass (no prior-round ratio exists to
    * adjudicate a one-pass artifact against); everything else runs
    * min-of-1 at sf1 since r16 — the second all-inclusive sf1 pass is
    * what busted the r15 harness deadline. Update per round (r17: none —
    * the catalogue is deliberately flat, VERDICT r16 task 7). */
  val newSf1Entries: Set[String] = Set.empty

  /** Entries billed from cached upstream tables inside a pass's shared
    * pipelines. Their STANDALONE registrations rebuild those tables, so a
    * standalone timing is an upper bound of the pipeline billing and must
    * never be mixed into a min silently (ADVICE r16) — only as an
    * explicitly tagged re-probe, where an upper bound can only keep a min
    * honest, never deflate it. Object-level so the partial-second-pass
    * filter and the re-probe tagging share one source of truth. */
  val sharedPipelineEntries: Set[String] = Set(
    "corpus_curate", "curation_funnel", "curation_report",
    "dsir_weights", "dsir_select", "dsir_resample",
    "gram_index_compact", "substring_dedup_serve",
    "curation_state_build", "curate_incremental", "curation_state_report",
    "classifier_train", "classifier_train_score",
    "ann_lsh", "ann_ivf", "ann_pq", "ann_ivfpq", "ann_2level",
    "ann_exact_top3", "ann_eval",
    "ngram_jaccard", "prefix_jaccard", "minhash_lsh",
    "minhash_lsh_md5", "lsh_eval", "minhash_incremental", "dedup_clusters",
    "dedup_clusters_incremental", "dedup_clusters_maintain",
    "canonical_select", "q38_edit_distance", "split_leakage", "cluster_split",
    "simhash_md5",
    "simhash_pairs_md5", "winnow_md5", "dedup_agreement", "novelty_score",
    "q31_tfidf", "bm25_topterms", "bm25_search", "bm25_incremental",
    "vocab_build", "vocab_coverage", "oov_rate", "corpus_divergence", "heavy_hitters",
    "heavy_hitters_exact", "cms_counts", "cms_lookup",
    "overlap_exact", "overlap_kmv")

  /** Per-query min across completed passes (plus any tagged extras —
    * partial-pass or re-probe samples — for the same name); a query that
    * failed every pass stays -1. Object-level since r17 so
    * BenchContractSpec can pin the re-probe merge on a synthetic fixture. */
  def minOver(passes: Seq[Seq[(String, Double)]],
      extra: Seq[(String, Double)] = Nil): Seq[(String, Double)] =
    if (passes.isEmpty) Seq.empty
    else {
      val extraByName = extra.groupBy(_._1)
      passes.head.map(_._1).map { n =>
        val xs = (passes.flatMap(_.toMap.get(n)) ++
          extraByName.getOrElse(n, Nil).map(_._2)).filter(_ >= 0)
        n -> (if (xs.isEmpty) -1.0 else xs.min)
      }
    }

  /** Outlier detection for the re-probe pass (VERDICT r16 task 1): the
    * r16 driver artifact published q07 = 17.2 s — 18x the committed value
    * — because its only completed pass ran on a window calibrating 3.125
    * and nothing re-checked the inflated minima. An entry's min is NOT
    * trustworthy when (a) it exceeds ~2.5x its value in the committed
    * prior artifact, or (b) every pass that contributed a sample
    * calibrated > 1.5x the best pass of this run. Returns (name, current
    * min) sorted cheapest-first (by the smaller of prior/current) so a
    * tight remaining budget re-probes the most entries. */
  def outlierEntries(passes: Seq[Seq[(String, Double)]], cals: Seq[Double],
      prior: Map[String, Double]): Seq[(String, Double)] = {
    val goodCals = cals.filter(_ > 0)
    val bestCal = if (goodCals.nonEmpty) goodCals.min else -1.0
    minOver(passes).flatMap {
      case (n, cur) if cur >= 0 =>
        val inflated = prior.get(n).exists(p => p >= 0.001 && cur > 2.5 * p)
        val contributing = passes.zipWithIndex.collect {
          case (pass, i) if pass.toMap.get(n).exists(_ >= 0) => i }
        val loadedOnly = bestCal > 0 && contributing.nonEmpty &&
          contributing.forall(i => i < cals.size && cals(i) > 1.5 * bestCal)
        if (inflated || loadedOnly) Some(n -> cur) else None
      case _ => None
    }.sortBy { case (n, cur) => math.min(prior.getOrElse(n, cur), cur) }
  }

  /** sf1 flag detection for the automated adjudication probe (VERDICT r16
    * task 4): an sf1 entry is flagged when its min exceeds 1.5x its
    * committed prior AFTER normalizing by the calibration ratio of the
    * two windows — the same arithmetic BENCH_DIFF applies, so the probe
    * list is exactly the flag list the diff would raise. Sorted
    * cheapest-first. */
  def sf1Flagged(current: Seq[(String, Double)], prior: Map[String, Double],
      curCal: Double, priorCal: Double): Seq[(String, Double)] = {
    // The deflation side of the normalization is CLAMPED at 0.9: the sf1
    // calibration is min-of-1, and one lucky sample (r17 live run: 0.630
    // vs prior 0.789) deflates the threshold enough to manufacture 50+
    // flags out of raw ratios near 1.2x. A real regression still flags —
    // raw 1.35x+ always exceeds the clamped threshold — while the probe
    // budget stops drowning in calibration variance.
    val raw = if (priorCal > 0 && curCal > 0) curCal / priorCal else 1.0
    val norm = math.max(raw, 0.9)
    current.filter { case (n, v) =>
      v >= 0 && prior.get(n).exists(p => p >= 0.001 && v > 1.5 * p * norm)
    }.sortBy(_._2)
  }

  /** Parse a prior bench.json artifact (this file's own render format —
    * machine-written, so the shapes are exact): the sf0.1 and sf1
    * per-query maps plus the sf0.1 and sf1 calibration columns. Absent
    * file / section → empty. Regex-based by design: the bench must not
    * depend on a JSON library the runtime classpath doesn't pin. */
  def parsePrior(text: String)
      : (Map[String, Double], Map[String, Double], Seq[Double], Seq[Double]) = {
    def mapBlock(key: String): Map[String, Double] = {
      val i = text.indexOf("\"" + key + "\": {")
      if (i < 0) Map.empty
      else {
        val rest = text.substring(i + key.length + 5)
        val end = rest.indexOf("}")
        """"([A-Za-z0-9_]+)":\s*(-?[0-9.]+)""".r
          .findAllMatchIn(if (end < 0) rest else rest.take(end))
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    }
    def cals(scope: String): Seq[Double] =
      """"calibration_s":\[([^\]]*)\]""".r.findFirstMatchIn(scope)
        .map(_.group(1).split(",").toSeq.filter(_.nonEmpty).map(_.toDouble))
        .getOrElse(Seq.empty)
    val sf1Start = text.indexOf("\"sf1\":{")
    val (pre, post) = if (sf1Start < 0) (text, "") else text.splitAt(sf1Start)
    (mapBlock("queries"), mapBlock("sf1_queries"), cals(pre), cals(post))
  }

  /** Config lookup: system property first (BenchContractSpec drives the
    * main in-JVM and cannot set environment variables), then the
    * environment, then the default. */
  private def cfg(name: String, default: String): String =
    sys.props.get(name).orElse(sys.env.get(name)).getOrElse(default)

  // toRdd.count() materializes every output column; a plain count()
  // would let Catalyst prune projection-only queries to no-ops.
  private def time(body: => Unit): Double = {
    val t0 = System.nanoTime()
    val ok =
      try { body; true }
      catch { case e: Throwable =>
        System.err.println(s"[bench] FAILED: ${e.getMessage}"); false
      }
    if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
  }

  /** Fixed-work calibration probe, timed at the head of every pass: a
    * constant CPU+shuffle kernel (20M-row modular groupBy, no data
    * dependence on sfDir) whose runtime moves only with box load. The
    * last three rounds each spent judge time adjudicating co-tenant
    * noise (VERDICT r6 task 3); with calibration_s in the artifact a
    * noisy window is detectable from the JSON alone — divide a
    * suspicious per-query delta by the calibration ratio first.
    * graft.tools.Profile prints the same kernel as its load context. */
  def calibrate(spark: SparkSession): Double = time {
    spark.range(20000000L)
      .selectExpr("id % 997 AS k", "id AS v")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("v"))
      .queryExecution.toRdd.count()
  }

  def main(args: Array[String]): Unit = {
    val wall0 = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - wall0) / 1e9
    val sfDir = cfg("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = cfg("SPARK_GRAFT_CPUS", "32")
    val runs = cfg("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // Wall-clock budget (VERDICT r15 task 1): r14's driver invocation
    // passed at 53:44, r15's timed out — default to a safe ~45 min and
    // let the scheduler below drop repeat passes first, sf1 passes last.
    val deadlineS = cfg("SPARK_GRAFT_BENCH_DEADLINE_S", "2700").toDouble
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the session (task scheduling, codegen compiler, parquet footer
    // caches) so the first timed query doesn't absorb JVM start-up costs
    spark.range(1000000).selectExpr("sum(id)").collect()
    SparkEntry.entry(spark).queryExecution.toRdd.count()

    // Dependent entries consume vars assigned inside EARLIER timed blocks
    // (the pipeline-sharing design); if the upstream entry failed its var
    // stays null and the dependent would die with an NPE whose message
    // points at the WRONG entry (ADVICE r14). Fail fast with the true
    // culprit named instead.
    def upstream(v: AnyRef, name: String): Unit =
      if (v == null) throw new IllegalStateException(
        s"upstream entry '$name' failed — dependent entry skipped")

    // Shared-table builds happen OUTSIDE timed blocks (the pipeline-
    // sharing design); a failed build (e.g. a nonexistent SF dir, the
    // BenchContractSpec degenerate case) must surface as per-entry -1s,
    // never abort the whole pass — the "all failed, total 0.0" contract.
    def safe[T >: Null](body: => T): T =
      try body
      catch { case e: Throwable =>
        System.err.println(s"[bench] shared build FAILED: ${e.getMessage}"); null
      }

    def runPass(sfDir: String): Seq[(String, Double)] = {
      // The shingle pipeline runs first so the shared table stays cached
      // exactly across its two consumers: build+persist (timed as its own
      // entry), ngram_jaccard, minhash_lsh, THEN drop all caches. No
      // clearCache in between — that would silently re-bill the tokenize
      // shuffle to whichever consumer ran second.
      val shingles = safe {
        operators.Dedup.shingleTable(Tables.documents(spark, sfDir)).persist() }
      // The candidate PAIRS are materialized once too (timed as the
      // ngram_jaccard entry) and shared by the clusterer and the edit-
      // distance verifier — a dedup cascade computes its pair list once
      // (VERDICT r03 §wrong-2: q38 used to re-bill the whole self-join).
      val pairs = safe {
        upstream(shingles, "shingle_table")
        operators.Dedup.ngramJaccardFrom(shingles).persist() }
      var labels: org.apache.spark.sql.DataFrame = null
      var ccPrior: org.apache.spark.sql.DataFrame = null
      val shinglePipeline = Seq(
        "shingle_table" -> time { shingles.queryExecution.toRdd.count() },
        "ngram_jaccard" -> time { pairs.queryExecution.toRdd.count() },
        // the prefix-filtered variant probes the SAME cached shingle table
        // (its standalone registration builds its own; here the table is
        // billed once as shingle_table like every other consumer)
        "prefix_jaccard" -> time {
          operators.Dedup.prefixJaccardFrom(shingles).queryExecution.toRdd.count() },
        "minhash_lsh" -> time {
          operators.Dedup.minHashLshFrom(shingles).queryExecution.toRdd.count() },
        "minhash_lsh_md5" -> time {
          operators.Dedup.minHashLshMd5From(shingles).queryExecution.toRdd.count() },
        // the eval harness consumes the SAME cached shingle table; its
        // billed cost is the truth/candidate joins + five 1-row aggs
        "lsh_eval" -> time {
          operators.Dedup.lshEvalFrom(shingles).queryExecution.toRdd.count() },
        // shingles are per-doc, so filtering the cached table by parity IS
        // the split table — the twin pays no second tokenize
        "minhash_incremental" -> time {
          operators.Dedup.minHashIncrementalFrom(
            shingles.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 1),
            shingles.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 0))
            .queryExecution.toRdd.count() },
        "dedup_clusters" -> time {
          labels = operators.Dedup.clusterPairs(pairs.select("doc_a", "doc_b")).persist()
          labels.queryExecution.toRdd.count() },
        // the incremental maintainer consumes the SAME cached pair table
        // (its standalone registration rebuilds its own, checkpointed
        // once); its billed cost is prior-CC + the batch-sized
        // maintenance fold, not a rebuilt pair cascade
        "dedup_clusters_incremental" -> time {
          ccPrior = operators.Dedup.clusterPairs(
              pairs.select("doc_a", "doc_b")
                .filter(org.apache.spark.sql.functions.col("doc_a") % 5 =!= 2 &&
                  org.apache.spark.sql.functions.col("doc_b") % 5 =!= 2))
            .select("doc_id", "cluster_id").localCheckpoint()
          operators.Dedup.maintainClusters(ccPrior,
            pairs.select("doc_a", "doc_b")
              .filter(org.apache.spark.sql.functions.col("doc_a") % 5 === 2 ||
                org.apache.spark.sql.functions.col("doc_b") % 5 === 2)
              .localCheckpoint())
            .queryExecution.toRdd.count() },
        // the RECURRING leg alone (VERDICT r13 task 2): fold the batch
        // into the ALREADY-BUILT prior state — the per-ingest-cycle cost
        // at 100 TB, where the state build amortizes across cycles (the
        // curation_state_build / curate_incremental billing precedent)
        "dedup_clusters_maintain" -> time {
          upstream(ccPrior, "dedup_clusters_incremental")
          operators.Dedup.maintainClusters(ccPrior,
            pairs.select("doc_a", "doc_b")
              .filter(org.apache.spark.sql.functions.col("doc_a") % 5 === 2 ||
                org.apache.spark.sql.functions.col("doc_b") % 5 === 2)
              .localCheckpoint())
            .queryExecution.toRdd.count() },
        // the canonicalizer consumes the labels artifact the previous stage
        // materialized (a cascade computes labels once); its own cost is
        // the quality map + per-cluster argmax window
        "canonical_select" -> time {
          upstream(labels, "dedup_clusters")
          operators.Dedup.canonicalSelect(Tables.documents(spark, sfDir), labels)
            .queryExecution.toRdd.count() },
        "q38_edit_distance" -> time {
          operators.Dedup.editDistanceFrom(Tables.documents(spark, sfDir), pairs)
            .queryExecution.toRdd.count() },
        // split-integrity pair: both consume the cascade's cached pair /
        // label artifacts (their standalone registrations rebuild them)
        "split_leakage" -> time {
          operators.Sampling.splitLeakageFrom(pairs.select("doc_a", "doc_b"),
            operators.Sampling.qHashSplit(spark, sfDir)
              .select(org.apache.spark.sql.functions.col("doc_id"),
                org.apache.spark.sql.functions.col("split")))
            .queryExecution.toRdd.count() },
        "cluster_split" -> time {
          upstream(labels, "dedup_clusters")
          operators.Sampling.clusterSplitFrom(Tables.documents(spark, sfDir),
            labels.select("doc_id", "cluster_id"))
            .queryExecution.toRdd.count() },
        // novelty consumes the SAME shared shingle table (its standalone
        // registration builds its own; here the table is billed once as
        // shingle_table like every other consumer — VERDICT r8 task 5
        // pattern)
        "novelty_score" -> time {
          operators.TextOps.noveltyScoreFrom(shingles).queryExecution.toRdd.count() })
      // overlap consumes the SAME shared doc-grain shingle table via a
      // thin (doc_id, source) join; the source-grain distinct is billed
      // to overlap_exact (first consumer), the KMV entry reads it cached
      val srcShingles = safe {
        upstream(shingles, "shingle_table")
        operators.Overlap.sourceShinglesFrom(shingles,
          Tables.documents(spark, sfDir)
            .select(org.apache.spark.sql.functions.col("doc_id"),
              org.apache.spark.sql.functions.col("source"))).persist() }
      val overlapPipeline = Seq(
        "overlap_exact" -> time {
          operators.Overlap.overlapExact(srcShingles).queryExecution.toRdd.count() },
        "overlap_kmv" -> time {
          operators.Overlap.overlapKmv(srcShingles).queryExecution.toRdd.count() })
      // SimHash + winnow twins live in the same cascade window so the
      // method-agreement matrix can consume ALL THREE cached pair/
      // fingerprint artifacts — its billed cost is the matrix itself
      // (winnow pair join + nine bounded aggs), not three rebuilt
      // cascades (r10; the standalone registration still builds its own).
      val sigsMd5 = safe { operators.Dedup.qSimHashMd5(spark, sfDir).persist() }
      var simPairs: org.apache.spark.sql.DataFrame = null
      var winnowFps: org.apache.spark.sql.DataFrame = null
      val simhashPipeline = Seq(
        "simhash_md5" -> time { sigsMd5.queryExecution.toRdd.count() },
        "simhash_pairs_md5" -> time {
          simPairs = operators.Dedup.simHashPairsMd5From(sigsMd5).persist()
          simPairs.queryExecution.toRdd.count() },
        "winnow_md5" -> time {
          winnowFps = operators.TextOps.qWinnowFingerprintMd5(spark, sfDir).persist()
          winnowFps.queryExecution.toRdd.count() },
        "dedup_agreement" -> time {
          upstream(simPairs, "simhash_pairs_md5"); upstream(winnowFps, "winnow_md5")
          operators.Dedup.dedupAgreementFrom(
            pairs.select("doc_a", "doc_b"),
            simPairs.select("doc_a", "doc_b"),
            winnowFps).queryExecution.toRdd.count() })
      spark.catalog.clearCache()
      // Token pipeline: the (doc_id, source, token) explode is built and
      // persisted ONCE (billed as token_table) and shared by every
      // token-grain consumer — the layout a real pipeline materializes
      // per corpus (VERDICT r8 task 5). The incremental twin filters the
      // cached table by doc_id residue, so it pays no second tokenize.
      val tokens = safe {
        operators.TextOps.tokenTable(Tables.documents(spark, sfDir)).persist() }
      val bq = operators.TextOps.Bm25Query
      var cmsMerged: org.apache.spark.sql.DataFrame = null
      val tokenPipeline = Seq(
        "token_table" -> time { tokens.queryExecution.toRdd.count() },
        "q31_tfidf" -> time {
          operators.TextOps.tfIdfFrom(tokens, Tables.documents(spark, sfDir))
            .queryExecution.toRdd.count() },
        "bm25_topterms" -> time {
          operators.TextOps.bm25TopTermsFrom(tokens).queryExecution.toRdd.count() },
        "bm25_search" -> time {
          operators.TextOps.bm25SearchFromTokens(tokens, bq, 10)
            .queryExecution.toRdd.count() },
        "bm25_incremental" -> time {
          operators.TextOps.bm25IncrementalFromTokens(
            tokens.filter(org.apache.spark.sql.functions.col("doc_id") % 3 =!= 0),
            tokens.filter(org.apache.spark.sql.functions.col("doc_id") % 3 === 0),
            bq, 10).queryExecution.toRdd.count() },
        "vocab_build" -> time {
          operators.TextOps.vocabBuildFrom(tokens, 1000).queryExecution.toRdd.count() },
        "vocab_coverage" -> time {
          operators.TextOps.vocabCoverageFrom(tokens).queryExecution.toRdd.count() },
        "oov_rate" -> time {
          operators.TextOps.oovRateFrom(tokens).queryExecution.toRdd.count() },
        "corpus_divergence" -> time {
          operators.TextOps.corpusDivergenceFrom(tokens).queryExecution.toRdd.count() },
        "heavy_hitters" -> time {
          operators.TextOps.heavyHittersFrom(tokens).queryExecution.toRdd.count() },
        "heavy_hitters_exact" -> time {
          operators.TextOps.heavyHittersExactFrom(tokens).queryExecution.toRdd.count() },
        // CMS family (r14): the algebra audit consumes the shared token
        // table; the merged sketch is built+persisted ONCE as its own
        // entry (the curation_state_build shape), and the serving leg
        // bills ONLY the probe join against the cached sketch + the
        // probe-filtered exact anchor — the per-lookup cost at 100 TB
        "cms_counts" -> time {
          operators.TextOps.cmsCountsFrom(tokens).queryExecution.toRdd.count() },
        "cms_sketch_build" -> time {
          cmsMerged = operators.TextOps.cmsMergedSketch(tokens).persist()
          cmsMerged.queryExecution.toRdd.count() },
        "cms_lookup" -> time {
          upstream(cmsMerged, "cms_sketch_build")
          operators.TextOps.cmsLookupFrom(cmsMerged, tokens)
            .queryExecution.toRdd.count() })
      spark.catalog.clearCache()
      // Curation pipeline: the per-doc verdict frame is the materialized
      // artifact (billed as corpus_curate); the funnel reads it cached —
      // the report is an agg over the run's own output, as in production
      val ccVerdict = safe { operators.Pipeline.qCorpusCurate(spark, sfDir).persist() }
      // The frozen-state artifact is built ONCE per ingest cycle in
      // production (r9 VERDICT task 1) — billed as its own entry; the
      // serving query then pays only fresh-batch work, which is the number
      // that matters at 100 TB (state >> fresh).
      val csPath = java.nio.file.Files
        .createTempDirectory("graft-bench-cstate").toString
      val docsForCs = safe { Tables.documents(spark, sfDir) }
      val curationPipeline = Seq(
        "corpus_curate" -> time { ccVerdict.queryExecution.toRdd.count() },
        "curation_funnel" -> time {
          operators.Pipeline.curationFunnel(ccVerdict).queryExecution.toRdd.count() },
        "curation_report" -> time {
          operators.Pipeline.curationReport(ccVerdict).queryExecution.toRdd.count() },
        "curation_state_build" -> time {
          operators.CurationState.write(
            operators.CurationState.compute(
              docsForCs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 0)),
            csPath) },
        "curate_incremental" -> time {
          operators.Pipeline.curateIncrementalFromState(
            operators.CurationState.load(spark, csPath),
            docsForCs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 1))
            .queryExecution.toRdd.count() },
        // the audit report READS the artifact the build stage wrote —
        // its billed cost is six bounded aggregates, as in production
        // (the standalone registration recomputes from scratch so the
        // driver hash stays independent of the artifact)
        "curation_state_report" -> time {
          operators.Pipeline.curationStateReport(
            operators.CurationState.load(spark, csPath))
            .queryExecution.toRdd.count() })
      spark.catalog.clearCache()
      // Classifier lifecycle: the 12-round GD is billed ONCE (as
      // classifier_train — the call is eager, its collects run the rounds);
      // the serve leg scores from the SHARED trained weight table, so its
      // billed cost is the true production serve shape — one broadcast
      // join + one integer agg (VERDICT r12 task 2: the combined entry
      // used to re-train and double-bill ~8 s; the standalone registration
      // still trains inside the entry so the driver hash is unaffected).
      val clsDocs = safe { Tables.documents(spark, sfDir) }
      var clsModel: org.apache.spark.sql.DataFrame = null
      val classifierPipeline = Seq(
        "classifier_train" -> time {
          clsModel = operators.Curation.classifierTrain(clsDocs)
          clsModel.queryExecution.toRdd.count() },
        "classifier_train_score" -> time {
          operators.Curation.classifierTrainScoreFrom(clsDocs, clsModel)
            .queryExecution.toRdd.count() })
      spark.catalog.clearCache()
      // ANN family (VERDICT r13 task 1 — the classifier_train_score
      // billing-split precedent): the five production pipelines and the
      // exact ground-truth scan are billed once each as their own
      // entries; the recall audit consumes their CACHED outputs, so its
      // billed cost is the hit join + one eval-sized agg — the true
      // recurring cost of a per-index-build recall regression check. The
      // standalone ann_eval registration still rebuilds everything, so
      // the driver hash is unaffected.
      val annOuts = scala.collection.mutable.ArrayBuffer
        .empty[(String, org.apache.spark.sql.DataFrame)]
      def annLeg(m: String, df: => org.apache.spark.sql.DataFrame): Double =
        time {
          val f = df.persist()
          annOuts += (m -> f)
          f.queryExecution.toRdd.count()
        }
      var annExact: org.apache.spark.sql.DataFrame = null
      val annPipeline = Seq(
        "ann_lsh" -> annLeg("lsh", operators.Similarity.qAnnLsh(spark, sfDir)),
        "ann_ivf" -> annLeg("ivf", operators.Similarity.qAnnIvf(spark, sfDir)),
        "ann_pq" -> annLeg("pq", operators.Similarity.qAnnPq(spark, sfDir)),
        "ann_ivfpq" -> annLeg("ivfpq", operators.Similarity.qAnnIvfPq(spark, sfDir)),
        "ann_2level" -> annLeg("2level", operators.Similarity.qAnnTwoLevel(spark, sfDir)),
        "ann_exact_top3" -> time {
          annExact = operators.Similarity.annExactTop3(spark, sfDir).persist()
          annExact.queryExecution.toRdd.count() },
        "ann_eval" -> time {
          upstream(annExact, "ann_exact_top3")
          operators.Similarity.annEvalFrom(annOuts.toSeq, annExact)
            .queryExecution.toRdd.count() })
      spark.catalog.clearCache()
      // every other query: timed independently, caches dropped after each so
      // executor memory doesn't accumulate across the pass
      // Substring serve split (r15, VERDICT r14 task 1): the bucketed
      // compaction is the once-per-cycle state build (ingest partials +
      // distinct + bucketed write — the curation_state_build billing
      // shape); the serve leg bills ONLY the zero-index-exchange probe +
      // broadcast fresh leg + batch-sized reassembly, the recurring cost
      // at 100 TB. The all-in composite stays billed as the rest-loop
      // substring_dedup_incremental entry.
      var gramServe: (String, String) = null
      val substringPipeline = Seq(
        "gram_index_compact" -> time {
          gramServe = operators.Dedup.buildGramServeState(spark, sfDir) },
        "substring_dedup_serve" -> time {
          upstream(gramServe, "gram_index_compact")
          operators.Dedup.substringDedupFromBucketed(spark, gramServe._1,
            spark.read.parquet(gramServe._2),
            operators.Dedup.substringInjectedDocs(spark, sfDir)
              .filter(org.apache.spark.sql.functions.col("doc_id") % 5 === 2))
            .queryExecution.toRdd.count() })
      spark.catalog.clearCache()
      // DSIR pipeline (r15): the importance model is fit ONCE per corpus
      // (billed as dsir_weights) and both selection consumers read it
      // cached — each still pays its own gram-stream scoring pass, which
      // is the real per-serve cost at 100 TB (the model is 1024 rows).
      val dsirDocs = safe { Tables.documents(spark, sfDir) }
      var dsirWt: org.apache.spark.sql.DataFrame = null
      val dsirPipeline = Seq(
        "dsir_weights" -> time {
          dsirWt = operators.Sampling.dsirWeights(dsirDocs,
            org.apache.spark.sql.functions.col("lang") === "en").persist()
          dsirWt.queryExecution.toRdd.count() },
        "dsir_select" -> time {
          upstream(dsirWt, "dsir_weights")
          operators.Sampling.dsirSelectFrom(dsirDocs, dsirWt)
            .queryExecution.toRdd.count() },
        "dsir_resample" -> time {
          upstream(dsirWt, "dsir_weights")
          operators.Sampling.dsirResampleFrom(dsirDocs, dsirWt)
            .queryExecution.toRdd.count() })
      spark.catalog.clearCache()
      val shared = sharedPipelineEntries
      // benchOnly carries the raw codec boundaries (media_features /
      // media_frames, r16): off the oracle surface — DuckDB cannot decode
      // PNG/WAV — but still timed every pass so codec throughput stays a
      // regression-tracked number with round-over-round continuity.
      val rest = (SparkEntry.queries.toSeq ++ SparkEntry.benchOnly.toSeq)
        .filterNot { case (name, _) => shared(name) }
        .map { case (name, fn) =>
          val sec = time { fn(spark, sfDir).queryExecution.toRdd.count() }
          spark.catalog.clearCache()
          name -> sec
        }
      shinglePipeline ++ overlapPipeline ++ tokenPipeline ++ simhashPipeline ++
        curationPipeline ++ classifierPipeline ++ annPipeline ++
        substringPipeline ++ dsirPipeline ++ rest
    }

    // ---- deadline-aware pass scheduler (VERDICT r15 task 1) ----
    // r15's driver invocation timed out (rc 124, parsed:null) because the
    // catalogue outgrew the harness budget: 199 entries x (3 sf0.1 + 2
    // all-inclusive sf1 passes) was 53:44 at r14 and blew past it at r15
    // on a slow window. The scheduler below (a) always runs sf0.1 pass 1,
    // (b) skips any LATER pass whose projected cost would bust
    // SPARK_GRAFT_BENCH_DEADLINE_S, reserving room for at least one sf1
    // pass, (c) emits the summary line + rewrites the bench.json artifact
    // after EVERY completed pass, and (d) flushes via a shutdown hook
    // (pure file/stdout work, no Spark calls) so even a SIGTERM mid-pass
    // leaves a parseable artifact of the passes that did complete.
    val calibrations = scala.collection.mutable.ArrayBuffer.empty[Double]
    val sf01Passes = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    val sf01Durs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val sf1Full = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    val sf1Durs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val sf1Cals = scala.collection.mutable.ArrayBuffer.empty[Double]
    var sf1SecondPass = Seq.empty[(String, Double)]

    // locale-independent rendering: the f interpolator formats with the
    // default locale, which under a comma-decimal locale would corrupt
    // the machine-read JSON ("0,512" → two array elements)
    def r3(x: Double): String = (math.round(x * 1000) / 1000.0).toString

    // sf1 tier config (r11 VERDICT task 6): whole-catalogue passes at the
    // 10x tier, auto-detected at target/testdata/sf1 (generated via
    // `runMain graft.tools.Profile generate <sf0.1> target/testdata/sf1
    // 10`; not in git — skipped cleanly when absent).
    // DEFAULT 1 FULL PASS since r16 (VERDICT r15 task 1d): the second
    // all-inclusive sf1 pass — ~402 s of declared quadratics included —
    // is what blew the r15 harness budget, and for entries with a stable
    // prior-round ratio min-of-1 plus the per-pass calibration column is
    // enough to adjudicate a window. Entries NEW this round (listed in
    // [[newSf1Entries]]) still get min-of-2 via a cheap partial second
    // pass over just those names.
    val sf1Dir = cfg("SPARK_GRAFT_SF1_DIR", "target/testdata/sf1")
    val sf1Runs = cfg("SPARK_GRAFT_SF1_RUNS", "1").toInt
    val sf1Enabled = cfg("SPARK_GRAFT_SF1", "1") != "0" &&
      new java.io.File(s"$sf1Dir/lineitem.parquet").exists()
    // one full-catalogue sf1 pass costs 4-6.5x one sf0.1 pass wall-clock
    // (BENCH_r14.json: 3x ~200 s sf0.1 + 2 sf1 in 53:44; the r16 mixed
    // windows measured 4.1x when pass 1 ran slower than the sf1 pass).
    // Two factors because the decisions are asymmetric:
    //  - RESERVE (defer sf0.1 repeats): high end — repeats can backfill
    //    later, so over-reserving costs nothing permanent;
    //  - GO (launch the sf1 pass): low end — skipping loses the scaling
    //    tier with certainty, while an optimistic start that overshoots
    //    the soft deadline still leaves a parseable artifact (per-pass
    //    summaries + the shutdown-hook flush), so the downside is
    //    bounded and the upside is the whole tier.
    val Sf1ReserveFactor = 6.5
    val Sf1GoFactor = 4.5

    // sf1 headline split (r14, VERDICT r13 task 3): the three DECLARED
    // exact all-pairs baselines land in their own quadratic_total field;
    // the HEADLINE sf1 total tracks only the scale-path entries. Each
    // quadratic has a registered sublinear scale twin.
    val sf1Quadratics = Set("prefix_jaccard", "triplet_mine", "embedding_dedup")

    // ---- emission: summary after EVERY completed pass + crash-safe flush
    val out = cfg("SPARK_GRAFT_BENCH_OUT", "bench.json")
    // Prior artifact (VERDICT r16 task 1): the committed bench.json is the
    // adjudication baseline for the outlier re-probe and the sf1 flag
    // probe. Read BEFORE the first render overwrites the out path; a
    // separate prior can be pointed at via SPARK_GRAFT_BENCH_PRIOR.
    val priorPath = cfg("SPARK_GRAFT_BENCH_PRIOR", out)
    val (priorQ, priorSf1Q, _, priorSf1Cals) =
      try parsePrior(java.nio.file.Files.readString(java.nio.file.Paths.get(priorPath)))
      catch { case _: Throwable =>
        (Map.empty[String, Double], Map.empty[String, Double],
          Seq.empty[Double], Seq.empty[Double])
      }
    // Re-probe / probe samples. reprobes fold into the sf0.1 minima (an
    // explicitly tagged standalone sample — for shared-pipeline entries an
    // upper bound, so the fold can only correct inflation, never deflate);
    // sf1Probes are ADJUDICATION-ONLY (never folded: the sf1 min keeps its
    // pipeline billing) — BENCH_DIFF reads them from the artifact.
    var reprobes = Seq.empty[(String, Double)]
    var sf1Probes = Seq.empty[(String, Double)]
    var sf1ProbeCal = -1.0
    var deadlineNote = List.empty[String]
    @volatile var latestSummary: Option[String] = None
    @volatile var latestArtifact: Option[String] = None
    val flushed = new java.util.concurrent.atomic.AtomicBoolean(false)

    def render(finalEmit: Boolean): Unit = {
      val results = minOver(sf01Passes.toSeq, reprobes)
      val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
        .mkString("[", ",", "]")
      val total = results.collect { case (_, v) if v >= 0 => v }.sum
      val cal = calibrations.map(r3).mkString("[", ",", "]")
      val reprobedArr = reprobes.map(p => "\"" + p._1 + "\"")
        .mkString("[", ",", "]")
      val deferredArr = deadlineNote.reverse.map(n => "\"" + n + "\"")
        .mkString("[", ",", "]")
      val sf1Summary =
        if (sf1Full.isEmpty) None
        else {
          val rs = minOver(sf1Full.toSeq, sf1SecondPass)
          val sf1Failed = rs.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
            .mkString("[", ",", "]")
          val sf1Total = rs.collect {
            case (k, v) if v >= 0 && !sf1Quadratics(k) => v }.sum
          val quadTotal = rs.collect {
            case (k, v) if v >= 0 && sf1Quadratics(k) => v }.sum
          val quadNames = rs.collect { case (k, _) if sf1Quadratics(k) => "\"" + k + "\"" }
            .mkString("[", ",", "]")
          val sf1Cal = sf1Cals.map(r3).mkString("[", ",", "]")
          val second = sf1SecondPass.map(p => "\"" + p._1 + "\"")
            .mkString("[", ",", "]")
          // in-artifact adjudication probes (VERDICT r16 task 4): min-of-2
          // same-JVM standalone re-runs of calibration-normalized flags,
          // with the calibration of the probe window alongside — never
          // folded into the minima (standalone != pipeline billing)
          val probes = sf1Probes
            .map(p => "\"" + p._1 + "\":" + r3(p._2)).mkString("{", ",", "}")
          // "total" keeps its pre-r14 all-inclusive semantics (ADVICE
          // r14: never redefine a field in place); the scale-path
          // headline lives under its own name.
          Some(s""""sf1":{"total":${r3(sf1Total + quadTotal)},"scale_path_total":${r3(sf1Total)},"quadratic_total":${r3(quadTotal)},"quadratic":$quadNames,"n_queries":${rs.size},"failed":$sf1Failed,"runs":${sf1Cals.size},"second_pass":$second,"calibration_s":$sf1Cal,"probes":$probes,"probe_cal":${r3(sf1ProbeCal)},"dir":"$sf1Dir"}""")
        }
      // "runs" keeps its pre-r16 requested-count semantics; the new
      // passes_run field carries how many sf0.1 passes actually ran so
      // BENCH_DIFF can normalize a deadline-shortened round (VERDICT r15
      // task 1a).
      val summary = s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.size},"failed":$failed,"runs":$runs,"passes_run":${sf01Passes.size},"deadline_s":${r3(deadlineS)},"calibration_s":$cal,"reprobed":$reprobedArr,"deferred":$deferredArr,"sf":"$sfDir"${sf1Summary.fold("")("," + _)}}"""
      // One short line per query, then the summary line LAST (VERDICT r8
      // task 3: a single all-queries line outgrew the driver's tail
      // capture). Per-query lines print only on the final emission;
      // interim emissions print just the summary so the stdout stays
      // line-budgeted while still leaving a parseable line after every
      // completed pass (VERDICT r15 task 1b).
      if (finalEmit)
        results.foreach { case (k, v) => println(s"""{"query":"$k","sec":${r3(v)}}""") }
      println(summary)
      System.out.flush()
      // Machine-readable artifact (r9 VERDICT task 3): bench.json carries
      // EVERY query's min-of-N plus the calibration column — rewritten
      // after every pass, so a hard kill loses at most the pass in
      // flight. Commit a copy per round.
      val perQuery = results
        .map { case (k, v) => s"""    "$k": ${r3(v)}""" }.mkString(",\n")
      val sf1Queries =
        if (sf1Full.isEmpty) ""
        else {
          val m = minOver(sf1Full.toSeq, sf1SecondPass)
            .map { case (k, v) => s"""    "$k": ${r3(v)}""" }.mkString(",\n")
          s""",\n  "sf1_queries": {\n$m\n  }"""
        }
      val artifact =
        s"""{\n  "summary": $summary,\n  "queries": {\n$perQuery\n  }$sf1Queries\n}\n"""
      latestSummary = Some(summary)
      latestArtifact = Some(artifact)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), artifact)
    }

    // Shutdown-hook flush (VERDICT r15 task 1c): pure stdout + file work —
    // deliberately NO Spark calls, so it cannot race the context's own
    // shutdown (the r15 tail was full of "stopped SparkContext" noise
    // from exactly that race in the still-running suite).
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      if (flushed.compareAndSet(false, true)) {
        latestSummary.foreach { s => System.out.println(s); System.out.flush() }
        try latestArtifact.foreach(a =>
          java.nio.file.Files.writeString(java.nio.file.Paths.get(out), a))
        catch { case _: Throwable => () }
      }
    }, "graft-bench-flush"))

    // ---- scheduler ----
    // sf0.1 passes: pass 1 unconditionally (an artifact with zero passes
    // helps nobody); later passes only if the projected cost — 1.15x the
    // slowest completed pass — plus the sf1 reservation still fits.
    var p = 1
    def runSf01Pass(label: String): Unit = {
      System.err.println(s"[bench] $label pass $p/$runs")
      val c = calibrate(spark)
      calibrations += c
      System.err.println(f"[bench] calibration $c%.3f s")
      val t0 = System.nanoTime()
      sf01Passes += runPass(sfDir)
      sf01Durs += (System.nanoTime() - t0) / 1e9
      render(finalEmit = false)
      p += 1
    }
    var sf01Deferred = false
    while (p <= runs && !sf01Deferred) {
      val sf1Reserve =
        if (sf1Enabled && sf1Full.isEmpty && sf01Durs.nonEmpty)
          Sf1ReserveFactor * sf01Durs.min
        else 0.0
      if (p > 1 && elapsedS + 1.15 * sf01Durs.max + sf1Reserve > deadlineS) {
        // not necessarily skipped for good: the backfill loop below
        // retries once the sf1 tier is secured (a slow pass 1 makes the
        // reservation swallow the repeats even when the window recovers)
        deadlineNote ::= s"sf0.1 passes $p..$runs deferred to backfill (deadline)"
        System.err.println(s"[bench] ${deadlineNote.head} at ${r3(elapsedS)}s")
        sf01Deferred = true
      } else runSf01Pass("")
    }
    // sf1 passes: before the first, the estimate is the factor above; a
    // repeat is projected from the measured first pass.
    if (sf1Enabled) {
      var q = 1
      while (q <= sf1Runs) {
        val need =
          if (sf1Durs.isEmpty) Sf1GoFactor * (if (sf01Durs.isEmpty) 0.0 else sf01Durs.min)
          else 1.15 * sf1Durs.max
        if (elapsedS + need > deadlineS) {
          deadlineNote ::= s"sf1 passes $q..$sf1Runs skipped (deadline)"
          System.err.println(s"[bench] ${deadlineNote.head} at ${r3(elapsedS)}s")
          q = sf1Runs + 1
        } else {
          System.err.println(s"[bench] sf1 addendum pass $q/$sf1Runs at $sf1Dir")
          val c = calibrate(spark)
          sf1Cals += c
          System.err.println(f"[bench] sf1 calibration $c%.3f s")
          val t0 = System.nanoTime()
          sf1Full += runPass(sf1Dir)
          sf1Durs += (System.nanoTime() - t0) / 1e9
          render(finalEmit = false)
          q += 1
        }
      }
      // min-of-2 for entries NEW this round (no prior-round sf1 ratio to
      // lean on): a partial second pass over just those names, via their
      // standalone registrations — the same form the rest-loop times.
      // Shared-pipeline names are EXCLUDED (ADVICE r16): their standalone
      // form rebuilds the cached upstream tables the full pass bills
      // separately, so mixing the two into one min would be incomparable.
      val pendingShared = newSf1Entries.intersect(sharedPipelineEntries)
      if (pendingShared.nonEmpty)
        System.err.println("[bench] newSf1Entries in the shared pipeline run " +
          s"min-of-1 (standalone billing is incomparable): ${pendingShared.mkString(",")}")
      val pending = newSf1Entries.filter(SparkEntry.queries.contains)
        .filterNot(sharedPipelineEntries).toSeq.sorted
      if (sf1Full.size == 1 && pending.nonEmpty) {
        val firstPass = sf1Full.head.toMap
        val est = 2.0 * pending.flatMap(firstPass.get).filter(_ >= 0).sum + 30.0
        if (elapsedS + est <= deadlineS) {
          System.err.println(s"[bench] sf1 partial second pass: ${pending.mkString(",")}")
          sf1SecondPass = pending.map { name =>
            val sec = time {
              SparkEntry.queries(name)(spark, sf1Dir).queryExecution.toRdd.count() }
            spark.catalog.clearCache()
            name -> sec
          }
          render(finalEmit = false)
        } else deadlineNote ::= "sf1 partial second pass skipped (deadline)"
      }
    }
    // Backfill deferred sf0.1 passes with whatever budget the sf1 tier
    // left over: min-of-N noise rejection recovers whenever the window
    // does, and the sf1 tier (which has no other chance to run) was
    // never starved to get it. A backfill pass reserves room for the
    // outlier re-probe below — the re-probe is what guarantees the
    // artifact's per-entry minima are load-robust (VERDICT r16 task 1),
    // so a full repeat pass must not starve it.
    def reprobeReserve: Double = {
      val flagged = outlierEntries(sf01Passes.toSeq, calibrations.toSeq, priorQ)
      math.min(90.0, flagged.map { case (n, cur) =>
        1.3 * math.min(priorQ.getOrElse(n, cur), cur) + 2.0 }.sum)
    }
    while (p <= runs && elapsedS + 1.15 * sf01Durs.max + reprobeReserve <= deadlineS)
      runSf01Pass("backfill")

    // ---- sf0.1 outlier re-probe (VERDICT r16 task 1) ----
    // The r16 driver artifact published q07 = 17.2 s (18x the committed
    // value) because its only surviving pass ran on a window calibrating
    // 3.125. Detection runs over ALL completed passes (including
    // backfill), so a clean repeat pass clears most flags for free;
    // whatever stays inflated re-runs once, cheapest-first, and the
    // sample folds into the minima under the explicit "reprobed" tag.
    // Pipeline-only artifacts (no standalone registration) re-probe via
    // [[pipelineOnlyProbe]], which reproduces exactly what the pass
    // bills: shared inputs pre-materialized OUTSIDE the timed block.
    def pipelineOnlyProbe(name: String, dir: String): Option[() => Double] =
      name match {
        case "shingle_table" => Some(() => time {
          operators.Dedup.shingleTable(Tables.documents(spark, dir)).persist()
            .queryExecution.toRdd.count() })
        case "token_table" => Some(() => time {
          operators.TextOps.tokenTable(Tables.documents(spark, dir)).persist()
            .queryExecution.toRdd.count() })
        case "cms_sketch_build" => Some { () =>
          val tk = operators.TextOps.tokenTable(Tables.documents(spark, dir)).persist()
          tk.queryExecution.toRdd.count()
          time { operators.TextOps.cmsMergedSketch(tk).persist()
            .queryExecution.toRdd.count() }
        }
        case "curation_state_build" => Some { () =>
          val csp = java.nio.file.Files
            .createTempDirectory("graft-reprobe-cstate").toString
          time { operators.CurationState.write(
            operators.CurationState.compute(
              Tables.documents(spark, dir)
                .filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 0)),
            csp) }
        }
        case _ => None
      }
    def standaloneProbe(name: String, dir: String): Option[() => Double] =
      SparkEntry.queries.get(name).orElse(SparkEntry.benchOnly.get(name))
        .map(fn => () => time { fn(spark, dir).queryExecution.toRdd.count() })
        .orElse(pipelineOnlyProbe(name, dir))
    outlierEntries(sf01Passes.toSeq, calibrations.toSeq, priorQ).foreach {
      case (name, cur) =>
        val est = 1.3 * math.min(priorQ.getOrElse(name, cur), cur) + 2.0
        standaloneProbe(name, sfDir) match {
          case None =>
            deadlineNote ::= s"reprobe of $name impossible (no standalone form)"
          case Some(_) if elapsedS + est > deadlineS =>
            deadlineNote ::= s"reprobe of $name skipped (deadline)"
          case Some(run) =>
            System.err.println(s"[bench] re-probe $name: min ${r3(cur)}s" +
              priorQ.get(name).fold("")(pv => s" vs prior ${r3(pv)}s"))
            val sec = run()
            spark.catalog.clearCache()
            reprobes ++= Seq(name -> sec)
        }
    }
    if (reprobes.nonEmpty) render(finalEmit = false)

    // ---- sf1 flag adjudication probes (VERDICT r16 task 4) ----
    // r16 adjudicated 27 sf1 flags by hand (same-JVM ABProbe sessions the
    // judge could not replay). The same probe now runs IN the bench: each
    // calibration-normalized >=1.5x flag vs the committed artifact gets a
    // min-of-2 same-JVM standalone re-run on one freshly calibrated
    // window, emitted per entry under sf1.probes (+ probe_cal) so
    // BENCH_DIFF adjudicates from the artifact alone. Never folded into
    // the minima: standalone billing is an upper bound of the pipeline
    // billing, which is exactly what makes it valid as an in-band check
    // and invalid as a replacement min.
    if (sf1Full.nonEmpty && priorSf1Q.nonEmpty) {
      val curCal = if (sf1Cals.nonEmpty) sf1Cals.min else -1.0
      val priorCal = if (priorSf1Cals.nonEmpty) priorSf1Cals.min else -1.0
      val flagged = sf1Flagged(
        minOver(sf1Full.toSeq, sf1SecondPass), priorSf1Q, curCal, priorCal)
      if (flagged.nonEmpty) {
        sf1ProbeCal = calibrate(spark)
        System.err.println(
          f"[bench] sf1 probes: ${flagged.size} flags, probe window $sf1ProbeCal%.3f s")
        flagged.foreach { case (name, cur) =>
          val est = 2.6 * math.min(priorSf1Q.getOrElse(name, cur), cur) + 4.0
          standaloneProbe(name, sf1Dir) match {
            case _ if sharedPipelineEntries(name) =>
              // a standalone probe rebuilds the cached upstream tables the
              // full pass bills separately (r17 live run: dedup_agreement
              // probed 12x its pipeline-billed prior) — no probe is
              // better than a misleading one; these stay adjudicated by
              // min-of-1 + the calibration column as before
              deadlineNote ::= s"sf1 probe of $name skipped " +
                "(shared-pipeline standalone billing incomparable)"
            case None =>
              deadlineNote ::= s"sf1 probe of $name impossible (no standalone form)"
            case Some(_) if elapsedS + est > deadlineS =>
              deadlineNote ::= s"sf1 probe of $name skipped (deadline)"
            case Some(run) =>
              val s1 = run(); spark.catalog.clearCache()
              val s2 = run(); spark.catalog.clearCache()
              val best = Seq(s1, s2).filter(_ >= 0)
              sf1Probes ++= Seq(name -> (if (best.nonEmpty) best.min else -1.0))
          }
        }
        render(finalEmit = false)
      }
    }
    render(finalEmit = true)
    flushed.set(true)
    if (cfg("SPARK_GRAFT_BENCH_NO_STOP", "0") != "1") spark.stop()
  }
}
