package graft.operators

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling / splitting / ordering operators — the steps a
  * training-data pipeline runs after curation to turn a corpus into an
  * actual training set: assign train/valid/test splits, downsample per
  * stratum, and fix a reproducible global example order.
  *
  * All three are CONTENT-KEYED (md5 of the id under a seed prefix), never
  * RNG-state-keyed: re-running the pipeline on a grown corpus keeps every
  * previously-assigned row in the same split / relative order, which is
  * what makes incremental corpus refreshes reproducible. This is the same
  * resumability argument as [[Pipeline.qDomainMix]]'s temperature sampler.
  *
  * Scale shapes:
  *  - [[hashSplit]] is a pure per-row map — zero shuffles at any scale.
  *  - [[stratifiedSample]] shuffles (id, stratum) pairs once for the
  *    per-stratum rank window; documents never move. A single giant
  *    stratum serializes its window into one task — if strata are that
  *    skewed, pre-bucket ids with the [[globalShuffle]] two-level trick.
  *  - [[globalShuffle]] produces a total order WITHOUT a global sort:
  *    rows hash into 256 buckets (the md5 key's first byte), per-bucket
  *    ranks come from a hash-partitioned window, and bucket base offsets
  *    are an exclusive prefix sum over the 256-row count table —
  *    dimension-sized, broadcast back. The only data-sized exchange is
  *    the one bucket-keyed window shuffle.
  */
object Sampling {

  /** Deterministic train/valid/test assignment: bucket 0-89 → train,
    * 90-94 → valid, 95-99 → test. The bucket is the first 32 bits of
    * md5("split:" || id) mod 100 — stable under corpus growth and
    * engine-portable (the DuckDB oracle parses the same hex digits). */
  def qHashSplit(s: SparkSession, d: String): DataFrame =
    hashSplit(documents(s, d), "doc_id")

  /** See [[qHashSplit]]; works over any frame with a unique `idCol`. */
  def hashSplit(df: DataFrame, idCol: String, seed: String = "split"): DataFrame = {
    val bucket =
      (conv(substring(md5(concat(lit(seed + ":"), col(idCol).cast("string"))), 1, 8), 16, 10)
        .cast("long") % 100).as("bucket")
    df.select(col(idCol), bucket)
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "valid")
          .otherwise("test"))
  }

  /** Keep every denom-th document per stratum (floor(n/denom) rows),
    * chosen by md5 rank so the sample is uniform, deterministic, and
    * stable under re-runs. Output keeps the rank and stratum size so a
    * downstream consumer can re-derive the sampling rate it actually got
    * (small strata with n < denom yield zero rows — by design; a floor
    * sampler must not over-sample tiny strata). */
  def qStratifiedSample(s: SparkSession, d: String): DataFrame =
    stratifiedSample(documents(s, d), "source", "doc_id", denom = 5)

  /** See [[qStratifiedSample]]. */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String, denom: Int): DataFrame = {
    val key = md5(concat(lit("samp:"), col(idCol).cast("string")))
    val rankW = Window.partitionBy(col(strataCol)).orderBy(key, col(idCol))
    val sizeW = Window.partitionBy(col(strataCol))
    df.select(col(idCol), col(strataCol))
      .withColumn("sample_rank", row_number().over(rankW).cast("long"))
      .withColumn("n_stratum", count(lit(1)).over(sizeW))
      // rank*denom <= n  ⇔  rank <= floor(n/denom): pure integer compare,
      // no float fraction that could round differently across engines
      .filter(col("sample_rank") * denom <= col("n_stratum"))
  }

  /** Reproducible global shuffle order for training examples. Returns
    * (id, shuffle_pos) where shuffle_pos is a permutation of 0..N-1 in
    * md5-key order — computed two-level (bucket offsets + intra-bucket
    * rank) so no stage ever sorts or windows the full dataset in one
    * partition. The 256-row offset table is the only driver-adjacent
    * state and is joined back via broadcast. */
  def qGlobalShuffle(s: SparkSession, d: String): DataFrame =
    globalShuffle(documents(s, d), "doc_id")

  /** See [[qGlobalShuffle]]. */
  def globalShuffle(df: DataFrame, idCol: String, seed: String = "shuf"): DataFrame = {
    val keyed = df
      .select(col(idCol), md5(concat(lit(seed + ":"), col(idCol).cast("string"))).as("skey"))
      .withColumn("bucket", conv(substring(col("skey"), 1, 2), 16, 10).cast("long"))
    // exclusive prefix sum over the 256 bucket counts; the unpartitioned
    // window is safe precisely because its input is bucket-count-sized
    val offW = Window.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = keyed.groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .select(col("bucket"), coalesce(sum(col("n")).over(offW), lit(0L)).as("base"))
    val rankW = Window.partitionBy(col("bucket")).orderBy(col("skey"), col(idCol))
    keyed.join(broadcast(offsets), "bucket")
      .select(col(idCol),
        (col("base") + row_number().over(rankW) - 1).cast("long").as("shuffle_pos"))
  }

  /** Per-domain document cap (domain_cap): keep at most `cap` documents
    * per source domain, chosen by content-keyed md5 rank — the standard
    * web-corpus guard against a single crawl domain dominating the
    * training mix. Deterministic and growth-stable like [[hashSplit]]:
    * a kept document stays kept when the corpus grows unless cap-many
    * better-ranked documents arrive in ITS domain.
    *
    * Scale shape: the naive form is one `row_number` window per domain —
    * which serializes a billion-page domain into a single task, the exact
    * skew this op exists to correct. Instead the rank is two-level (the
    * [[globalShuffle]] trick): a partial top-cap within each of 256
    * md5-prefix salt buckets (parallelism 256× per domain; a bucket's
    * top-cap is a superset filter because the salt is a PREFIX of the
    * rank key, so bucket-local order == global order restricted to the
    * bucket), then the real window over the ≤ 256·cap survivors per
    * domain. Equality with the single-window form is pinned in
    * OperatorSpec. */
  def qDomainCap(s: SparkSession, d: String): DataFrame =
    domainCap(documents(s, d), "source", "doc_id", cap = 30)

  /** See [[qDomainCap]]. */
  def domainCap(df: DataFrame, domainCol: String, idCol: String, cap: Int): DataFrame = {
    val keyed = df.select(col(domainCol), col(idCol),
        md5(concat(lit("cap:"), col(idCol).cast("string"))).as("ckey"))
      .withColumn("salt", conv(substring(col("ckey"), 1, 2), 16, 10).cast("int"))
    val partialW = Window.partitionBy(col(domainCol), col("salt"))
      .orderBy(col("ckey"), col(idCol))
    val finalW = Window.partitionBy(col(domainCol)).orderBy(col("ckey"), col(idCol))
    keyed
      .withColumn("prank", row_number().over(partialW))
      .filter(col("prank") <= cap)
      .withColumn("cap_rank", row_number().over(finalW).cast("long"))
      .filter(col("cap_rank") <= cap)
      .select(col(idCol), col(domainCol), col("cap_rank"))
  }

  /** The single-window reference form of [[domainCap]] — kept for the
    * OperatorSpec equality pin; not registered (it is the skew-prone
    * shape the two-level form replaces). */
  def domainCapSingleWindow(df: DataFrame, domainCol: String, idCol: String, cap: Int): DataFrame = {
    val key = md5(concat(lit("cap:"), col(idCol).cast("string")))
    val w = Window.partitionBy(col(domainCol)).orderBy(key, col(idCol))
    df.select(col(idCol), col(domainCol))
      .withColumn("cap_rank", row_number().over(w).cast("long"))
      .filter(col("cap_rank") <= cap)
  }

  /** Tokens of sampling interval per pick for [[weightedSample]]. */
  val SampleStep = 1000L

  /** Weight-proportional systematic sampling (weighted_sample): pick
    * documents with probability proportional to token count, in EXACT
    * integer arithmetic — no RNG state, no floating-point keys, no
    * rejection loop. Documents are laid end-to-end on an integer token
    * axis in content-key order (md5, so the order is corpus-growth-stable
    * and uncorrelated with weight); a document is picked once for every
    * multiple of [[SampleStep]] its [cum, cum+w) interval covers, so
    * n_picks is its exact systematic-sampling multiplicity (a 2·step
    * document gets ≥ 2 picks — the with-replacement semantics temperature
    * samplers expect), and Σ n_picks = totalTokens div step identically.
    *
    * Scale shape: the cumulative sum is NOT a global window — the md5
    * key's first byte buckets rows 256 ways, per-bucket sums come from a
    * hash-partitioned window (bucket is a PREFIX of the order key, so
    * bucket-local order == global order restricted to the bucket), and
    * the 256 bucket totals prefix-sum in a broadcast dimension table —
    * the [[globalShuffle]] trick. Equality with the single-window form is
    * pinned in SamplingSpec. */
  def qWeightedSample(s: SparkSession, d: String): DataFrame =
    weightedSample(
      documents(s, d).select(col("doc_id"),
        size(graft.operators.TextOps.normWords(col("text"))).cast("long").as("n_tokens")),
      "doc_id", "n_tokens", SampleStep)

  /** See [[qWeightedSample]]; `df` must carry unique `idCol` + integer
    * weight `wCol`. */
  def weightedSample(df: DataFrame, idCol: String, wCol: String, step: Long): DataFrame = {
    val keyed = df
      .select(col(idCol), col(wCol),
        md5(concat(lit("ws:"), col(idCol).cast("string"))).as("ckey"))
      .withColumn("bucket", conv(substring(col("ckey"), 1, 2), 16, 10).cast("long"))
    val offW = Window.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = keyed.groupBy(col("bucket")).agg(sum(col(wCol)).as("wsum"))
      .select(col("bucket"), coalesce(sum(col("wsum")).over(offW), lit(0L)).as("base"))
    val cumW = Window.partitionBy(col("bucket")).orderBy(col("ckey"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    keyed.join(broadcast(offsets), "bucket")
      .withColumn("cw", col("base") + coalesce(sum(col(wCol)).over(cumW), lit(0L)))
      .withColumn("n_picks",
        (expr(s"(cw + $wCol) div $step") - expr(s"cw div $step")).cast("long"))
      .filter(col("n_picks") > 0)
      .select(col(idCol), col(wCol), col("n_picks"))
  }

  /** Reservoir size for [[qReservoirSample]]. */
  val ReservoirK = 10
  /** Salt buckets for the two-level reservoir window. */
  val ReservoirSalts = 32

  /** Weighted reservoir sampling WITHOUT replacement (reservoir_sample):
    * the Efraimidis–Spirakis A-Res scheme — each item draws key
    * u^(1/w) with u uniform in (0,1] and the k LARGEST keys are the
    * sample, which selects every subset with the exact probabilities of
    * sequential weighted draws without replacement. The missing face of
    * the sampling family: [[weightedSample]] is systematic
    * WITH-replacement multiplicity (temperature-sampler semantics);
    * this is the distinct-document quota draw (pick k docs, heavier ones
    * more likely, no duplicates).
    *
    * Determinism + cross-engine equality: u derives from md5 of the id
    * (15 hex digits → BIGINT → the (0,1] fraction (h+1)/16^15 — both
    * engines CAST the same integer to double), and the rank key is the
    * order-equivalent −ln(u)/w (exponential-clocks form; smallest wins),
    * scaled by 1e6 and ROUNDED AT 6 DECIMALS with an id tie-break before
    * ranking — the bm25/surprisal convention that absorbs last-ulp `ln`
    * differences between engines. The key is rank-only, never output.
    *
    * Scale shape: NO global or per-group unsalted window over data-sized
    * input — a partial top-k per (group, id mod [[ReservoirSalts]])
    * first (min-k of a group is contained in the union of its buckets'
    * min-ks), then the real window over ≤ salts·k survivors per group.
    * Mergeability is the KMV argument: the reservoir of a union is the
    * top-k of the union of per-shard top-ks, so shards/streams compose
    * exactly (SamplingSpec pins split-merge == direct). */
  def qReservoirSample(s: SparkSession, d: String): DataFrame =
    weightedReservoir(
      documents(s, d).select(col("doc_id"), col("source"),
          size(graft.operators.TextOps.normWords(col("text"))).cast("long").as("n_tokens"))
        .filter(col("n_tokens") > 0),
      "source", "doc_id", "n_tokens", ReservoirK)

  /** ES key as a Column: round(−ln((h15+1)/16^15) · 1e6 / w, 6). */
  private def esKey(idCol: String, wCol: String) = {
    val h = conv(substring(md5(concat(lit("res:"), col(idCol).cast("string"))
      .cast("binary")), 1, 15), 16, 10).cast("long")
    val u = (h.cast("double") + lit(1.0)) / lit(1.152921504606846976e18) // 16^15
    round(-log(u) * lit(1e6) / col(wCol).cast("double"), 6)
  }

  /** Shared salted two-level top-k: partial rank per (group, salt), then
    * the real rank over ≤ salts·k survivors per group. Keeps BOTH the
    * final rank and the raw rank key so [[weightedReservoir]] (rank
    * output) and [[reservoirPartial]] (mergeable key output) are the
    * same plan. */
  private def saltedRanked(df: DataFrame, grpCol: String, idCol: String,
                           wCol: String, k: Int): DataFrame = {
    val keyed = df.select(col(grpCol), col(idCol), col(wCol),
      esKey(idCol, wCol).as("rkey"),
      pmod(col(idCol), lit(ReservoirSalts)).as("salt"))
    val partialW = Window.partitionBy(col(grpCol), col("salt"))
      .orderBy(col("rkey"), col(idCol))
    val finalW = Window.partitionBy(col(grpCol)).orderBy(col("rkey"), col(idCol))
    keyed
      .withColumn("prank", row_number().over(partialW))
      .filter(col("prank") <= k)
      .withColumn("res_rank", row_number().over(finalW).cast("long"))
      .filter(col("res_rank") <= k)
  }

  /** See [[qReservoirSample]]; `df` must carry unique `idCol` + positive
    * integer weight `wCol`. */
  def weightedReservoir(df: DataFrame, grpCol: String, idCol: String,
                        wCol: String, k: Int): DataFrame =
    saltedRanked(df, grpCol, idCol, wCol, k)
      .select(col(grpCol), col(idCol), col(wCol), col("res_rank"))

  /** Per-group reservoir PARTIAL — the top-k WITH its rank key, the
    * mergeable form: the reservoir of a union is the top-k of the union
    * of per-shard top-ks (the KMV argument [[qReservoirSample]] cites),
    * so partials compose exactly across shards, batches, or streams. */
  def reservoirPartial(df: DataFrame, grpCol: String, idCol: String,
                       wCol: String, k: Int): DataFrame =
    saltedRanked(df, grpCol, idCol, wCol, k)
      .select(col(grpCol), col(idCol), col(wCol), col("rkey"))

  // ---------------------------------------------------------------------
  // Streaming reservoir maintenance (foreachBatch partial sink — the
  // Overlap.sketchSink / TextOps.bm25IndexSink shape)
  // ---------------------------------------------------------------------

  /** foreachBatch sink: reservoir-PARTIAL this micro-batch per group and
    * write it under its batch id (overwrite — a retried micro-batch
    * replaces its own partial, never double-counts: the bm25IndexSink
    * idempotence contract). Per-batch state is ≤ groups × k rows (the
    * salts collapse inside the partial); history is never rescanned. */
  def reservoirSink(statePath: String, grpCol: String, idCol: String,
                    wCol: String, k: Int)(batch: DataFrame, id: Long): Unit =
    reservoirPartial(batch, grpCol, idCol, wCol, k)
      .write.mode("overwrite").parquet(s"$statePath/res/batch=$id")

  /** Serve the exact whole-stream reservoir from a [[reservoirSink]]
    * state directory: union the per-batch partials (each already cut to
    * ≤ groups × k rows) and take the per-group top-k by the stored rank
    * key — identical tie-break to [[weightedReservoir]], so served ==
    * direct EXACTLY after every chunk (SamplingStreamSpec pins it). The
    * serve-side window input is ≤ batches × groups × k rows — bounded by
    * state layout, not data; a compaction pass may re-reservoir the
    * partials at any time (merge is associative and idempotent). */
  def reservoirServeFromState(s: SparkSession, statePath: String,
      grpCol: String, idCol: String, wCol: String, k: Int): DataFrame = {
    val finalW = Window.partitionBy(col(grpCol)).orderBy(col("rkey"), col(idCol))
    s.read.parquet(s"$statePath/res").drop("batch")
      .withColumn("res_rank", row_number().over(finalW).cast("long"))
      .filter(col("res_rank") <= k)
      .select(col(grpCol), col(idCol), col(wCol), col("res_rank"))
  }

  /** Single-window reference form of [[weightedReservoir]] — kept for the
    * SamplingSpec equality pin; not registered (per-group unsalted window
    * over data-sized input is the skew shape the two-level form avoids). */
  def weightedReservoirSingleWindow(df: DataFrame, grpCol: String, idCol: String,
                                    wCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col(grpCol)).orderBy(esKey(idCol, wCol), col(idCol))
    df.select(col(grpCol), col(idCol), col(wCol))
      .withColumn("res_rank", row_number().over(w).cast("long"))
      .filter(col("res_rank") <= k)
  }

  /** Single-global-window reference form of [[weightedSample]] — kept for
    * the SamplingSpec equality pin; not registered. */
  def weightedSampleSingleWindow(df: DataFrame, idCol: String, wCol: String, step: Long): DataFrame = {
    val key = md5(concat(lit("ws:"), col(idCol).cast("string")))
    val cumW = Window.orderBy(key, col(idCol)).rowsBetween(Window.unboundedPreceding, -1)
    df.select(col(idCol), col(wCol))
      .withColumn("cw", coalesce(sum(col(wCol)).over(cumW), lit(0L)))
      .withColumn("n_picks",
        (expr(s"(cw + $wCol) div $step") - expr(s"cw div $step")).cast("long"))
      .filter(col("n_picks") > 0)
      .select(col(idCol), col(wCol), col("n_picks"))
  }

  /** Split-drift check (split_drift): Population Stability Index between
    * the train and valid splits over the quality-score distribution — the
    * post-split validation a training pipeline runs to confirm a
    * content-keyed split didn't correlate with a quality signal (and, run
    * batch-over-batch, that a corpus refresh didn't shift the
    * distribution). Quality ([[TextOps.qualityExpr]], already 4-dec
    * rounded and oracle-green) lands in 10 fixed-width buckets; per-bucket
    * shares are Laplace-smoothed ((n+1)/(N+10)) so empty buckets
    * contribute finite PSI; psi = (p-q)·ln(p/q) per bucket (sum ≥ 0.1-0.2
    * is the conventional drift alarm). Scale: one document scan feeding a
    * 10-key partial agg (map-side combine does all the work — the reduce
    * sees ≤10 rows per map task), a 10-row spine join, and a 1-row totals
    * broadcast; nothing data-sized ever shuffles. The bucket boundary uses
    * double `floor(q*10)` in BOTH engines, so any float boundary quirk is
    * identical on each side. */
  def qSplitDrift(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val scored = docs.select(col("doc_id"), TextOps.qualityExpr(col("text")).as("q"))
    val splits = hashSplit(docs, "doc_id")
      .filter(col("split").isin("train", "valid"))
      .select(col("doc_id"), col("split"))
    val counts = scored.join(splits, "doc_id")
      .select(least(floor(col("q") * 10), lit(9L)).cast("int").as("bucket"), col("split"))
      .groupBy(col("bucket"))
      .agg(
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") === "valid", 1L).otherwise(0L)).as("n_valid"))
    val totals = counts.agg(
      sum(col("n_train")).as("tot_train"), sum(col("n_valid")).as("tot_valid"))
    val spine = s.range(10).select(col("id").cast("int").as("bucket"))
    val p = (col("n_train") + lit(1.0)) / (col("tot_train") + lit(10.0))
    val q = (col("n_valid") + lit(1.0)) / (col("tot_valid") + lit(10.0))
    spine.join(counts, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("n_train"), lit(0L)).as("n_train"),
        coalesce(col("n_valid"), lit(0L)).as("n_valid"))
      .crossJoin(broadcast(totals))
      .select(col("bucket"), col("n_train"), col("n_valid"),
        round((p - q) * log(p / q), 6).as("psi"))
  }

  /** Split-leakage audit — the eval-integrity check a doc-keyed split
    * CANNOT pass on a corpus with near-dups: counts exact near-dup pairs
    * (ngram_jaccard, ≥ 0.5) by the (split, split) cell their
    * endpoints land in under [[qHashSplit]]. Any off-diagonal row is
    * train/test contamination by duplication — a test doc whose twin was
    * trained on — the leak published dedup studies measure. The fix is
    * cluster_split; this operator is the evidence that motivates it.
    *
    * Scale shape: pair table (already bounded by the capped Jaccard join)
    * + two id-keyed split joins + a ≤9-row agg. */
  /** split_leakage (see above); takes a prebuilt near-dup pair table (the
    * ngram_jaccard artifact — a dedup cascade computes its pair list once)
    * and a (doc_id, split) assignment. */
  def splitLeakageFrom(pairs: DataFrame, sp: DataFrame): DataFrame =
    pairs
      .join(sp.select(col("doc_id").as("doc_a"), col("split").as("sa")), Seq("doc_a"))
      .join(sp.select(col("doc_id").as("doc_b"), col("split").as("sb")), Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("split_lo"),
        greatest(col("sa"), col("sb")).as("split_hi"))
      .groupBy(col("split_lo"), col("split_hi"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("is_leak", col("split_lo") =!= col("split_hi"))

  /** Near-dup-aware split (cluster_split): the repair for what
    * split_leakage measures. Each document's split key is its
    * near-dup CLUSTER representative (dedup_clusters' min-id
    * label; singletons key on their own id), then the standard
    * content-keyed md5 split runs over that key — so an entire dup
    * cluster lands in one split and near-dup leakage across splits is
    * zero BY CONSTRUCTION (SamplingSpec asserts it against the pair
    * table). Same 90/5/5 bands and seed convention as [[qHashSplit]],
    * so unclustered docs keep their doc-keyed assignment.
    *
    * Scale shape: the cluster label table is doc-grain (one id-keyed
    * left join); the split expression is per-row scalar. Takes a
    * prebuilt (doc_id, cluster_id) label table (the dedup_clusters
    * artifact). */
  def clusterSplitFrom(docs: DataFrame, labels: DataFrame): DataFrame = {
    val keyed = docs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_key"))
    val bucket =
      (conv(substring(md5(concat(lit("split:"), col("cluster_key").cast("string"))), 1, 8),
        16, 10).cast("long") % 100).as("bucket")
    keyed.select(col("doc_id"), col("cluster_key"), bucket)
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "valid")
          .otherwise("test"))
  }

  // ---------------------------------------------------------------------
  // DSIR data selection — hashed n-gram importance resampling
  // (Xie et al. 2023, "Data Selection for Language Models via Importance
  // Resampling"; the published method CCNet-style pipelines use to pick
  // raw-web documents that RESEMBLE a small high-quality target corpus).
  // Reference scope: the curation step upstream of the reference's
  // validation pipeline — registered as part of the LLM-pipeline surface.
  // ---------------------------------------------------------------------

  /** Hashed-feature dimensionality for the DSIR family. The model is a
    * FIXED-B-row table regardless of corpus size: at 100 TB the
    * vocabulary-grain alternative is a billion-row dimension that must
    * shuffle; the hashed one stays [[DsirBuckets]] rows and broadcasts. */
  val DsirBuckets = 1024
  /** Selection size for dsir_select / dsir_resample. */
  val DsirK = 100

  /** The gram stream the DSIR model is fit on and scored over: unigrams
    * + word bigrams of the shared normalized tokenization, hashed into
    * [[DsirBuckets]] buckets (first 32 md5 bits of "dsir:" || gram, mod
    * B). Pure per-row array work + one explode — bigrams come from
    * zip_with over adjacent slices, so building the stream never
    * shuffles and never needs a per-doc window. */
  private def dsirGrams(docs: DataFrame): DataFrame = {
    // Lambda-free gram stream (opt r17, guide §4): the old form built the
    // word list with a higher-order `filter` lambda and the bigrams with
    // `zip_with` over two `slice` copies — all interpreted per element
    // (HOF lambdas are outside whole-stage codegen), four intermediate
    // arrays per document. Over the single-space-normalized text the same
    // strings fall out of two codegen'd regexp_extract_all calls:
    // unigrams are the \S+ runs (normText collapses whitespace, so \S+
    // over it == the nonempty normWords — empty docs normalize to "" and
    // yield an empty stream, preserving the ADVICE r15 empty-doc rule),
    // and bigrams come from a lookahead capture (?=(\S+ \S+)) anchored at
    // each word start — capture without consumption, so adjacent pairs
    // overlap exactly like the old slice/zip_with. Measured same-JVM at
    // sf0.1: model fit 1.04 s → 0.74 s, per-bucket counts bit-identical
    // (the DuckDB twin is unchanged — it checks values, and the strings
    // hashed are identical).
    val norm = graft.operators.TextOps.normText(col("text"))
    val unis = regexp_extract_all(norm, lit("\\S+"), lit(0))
    val bigrams = regexp_extract_all(norm, lit("(?=(\\S+ \\S+))\\S+ ?"), lit(1))
    docs.select(col("doc_id"), col("lang"),
        explode(concat(unis, bigrams)).as("g"))
      .select(col("doc_id"), col("lang"),
        (conv(substring(md5(concat(lit("dsir:"), col("g"))), 1, 8), 16, 10)
          .cast("long") % DsirBuckets).as("bucket"))
  }

  /** dsir_weights — the DSIR importance model AS a table: per hashed
    * bucket, the target-slice and raw-corpus gram counts and the add-1-
    * smoothed log probability ratio
    * `lr_b = ln((n_t+1)/(T+B)) − ln((n_r+1)/(R+B))`, snapped to
    * decimal(18,6) (the bm25/surprisal convention that absorbs last-ulp
    * `ln` differences between engines). Target slice here: lang = 'en'
    * (the resemble-English selection of the paper); [[dsirWeights]]
    * takes any boolean target column.
    *
    * Scale shape: one token-grain scan → map-side-combined groupBy over
    * ≤B keys (the reduce sees ≤B rows per task) → a 1-row totals
    * broadcast. Nothing data-sized shuffles; the output is B rows.
    * `isTarget` is evaluated against the gram stream's carried doc
    * columns (doc_id, lang). */
  def dsirWeights(docs: DataFrame, isTarget: Column): DataFrame =
    dsirRatiosFrom(dsirCounts(docs, isTarget))

  /** The mergeable half of the DSIR model: per-bucket (n_target, n_raw)
    * gram counts. Integer sums — partials over corpus shards or stream
    * micro-batches fold by bucket-wise addition into EXACTLY the direct
    * whole-corpus counts (the CMS linearity argument). */
  def dsirCounts(docs: DataFrame, isTarget: Column): DataFrame =
    dsirGrams(docs)
      .groupBy(col("bucket"))
      .agg(sum(when(isTarget, 1L).otherwise(0L)).as("n_target"),
        count(lit(1)).as("n_raw"))

  /** Per-bucket counts → the smoothed log-ratio model. `counts` must be
    * bucket-unique (the serve path folds partials first); the totals are
    * a 1-row broadcast over the ≤B-row table. Deterministic given the
    * counts, so folded-state serving is bit-identical to direct. */
  def dsirRatiosFrom(counts: DataFrame): DataFrame = {
    val tot = counts.agg(sum(col("n_target")).as("tt"), sum(col("n_raw")).as("rr"))
    counts.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_target"), col("n_raw"),
        round(
          log((col("n_target") + 1).cast("double") / (col("tt") + DsirBuckets).cast("double")) -
            log((col("n_raw") + 1).cast("double") / (col("rr") + DsirBuckets).cast("double")), 6)
          .cast("decimal(18,6)").as("log_ratio"))
  }

  /** foreachBatch sink: this micro-batch's DSIR count PARTIAL, written
    * under its batch id (overwrite — a retried micro-batch replaces its
    * own partial, never double-counts: the reservoirSink / bm25IndexSink
    * idempotence contract). Per-batch state is ≤ [[DsirBuckets]] rows;
    * history is never rescanned. */
  def dsirSink(statePath: String, targetLang: String)(batch: DataFrame, id: Long): Unit =
    dsirCounts(batch, col("lang") === targetLang)
      .write.mode("overwrite").parquet(s"$statePath/dsir/batch=$id")

  /** Serve the whole-stream DSIR model from a [[dsirSink]] state dir:
    * fold the per-batch partials bucket-wise (exact integer merge), then
    * the deterministic ratio step — served == a direct [[dsirWeights]]
    * over everything ingested, EXACTLY (SamplingStreamSpec pins it after
    * every chunk). The fold input is ≤ batches × B rows — bounded by
    * state layout, not data; compaction may re-fold partials any time
    * (integer addition is associative and idempotent under overwrite). */
  def dsirWeightsFromState(s: SparkSession, statePath: String): DataFrame = {
    val ingest = s.read.parquet(s"$statePath/dsir")
      .select(col("bucket"), col("n_target"), col("n_raw"))
    // purge epochs live in their own namespace (dsir_purge/epoch=<id>) so
    // a caller-chosen purge id can NEVER collide with the monotone batch
    // ids foreachBatch allocates from its checkpoint — a collision would
    // silently overwrite one partial with the other, losing ingested
    // counts or undoing an RTBF deletion (ADVICE r15). The fold is a
    // plain union: signed-partial addition is namespace-blind.
    val purgeDir = s"$statePath/dsir_purge"
    val folded =
      (if (StatePath.exists(s, purgeDir))
         ingest.unionByName(s.read.parquet(purgeDir)
           .select(col("bucket"), col("n_target"), col("n_raw")))
       else ingest)
        .groupBy(col("bucket"))
        .agg(sum(col("n_target")).as("n_target"), sum(col("n_raw")).as("n_raw"))
        // presence = positive folded mass: a purge epoch may zero a bucket
        // out entirely (its only carriers opted out) — the served model
        // must then drop the row exactly as a live-corpus rebuild would
        .filter(col("n_raw") > 0)
    dsirRatiosFrom(folded)
  }

  /** RTBF purge for the streamed DSIR model ([[dsirSink]] state): the
    * model is LINEAR in documents — a bucket count is a sum of per-doc
    * gram counts (the CMS-purge argument, [[TextOps.cmsPurgeSketch]]) —
    * so deletion is EXACT: write the purged docs' own count partial
    * NEGATED under its purge epoch id (overwrite = replay-idempotent).
    * The serve fold sums signed partials; with presence = n_raw > 0 the
    * served model equals a full rebuild over the live corpus
    * BIT-IDENTICALLY (integer merge + deterministic ratio step), and a
    * re-publish simply adds the counts back (+1 −1 +1 = +1 by linearity
    * — no epoch-ordering logic needed, unlike the non-linear BM25
    * tombstones). No state rebuild: an opt-out costs one victim-sized
    * epoch, completing deletion propagation for this serving artifact.
    *
    * Purge epochs write under `dsir_purge/epoch=<id>` — a namespace
    * DISJOINT from the `dsir/batch=<id>` ids the streaming sink's
    * foreachBatch allocates from its checkpoint, so purge ids are the
    * caller's to choose freely (replay-idempotent per id via overwrite)
    * and can never clobber a current or future micro-batch partial
    * (ADVICE r15; the bm25PurgeSink ts/ isolation precedent). */
  def dsirPurgeSink(statePath: String, targetLang: String)(purged: DataFrame, id: Long): Unit =
    dsirCounts(purged, col("lang") === targetLang)
      .select(col("bucket"), (-col("n_target")).as("n_target"), (-col("n_raw")).as("n_raw"))
      .write.mode("overwrite").parquet(s"$statePath/dsir_purge/epoch=$id")

  /** Per-doc DSIR importance score: Σ over the doc's gram stream of its
    * bucket's log_ratio — an exact decimal sum (order-free, partition-
    * invariant) of the 6-dec-snapped per-bucket values, so the score is
    * bit-identical across engines. One broadcast join (the B-row weight
    * table) + one doc-keyed partial agg: a single data-sized shuffle. */
  def dsirScores(docs: DataFrame, isTarget: Column): DataFrame =
    dsirScoresFrom(docs, dsirWeights(docs, isTarget))

  /** See [[dsirScores]]; takes a prebuilt weight table (the bench threads
    * its cached one — the model is fit once per corpus and every scoring
    * consumer reads it, the token_table/shingle_table billing shape; a
    * production serve reads it from [[dsirWeightsFromState]]). */
  def dsirScoresFrom(docs: DataFrame, wt: DataFrame): DataFrame =
    dsirGrams(docs)
      .join(broadcast(wt.select(col("bucket"), col("log_ratio"))), "bucket")
      .groupBy(col("doc_id"))
      .agg(sum(col("log_ratio")).cast("decimal(18,6)").as("score"))

  /** Rank the top [[DsirK]] rows of a scored frame by (keyCol desc,
    * doc_id asc). limit-first keeps the plan a TakeOrderedAndProject
    * (per-partition partial top-k, no global sort shuffle); the rank
    * window then runs over ≤k rows. */
  private def topKRanked(scored: DataFrame, keyCol: String): DataFrame =
    scored.orderBy(col(keyCol).desc, col("doc_id")).limit(DsirK)
      .withColumn("sel_rank",
        row_number().over(Window.orderBy(col(keyCol).desc, col("doc_id"))).cast("long"))

  /** The dsir_weights entry's output: log_ratio is decimal internally
    * (the selection legs read that) and double at the contract edge
    * (render parity). */
  def dsirWeightTable(wt: DataFrame): DataFrame =
    wt.select(col("bucket"), col("n_target"), col("n_raw"),
      col("log_ratio").cast("double").as("log_ratio"))

  /** dsir_select — deterministic hard selection: the [[DsirK]] documents
    * with the highest importance score (doc_id tie-break). The greedy
    * variant of DSIR (take the head of the importance ranking); the
    * sampled form the paper actually uses is [[dsirResampleFrom]].
    *
    * Scale shape: [[dsirScores]]' one shuffle + a global top-k that
    * plans as TakeOrderedAndProject — per-partition partial top-k, only
    * k rows per partition ever reach the driver-side ordering. Takes a
    * prebuilt weight table. */
  def dsirSelectFrom(docs: DataFrame, wt: DataFrame): DataFrame =
    topKRanked(dsirScoresFrom(docs, wt), "score")
      .select(col("doc_id"), col("score").cast("double").as("score"), col("sel_rank"))

  /** dsir_resample — importance RESAMPLING via the Gumbel-top-k trick:
    * adding an independent Gumbel(0,1) to each log-weight and taking the
    * k largest draws exactly k documents without replacement with
    * probability ∝ exp(score), which is the paper's sampled selection.
    * The Gumbel is CONTENT-KEYED (same resumability argument as
    * [[qHashSplit]]): u = (h15 + 0.5) / 16^15 from md5("dsirg:" || id)
    * (+0.5 keeps u strictly inside (0,1) so −ln(−ln u) is finite at both
    * hash extremes), gkey = round(−ln(−ln u), 6) as decimal(18,6) — the
    * [[esKey]] convention — and g_score = score + gkey is an exact
    * decimal add. Same top-k plan shape as [[dsirSelectFrom]]. Takes a
    * prebuilt weight table. */
  def dsirResampleFrom(docs: DataFrame, wt: DataFrame): DataFrame = {
    val h = conv(substring(md5(concat(lit("dsirg:"), col("doc_id").cast("string"))), 1, 15),
      16, 10).cast("long")
    val u = (h.cast("double") + lit(0.5)) / lit(1.152921504606846976e18) // 16^15
    val scored = dsirScoresFrom(docs, wt)
      .withColumn("gkey", round(-log(-log(u)), 6).cast("decimal(18,6)"))
      .withColumn("g_score", (col("score") + col("gkey")).cast("decimal(18,6)"))
    topKRanked(scored, "g_score")
      .select(col("doc_id"), col("score").cast("double").as("score"),
        col("gkey").cast("double").as("gkey"),
        col("g_score").cast("double").as("g_score"), col("sel_rank"))
  }
}
