package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The FROZEN state-corpus statistics behind incremental curation
  * ([[Pipeline.curateIncrementalFromState]]) as a first-class, persisted,
  * MERGEABLE artifact — r9 VERDICT task 1: the serving query must bill only
  * fresh-batch work, so everything the gates need from the state corpus is
  * materialized once per ingest cycle and READ back, never recomputed:
  *
  *  - `fp`         — distinct content fingerprints (the dedup anti-join side);
  *  - `c1` / `c2`  — unigram / bigram LM count tables (integer, mergeable);
  *  - `stats`      — 1 row (t = total tokens, v = vocabulary size);
  *  - `bounds`     — 1 row, the state corpus's SELF-SCORED surprisal tercile
  *                   cutoffs (frozen: a fresh doc cannot shift the gate it is
  *                   judged by);
  *  - `srcCounts`  — per-source document counts (the domain-mix cutoffs);
  *  - `benchGrams` — the distinct benchmark [[Curation.ContamK]]-gram set.
  *
  * Mergeability follows the bm25IndexSink partials pattern
  * (TextOps.scala `bm25IndexSink`/`bm25ServeFromIndex`): each ingested chunk
  * appends count-table partials under `batch=<id>` directories (a retried
  * batch OVERWRITES its own directory — idempotent replay), and
  * [[finalizeFromPartials]] merges them by integer sums / distinct unions.
  * Every merged statistic is an integer count or a distinct string set, so a
  * merged artifact is BIT-IDENTICAL to one computed from the whole state
  * corpus directly (CurationStateSpec pins merged == direct frame by frame).
  * The one non-mergeable piece — `bounds`, which needs the state docs
  * rescored under the MERGED LM — is derived at finalize time from the
  * `bg` per-document bigram partials (the token-grain artifact a production
  * pipeline materializes anyway; at 100 TB this is the one finalize-time
  * state-sized pass, paid once per ingest CYCLE, not per query).
  *
  * Reference scope note: the reference pipeline itself keeps only per-batch
  * counters as state (`/root/reference/src/main/java` wraps an external
  * pipeline library; SURVEY.md §2.3); this artifact is part of the declared
  * relational/LLM extension surface.
  */
final case class CurationState(
    fp: DataFrame,
    c1: DataFrame,
    c2: DataFrame,
    stats: DataFrame,
    bounds: DataFrame,
    srcCounts: DataFrame,
    benchGrams: DataFrame)

object CurationState {

  /** (doc_id, fp) content fingerprints — md5 of the normalized text, the
    * exact-dedup key shared with [[Dedup.qDedupExact]]. */
  def contentFp(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      md5(TextOps.normText(col("text")).cast("binary")).as("fp"))

  /** (doc_id, w1, w2) per-document bigram table of a token frame. */
  def bigramsOf(toks: DataFrame): DataFrame = {
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    toks.select(col("doc_id"), col("w").as("w1"),
        lead(col("w"), 1).over(byPos).as("w2"))
      .filter(col("w2").isNotNull)
  }

  /** Add-one-smoothed, λ-interpolated bigram LM scores under EXPLICIT
    * count frames — the scorer of [[Pipeline.curateIncrementalFromState]]:
    * smoothing gives unseen words and bigrams a finite, deterministic
    * surprisal, so a frozen LM can score out-of-corpus text. All three
    * count lookups are salted LEFT joins ([[Curation.CountJoinSalt]]):
    * Zipf-hot keys spread structurally, misses stay NULL → smoothed. */
  def lmScores(bg: DataFrame, c1: DataFrame, c2: DataFrame,
               stats: DataFrame): DataFrame = {
    def leftSalted(rows: DataFrame, counts: DataFrame, keys: Seq[String]) = {
      val salted = counts.withColumn("salt",
        explode(sequence(lit(0), lit(Curation.CountJoinSalt - 1))))
      rows.withColumn("salt", pmod(hash(col("doc_id")), lit(Curation.CountJoinSalt)))
        .join(salted, keys :+ "salt", "left").drop("salt")
    }
    val p2 = (coalesce(col("c2"), lit(0L)) + lit(1L)).cast("double") /
      (coalesce(col("c1w"), lit(0L)) + col("v") + lit(1L)).cast("double")
    val p1 = (coalesce(col("c1u"), lit(0L)) + lit(1L)).cast("double") /
      (col("t") + col("v") + lit(1L)).cast("double")
    leftSalted(leftSalted(leftSalted(bg, c2, Seq("w1", "w2")),
        c1.select(col("w").as("w1"), col("c").as("c1w")), Seq("w1")),
        c1.select(col("w").as("w2"), col("c").as("c1u")), Seq("w2"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        (-log(lit(Curation.BigramLambda) * p2 +
          lit(Curation.UnigramLambda) * p1)).as("s"))
      .groupBy(col("doc_id"))
      .agg(round(avg(col("s")), 6).as("avg_surprisal"))
  }

  /** The doc-grain LM scores as the quantile refinement's `x`,
    * materialized once: each of its three round trips reads them, and
    * recomputing the tokenize + three salted joins per round trip would
    * triple the bundle's most expensive frame. */
  private def scoresOnce(scores: DataFrame): DataFrame =
    Ckpt.local(scores.select(col("avg_surprisal").as("x")), Ckpt.CorpusSized)

  /** Compute the full state bundle in memory from the state corpus — the
    * direct form (tests pin merged partials == this, and [[write]] persists
    * exactly these frames). One tokenize explode feeds every statistic. */
  def compute(state: DataFrame): CurationState = {
    val toks = Curation.tokens(state)
    val c1 = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val c2 = bigramsOf(toks).groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val stats = toks.agg(count(lit(1)).as("t"), countDistinct(col("w")).as("v"))
    val bounds = Relational.equidepthBoundsArray(
      scoresOnce(lmScores(bigramsOf(toks), c1, c2, stats)), 3)
    CurationState(
      fp = contentFp(state).select("fp").distinct(),
      c1 = c1, c2 = c2, stats = stats, bounds = bounds,
      srcCounts = state.groupBy(col("source")).agg(count(lit(1)).as("n_source")),
      benchGrams = Curation.contamGrams(
          toks.filter(col("source") === Curation.BenchmarkSource))
        .select("g").distinct())
  }

  private val FrameNames =
    Seq("fp", "c1", "c2", "stats", "bounds", "src", "bench")

  private def frames(cs: CurationState): Seq[(String, DataFrame)] =
    Seq("fp" -> cs.fp, "c1" -> cs.c1, "c2" -> cs.c2, "stats" -> cs.stats,
      "bounds" -> cs.bounds, "src" -> cs.srcCounts, "bench" -> cs.benchGrams)

  /** Persist a finalized state bundle under `path` (one parquet dir per
    * frame). Every value is an integer count, a hex string, or an exact
    * parquet double, so write → [[load]] is a bit-exact round trip — the
    * driver's curate_incremental hash runs THROUGH this artifact. */
  def write(cs: CurationState, path: String): Unit =
    frames(cs).foreach { case (name, f) =>
      f.write.mode("overwrite").parquet(s"$path/$name")
    }

  def load(s: SparkSession, path: String): CurationState = {
    val Seq(fp, c1, c2, stats, bounds, src, bench) =
      FrameNames.map(n => s.read.parquet(s"$path/$n"))
    CurationState(fp, c1, c2, stats, bounds, src, bench)
  }

  /** The bundle as the artifact a server reads (curation_state_build):
    * [[compute]] frozen frame by frame under data directory `d`'s
    * `curation-state` artifact ([[Frozen]], overwritten by each build)
    * and read back with each frame's own schema, so every consumer runs
    * THROUGH the parquet round trip and no read infers a schema. */
  def frozen(state: DataFrame, d: String): CurationState = {
    val path = Frozen.path("curation-state", d)
    val Seq(fp, c1, c2, stats, bounds, src, bench) =
      frames(compute(state)).map { case (name, f) => Frozen(f, s"$path/$name") }
    CurationState(fp, c1, c2, stats, bounds, src, bench)
  }

  /** Append one ingest chunk's MERGEABLE partials under
    * `partialPath/<frame>/batch=<id>`. A retried batch id overwrites its own
    * directory (idempotent replay — the epoch-commit pattern RecoverySpec
    * pins). `bg` is the per-doc bigram partial [[finalizeFromPartials]]
    * rescans to freeze `bounds`; correctness needs only that each document
    * lands in exactly one batch. */
  def writePartial(docs: DataFrame, partialPath: String, batchId: Long): Unit = {
    val toks = Curation.tokens(docs).persist()
    try {
      val parts: Seq[(String, DataFrame)] = Seq(
        "fp" -> contentFp(docs).select("fp").distinct(),
        "c1" -> toks.groupBy(col("w")).agg(count(lit(1)).as("c")),
        "c2" -> bigramsOf(toks).groupBy(col("w1"), col("w2"))
          .agg(count(lit(1)).as("c2")),
        "src" -> docs.groupBy(col("source")).agg(count(lit(1)).as("n_source")),
        "bench" -> Curation.contamGrams(
            toks.filter(col("source") === Curation.BenchmarkSource))
          .select("g").distinct(),
        "bg" -> bigramsOf(toks))
      parts.foreach { case (name, f) =>
        f.write.mode("overwrite").parquet(s"$partialPath/$name/batch=$batchId")
      }
    } finally toks.unpersist()
  }

  /** `foreachBatch` ingest sink — the streaming face of [[writePartial]]
    * (CurationStreamSpec drains state-corpus chunks through it and pins
    * finalize+serve == the direct batch pipeline). Micro-batch id = partial
    * batch id, so Structured Streaming's retry semantics land on
    * [[writePartial]]'s overwrite-own-directory idempotence. */
  def curationStateSink(partialPath: String)(batch: DataFrame, id: Long): Unit =
    writePartial(batch, partialPath, id)

  /** Merge all appended partials into a finalized bundle at `frozenPath`:
    * counts sum, distinct sets union, t/v derive from the merged unigram
    * table, and `bounds` comes from rescoring the merged `bg` partials under
    * the merged LM. Integer-exact: a finalize over any split of the state
    * corpus equals [[compute]] over the whole (CurationStateSpec). */
  def finalizeFromPartials(s: SparkSession, partialPath: String,
                           frozenPath: String): Unit = {
    def part(name: String) = s.read.parquet(s"$partialPath/$name").drop("batch")
    val c1 = part("c1").groupBy(col("w")).agg(sum(col("c")).as("c"))
    val c2 = part("c2").groupBy(col("w1"), col("w2")).agg(sum(col("c2")).as("c2"))
    // t/v from the merged table: a doc split never changes the merged sums
    val stats = c1.agg(sum(col("c")).as("t"), count(lit(1)).as("v"))
    val bounds = Relational.equidepthBoundsArray(
      scoresOnce(lmScores(part("bg"), c1, c2, stats)), 3)
    write(CurationState(
      fp = part("fp").distinct(),
      c1 = c1, c2 = c2, stats = stats, bounds = bounds,
      srcCounts = part("src").groupBy(col("source"))
        .agg(sum(col("n_source")).as("n_source")),
      benchGrams = part("bench").distinct()), frozenPath)
  }
}
