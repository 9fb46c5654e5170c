package graft.operators

import graft.Tables._
import graft.functions.KMinValues
import graft.operators.TextOps.normWords
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}

/** Cross-source corpus-overlap estimation — the "how much does crawl N
  * overlap crawl N−1 / how redundant are my sources" question a
  * training-data pipeline answers before blending sources (near-identical
  * sources waste mixture weight; unexpected overlap flags a scraping bug).
  *
  * Two forms, the established exact/sketch twin pattern (ann_brute vs
  * ann_lsh, q08 vs q09):
  *
  *  - [[overlapExact]] (overlap_exact) — oracle-checkable ground truth: per source pair,
  *    the distinct-3-gram-shingle intersection and Jaccard via an
  *    inverted-index self-join. The join is keyed by shingle and each
  *    shingle contributes at most C(sources, 2) pairs, so buckets are
  *    bounded by the SOURCE count (a handful), never by corpus size —
  *    but the shuffle still moves the full distinct-shingle table, which
  *    is corpus-sized.
  *  - [[overlapKmvFrozen]] (overlap_kmv) — the 100 TB path: one [[KMinValues]] sketch per
  *    source (k×8 bytes of state regardless of corpus size, classic
  *    partial+final aggregation, no self-join anywhere), then pairwise
  *    estimates over the sketch table alone — sources² rows of k-length
  *    arrays. At a thousand sources that is still megabytes. Registered
  *    rows-only (a sketch estimate has no SQL oracle); OverlapSpec pins
  *    merge-invariance EXACTLY and error vs overlap_exact within the
  *    1/√k band.
  */
object Overlap {

  /** Distinct (source, shingle) rows — [[Dedup.shingleTable]]'s
    * construction (posexplode + window lead, whole-stage codegen'd;
    * see that scaladoc for why not HOF lambdas) keyed by SOURCE: overlap
    * is a source-grain question, so the set union over a source's
    * documents happens in the same distinct that dedups within a doc. */
  def sourceShingleTable(docs: DataFrame, n: Int = 3): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val nexts = (1 until n).map(k => lead(col("w"), k).over(w).as(s"w$k"))
    docs
      .select(col("doc_id"), col("source"), posexplode(normWords(col("text"))).as(Seq("pos", "w")))
      .select(col("source") +: col("doc_id") +: col("w") +: nexts: _*)
      .filter(col(s"w${n - 1}").isNotNull)
      .select(col("source"),
        concat_ws(" ", col("w") +: (1 until n).map(k => col(s"w$k")): _*).as("shingle"))
      .distinct()
  }

  /** Source-grain distinct shingles DERIVED from an already-materialized
    * doc-grain [[Dedup.shingleTable]] plus a (doc_id, source) map — the
    * cluster-scale shape: the tokenize+lead shuffle is paid once by the
    * shared shingle table and overlap adds only a doc_id-keyed join (the
    * map is dimension-thin) and the source-grain distinct. Both overlap
    * entries read the catalogue's shared shingle_table through here.
    * Output is identical to [[sourceShingleTable]] because shingle
    * construction is per-document either way. */
  def sourceShinglesFrom(docShingles: DataFrame, docSource: DataFrame): DataFrame =
    docShingles.join(docSource, "doc_id")
      .select(col("source"), col("shingle")).distinct()

  /** All unordered source pairs with distinct-shingle set sizes,
    * intersection size, and Jaccard. Pairs with an empty intersection are
    * kept (coalesce 0) so the output grain is exactly C(sources, 2). The
    * per-source totals are source grain, so the pair cross join
    * broadcasts one side explicitly: a size estimate over a joined input
    * (the shared shingle table ⋈ the doc→source map) would otherwise plan
    * it as a Cartesian product. */
  def overlapExact(ex: DataFrame): DataFrame = {
    val counts = ex.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = ex.as("a").join(ex.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("i"))
    val pairs = counts.select(col("source").as("source_a"), col("n").as("n_a"))
      .crossJoin(broadcast(counts.select(col("source").as("source_b"), col("n").as("n_b"))))
      .filter(col("source_a") < col("source_b"))
    pairs.join(inter, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        coalesce(col("i"), lit(0L)).as("n_common"),
        round(coalesce(col("i"), lit(0L)).cast("double")
          / (col("n_a") + col("n_b") - coalesce(col("i"), lit(0L))).cast("double"), 6)
          .as("jaccard"))
  }

  /** overlap_kmv over (source, shingle) rows: the per-source
    * hashed-shingle table frozen to [[Frozen]] "overlap-hashes", sketches
    * + estimates served from the loaded copy so both engines see identical
    * hash values (hash-green since r11; before that, rows-only). The
    * xxhash64 value per distinct (source, shingle) is the ONE
    * engine-specific piece of the KMV path; the oracle recomputes the
    * k-minimum selection, the pairwise union/intersection estimates and
    * the rounding algebra from the same frozen values. */
  def overlapKmvFrozen(srcShingles: DataFrame, d: String): DataFrame = {
    val hashed = srcShingles.select(col("source"), xxhash64(col("shingle")).as("h"))
    overlapKmvFromHashes(Frozen(hashed, Frozen.path("overlap-hashes", d)))
  }

  /** overlap_purge — RTBF deletion propagation for the KMV overlap
    * sketches, the one serving artifact the r15 purge sweep declared a
    * rebuild: KMV is NOT linear (a k-min set cannot subtract a departed
    * member — once a purged doc's hash made the sketch there is no way
    * to know which evicted value should replace it), so purge must
    * re-accumulate. But at SOURCE grain, not corpus grain: a sketch is
    * per source, so only sources that actually LOST a distinct shingle
    * re-sketch from their live rows; every untouched source keeps its
    * prior sketch, which already equals a live-rows rebuild (no purged
    * member ever entered it). At 100 TB an opt-out batch touches a
    * handful of sources, so the rebuild scans those sources' partitions
    * only — never the corpus (the affected-source list is request-sized
    * and broadcasts into both legs).
    *
    * Oracle (the overlap_kmv frozen-hash pattern): the per-(source,
    * shingle) xxhash64 table is frozen WITH the live flag to [[Frozen]]
    * "overlap-purge-hashes"; DuckDB
    * independently recomputes the k-min selection and pairwise
    * estimates over `WHERE live` rows alone — which the source-grain
    * Spark path must equal exactly, per the argument above. Purge set:
    * the rtbf_purge opt-out convention (doc_id % 17 == 0). */
  def qOverlapPurge(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val all = sourceShingleTable(docs)
      .select(col("source"), xxhash64(col("shingle")).as("h")).distinct()
    val live = sourceShingleTable(docs.filter(col("doc_id") % 17 =!= 0))
      .select(col("source"), xxhash64(col("shingle")).as("h")).distinct()
      .withColumn("live", lit(true))
    val flagged = all.join(live, Seq("source", "h"), "left")
      .select(col("source"), col("h"), coalesce(col("live"), lit(false)).as("live"))
    overlapPurgeFromHashes(Frozen(flagged, Frozen.path("overlap-purge-hashes", d)))
  }

  /** Source-grain purge rebuild over a flagged (source, h, live) hash
    * table: untouched sources (no dead hash) keep their full-row
    * sketches; affected sources re-sketch from live rows only. The
    * affected list is bounded by the source count → broadcast anti/semi
    * joins; the sketch aggregation stays the one map-side-combinable
    * corpus pass either way. */
  def overlapPurgeFromHashes(flagged: DataFrame,
      k: Int = KMinValues.DefaultK): DataFrame = {
    val affected = flagged.filter(!col("live")).select(col("source")).distinct()
    val untouched = sketchFromHashes(flagged.select(col("source"), col("h")), k)
      .join(broadcast(affected), Seq("source"), "left_anti")
    val rebuilt = sketchFromHashes(
      flagged.filter(col("live"))
        .join(broadcast(affected), Seq("source"), "left_semi")
        .select(col("source"), col("h")), k)
    pairEstimates(untouched.unionByName(rebuilt), k)
  }

  /** Sketch-side result row. Estimates are doubles (rounded for output
    * stability); `est_jaccard` carries ~1/√k standard error. Must NOT be
    * `private`: Spark's encoder codegen instantiates it from generated
    * Janino code outside this object, and a private constructor makes the
    * compile fail and the whole stage silently fall back to interpreted
    * evaluation (a CompileException in every overlap run's log). */
  case class PairEst(source_a: String, source_b: String,
      est_a: Double, est_b: Double, est_common: Double, est_jaccard: Double)

  /** Per-source KMV sketches → pairwise overlap estimates. The corpus is
    * touched ONCE (sketch aggregation, map-side combinable); everything
    * pairwise runs over the sources-sized sketch table. */
  def overlapKmv(ex: DataFrame, k: Int = KMinValues.DefaultK): DataFrame =
    pairEstimates(sketchTable(ex, k), k)

  /** [[overlapKmv]] over a pre-hashed (source, h) table (the frozen
    * artifact the registered entry serves from). */
  def overlapKmvFromHashes(hashed: DataFrame, k: Int = KMinValues.DefaultK): DataFrame =
    pairEstimates(sketchFromHashes(hashed, k), k)

  /** (source, sk) — one k-bounded KMV sketch per source. */
  def sketchTable(ex: DataFrame, k: Int = KMinValues.DefaultK): DataFrame =
    sketchFromHashes(ex.select(col("source"), xxhash64(col("shingle")).as("h")), k)

  /** Sketch aggregation over an explicit (source, h) hash table. */
  def sketchFromHashes(hashed: DataFrame, k: Int = KMinValues.DefaultK): DataFrame =
    hashed.groupBy(col("source"))
      .agg(KMinValues.kmv(k)(col("h")).as("sk"))

  /** Pairwise estimates over a sketch table. The arithmetic is a typed
    * `map` rather than column expressions — the frame is sources²-sized
    * control-plane data, never corpus data. */
  def pairEstimates(sketches: DataFrame, k: Int = KMinValues.DefaultK): DataFrame = {
    val spark = sketches.sparkSession
    import spark.implicits._
    val flip = (x: Long) => x ^ Long.MinValue
    sketches.as("a").join(sketches.as("b"), col("a.source") < col("b.source"))
      .select(col("a.source").as("sa"), col("a.sk").as("ska"),
        col("b.source").as("sb"), col("b.sk").as("skb"))
      .as[(String, Seq[Long], String, Seq[Long])]
      .map { case (sa, ska, sb, skb) =>
        val union = (ska ++ skb).distinct.sortBy(flip).take(k)
        val (inA, inB) = (ska.toSet, skb.toSet)
        val m = union.count(x => inA(x) && inB(x))
        val jac = if (union.isEmpty) 0.0 else m.toDouble / union.size
        val estU = KMinValues.estimate(union, k)
        PairEst(sa, sb,
          math.rint(KMinValues.estimate(ska, k)),
          math.rint(KMinValues.estimate(skb, k)),
          math.rint(jac * estU),
          math.rint(jac * 1e6) / 1e6)
      }
      .toDF()
  }

  // ---------------------------------------------------------------------
  // Streaming sketch maintenance (foreachBatch partial-materializing sink)
  // ---------------------------------------------------------------------

  /** foreachBatch sink: sketch THIS micro-batch's documents per source and
    * write the per-batch sketch partial (overwrite per batch id — a
    * retried micro-batch replaces its own partial, never double-counts:
    * the [[TextOps.bm25IndexSink]] idempotence contract). Per-batch state
    * is sources × k longs; history is never rescanned. */
  def sketchSink(statePath: String)(batch: DataFrame, id: Long): Unit =
    sketchTable(sourceShingleTable(batch))
      .write.mode("overwrite").parquet(s"$statePath/sk/batch=$id")

  /** RTBF purge for the streamed sketch state ([[sketchSink]]): KMV is
    * non-linear, so the purge RE-SKETCHES each affected source from its
    * live rows (supplied by the caller — at scale, a scan of those
    * sources' partitions only) and tombstones every affected source —
    * [[StatePath.writePurgeEpoch]]: the serve fold then drops the affected
    * sources' pre-cutoff ingest partials and folds the rebuilt sketch in
    * their place, while ingest batches arriving AFTER the purge merge back
    * in by plain KMV union. Untouched sources' state is never rewritten —
    * source-grain, like the batch [[qOverlapPurge]].
    *
    * `liveAffectedDocs`: the affected sources' LIVE documents (doc_id,
    * source, text); `affectedSources` the full affected list. */
  def overlapPurgeSink(s: SparkSession, statePath: String, epochId: Long)(
      liveAffectedDocs: DataFrame, affectedSources: Seq[String]): Unit = {
    import s.implicits._
    StatePath.writePurgeEpoch(s, statePath, epochId)(
      sketchTable(sourceShingleTable(liveAffectedDocs)), affectedSources.toDF("source"))
  }

  /** (source, sk): the partial schema [[sketchSink]] writes. */
  private val KmvPartial = StructType(Seq(StructField("source", StringType),
    StructField("sk", ArrayType(LongType))))

  /** Serve pairwise overlap estimates from a [[sketchSink]] state
    * directory. KMV composes EXACTLY under union — the k smallest of
    * (k smallest of A ∪ k smallest of B) are the k smallest of A ∪ B —
    * so re-aggregating the per-batch sketch values per source yields the
    * identical sketch (and identical estimates) to a direct whole-corpus
    * pass, provided no document spans batches (shingles are per-doc).
    * OverlapStreamSpec pins served == direct EXACTLY after every chunk,
    * not within a tolerance. With [[overlapPurgeSink]] tombstones
    * present, [[StatePath.foldSketches]] gives each tombstoned source its
    * winning rebuilt sketch plus only its cutoff-or-later ingest partials
    * — served == a direct pass over the live corpus, still exact. */
  def overlapServeFromState(s: SparkSession, statePath: String,
      k: Int = KMinValues.DefaultK): DataFrame = {
    val merged = StatePath.foldSketches(s, statePath, KmvPartial)
      .select(col("source"), explode(col("sk")).as("h"))
      .groupBy(col("source"))
      .agg(KMinValues.kmv(k)(col("h")).as("sk"))
    pairEstimates(merged, k)
  }
}
