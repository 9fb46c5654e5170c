package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamFixture.spark

/** Invariants for the split / sample / order operators that the DuckDB
  * oracle's value compare can't express directly: permutation-ness,
  * determinism under re-evaluation, stratum-exact sample sizes, and the
  * canonical pick actually being the quality argmax of its cluster. */
class SamplingSpec extends AnyFunSuite {

  val d = "/root/testdata/sf0.001"

  test("hash_split partitions every document exactly once, near the 90/5/5 target") {
    val docs = graft.Tables.documents(spark, d)
    val n = docs.count()
    val out = Sampling.qHashSplit(spark, d).collect()
    assert(out.length == n, "split must cover each doc exactly once")
    val bySplit = out.groupBy(_.getString(2)).view.mapValues(_.length).toMap
    assert(bySplit.keySet == Set("train", "valid", "test"))
    // md5 buckets are uniform; with n=60 docs a 3-sigma band around 90% is
    // wide, so assert ordering + rough mass rather than a tight fraction
    assert(bySplit("train") > bySplit("valid") + bySplit("test"))
    out.foreach(r => assert(r.getLong(1) >= 0 && r.getLong(1) < 100))
  }

  test("hash_split is stable under corpus growth: old ids keep their split") {
    val docs = graft.Tables.documents(spark, d)
    val full = Sampling.hashSplit(docs, "doc_id").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val half = Sampling.hashSplit(docs.filter(col("doc_id") % 2 === 0), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    half.foreach { case (id, s) => assert(full(id) == s, s"doc $id moved splits") }
  }

  test("domain_cap: two-level rank equals the single-window reference; caps bind; ranks contiguous") {
    val docs = graft.Tables.documents(spark, d)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val two = rows(Sampling.domainCap(docs, "source", "doc_id", 7))
    val one = rows(Sampling.domainCapSingleWindow(docs, "source", "doc_id", 7))
    assert(two == one, "salted two-level rank must be indistinguishable from the single window")
    val perDomain = two.groupBy(_._2).view.mapValues(_.map(_._3).toList.sorted).toMap
    perDomain.foreach { case (src, ranks) =>
      assert(ranks.size <= 7, s"$src over cap: ${ranks.size}")
      assert(ranks == (1L to ranks.size).toList, s"$src ranks not contiguous: $ranks")
    }
    assert(two.exists(_._3 == 7L), "cap must bind at this scale for the test to mean anything")
  }

  test("domain_cap: kept documents stay kept when their domain shrinks") {
    // removal can only promote survivors up the per-domain md5 rank —
    // never evict them (the same growth-stability contract as hash_split,
    // in the only direction a cap can promise)
    val docs = graft.Tables.documents(spark, d)
    val full = Sampling.domainCap(docs, "source", "doc_id", 7)
      .collect().map(_.getLong(0)).toSet
    val halfKeep = Sampling.domainCap(docs.filter(col("doc_id") % 2 === 0), "source", "doc_id", 7)
      .collect().map(_.getLong(0)).toSet
    full.filter(_ % 2 == 0).foreach(id =>
      assert(halfKeep.contains(id), s"doc $id evicted by corpus shrink"))
  }

  test("global_shuffle emits a permutation of 0..N-1, deterministic across evaluations") {
    val out = Sampling.qGlobalShuffle(spark, d)
    val pos = out.collect().map(_.getLong(1)).sorted
    assert(pos.toSeq == (0L until pos.length).toSeq, "positions must be a permutation")
    val a = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Sampling.qGlobalShuffle(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b, "shuffle order must be deterministic, not RNG-state-dependent")
  }

  test("global_shuffle order is the md5-key order (two-level == direct global sort)") {
    val docs = graft.Tables.documents(spark, d)
    val direct = docs
      .select(col("doc_id"), md5(concat(lit("shuf:"), col("doc_id").cast("string"))).as("k"))
      .orderBy(col("k"), col("doc_id")).collect().map(_.getLong(0)).toSeq
    val twoLevel = Sampling.qGlobalShuffle(spark, d)
      .orderBy(col("shuffle_pos")).collect().map(_.getLong(0)).toSeq
    assert(twoLevel == direct, "bucketed prefix-sum order must equal the global key sort")
  }

  test("stratified_sample keeps exactly floor(n/denom) rows per stratum") {
    val docs = graft.Tables.documents(spark, d)
    val sizes = docs.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = Sampling.stratifiedSample(docs, "source", "doc_id", denom = 5)
      .groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    sizes.foreach { case (src, n) =>
      assert(kept.getOrElse(src, 0L) == n / 5, s"stratum $src: n=$n kept=${kept.get(src)}")
    }
  }

  test("global_shuffle relative order is stable under arbitrary corpus subsets") {
    // training-order reproducibility across corpus revisions: removing
    // rows must not reorder the survivors (positions shift, order doesn't)
    val docs = graft.Tables.documents(spark, d)
    val fullOrder = Sampling.qGlobalShuffle(spark, d).orderBy(col("shuffle_pos"))
      .collect().map(_.getLong(0)).toSeq
    val rnd = new scala.util.Random(20260813)
    for (_ <- 1 to 3) {
      val k = 2 + rnd.nextInt(4)
      val r = rnd.nextInt(k)
      val sub = docs.filter(col("doc_id") % k =!= r)
      val subIds = sub.collect().map(_.getLong(0)).toSet
      val subOrder = Sampling.globalShuffle(sub, "doc_id").orderBy(col("shuffle_pos"))
        .collect().map(_.getLong(0)).toSeq
      assert(subOrder == fullOrder.filter(subIds), s"subset k=$k r=$r reordered survivors")
    }
  }

  test("stratified_sample keeps exactly the lowest-md5-keyed members of each stratum") {
    val docs = graft.Tables.documents(spark, d)
    val md = java.security.MessageDigest.getInstance("MD5")
    def key(id: Long): String =
      md.digest(s"samp:$id".getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val byStratum = docs.select(col("doc_id"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1))).groupBy(_._2)
    val expected = byStratum.values.flatMap { members =>
      members.map(_._1).sortBy(id => (key(id), id)).take(members.length / 5).toSeq
    }.toSet
    val kept = Sampling.stratifiedSample(docs, "source", "doc_id", denom = 5)
      .collect().map(_.getLong(0)).toSet
    assert(kept == expected, "kept set is not the md5-rank prefix per stratum")
  }

  test("canonical_select picks the max-quality member of every cluster") {
    val clusters = graft.SparkEntry.queries("dedup_clusters")(spark, d)
    val quality = graft.Tables.documents(spark, d)
      .select(col("doc_id"), TextOps.qualityExpr(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val members = clusters.collect()
      .groupBy(_.getLong(1)).view.mapValues(_.map(_.getLong(0)).toSet).toMap
    val out = graft.SparkEntry.queries("canonical_select")(spark, d).collect()
    assert(out.map(_.getLong(0)).toSet == members.keySet, "one row per cluster")
    out.foreach { r =>
      val (cid, canon, q) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val best = members(cid).map(id => (-quality(id), id)).min
      assert((canon, q) == (best._2, -best._1),
        s"cluster $cid: picked $canon q=$q, argmax is ${best._2} q=${-best._1}")
    }
  }

  test("vocab_build ids are contiguous from 0 with non-increasing term frequency") {
    // the sf0.001 corpus has 31 distinct tokens, so topN=20 exercises the cut
    val out = TextOps.vocabBuild(graft.Tables.documents(spark, d), topN = 20)
      .orderBy(col("token_id")).collect()
    assert(out.length == 20)
    assert(out.map(_.getLong(0)).toSeq == (0L until 20L).toSeq)
    val tfs = out.map(_.getLong(2)).toSeq
    assert(tfs == tfs.sorted.reverse, "tf must be non-increasing in id order")
    out.foreach(r => assert(r.getLong(3) <= r.getLong(2), "df cannot exceed tf"))
  }

  test("split_drift: full 10-bucket spine, counts reconcile with hash_split, psi >= 0") {
    val out = Sampling.qSplitDrift(spark, d).collect()
    assert(out.map(_.getInt(0)).sorted.toSeq == (0 to 9), "one row per fixed bucket")
    // PSI buckets must partition exactly the train/valid population the
    // split assigns — no document lost to a bucket-boundary or join bug
    val splits = Sampling.qHashSplit(spark, d).groupBy(col("split")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.map(_.getLong(1)).sum == splits.getOrElse("train", 0L))
    assert(out.map(_.getLong(2)).sum == splits.getOrElse("valid", 0L))
    // (p-q) and ln(p/q) always share a sign, so every term is >= 0 — and
    // Laplace smoothing keeps both shares finite on empty buckets
    out.foreach(r => assert(r.getDouble(3) >= 0.0, s"psi term negative: $r"))
  }

  test("weighted_sample: two-level cumsum equals the global window; pick mass and multiplicity are exact") {
    val w = graft.Tables.documents(spark, d).select(col("doc_id"),
      size(TextOps.normWords(col("text"))).cast("long").as("n_tokens"))
    val step = 200L // small enough that picks bind on the sf0.001 corpus
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val two = rows(Sampling.weightedSample(w, "doc_id", "n_tokens", step))
    val one = rows(Sampling.weightedSampleSingleWindow(w, "doc_id", "n_tokens", step))
    assert(two == one, "bucketed prefix-sum must be indistinguishable from the global window")
    assert(two.nonEmpty)
    val total = w.agg(sum(col("n_tokens"))).collect()(0).getLong(0)
    assert(two.toSeq.map(_._3).sum == total / step,
      "systematic sampling emits exactly floor(totalTokens/step) picks")
    // interval of width w crosses floor(w/step) or floor(w/step)+1 multiples
    two.foreach { case (id, wt, p) =>
      assert(p >= 1L && p >= wt / step && p <= wt / step + 1,
        s"doc $id: weight $wt, picks $p out of systematic bounds")
    }
  }

  test("weighted_sample gives a heavy document its proportional multiplicity") {
    val s = spark; import s.implicits._
    val df = ((1L to 20L).map(i => (i, 10L)) :+ (99L, 1000L)).toDF("doc_id", "n_tokens")
    val out = Sampling.weightedSample(df, "doc_id", "n_tokens", step = 100L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // total mass 1200 -> exactly 12 picks; the 1000-token doc spans ten
    // full intervals so it must take 10 or 11 of them
    assert(out.values.sum == 12L)
    assert(out(99L) >= 10L && out(99L) <= 11L)
  }

  test("reservoir_sample: two-level window equals the single-window reference; " +
    "k binds per group; ranks contiguous") {
    val docs = graft.Tables.documents(spark, d).select(col("doc_id"), col("source"),
        size(TextOps.normWords(col("text"))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSet
    val two = rows(Sampling.weightedReservoir(docs, "source", "doc_id", "n_tokens", 5))
    val one = rows(Sampling.weightedReservoirSingleWindow(docs, "source", "doc_id", "n_tokens", 5))
    assert(two == one, "salted partial top-k must be indistinguishable from the per-group window")
    val perGroup = two.groupBy(_._1)
    val sizes = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    perGroup.foreach { case (src, picks) =>
      assert(picks.size == math.min(5L, sizes(src)), s"$src reservoir size")
      assert(picks.map(_._3).toSeq.sorted == (1L to picks.size).toList, s"$src ranks")
    }
  }

  test("reservoir_sample composes under sharding: top-k of shard top-ks == direct " +
    "(the streaming/mergeable contract)") {
    val docs = graft.Tables.documents(spark, d).select(col("doc_id"), col("source"),
        size(TextOps.normWords(col("text"))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
    // shard by doc_id parity, take each shard's per-group reservoir, then
    // reservoir over the union of the survivors — must equal the direct run
    val shards = (0 to 1).map(i =>
      Sampling.weightedReservoir(docs.filter(col("doc_id") % 2 === i),
        "source", "doc_id", "n_tokens", 5).drop("res_rank"))
    val merged = Sampling.weightedReservoir(shards.reduce(_ unionByName _),
      "source", "doc_id", "n_tokens", 5)
    val direct = Sampling.weightedReservoir(docs, "source", "doc_id", "n_tokens", 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSet
    assert(rows(merged) == rows(direct), "reservoir must compose exactly under union")
  }

  test("reservoir_sample favors heavier items (deterministic ES keys, crafted weights)") {
    val s = spark; import s.implicits._
    // 50 light items (weight 1) + 10 heavy (weight 10000) in one group:
    // with ES keys -ln(u)/w, the heavy items' keys concentrate near 0, so
    // a k=10 reservoir should be dominated by heavy ids
    val df = ((1L to 50L).map(i => ("g", i, 1L)) ++ (101L to 110L).map(i => ("g", i, 10000L)))
      .toDF("source", "doc_id", "n_tokens")
    val picked = Sampling.weightedReservoir(df, "source", "doc_id", "n_tokens", 10)
      .collect().map(_.getLong(1)).toSet
    assert(picked.count(_ >= 101L) >= 8, s"heavy items under-sampled: $picked")
  }

  test("split_leakage accounts for every near-dup pair; cells are valid splits") {
    val nPairs = graft.SparkEntry.queries("ngram_jaccard")(spark, d).count()
    val cells = graft.SparkEntry.queries("split_leakage")(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
    assert(cells.map(_._3).sum == nPairs, "cells must partition the pair table")
    val valid = Set("train", "valid", "test")
    cells.foreach { case (lo, hi, n, leak) =>
      assert(valid(lo) && valid(hi) && lo <= hi)
      assert(leak == (lo != hi))
      assert(n > 0)
    }
  }

  test("cluster_split: zero near-dup leakage by construction; singletons keep the doc-keyed split") {
    val split = graft.SparkEntry.queries("cluster_split")(spark, d)
      .select(col("doc_id"), col("cluster_key"), col("split")).persist()
    val n = graft.Tables.documents(spark, d).count()
    assert(split.count() == n, "one split row per doc")
    // THE property: both endpoints of every near-dup pair share a split
    val pairs = graft.SparkEntry.queries("ngram_jaccard")(spark, d).select(col("doc_a"), col("doc_b"))
    val crossSplit = pairs
      .join(split.select(col("doc_id").as("doc_a"), col("split").as("sa")), Seq("doc_a"))
      .join(split.select(col("doc_id").as("doc_b"), col("split").as("sb")), Seq("doc_b"))
      .filter(col("sa") =!= col("sb")).count()
    assert(crossSplit == 0L, s"$crossSplit near-dup pairs cross splits")
    assert(pairs.count() > 0, "fixture must actually exercise the property")
    // docs outside any cluster key on their own id -> identical assignment
    // to the doc-keyed hash_split
    val hashSplit = Sampling.qHashSplit(spark, d)
      .select(col("doc_id"), col("split").as("hs"))
    val singletonDiffs = split.filter(col("cluster_key") === col("doc_id"))
      .join(hashSplit, Seq("doc_id"))
      .filter(col("split") =!= col("hs")).count()
    assert(singletonDiffs == 0L, "singleton docs must keep their hash_split assignment")
    split.unpersist()
  }

  // ---- DSIR importance resampling (r15) ----

  test("dsir: importance model separates a handcrafted target vocabulary") {
    import spark.implicits._
    // target (en) docs speak "alpha gamma", raw-only (zz) docs speak "beta delta"
    val docs = Seq(
      (1L, "alpha gamma alpha gamma alpha", "en"),
      (2L, "alpha gamma gamma alpha alpha", "en"),
      (3L, "beta delta beta delta beta", "zz"),
      (4L, "delta beta delta beta delta", "zz"),
      (5L, "alpha gamma alpha beta delta", "zz")) // mixed: mostly target-ish text
      .toDF("doc_id", "text", "lang")
    val scores = Sampling.dsirScores(docs, col("lang") === "en")
      .collect().map(r => r.getLong(0) -> r.getDecimal(1).doubleValue()).toMap
    // docs written in the target vocabulary outscore the off-target ones,
    // whether or not they were IN the target slice (doc 5 is the point of
    // DSIR: raw docs that RESEMBLE the target rank high)
    assert(scores(1) > scores(3) && scores(2) > scores(4),
      s"target-vocab docs must outscore off-target ones: $scores")
    assert(scores(5) > scores(3), s"resembling doc must outscore off-target: $scores")
  }

  test("dsir_weights: bounded model table, consistent counts, smoothed ratios finite") {
    val w = graft.SparkEntry.queries("dsir_weights")(spark, d).collect()
    assert(w.length <= Sampling.DsirBuckets, "model table must stay <= B rows")
    w.foreach { r =>
      assert(r.getLong(1) <= r.getLong(2), "target grams are a subset of raw grams")
      assert(!r.getDouble(3).isNaN && !r.getDouble(3).isInfinite, "smoothing keeps ratios finite")
    }
    // total raw gram mass == sum over docs of (2*len - 1) unigrams+bigrams,
    // counting only non-empty words (an empty doc contributes ZERO grams —
    // ADVICE r15: the [""] token normWords yields for empty text is
    // filtered before hashing, so no junk md5("dsir:") bucket exists)
    val expected = graft.Tables.documents(spark, d)
      .select(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.filter(TextOps.normWords(col("text")),
          x => org.apache.spark.sql.functions.length(x) > 0)).as("n"))
      .agg(sum(when(col("n") > 0, col("n") * 2 - 1).otherwise(0L)))
      .collect()(0).getLong(0)
    assert(w.map(_.getLong(2)).sum == expected, "raw gram mass must equal 2n-1 per doc")
  }

  test("dsir: empty and whitespace-only docs carry no grams and no score") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta", "en"),
      (2L, "", "en"),
      (3L, "   ", "zz")).toDF("doc_id", "text", "lang")
    val counts = Sampling.dsirCounts(docs, col("lang") === "en").collect()
    // doc 1 alone: 2 unigrams + 1 bigram = 3 raw grams, all target
    assert(counts.map(_.getLong(2)).sum == 3L,
      "empty docs must contribute zero gram mass (no md5('dsir:') bucket)")
    val scored = Sampling.dsirScores(docs, col("lang") === "en")
      .collect().map(_.getLong(0)).toSet
    assert(scored == Set(1L), "empty docs must receive no DSIR score")
  }

  test("dsir_select: deterministic contiguous top-k with non-increasing scores; plan is broadcast + TakeOrdered") {
    val sel = graft.SparkEntry.queries("dsir_select")(spark, d)
    val rows = sel.collect().sortBy(_.getLong(2))
    assert(rows.map(_.getLong(2)).toSeq == (1L to rows.length).toSeq, "ranks contiguous from 1")
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getDouble(1) > b.getDouble(1) ||
        (a.getDouble(1) == b.getDouble(1) && a.getLong(0) < b.getLong(0)),
        "ordering must be (score desc, doc_id asc)")
      case _ => ()
    }
    val again = graft.SparkEntry.queries("dsir_select")(spark, d).collect().sortBy(_.getLong(2))
    assert(rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      again.map(r => (r.getLong(0), r.getDouble(1))).toSeq, "content-keyed => rerun-identical")
    val plan = sel.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"B-row weight table must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no data-sized join may appear:\n$plan")
  }

  test("dsir_resample: g_score is the exact decimal sum of score and gumbel key") {
    val rows = graft.SparkEntry.queries("dsir_resample")(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (score, gkey, gscore) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      // both addends are 6-dec-snapped decimals, so the add is exact
      assert((BigDecimal(score) + BigDecimal(gkey) - BigDecimal(gscore)).abs == BigDecimal(0),
        s"g_score must equal score + gkey exactly: $score + $gkey != $gscore")
      assert(!gkey.isInfinite, "u in (0,1) strictly => finite gumbel at both hash extremes")
    }
  }
}
