package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamFixture.spark

/** Operator-library specs over the driver-provided sf0.001 tables. The
  * DuckDB oracle (driver-side) is the primary correctness gate; these
  * cover the properties the oracle can't express: approximation bounds,
  * recall, plan shapes, and cross-operator agreement. */
class OperatorSpec extends AnyFunSuite {

  val d = "/root/testdata/sf0.001"

  test("q09 approx distinct is within 5% of exact per group") {
    val exact = Relational.q08DistinctAgg(spark, d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = Relational.q09ApproxDistinct(spark, d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact.keySet == approx.keySet)
    exact.foreach { case (k, ex) =>
      val ap = approx(k)
      assert(math.abs(ap - ex).toDouble / ex <= 0.05, s"$k: exact=$ex approx=$ap")
    }
  }

  test("q37 approx percentiles land within a rank-tolerance band of the exact distribution") {
    // percentile_approx guarantees RANK accuracy, not value accuracy — in a
    // sparse tail a tiny rank error is a visible value step. So the bound is
    // rank-based: the approx p50/p95 must lie within the exact [p45, p55] /
    // [p93, p97] value band per group.
    val bands = graft.Tables.events(spark, d)
      .groupBy(col("event_type"))
      .agg(
        expr("percentile(value, 0.45)").as("lo50"), expr("percentile(value, 0.55)").as("hi50"),
        expr("percentile(value, 0.93)").as("lo95"), expr("percentile(value, 0.97)").as("hi95"))
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    val approx = Relational.q37ApproxPercentile(spark, d).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(bands.keySet == approx.keySet)
    bands.foreach { case (k, (lo50, hi50, lo95, hi95)) =>
      val (a50, a95) = approx(k)
      assert(a50 >= lo50 && a50 <= hi50, s"$k p50 $a50 outside [$lo50, $hi50]")
      assert(a95 >= lo95 && a95 <= hi95, s"$k p95 $a95 outside [$lo95, $hi95]")
    }
  }

  test("sketch-check entries: every verdict flag is 1 (the driver hash gates " +
    "the algebra; this pins that the bounds actually HOLD)") {
    // r11 VERDICT task 1: the four sketch entries are hash-green via
    // frozen estimates + DuckDB-recomputed bound algebra. A hash match
    // alone would also pass if a bound FAILED identically on both sides —
    // so assert the verdict columns are all-1 here.
    def allOnes(df: org.apache.spark.sql.DataFrame, cols: Seq[String]): Unit =
      cols.foreach { c =>
        val bad = df.filter(col(c) =!= 1).count()
        assert(bad == 0, s"$c: $bad rows with flag != 1")
      }
    allOnes(Relational.q09ApproxDistinctChecked(spark, d), Seq("within_bound"))
    allOnes(Relational.q37ApproxPercentileChecked(spark, d), Seq("within_bound"))
    allOnes(Relational.qHllMergeChecked(spark, d), Seq("merge_equal", "within_bound"))
    allOnes(graft.SparkEntry.queries("heavy_hitters")(spark, d), Seq("count_match", "is_valid_topk"))
  }

  test("ann_lsh recall@3 >= 0.8 vs exact nearest neighbor (VERDICT r01 #6)") {
    val truth = Similarity.qNearestNeighbor(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val approx = Similarity.qAnnLsh(spark, d).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val hits = truth.count { case (q, nn) => approx.getOrElse(q, Set.empty).contains(nn) }
    val recall = hits.toDouble / truth.size
    assert(recall >= 0.8, s"recall@3 = $recall over ${truth.size} queries")
  }

  test("ann_ivf recall@3 >= 0.75 vs exact nearest neighbor (second scale path: IVF)") {
    val truth = Similarity.qNearestNeighbor(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val approx = Similarity.qAnnIvf(spark, d).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val hits = truth.count { case (q, nn) => approx.getOrElse(q, Set.empty).contains(nn) }
    val recall = hits.toDouble / truth.size
    assert(recall >= 0.75, s"IVF recall@3 = $recall over ${truth.size} queries")
  }

  test("ann_pq recall@3 vs exact nearest neighbor (product quantization + ADC + re-rank)") {
    val truth = Similarity.qNearestNeighbor(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val approx = Similarity.qAnnPq(spark, d).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val hits = truth.count { case (q, nn) => approx.getOrElse(q, Set.empty).contains(nn) }
    val recall = hits.toDouble / truth.size
    info(s"PQ recall@3 = $recall over ${truth.size} queries")
    assert(recall >= 0.8, s"PQ recall@3 = $recall")
    // the emitted scores are EXACT cosines (re-ranked), not ADC estimates
    approx.values.foreach(s => assert(s.size <= 3))
  }

  test("ann_ivfpq recall@3: the coarse+compressed composition loses only coarse-dropped candidates") {
    val truth = Similarity.qNearestNeighbor(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ivfpq = Similarity.qAnnIvfPq(spark, d).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val ivfOnly = Similarity.qAnnIvf(spark, d).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recall = truth.count { case (q, nn) =>
      ivfpq.getOrElse(q, Set.empty).contains(nn) }.toDouble / truth.size
    val ivfRecall = truth.count { case (q, nn) =>
      ivfOnly.getOrElse(q, Set.empty).contains(nn) }.toDouble / truth.size
    info(s"IVF-PQ recall@3 = $recall (plain IVF = $ivfRecall) over ${truth.size} queries")
    assert(recall >= 0.7, s"IVF-PQ recall@3 = $recall")
    // PQ error is absorbed by the exact re-rank shortlist: the composition
    // must stay within a small margin of the coarse quantizer's own recall
    assert(recall >= ivfRecall - 0.1,
      s"compression cost too high: $recall vs IVF $ivfRecall")
  }

  test("blocked embedding dedup recovers the exact near-dup pair set with bounded work") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.qEmbeddingDedup(spark, d))
    val blocked = pairs(Similarity.qEmbeddingDedupSingleLevel(spark, d))
    // the blocked variant verifies with the same exact cosine, so it can
    // only MISS pairs (cell non-collision), never invent them
    assert(blocked.subsetOf(exact), s"false positives: ${blocked -- exact}")
    val recall = if (exact.isEmpty) 1.0 else blocked.size.toDouble / exact.size
    info(s"blocked recall = $recall (${blocked.size}/${exact.size})")
    assert(recall >= 0.8, s"blocked recall = $recall over ${exact.size} true pairs")
  }

  test("ann_2level recall@3 vs exact nearest neighbor (hierarchical IVF ANN)") {
    val truth = Similarity.qNearestNeighbor(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val approx = Similarity.qAnnTwoLevel(spark, d).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val hits = truth.count { case (q, nn) => approx.getOrElse(q, Set.empty).contains(nn) }
    val recall = hits.toDouble / truth.size
    info(s"two-level ANN recall@3 = $recall over ${truth.size} queries")
    assert(recall >= 0.8, s"recall@3 = $recall") // measured 0.91, deterministic
  }

  test("two-level fine cells stay balanced — proportional quotas hold under coarse skew") {
    // pair volume is Σ|cell|²: a fixed per-coarse quota measured 5× the
    // balanced value on the 10× probe (SCALEPROBE round 5). Guard the
    // proportional-allocation law: no fine cell may dominate the corpus.
    val e = graft.Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(graft.functions.VectorFunctions.dot(col("v"), col("v"))))
    val occ = Similarity.twoLevelAssignments(e)
      .groupBy("coarse", "fine").count().select("count").collect().map(_.getLong(0))
    val n = e.count()
    val mean = occ.sum.toDouble / occ.length
    assert(occ.max <= n / 4, s"one fine cell holds ${occ.max} of $n vectors")
    assert(occ.max <= mean * 12, s"max=${occ.max} mean=$mean — quota law broken")
  }

  test("registered embedding_dedup_blocked delegates to the two-level quantizer (no N-growing collect)") {
    // VERDICT r5 #3: auto-K single-level collects a K×64 centroid matrix
    // with K ∝ N. The registered entry must run the hierarchical path
    // (√K driver residency) — pinned by exact output equality.
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs(Similarity.qEmbeddingDedupBlocked(spark, d)) ==
      pairs(Similarity.qEmbeddingDedupTwoLevel(spark, d)))
  }

  test("two-level quantizer dedup stays a subset of exact with comparable recall") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.qEmbeddingDedup(spark, d))
    val twoLevel = pairs(Similarity.qEmbeddingDedupTwoLevel(spark, d))
    assert(twoLevel.subsetOf(exact), s"false positives: ${twoLevel -- exact}")
    val recall = if (exact.isEmpty) 1.0 else twoLevel.size.toDouble / exact.size
    info(s"two-level recall = $recall (${twoLevel.size}/${exact.size})")
    assert(recall >= 0.75, s"two-level recall = $recall over ${exact.size} true pairs")
  }

  test("public vector API: cosine/l2 combinators agree with the fused dot/norm form") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0, 2.0), Seq(2.0, 1.0, 2.0))).toDF("a", "b")
    val Array(cos, la, d) = df.select(
      Similarity.cosine(col("a"), col("b")),
      Similarity.l2(col("a")),
      Similarity.dot(col("a"), col("b"))).head.toSeq.map(_.asInstanceOf[Double]).toArray
    assert(la == 3.0 && d == 8.0)
    assert(cos == 8.0 / 9.0) // dot / (|a||b|), exact in doubles here
  }

  test("minhash LSH candidates recover the exact ngram-Jaccard pair set at this scale") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(graft.SparkEntry.queries("ngram_jaccard")(spark, d))
    val approx = pairs(graft.SparkEntry.queries("minhash_lsh")(spark, d))
    // MinHash is an estimator: demand full recall of true pairs and no
    // more than a small false-positive margin at threshold 0.5.
    assert((exact -- approx).isEmpty, s"missed pairs: ${(exact -- approx).take(5)}")
    assert(approx.size <= exact.size + math.max(2, exact.size / 5),
      s"too many false positives: ${approx.size} vs ${exact.size}")
  }

  test("md5 winnowing twin keeps the shared-run invariant; md5 SimHash twin is content-determined") {
    import spark.implicits._
    val run = (1 to 40).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma $run delta epsilon"),
      (2L, s"zeta eta theta iota $run kappa"),
      (3L, (1 to 60).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val fp = TextOps.winnowFingerprintsMd5(docs).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSet).toMap
    assert((fp(1L) & fp(2L)).nonEmpty, "40-word shared run must yield shared md5 fingerprints")
    assert((fp(1L) & fp(3L)).isEmpty && (fp(2L) & fp(3L)).isEmpty)
    // SimHash twin: 16 lowercase hex chars; same content => same signature,
    // one flipped word => small hamming distance, disjoint => larger
    val sdocs = Seq(
      (10L, s"alpha beta gamma $run delta epsilon"),
      (11L, s"alpha beta gamma $run delta epsilon"), // exact duplicate
      (12L, s"alpha beta gamma $run delta zeta"),    // one word differs
      (13L, (1 to 60).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val sigs = Dedup.simHashMd5(sdocs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sigs.values.forall(_.matches("[0-9a-f]{16}")), s"bad signature shape: $sigs")
    assert(sigs(10L) == sigs(11L), "equal content must hash identically")
    def hamming(a: String, b: String): Int = a.zip(b).map { case (x, y) =>
      Integer.bitCount(Integer.parseInt(x.toString, 16) ^ Integer.parseInt(y.toString, 16))
    }.sum
    assert(hamming(sigs(10L), sigs(12L)) < hamming(sigs(10L), sigs(13L)),
      "near-dup must be closer than disjoint content")
  }

  test("prefix_jaccard equals ngram_jaccard row-for-row on the corpus") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = rows(graft.SparkEntry.queries("ngram_jaccard")(spark, d))
    val pref = rows(graft.SparkEntry.queries("prefix_jaccard")(spark, d))
    assert(exact.nonEmpty, "fixture must produce pairs or the equality is vacuous")
    assert(pref == exact,
      s"missed=${(exact -- pref).take(3)} extra=${(pref -- exact).take(3)}")
  }

  test("prefix_jaccard: DF-capped hot shingles leave the output identical to the inverted-index join") {
    import spark.implicits._
    // every doc ends with the same 3 words, so 'common run here' has
    // df = 123 > ShingleDfCap and is excluded from intersection counting
    // on both paths; a near-dup pair and an exact-dup pair hide among
    // 120 otherwise-unique docs
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val near = base.split(" ").init.mkString(" ") + " flip" // one word changed
    val hot = "common run here"
    val docs = ((1 to 120).map(i => (i.toLong, s"u${i}a u${i}b u${i}c u${i}d $hot")) ++
      Seq((201L, s"$base $hot"), (202L, s"$near $hot"), (203L, s"$base $hot")))
      .toDF("doc_id", "text")
    val ex = Dedup.shingleTable(docs).persist()
    try {
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val inv = rows(Dedup.ngramJaccardFrom(ex))
      val pref = rows(Dedup.prefixJaccardFrom(ex))
      assert(inv.exists(p => p._1 == 201L && p._2 == 203L), "exact-dup pair must survive the cap")
      assert(inv.exists(p => p._1 == 201L && p._2 == 202L), "near-dup pair must qualify")
      assert(pref == inv, s"missed=${(inv -- pref).take(3)} extra=${(pref -- inv).take(3)}")
    } finally ex.unpersist()
  }

  test("md5-permutation MinHash (oracle twin) recovers the same true pairs as xxhash") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(graft.SparkEntry.queries("ngram_jaccard")(spark, d))
    val md5v = pairs(graft.SparkEntry.queries("minhash_lsh_md5")(spark, d))
    // same estimator family, different permutation hash: the portability
    // trade (hex-string min) must not change the quality bar
    assert((exact -- md5v).isEmpty, s"missed pairs: ${(exact -- md5v).take(5)}")
    assert(md5v.size <= exact.size + math.max(2, exact.size / 5),
      s"too many false positives: ${md5v.size} vs ${exact.size}")
  }

  test("bloom-pruned incremental dedup: identical answer, might_contain in the plan") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val plain = rows(Dedup.qDedupIncremental(spark, d))
    val bloomDf = Dedup.qDedupIncrementalBloom(spark, d)
    assert(rows(bloomDf) == plain, "bloom must change the plan, never the answer")
    val plan = bloomDf.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"no bloom probe in plan:\n${plan.take(2000)}")
  }

  test("bloom no-false-negatives: batch fingerprints PRESENT in the corpus are dropped") {
    // The driver tables contain no cross-parity duplicate fingerprints, so
    // the equality test above cannot catch an insert/probe hash-family
    // mismatch (filter built over raw strings vs probed via xxhash64 sets
    // DISJOINT bits and members probe as absent). Craft real duplicates:
    // every corpus member must be recognized and excluded from the output.
    import spark.implicits._
    val corpus = (0L until 40L).map(i => (i, s"corpus document number $i words words"))
    val dupes = corpus.take(15).map { case (i, t) => (1000L + i, t) } // true dups
    val fresh = (0L until 10L).map(i => (2000L + i, s"genuinely new text $i"))
    val out = Dedup.dedupIncrementalBloom(
        (dupes ++ fresh).toDF("doc_id", "text"), corpus.toDF("doc_id", "text"))
      .collect().map(_.getLong(1)).toSet // keep_ids
    assert(out == fresh.map(_._1).toSet,
      s"corpus duplicates leaked through the bloom (no-false-negatives broken): $out")
  }

  test("incremental MinHash equals the cross-parity slice of the full-corpus md5 LSH") {
    // the production contract: checking a new batch against the corpus
    // signature table finds exactly the new↔old near-dup edges the
    // full-corpus pass would, for every pair whose bands collide the same
    // way. Cross-parity pairs of the full run ARE that slice (odd = new).
    val full = graft.SparkEntry.queries("minhash_lsh_md5")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => (a % 2) != (b % 2) }
      .map { case (a, b, j) => if (a % 2 == 1) (a, b, j) else (b, a, j) }.toSet
    val inc = graft.SparkEntry.queries("minhash_incremental")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(inc == full,
      s"inc-only: ${(inc -- full).take(3)}; full-only: ${(full -- inc).take(3)}")
    assert(inc.nonEmpty, "corpus should contain cross-parity near-dups")
  }

  test("plan shape: the MinHash path is HOF-free (no interpreted lambdas) and uses the codegen'd agree-count") {
    // HOF lambdas evaluate interpreted (~35 µs/element); the signature and
    // estimate stages must stay inside whole-stage codegen. `lambdavariable`
    // in a plan marks an interpreted higher-order function.
    val plan = graft.SparkEntry.queries("minhash_lsh")(spark, d).queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("lambdavariable"),
      s"interpreted HOF on the MinHash path:\n$plan")
    assert(plan.contains("graft_agree_count"), s"estimate not on the codegen'd kernel:\n$plan")
    val simPlan = Dedup.qSimHashPairs(spark, d).queryExecution.executedPlan.toString
    assert(!simPlan.toLowerCase.contains("lambdavariable"),
      s"interpreted HOF on the SimHash path:\n$simPlan")
  }

  test("graft_agree_count: codegen'd positionwise equality over long arrays") {
    import spark.implicits._
    val df = Seq(
      (Seq(1L, 2L, 3L, 4L), Seq(1L, 9L, 3L, 7L)), // 2 agreements
      (Seq(5L, 5L), Seq(5L, 5L)),                 // all agree
      (Seq(1L, 2L, 3L), Seq(9L, 8L, 7L)))         // none
      .toDF("a", "b")
    val got = df.select(graft.functions.VectorFunctions.agreeCount(col("a"), col("b")))
      .collect().map(_.getInt(0)).toSeq
    assert(got == Seq(2, 2, 0))
  }

  test("clusterPairs: chains collapse to one component with the min id as canonical") {
    import spark.implicits._
    // two chains (1-2-3-4 via transitive pairs, 10-11) and no cross edges
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = Dedup.clusterPairs(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      (1L, 1L, 4L), (2L, 1L, 4L), (3L, 1L, 4L), (4L, 1L, 4L),
      (10L, 10L, 2L), (11L, 10L, 2L)))
  }

  test("temperature_mix: alpha-flattening semantics — heavier cells downsampled harder, budget respected") {
    val rows = graft.operators.Pipeline.qTemperatureMix(spark, d).collect()
    assert(rows.nonEmpty)
    val cells = rows.map(r => (r.getAs[Long]("cell_tokens"), r.getAs[Double]("keep_prob")))
      .distinct.sortBy(_._1)
    assert(cells.size > 1, "fixture must have more than one (lang, source) cell")
    cells.foreach { case (_, kp) => assert(kp > 0.0 && kp <= 1.0) }
    // temperature flattening: keep_prob is non-increasing in cell token mass
    cells.toSeq.sliding(2).foreach {
      case Seq((t1, k1), (t2, k2)) =>
        assert(t1 <= t2 && k1 >= k2 - 1e-9,
          s"flattening violated: tokens $t1->$t2 but keep_prob $k1->$k2")
      case _ => ()
    }
    // expected kept token mass ~= the 2T/5 budget (exact when no cell
    // caps at 1; the cap only reduces, never exceeds)
    val total = cells.map(_._1).sum.toDouble
    val expectedKept = cells.map { case (t, k) => t * k }.sum
    assert(expectedKept <= total * 0.4 + 1.0, s"budget exceeded: $expectedKept vs ${total * 0.4}")
    assert(expectedKept >= total * 0.3, s"budget far undershot: $expectedKept vs ${total * 0.4}")
  }

  test("cms_counts: every verdict flag is 1 — a hash match must never mask a failed CMS property") {
    val got = graft.SparkEntry.queries("cms_counts")(spark, d).collect()
    assert(got.length == graft.operators.TextOps.CmsQueryTerms.length)
    got.foreach { r =>
      assert(r.getAs[Int]("merge_match") == 1, s"CMS merge != direct: $r")
      assert(r.getAs[Int]("over_ok") == 1, s"CMS underestimated: $r")
      assert(r.getAs[Int]("bound_ok") == 1, s"CMS bound failed: $r")
    }
    // the unseen-term path is actually exercised: at least one query term
    // is absent from the corpus vocabulary
    assert(got.exists(_.getAs[Long]("exact_n") == 0L),
      "no query term exercises the unseen-term path")
  }

  test("cms_lookup: serving path flags are 1, unseen probes hit, and " +
    "frozen-sketch estimates == accumulate-side estimates where probes overlap") {
    val got = graft.SparkEntry.queries("cms_lookup")(spark, d).collect()
    assert(got.length == graft.operators.TextOps.CmsProbeTerms.length)
    got.foreach { r =>
      assert(r.getAs[Int]("over_ok") == 1, s"CMS serve underestimated: $r")
      assert(r.getAs[Int]("bound_ok") == 1, s"CMS serve bound failed: $r")
    }
    assert(got.exists(_.getAs[Long]("exact_n") == 0L),
      "no probe term exercises the unseen-term path")
    // cross-entry agreement: terms probed by BOTH cms_counts and
    // cms_lookup must get the same merged estimate (the frozen serving
    // table is the same sketch the algebra audit accumulates)
    val acc = graft.SparkEntry.queries("cms_counts")(spark, d).collect()
      .map(r => r.getAs[String]("term") -> r.getAs[Long]("est_merged")).toMap
    val shared = got.filter(r => acc.contains(r.getAs[String]("term")))
    assert(shared.nonEmpty, "probe sets should overlap on at least one term")
    shared.foreach { r =>
      assert(r.getAs[Long]("est") == acc(r.getAs[String]("term")),
        s"serve estimate != accumulate estimate for ${r.getAs[String]("term")}")
    }
  }

  test("substring_dedup: a mid-paragraph 60-token verbatim run is excised " +
    "from the LATER doc only; runs shorter than k survive") {
    import spark.implicits._
    val k = graft.operators.Dedup.SubstringK
    val run60 = (0 until 60).map(i => s"copy$i").mkString(" ") // ≥ k tokens
    val short = (0 until (k - 1)).map(i => s"tiny$i").mkString(" ") // k−1: under threshold
    val docs = Seq(
      (1L, s"alpha opening words $run60 alpha closing words $short"),
      (2L, s"beta unrelated prologue here $run60 beta epilogue text $short"),
      (3L, "gamma totally distinct content with no shared runs at all")
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup.substringDedup(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 1 (first occurrence) keeps everything
    assert(got(1L).getAs[Long]("n_removed") == 0L, s"keep-first violated: ${got(1L)}")
    // doc 2 loses EXACTLY the 60-token run — interior excision, the
    // doc-specific prefix/epilogue and the sub-threshold short run survive
    assert(got(2L).getAs[Long]("n_removed") == 60L, s"wrong excision: ${got(2L)}")
    val clean2 = got(2L).getAs[String]("clean_text")
    assert(clean2 == s"beta unrelated prologue here beta epilogue text $short",
      s"reassembly mismatch: $clean2")
    // doc 3 untouched
    assert(got(3L).getAs[Long]("n_removed") == 0L)
  }

  test("substring_dedup_incremental: prior corpus always wins, keep-first " +
    "within the batch, prior docs never emitted") {
    import spark.implicits._
    val run60 = (0 until 60).map(i => s"copy$i").mkString(" ")
    val batchRun = (0 until 30).map(i => s"brun$i").mkString(" ") // batch-only dup
    val prior = Seq(
      (100L, s"published corpus text containing $run60 and more prose")
    ).toDF("doc_id", "text")
    val batch = Seq(
      // doc 5 < prior's 100, but PRIOR STILL WINS (published is immutable)
      (5L, s"fresh ingest alpha $run60 fresh ingest omega $batchRun"),
      (9L, s"another new doc beta $batchRun gamma ending here with words")
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup.substringDedupIncremental(prior, batch)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got.keySet == Set(5L, 9L), "only batch docs are emitted")
    // doc 5: the 60-token run is excised even though 5 < 100 (prior wins);
    // its batch-only run survives (doc 5 is the FIRST batch holder)
    assert(got(5L).getAs[Long]("n_removed") == 60L, s"prior-wins violated: ${got(5L)}")
    assert(got(5L).getAs[String]("clean_text")
      == s"fresh ingest alpha fresh ingest omega $batchRun")
    // doc 9: loses the batch-only 30-token run to doc 5 (keep-first in batch)
    assert(got(9L).getAs[Long]("n_removed") == 30L, s"batch keep-first violated: ${got(9L)}")
    assert(got(9L).getAs[String]("clean_text")
      == "another new doc beta gamma ending here with words")
  }

  test("substring_dedup_incremental == substring_dedup restricted to the " +
    "batch when every prior doc_id is smaller (the two rules coincide)") {
    import spark.implicits._
    val run = (0 until 20).map(i => s"xr$i").mkString(" ")
    val docs = Seq(
      (1L, s"one had $run inside the early text body here"),
      (2L, "two distinct body with nothing shared at all"),
      (10L, s"ten carries $run later so it must lose that run"),
      (11L, "eleven unique content stays whole entirely")
    ).toDF("doc_id", "text")
    val full = graft.operators.Dedup.substringDedup(docs)
      .filter(col("doc_id") >= 10L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val incr = graft.operators.Dedup.substringDedupIncremental(
      docs.filter(col("doc_id") < 10L), docs.filter(col("doc_id") >= 10L))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(incr == full, s"incremental != full-restricted\nincr: $incr\nfull: $full")
  }

  test("decontaminate_substring: benchmark passages excised regardless of " +
    "id order, training-internal dups untouched, planted fixtures fire") {
    import spark.implicits._
    val benchRun = (0 until 20).map(i => s"bq$i").mkString(" ")
    val trainRun = (0 until 20).map(i => s"tr$i").mkString(" ")
    val bench = Seq((500L, s"benchmark question text $benchRun end of item"))
      .toDF("doc_id", "text")
    val train = Seq(
      // id SMALLER than the benchmark's — must still be excised
      (1L, s"train alpha $benchRun train omega $trainRun"),
      // shares a run only with ANOTHER TRAINING doc — decontamination
      // must NOT touch it (that's substring_dedup's job)
      (2L, s"train beta $trainRun train gamma closing words here")
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup.substringExciseAgainstIndex(
      graft.operators.Dedup
        .substringGrams(bench).select(col("g")).distinct(),
      train).collect().map(r => r.getLong(0) -> r).toMap
    assert(got.keySet == Set(1L, 2L), "only training docs emitted")
    assert(got(1L).getAs[Long]("n_removed") == 20L, s"benchmark run kept: ${got(1L)}")
    assert(got(1L).getAs[String]("clean_text") == s"train alpha train omega $trainRun")
    assert(got(2L).getAs[Long]("n_removed") == 0L,
      s"training-internal dup wrongly excised: ${got(2L)}")
    // the registered entry's planted fixtures actually fire on real data
    val entry = graft.operators.Dedup.qDecontaminateSubstring(spark, d)
      .filter(col("doc_id") % 9 === 4).select("n_removed").collect()
    assert(entry.nonEmpty && entry.forall(_.getLong(0) >= 40L),
      "planted benchmark passage not excised from every doc_id % 9 == 4 training doc")
  }

  test("dedup_clusters_incremental: maintained labels == full recompute, and the merge path runs") {
    import spark.implicits._
    // Synthetic graph exercising all three maintenance paths at once:
    //  - untouched prior component {1,2} (no delta edge touches it)
    //  - prior components {10,11} and {20,21} MERGED through batch doc 30
    //  - fresh batch-only component {40,41}
    val prior = Seq((1L, 2L), (10L, 11L), (20L, 21L)).toDF("doc_a", "doc_b")
    val delta = Seq((10L, 30L), (30L, 21L), (40L, 41L)).toDF("doc_a", "doc_b")
    val got = Dedup.dedupClustersIncrementalFrom(prior, delta).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val full = Dedup.clusterPairs(prior.union(delta)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == full, s"incremental != full recompute:\n got=$got\nfull=$full")
    // the merged component must carry the global min label across BOTH
    // prior components and the bridging batch doc
    assert(got.contains((30L, 10L, 5L)) && got.contains((21L, 10L, 5L)))
    assert(got.contains((1L, 1L, 2L))) // untouched survives verbatim

    // Fixture pin: on the real corpus the mod-5 batch split must actually
    // produce affected prior clusters — guards against fixture drift
    // silently turning the registered entry into a no-merge path (the
    // parity split had exactly that defect, measured affected == 0).
    val pairs = graft.SparkEntry.queries("ngram_jaccard")(spark, d).select(col("doc_a"), col("doc_b"))
    val priorLab = Dedup.clusterPairs(
      pairs.filter(col("doc_a") % 5 =!= 2 && col("doc_b") % 5 =!= 2))
    val deltaP = pairs.filter(col("doc_a") % 5 === 2 || col("doc_b") % 5 === 2)
    val deltaV = deltaP.select(col("doc_a").as("doc_id"))
      .union(deltaP.select(col("doc_b").as("doc_id"))).distinct()
    val nAffected = priorLab.join(deltaV, "doc_id")
      .select(col("cluster_id")).distinct().count()
    assert(nAffected > 0, "mod-5 split no longer touches any prior cluster — merge path dead")
  }

  test("training_mix: sampling is content-keyed and the kept set is closed under the declared rules") {
    val mix = graft.operators.Pipeline.qTrainingMix(spark, d).collect()
    assert(mix.nonEmpty)
    mix.foreach { r =>
      val (lang, bucket) = (r.getString(1), r.getString(4))
      val cap = lang match { case "en" => "80"; case "ru" => "c0"; case _ => "zz" }
      assert(bucket < cap, s"row outside its language's sample bucket: $r")
      assert(r.getDouble(2) >= 0.05) // quality floor
    }
    // deterministic: a second run yields the identical set
    val again = graft.operators.Pipeline.qTrainingMix(spark, d).collect()
    assert(mix.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
  }

  test("corpus_curate: the keep verdict is exactly the conjunction of its component gates") {
    val cur = Pipeline.qCorpusCurate(spark, d).collect()
    assert(cur.nonEmpty)
    val reps = Dedup.qDedupExact(spark, d).collect().map(_.getAs[Long]("keep_id")).toSet
    val rep = Curation.qRepetitionSignals(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("repetitive")).toMap
    val con = Curation.qContamination(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("contaminated")).toMap
    val qual = TextOps.qQualityScore(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality")).toMap
    val ppl = Curation.qBigramSurprisal(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("ppl_bucket")).toMap
    val mix = Pipeline.qDomainMix(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("kept")).toMap
    var kept = 0
    cur.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val expect = reps.contains(id) && !rep(id) && !con.getOrElse(id, true) &&
        qual(id) >= Pipeline.CurateQualityMin &&
        ppl.getOrElse(id, "tail") != "tail" && mix(id)
      assert(r.getAs[Boolean]("keep") == expect, s"doc $id")
      if (expect) kept += 1
    }
    assert(kept > 0 && kept < cur.length) // the pass filters, and keeps something
  }

  test("dedup_exact keeps one representative per distinct content and counts multiplicity") {
    val df = Dedup.qDedupExact(spark, d)
    val total = df.agg(sum("dup_count")).head.getLong(0)
    val docs = graft.Tables.documents(spark, d).count()
    assert(total == docs) // partition of the corpus
    assert(df.filter(col("keep_id").isNull).count() == 0)
  }

  test("simhash pairs are symmetric-free (a<b) and within the hamming bound") {
    val rows = Dedup.qSimHashPairs(spark, d).collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getInt(2) <= 6 || r.getLong(2) <= 6L)
    }
  }

  test("multimodal extractFeatures: REAL decode — PNG/WAV/container round-trip exactly") {
    val assets = Multimodal.mediaFromDocuments(spark, d)
    val feats = Multimodal.extractFeatures(assets).collect()
    assert(feats.length == assets.count())
    val byId = feats.map(f => f.asset_id -> f).toMap
    val origById = assets.collect().map(a => a.asset_id -> a).toMap
    // the distributed decode must agree value-for-value with a local decode
    // of the same payload — same ImageIO/AudioSystem codecs, same checksum
    origById.take(30).foreach { case (id, a) =>
      val local = Multimodal.decode(a)
      assert(byId(id) == local, s"asset $id: cluster ${byId(id)} vs local $local")
    }
    // decoded spatial dims must equal the synthesized metadata (images and
    // video frames genuinely decode; audio has none)
    feats.foreach { f =>
      val o = origById(f.asset_id)
      f.media_type match {
        case "image" => assert(f.width == o.width && f.height == o.height && f.n_frames_sampled == 1)
        case "video" => assert(f.width == o.width && f.height == o.height && f.n_frames_sampled == o.n_frames)
        case "audio" => assert(f.width == 0 && f.height == 0 && f.n_frames_sampled == o.n_frames)
      }
      assert(f.n_bytes == o.content.length.toLong)
    }
    // a corrupted payload fails the decode loudly instead of fake-succeeding
    val img = origById.values.find(_.media_type == "image").get
    intercept[Exception](Multimodal.decode(img.copy(content = img.content.take(8))))
  }

  test("winnowing: docs sharing a long run share fingerprints; disjoint docs share none") {
    import spark.implicits._
    val run = (1 to 40).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma $run delta epsilon"),
      (2L, s"zeta eta theta iota $run kappa"),
      (3L, (1 to 60).map(i => s"other$i").mkString(" "))) // no overlap
      .toDF("doc_id", "text")
    val fp = TextOps.winnowFingerprints(docs).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert((fp(1L) & fp(2L)).nonEmpty, "40-word shared run must yield shared fingerprints")
    assert((fp(1L) & fp(3L)).isEmpty && (fp(2L) & fp(3L)).isEmpty)
    // selection is sparse: far fewer fingerprints than k-grams
    assert(fp(3L).size < 60 - TextOps.WinnowK + 1)
  }

  test("multimodal resize: real decode-scale-reencode, dims clamp to the box, payload re-decodes") {
    val assets = Multimodal.mediaFromDocuments(spark, d)
    val resized = Multimodal.resize(assets, 320, 240).collect()
    val orig = assets.collect().map(a => a.asset_id -> a).toMap
    assert(resized.nonEmpty)
    var downscaled = 0
    resized.foreach { r =>
      val o = orig(r.asset_id)
      r.media_type match {
        case "audio" => // no spatial dims: payload untouched
          assert(r.content.sameElements(o.content))
        case _ =>
          assert(r.width <= 320 && r.height <= 240)
          // metadata cannot drift from the payload: re-decoding the resized
          // bytes must yield exactly the claimed dims
          val img = Multimodal.decodePng(
            if (r.media_type == "image") r.content
            else Multimodal.videoFrames(r.content).head)
          assert(img.getWidth == r.width && img.getHeight == r.height)
          if (o.width <= 320 && o.height <= 240) // already inside: untouched
            assert(r.width == o.width && r.height == o.height &&
              r.content.sameElements(o.content))
          else {
            downscaled += 1
            // aspect preserved within integer truncation
            val s = math.min(320.0 / o.width, 240.0 / o.height)
            assert(r.width == math.max(1, (o.width * s).toInt))
            assert(r.height == math.max(1, (o.height * s).toInt))
          }
      }
    }
    assert(downscaled > 0, "no asset exercised the downscale path")
  }

  test("multimodal frame sampling: ≤k REAL decoded frames per asset, stride reproducible") {
    val assets = Multimodal.mediaFromDocuments(spark, d)
    val frames = Multimodal.sampleFrames(assets, 4).collect()
    val byAsset = frames.groupBy(_.asset_id)
    val orig = assets.collect().map(a => a.asset_id -> a).toMap
    assert(byAsset.keySet == orig.keySet)
    byAsset.foreach { case (id, fs) =>
      val o = orig(id)
      val expected = o.media_type match {
        case "image" => 1
        case _       => math.min(4, math.max(1, o.n_frames))
      }
      assert(fs.length == expected, s"asset $id: ${fs.length} frames, expected $expected")
      // frame_idx addresses the container/window, so sampling is replayable;
      // checksums must agree with a local decode of the same payload
      val local = Multimodal.frameRows(o, 4)
      assert(fs.sortBy(_.frame_idx).toSeq == local.sortBy(_.frame_idx),
        s"asset $id: distributed vs local frame decode disagree")
    }
    // video checksums are per decoded raster: distinct frames hash distinct
    val vid = orig.values.find(a => a.media_type == "video" && a.n_frames >= 2).get
    val vf = Multimodal.frameRows(vid, 4)
    assert(vf.map(_.frame_checksum).distinct.size == vf.size)
  }

  test("plan shape: filter and projection push down to the parquet scan (q02)") {
    val plan = Relational.q02FilterProject(spark, d).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"),
      s"no pushed filter in plan:\n$plan")
    // pruned read schema: only the 4 referenced columns reach the scan
    assert(plan.contains("l_extendedprice") && !plan.contains("l_comment"))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_tax"), s"unpruned scan: $readSchema")
  }

  test("plan shape: dimension join broadcasts, no shuffle on the fact side (q03)") {
    val plan = Relational.q03JoinBroadcast(spark, d).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("plan shape: range band join broadcasts the interval table, fact side unshuffled (q40)") {
    val plan = Relational.qRangeBandJoin(spark, d).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), s"expected broadcast interval join:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"fact side must stream against the broadcast bands:\n$plan")
  }

  test("HLL sketches re-aggregate exactly: per-day merge == direct build, within 5% of truth") {
    val ev = graft.Tables.events(spark, d)
    val merged = Relational.qHllPartitionedDistinct(spark, d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = ev.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("e")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("c")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged == direct, s"union-of-parts must equal one-pass sketch: $merged vs $direct")
    exact.foreach { case (t, c) =>
      assert(math.abs(merged(t) - c).toDouble / c <= 0.05, s"$t: est=${merged(t)} exact=$c")
    }
  }

  test("heavy hitters: per-source sketch merge agrees with exact corpus counts") {
    // maxItemsTracked exceeds this corpus's vocabulary, so the merged
    // frequent-items sketch must be EXACT: every (term, count) it reports
    // equals the true count, and every term counted strictly above the
    // reported minimum must be reported (terms tied AT the boundary may
    // legitimately swap).
    val got = TextOps.qHeavyHitters(spark, d).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(got.size == 10)
    val exact = graft.Tables.documents(spark, d)
      .select(explode(TextOps.normWords(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    got.foreach { case (t, n) =>
      assert(exact.get(t).contains(n), s"$t: sketch=$n exact=${exact.get(t)}")
    }
    val cut = got.values.min
    val mustHave = exact.filter(_._2 > cut).keySet
    assert(mustHave.subsetOf(got.keySet),
      s"missing above-cut terms: ${mustHave -- got.keySet}")
  }

  test("plan shape: bucketized range join is an equi join — no NLJ, no cartesian (q42)") {
    val plan = Relational.qRangeJoinBucketed(spark, d).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"interval bucketization must yield an equi join:\n$plan")
  }

  test("plan shape: interval join is an equi join with a residual time band (q47)") {
    val plan = Relational.q47IntervalJoin(spark, d).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"time-band correlation must hash-join on user_id, not nested-loop:\n$plan")
  }

  test("plan shape: LATERAL subquery decorrelates to one join + window, no cartesian (q50)") {
    val plan = Relational.q50Lateral(spark, d).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"LATERAL must not plan a per-row probe:\n$plan")
    assert(plan.contains("Window"),
      s"expected the ORDER BY+LIMIT subquery to decorrelate into a window rank:\n$plan")
  }

  test("bounded-heap top-k Aggregator agrees row-for-row with the window-rank form (q51 == q12)") {
    val viaAgg = Relational.q51TopKAgg(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val viaWindow = Relational.q12WindowRank(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(viaAgg == viaWindow,
      s"agg-only: ${(viaAgg -- viaWindow).take(3)}; window-only: ${(viaWindow -- viaAgg).take(3)}")
  }

  test("q44 ordering key: lexicographic order equals numeric (value, tiebreak) order") {
    // the portable max_by/min_by key must sort exactly like ORDER BY
    // (value, key) — exercised over a coarse value grid so ties are common
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val rows = Seq.fill(500)((rnd.nextInt(800) / 4.0, (rnd.nextLong().abs % 1000000) + 0L))
    val collected = rows.toDF("v", "k")
      .select(col("v"), col("k"), Relational.ordKey(col("v"), col("k")).as("key"))
      .collect().map(r => ((r.getDouble(0), r.getLong(1)), r.getString(2)))
    assert(collected.sortBy(_._1).map(_._1).toSeq ==
      collected.sortBy(_._2).map(_._1).toSeq)
  }

  test("q44 ordering key fails loudly on a negative value instead of mis-ordering") {
    // the non-negative domain is a precondition (a '-' under zero-padding
    // breaks lexicographic==numeric); misuse must raise, not corrupt order
    import spark.implicits._
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    val ex = intercept[Exception] {
      Seq((-1.5, 7L)).toDF("v", "k")
        .select(Relational.ordKey(col("v"), col("k"))).collect()
    }
    assert(chain(ex).contains("ordKey"), s"unexpected error: ${chain(ex)}")
    val ex2 = intercept[Exception] {
      Seq((1.5, -7L)).toDF("v", "k")
        .select(Relational.ordKey(col("v"), col("k"))).collect()
    }
    assert(chain(ex2).contains("ordKey"), s"unexpected error: ${chain(ex2)}")
  }

  test("plan shape: arg-max aggregates in one pass — no window sort (q44)") {
    val plan = Relational.q44MinMaxBy(spark, d).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"max_by must not plan a window:\n$plan")
    assert(plan.contains("Aggregate"), s"expected partial+final aggregate:\n$plan")
  }

  test("plan shape: runtime bloom filter prunes the fact side of a selective shuffle join") {
    // The 100 TB technique behind "don't scan what the join will drop":
    // when the dimension side of a shuffle join is selectively filtered,
    // Catalyst injects a bloom filter built from the dimension keys into
    // the FACT side's scan, pruning rows before the shuffle. The injection
    // thresholds target real cluster sizes, so the test lowers them to
    // engage the rule on sf0.001 — the PLAN SHAPE, not the threshold
    // values, is what must hold at scale.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      val li = graft.Tables.lineitem(spark, d)
      val bigOrders = graft.Tables.orders(spark, d)
        .filter(col("o_totalprice") > 450000.0)
      val joined = li.join(bigOrders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("bloom_filter_agg") || plan.contains("might_contain"),
        s"expected an injected runtime bloom filter on the fact side:\n$plan")
      joined.collect() // and the filtered plan must still execute correctly
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("plan shape: top-k uses TakeOrderedAndProject, not a global sort (q14)") {
    val plan = Relational.q14TopK(spark, d).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$plan")
  }

  test("SQL-surface queries are concurrency-safe on one session (UUID temp views)") {
    // VERDICT r03 §wrong-3: fixed view names meant two concurrent q29/q32
    // invocations clobbered each other's temp view. Interleave the view
    // registrations (build both lazily, THEN collect both) and run a pair
    // in parallel threads; both must still match a serial run.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val serial29 = Relational.q29GroupingSets(spark, d).collect().toSet
    val serial32 = Relational.q32ScalarSubquery(spark, d).collect().toSet
    // interleaved registration: a's view is registered, then b's — with
    // fixed names b's registration would shadow a's before a collects
    val a = Relational.q29GroupingSets(spark, d)
    val b = Relational.q29GroupingSets(spark, d)
    assert(a.collect().toSet == serial29 && b.collect().toSet == serial29)
    val futures = Seq(
      Future(Relational.q29GroupingSets(spark, d).collect().toSet),
      Future(Relational.q32ScalarSubquery(spark, d).collect().toSet),
      Future(Relational.q29GroupingSets(spark, d).collect().toSet),
      Future(Relational.q32ScalarSubquery(spark, d).collect().toSet))
    val results = Await.result(Future.sequence(futures), 120.seconds)
    assert(results(0) == serial29 && results(2) == serial29)
    assert(results(1) == serial32 && results(3) == serial32)
  }

  test("embedding centroids are exactly partition-invariant and match a local mean") {
    val e = graft.Tables.embeddings(spark, d)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Double](2))).toMap
    val base = asMap(Similarity.embeddingCentroids(e))
    // the decimal-sum design's whole point: ANY partitioning gives
    // bit-identical doubles (a float/double sum would not)
    val repart = asMap(Similarity.embeddingCentroids(e.repartition(13)))
    assert(base == repart, "centroids changed under repartition")
    // spot-check one label against a locally-computed decimal mean
    val label0 = e.filter(col("label") === 0).select(col("embedding")).collect()
      .map(_.getSeq[Float](0))
    val local = (0 until 64).map { j =>
      val s = label0.map(v => BigDecimal(v(j).toDouble).setScale(9, BigDecimal.RoundingMode.HALF_UP)).sum
      s.toDouble / label0.length
    }
    assert(base(0L)._1 == label0.length)
    assert(base(0L)._2 == local, "centroid for label 0 differs from local decimal mean")
  }

  test("funnel counts only users whose steps occur strictly in order") {
    val s = spark; import s.implicits._
    def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    val events = Seq(
      // user 1: full ordered funnel
      (1L, "view", ts(1)), (1L, "click", ts(2)), (1L, "purchase", ts(3)),
      // user 2: click BEFORE first view — must stall at step 0
      (2L, "click", ts(1)), (2L, "view", ts(2)), (2L, "purchase", ts(3)),
      // user 3: view only
      (3L, "view", ts(1)),
      // user 4: simultaneous view+click — a tie does not advance
      (4L, "view", ts(5)), (4L, "click", ts(5)),
      // user 5: never views; click+purchase don't enter the funnel
      (5L, "click", ts(1)), (5L, "purchase", ts(2)))
      .toDF("user_id", "event_type", "ts")
    val got = Relational.funnel(events, Seq("view", "click", "purchase"))
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(got == Map("view" -> 4L, "click" -> 1L, "purchase" -> 1L), got.toString)
    // the single-scan stage-machine form agrees on the same crafted set
    val single = Relational.funnelSingleScan(events, Seq("view", "click", "purchase"))
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(single == got, s"single-scan $single vs relational $got")
  }

  test("single-scan funnel equals the K-stage relational funnel and scans events once") {
    val steps = Seq("view", "click", "purchase")
    val single = Relational.funnelSingleScan(graft.Tables.events(spark, d), steps)
    val relational = Relational.funnel(graft.Tables.events(spark, d), steps)
    val a = single.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val b = relational.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(a == b, s"single-scan $a vs relational $b")
    // the 100 TB property (VERDICT r6 task 5): one events scan, one
    // user_id exchange; everything downstream is dimension-sized
    // an executed AQE plan prints Final AND Initial sections — count
    // scans in the final plan only
    val plan = single.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 events scan, got $scans:\n$plan")
    assert("hashpartitioning\\(value".r.findAllIn(plan).nonEmpty
      || "hashpartitioning\\(user_id".r.findAllIn(plan).nonEmpty,
      s"expected a user-keyed exchange below the fold:\n$plan")
    // the K-stage form re-scans events for every stage (each stage's
    // lineage embeds its predecessors) — that is exactly what the
    // single-scan form eliminates
    val relScans = "Scan parquet".r.findAllIn(relational.queryExecution.executedPlan
      .toString.split("== Initial Plan ==")(0)).size
    assert(relScans > 1, s"relational form scans per stage: $relScans")
  }

  test("retention offsets are whole weeks from the cohort's Monday, distinct per user-week") {
    val out = Relational.q54Retention(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    // every cohort week is a Monday, offsets non-negative, week-0 exists
    // for every cohort (the cohort-defining event itself)
    val fmt = java.time.format.DateTimeFormatter.ISO_LOCAL_DATE
    out.foreach { case (cw, off, users) =>
      assert(java.time.LocalDate.parse(cw, fmt).getDayOfWeek
        == java.time.DayOfWeek.MONDAY, s"cohort $cw not a Monday")
      assert(off >= 0 && users > 0)
    }
    val byCohort = out.groupBy(_._1)
    byCohort.foreach { case (cw, rows) =>
      assert(rows.exists(_._2 == 0L), s"cohort $cw missing week-0 row")
      // retention can't exceed the cohort's own size
      val week0 = rows.find(_._2 == 0L).get._3
      rows.foreach { case (_, off, users) =>
        assert(users <= week0, s"cohort $cw offset $off: $users > week0 $week0")
      }
    }
  }

  test("html extraction round-trips the original text through escape/boilerplate/entities") {
    val docs = graft.Tables.documents(spark, d).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val out = TextOps.qHtmlExtract(spark, d).collect()
    assert(out.length == docs.size)
    out.foreach { r =>
      val (id, title, clean) = (r.getLong(0), r.getString(1), r.getString(2))
      assert(title == s"Doc $id")
      // after strip: title text + h1 text + body (entities decoded back);
      // nav/footer/script/style gone
      val collapsed = docs(id).replaceAll("\\s+", " ").trim
      assert(clean == s"Doc $id Doc $id $collapsed".trim, s"doc $id: $clean")
      assert(!clean.contains("<") || docs(id).contains("<"),
        s"tag residue in doc $id")
      assert(!clean.contains("Example Corp") && !clean.contains("Home | About"),
        s"boilerplate residue in doc $id")
    }
  }

  test("centroid partial sums from disjoint corpus slices merge EXACTLY into the full sums") {
    // the incremental-maintenance contract: a new ingest batch contributes
    // its (label, dim, n, sx) partials; decimal addition is associative-
    // exact, so merged == full with zero tolerance (a double sum would not)
    val e = graft.Tables.embeddings(spark, d)
    def sums(df: org.apache.spark.sql.DataFrame) =
      Similarity.embeddingCentroidSums(df).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDecimal(3))).toMap
    val full = sums(e)
    val a = sums(e.filter(col("vec_id") % 2 === 0))
    val b = sums(e.filter(col("vec_id") % 2 === 1))
    val merged = (a.keySet ++ b.keySet).map { k =>
      val (na, sa) = a.getOrElse(k, (0L, java.math.BigDecimal.ZERO))
      val (nb, sb) = b.getOrElse(k, (0L, java.math.BigDecimal.ZERO))
      k -> (na + nb, sa.add(sb))
    }.toMap
    assert(merged.keySet == full.keySet)
    full.foreach { case (k, (n, sx)) =>
      val (nm, sm) = merged(k)
      assert(nm == n && sm.compareTo(sx) == 0, s"merge drift at $k: $sm vs $sx")
    }
  }

  test("dsum/vsum decimal-path sums are partition-invariant") {
    // double summation is order-dependent; the decimal detour is what
    // makes money/measure totals hash-stable across engines AND across
    // partitionings — pin the latter explicitly
    val li = graft.Tables.lineitem(spark, d).select(col("l_extendedprice").as("x"))
    def agg(df: org.apache.spark.sql.DataFrame, f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      df.agg(f(col("x")).as("s")).collect()(0).getDouble(0)
    assert(agg(li.repartition(1), Relational.dsum) == agg(li.repartition(13), Relational.dsum))
    assert(agg(li.repartition(1), Relational.vsum) == agg(li.repartition(13), Relational.vsum))
  }

  test("minhash signatures and band keys: contracted shape, identical docs collide on every band") {
    val s = spark; import s.implicits._
    val ex = Seq(
      (1L, "alpha"), (1L, "beta"), (1L, "gamma"),
      (2L, "alpha"), (2L, "beta"), (2L, "gamma"),
      (3L, "delta"), (3L, "epsilon")).toDF("doc_id", "shingle")
    val sigs = Dedup.minhashSigs(ex)
    val byDoc = sigs.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(byDoc.keySet == Set(1L, 2L, 3L))
    assert(byDoc.values.forall(_.length == Dedup.MinHashPerms))
    assert(byDoc(1L) == byDoc(2L), "identical shingle sets must have identical signatures")
    assert(byDoc(1L) != byDoc(3L))
    val bands = Dedup.bandKeyTable(sigs).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(bands.size == 3 * Dedup.LshBands)
    (0 until Dedup.LshBands).foreach { b =>
      assert(bands((1L, b)) == bands((2L, b)), s"band $b keys diverge for identical docs")
    }
    assert((0 until Dedup.LshBands).exists(b => bands((1L, b)) != bands((3L, b))))
  }

  test("vecd casts to double arrays; embeddingCentroidsLong returns exact component means") {
    val s = spark; import s.implicits._
    val e = Seq((0L, Array(1.0f, 2.0f)), (0L, Array(3.0f, 4.0f)), (1L, Array(5.0f, 6.0f)))
      .toDF("label", "embedding")
    assert(e.select(Similarity.vecd(col("embedding")).as("v")).schema.head.dataType.simpleString
      == "array<double>")
    val cents = Similarity.embeddingCentroidsLong(e).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(cents == Map(
      (0L, 0L) -> (2L, 2.0), (0L, 1L) -> (2L, 3.0),
      (1L, 0L) -> (1L, 5.0), (1L, 1L) -> (1L, 6.0)))
  }

  test("BPE merges reproduce the hand-computed reference on the classic corpus") {
    // Sennrich's worked example shape: {low ×5, lower ×2, newest ×6,
    // widest ×3}. Hand-derived merge sequence (count desc, (left, right)
    // asc tiebreak), symbols start as chars + </w>:
    //   r1: (e,s)  9   [newest 6 + widest 3]
    //   r2: (es,t) 9
    //   r3: (est,</w>) 9
    //   r4: (l,o) 7    [low 5 + lower 2; ties (l,o)/(o,w) break on left]
    //   r5: (lo,w) 7
    //   r6: (e,w) 6    [newest; ties (e,w)/(n,e)/(w,est</w>) break on left]
    //   r7: (ew,est</w>) 6  [ties (ew,est</w>)/(n,ew) break on left]
    //   r8: (n,ewest</w>) 6
    val s = spark; import s.implicits._
    val docs = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val df = docs.zipWithIndex.map { case (w, i) => (i.toLong, w, "src") }
      .toDF("doc_id", "text", "source")
    val merges = TextOps.bpeMerges(df, 8).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    val expected = Seq(
      (1, "e", "s", "es", 9L), (2, "es", "t", "est", 9L),
      (3, "est", "</w>", "est</w>", 9L), (4, "l", "o", "lo", 7L),
      (5, "lo", "w", "low", 7L), (6, "e", "w", "ew", 6L),
      (7, "ew", "est</w>", "ewest</w>", 6L), (8, "n", "ewest</w>", "newest</w>", 6L))
    assert(merges.toSeq == expected, merges.mkString("\n"))
  }

  test("BPE invariants: greedy non-overlap merge, scoring-table agreement, rank monotonicity") {
    // greedy left-to-right non-overlap: "aaa" under (a,a) -> [aa, a]
    assert(TextOps.mergePair(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
    assert(TextOps.mergePair(Seq("a", "b", "a", "b"), "a", "b") == Seq("ab", "ab"))
    assert(TextOps.mergePair(Seq("x"), "a", "b") == Seq("x"))
    // the first merge is exactly the top row of the registered scoring
    // table (same count, same pair), tying bpe_merges to its driver-
    // matched twin; and merge frequencies never increase with rank
    // (each round's argmax is <= the previous corpus's max pair count)
    val merges = TextOps.bpeMerges(graft.Tables.documents(spark, d), 4).collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4)))
    val top = TextOps.qBpePairCounts(spark, d).limit(1).collect()(0)
    assert(top.getString(0) == s"${merges(0)._1} ${merges(0)._2}")
    assert(top.getLong(1) == merges(0)._3)
    val freqs = merges.map(_._3)
    assert(freqs.zip(freqs.tail).forall { case (a, b) => a >= b },
      s"merge frequencies increased: ${freqs.toSeq}")
  }

  test("BPE tokenize applies the learned segmentation: hand-derived counts, sandwich bound") {
    val s = spark; import s.implicits._
    // classic corpus again: after the 8 merges, low→[low,</w>],
    // lower→[low,e,r,</w>], newest→[newest</w>], widest→[w,i,d,est</w>]
    val docs = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w, "src") }
      .toDF("doc_id", "text", "source")
    // qBpeTokenize is registered against a directory; exercise the same
    // composition inline: train, then the salted segmentation join
    val trained = TextOps.bpeMerges(docs, 8) // warms nothing; counts only
    assert(trained.count() == 8)
    val byText = Map("low" -> 2L, "lower" -> 4L, "newest" -> 1L, "widest" -> 4L)
    val expectSaved = Map("low" -> 2L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val got = TextOps.bpeTokenize(docs, 8).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("n_words"),
        r.getAs[Long]("bpe_tokens"), r.getAs[Long]("chars_saved"))).toMap
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.keySet == texts.keySet)
    got.foreach { case (id, (nw, bt, sv)) =>
      assert(nw == 1L)
      assert(bt == byText(texts(id)), s"doc $id (${texts(id)}): $bt")
      assert(sv == expectSaved(texts(id)), s"doc $id (${texts(id)}): saved $sv")
    }
    // real data: every word tokenizes to between 1 and chars+1 pieces
    val real = TextOps.qBpeTokenize(spark, d).collect()
    assert(real.nonEmpty)
    real.foreach { r =>
      val (nw, bt) = (r.getAs[Long]("n_words"), r.getAs[Long]("bpe_tokens"))
      assert(bt >= nw, s"fewer pieces than words: $r")
      assert(r.getAs[Long]("chars_saved") >= 0L, s"negative savings: $r")
    }
  }

  test("BPE mergePair properties: removes every (a,b) adjacency, preserves content (500 seeded trials)") {
    val rnd = new scala.util.Random(20260813)
    for (trial <- 1 to 500) {
      // tiny alphabet forces dense pair repetition and overlap runs (aaa)
      val alpha = Vector("a", "b", "c")
      val syms = Vector.fill(rnd.nextInt(12))(alpha(rnd.nextInt(alpha.size)))
      val a = alpha(rnd.nextInt(alpha.size))
      val b = alpha(rnd.nextInt(alpha.size))
      val merged = TextOps.mergePair(syms, a, b)
      // greedy left-to-right merge leaves no occurrence of the pair
      merged.iterator.zip(merged.iterator.drop(1)).foreach { case (x, y) =>
        assert(!(x == a && y == b), s"trial $trial: pair ($a,$b) survives in $merged from $syms")
      }
      // the underlying character stream is untouched
      assert(merged.mkString == syms.mkString, s"trial $trial: content changed")
      // and each output symbol is either an original symbol or the merge
      merged.foreach(m => assert(m == a + b || syms.contains(m),
        s"trial $trial: alien symbol $m"))
    }
  }

  test("saltedCountJoin equals the plain count join on random data (seeded trials)") {
    // the structural-skew rewrite must be invisible to results: every row
    // meets exactly one copy of its count row regardless of salt factor
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(20260813)
    for (trial <- 1 to 5) {
      val n = 200 + rnd.nextInt(200)
      val rows = Seq.fill(n)((rnd.nextInt(1000).toLong, s"w${rnd.nextInt(12)}"))
        .toDF("doc_id", "w")
      val counts = rows.groupBy("w").agg(count(lit(1)).as("cw"))
      val plain = rows.join(counts, "w")
        .groupBy("doc_id").agg(sum("cw").as("s"), count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val salted = Curation.saltedCountJoin(rows, counts, Seq("w"), col("doc_id"))
        .groupBy("doc_id").agg(sum("cw").as("s"), count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(salted == plain, s"trial $trial: salted join diverges")
    }
  }

  test("TopKByValue.topK column factory matches sort-based top-k in a grouped agg") {
    val s = spark; import s.implicits._
    val df = Seq(("a", 5.0, 1L), ("a", 9.0, 2L), ("a", 7.0, 3L), ("b", 1.0, 4L))
      .toDF("g", "v", "k")
    val got = df.groupBy($"g")
      .agg(graft.functions.TopKByValue.topK(2)($"v", $"k").as("top"))
      .collect().map(r => r.getString(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getDouble(0), x.getLong(1)))).toMap
    assert(got("a") == Seq((9.0, 2L), (7.0, 3L)))
    assert(got("b") == Seq((1.0, 4L)))
  }

  test("bm25 kernel: independently collected tf/df/dl stats reproduce every reported score") {
    val tokens = graft.Tables.documents(spark, d)
      .select(col("doc_id"), explode(TextOps.normWords(col("text"))).as("w"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val tf = tokens.groupBy(identity).view.mapValues(_.length).toMap
    val dl = tokens.groupBy(_._1).view.mapValues(_.length).toMap
    val dfm = tokens.distinct.groupBy(_._2).view.mapValues(_.length).toMap
    val nDocs = dl.size
    val avgdl = tokens.length.toDouble / nDocs
    val out = graft.SparkEntry.queries("bm25_topterms")(spark, d).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (id, term, score, rank) =
        (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3))
      assert(rank >= 1 && rank <= 3 && score > 0, s"doc $id $term")
      val t = tf((id, term)).toDouble
      val idf = math.log(1.0 + (nDocs - dfm(term) + 0.5) / (dfm(term) + 0.5))
      val sat = t * (TextOps.Bm25K1 + 1) /
        (t + TextOps.Bm25K1 * (1.0 - TextOps.Bm25B + TextOps.Bm25B * dl(id) / avgdl))
      // BigDecimal(double).setScale mirrors Spark's Round codepath exactly
      val expect = BigDecimal(idf * sat).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(score == expect, s"doc $id term $term: got $score expect $expect")
    }
    // within a doc, ranks are dense from 1 and scores non-increasing
    out.groupBy(_.getLong(0)).foreach { case (id, rows) =>
      val sorted = rows.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3)).toSeq == (1 to sorted.length), s"doc $id ranks")
      val scores = sorted.map(_.getDouble(2)).toSeq
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, s"doc $id order")
    }
  }

  test("embedding_quantize matches a hand-computed vector and zero-vector fallback") {
    val s = spark; import s.implicits._
    val em = Seq(
      (1L, Seq(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.embeddingQuantize(em).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // xi = (1000000, -500000, 250000, 0), maxabs 1e6; codes (127, -63, 31, 0)
    // (div truncates toward zero: -63.5 -> -63); recon errors 0 + 3938 +
    // 5906 + 0 (e.g. -63*1e6 div 127 = -496062, |−500000 − −496062| = 3938)
    assert(out(1L) == ((1000000L, 95L, 221L, 1L, 9844L)))
    // zero vector: scale clamps to 1, codes all zero, zero error
    assert(out(2L) == ((1L, 0L, 0L, 0L, 0L)))
  }

  test("embedding_quantize on the real table: saturation always fires, error within the truncation bound") {
    val out = Similarity.qEmbeddingQuantize(spark, d).collect()
    assert(out.length == graft.Tables.embeddings(spark, d).count())
    out.foreach { r =>
      val (scale, absSum, nSat, l1) = (r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5))
      // the max-|x| component quantizes to exactly +-127 by construction
      assert(nSat >= 1, s"vec ${r.getLong(0)}: no saturated code")
      assert(absSum <= 127L * 64, s"vec ${r.getLong(0)}: code mass over dim*127")
      // per-component truncation error < scale/127 + 1 micro-units
      assert(l1 <= 64L * (scale / 127L + 1L), s"vec ${r.getLong(0)}: l1 $l1 over bound")
    }
  }

  test("equidepth_hist: ten contiguous near-equal-mass buckets covering every row") {
    val out = Relational.qEquidepthHist(spark, d).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(out.map(_._1).toSeq == (0 to 9), "all ten buckets populated")
    val total = graft.Tables.lineitem(spark, d).count()
    assert(out.map(_._2).sum == total, "buckets must partition the table")
    // equi-depth: each bucket within 2% of total/10 (exact-decile cuts;
    // only ties at a boundary can skew, and prices are near-distinct)
    out.foreach { case (b, n, _, _) =>
      assert(math.abs(n - total / 10.0) <= total * 0.02, s"bucket $b has $n of $total")
    }
    // bucket value ranges are disjoint and ordered: hi(b) <= lo(b+1)
    out.sliding(2).foreach { case Array((_, _, _, hi0), (_, _, lo1, _)) =>
      assert(hi0 <= lo1, "bucket ranges must be ordered and disjoint")
    }
  }

  test("equidepthBounds: two-pass refinement is bit-identical to single-agg exact percentile") {
    val s = spark; import s.implicits._
    // sf0.001 lineitem prices (near-unique doubles) ...
    val li = graft.Tables.lineitem(spark, d).select(col("l_extendedprice").as("x"))
    val direct = li.agg(percentile(col("x"), lit((1 to 9).map(_ / 10.0).toArray)))
      .collect()(0).getSeq[Double](0)
    val twoPass = Relational.equidepthBoundsArray(li).collect()(0).getSeq[Double](0)
    assert(twoPass == direct, s"lineitem: $twoPass != $direct")
    // ... plus a crafted frame stressing ties, integral ranks (n=11 puts
    // every decile rank on a whole value), and a heavy duplicate run
    // crossing coarse-cell edges
    val crafted = (Seq.fill(40)(5.0) ++ (1 to 11).map(_.toDouble) ++
      Seq(2.5, 2.5, 7.75)).toDF("x")
    val d2 = crafted.agg(percentile(col("x"), lit((1 to 9).map(_ / 10.0).toArray)))
      .collect()(0).getSeq[Double](0)
    val t2 = Relational.equidepthBoundsArray(crafted, coarse = 4).collect()(0).getSeq[Double](0)
    assert(t2 == d2, s"crafted: $t2 != $d2")
    // degenerate: constant column (hi == lo path)
    val const = Seq.fill(7)(3.0).toDF("x")
    val t3 = Relational.equidepthBoundsArray(const).collect()(0).getSeq[Double](0)
    assert(t3 == Seq.fill(9)(3.0), s"constant column: $t3")
  }

  test("release_manifest: union of shard manifests re-aggregated equals the whole-corpus manifest") {
    val docs = graft.Tables.documents(spark, d)
    val whole = Pipeline.releaseManifest(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), BigInt(r.getString(6)))).toMap
    val shards = Seq(docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1))
      .map(sh => Pipeline.releaseManifest(sh).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
          (r.getLong(3), r.getLong(4), r.getLong(5), BigInt(r.getString(6)))).toMap)
    val merged = (shards(0).keySet ++ shards(1).keySet).map { k =>
      val a = shards(0).getOrElse(k, (0L, 0L, 0L, BigInt(0)))
      val b = shards(1).getOrElse(k, (0L, 0L, 0L, BigInt(0)))
      k -> (a._1 + b._1, a._2 + b._2, a._3 + b._3, a._4 + b._4)
    }.toMap
    assert(merged == whole, "shard manifests must merge to the whole manifest")
  }

  test("ingest_anomaly: planted spike and drought flag, steady days do not, warmup is null") {
    val s = spark; import s.implicits._
    // steady days at ~100 ± small jitter, a 3× spike at day 20, a
    // near-dry day at 28 (outside the spike's 7-day shadow, where the
    // inflated trailing sigma would legitimately absorb it)
    val daily = (0L until 30L).map { day =>
      val n = if (day == 20) 300L else if (day == 28) 2L
              else 100L + (day % 3)  // jitter keeps sigma > 0
      (day, n)
    }.toDF("day", "n_events")
    val out = Relational.ingestAnomaly(daily).collect()
      .map(r => r.getLong(0) -> ((if (r.isNullAt(4)) None else Some(r.getDouble(4))), r.getBoolean(5)))
      .toMap
    assert(out(0L) == ((None, false)), "day 0 has no trailing window")
    assert(out(20L)._2, s"spike must flag: ${out(20L)}")
    assert(out(28L)._2, s"drought must flag: ${out(28L)}")
    // mature steady days (full window, not in an anomaly's shadow where
    // the trailing stats are legitimately distorted) must stay quiet
    val shadow = Set(20L, 21L, 28L, 29L)
    val steadyFlags = out.view.filterKeys(k => k >= 8 && !shadow(k)).values.count(_._2)
    assert(steadyFlags == 0, s"steady days must not flag ($steadyFlags did)")
  }

  test("pit_join: effective-on-date applies, latest prior version wins, pre-history is null") {
    val s = spark; import s.implicits._
    import java.sql.Date
    val dims = Seq(
      (1L, Date.valueOf("2000-01-01"), "A0"),
      (1L, Date.valueOf("2000-06-15"), "A1"),
      (1L, Date.valueOf("2001-01-01"), "A2"),
      (2L, Date.valueOf("2000-03-01"), "B0")).toDF("ck", "dt", "seg")
    val facts = Seq(
      (1L, Date.valueOf("2000-06-14"), 100L), // day before v1 -> A0
      (1L, Date.valueOf("2000-06-15"), 101L), // ON the effectivity -> A1
      (1L, Date.valueOf("2000-12-31"), 102L), // between v1 and v2 -> A1
      (1L, Date.valueOf("2005-01-01"), 103L), // far future -> A2
      (2L, Date.valueOf("2000-02-28"), 200L), // predates every version -> null
      (2L, Date.valueOf("2000-03-01"), 201L)) // ON B0's effectivity -> B0
      .toDF("ck", "dt", "o_orderkey")
    val out = Relational.pitLookup(dims, facts).collect()
      .map(r => r.getLong(3) -> Option(r.getString(5))).toMap
    assert(out == Map(100L -> Some("A0"), 101L -> Some("A1"), 102L -> Some("A1"),
      103L -> Some("A2"), 200L -> None, 201L -> Some("B0")), s"got $out")
  }

  test("merge_apply: tombstone beats older update, later update resurrects, inserts land") {
    val s = spark; import s.implicits._
    val base = Seq(
      (1L, "a", "f1", 0L, "upsert"),   // untouched
      (2L, "a", "f2", 0L, "upsert"),   // updated at v1
      (3L, "a", "f3", 0L, "upsert"),   // deleted at v2
      (4L, "a", "f4", 0L, "upsert"),   // updated v1, deleted v2 -> gone
      (5L, "a", "f5", 0L, "upsert"))   // deleted v2, re-upserted v3 -> back
      .toDF("doc_id", "source", "fp", "version", "op")
    val changelog = Seq(
      (2L, "a", "f2b", 1L, "upsert"),
      (3L, "a", "",    2L, "delete"),
      (4L, "a", "f4b", 1L, "upsert"),
      (4L, "a", "",    2L, "delete"),
      (5L, "a", "",    2L, "delete"),
      (5L, "a", "f5c", 3L, "upsert"),
      (6L, "a", "f6",  1L, "upsert")) // fresh insert
      .toDF("doc_id", "source", "fp", "version", "op")
    val out = Relational.mergeApply(base, changelog).collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getLong(3))).toMap
    assert(out == Map(
      1L -> ("f1", 0L), 2L -> ("f2b", 1L), 5L -> ("f5c", 3L), 6L -> ("f6", 1L)),
      s"got $out")
  }

  test("q55_sessionize: contiguous per-user indices, gap threshold respected, events partitioned") {
    val out = Relational.q55Sessionize(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (u, sessions) =>
      val idx = sessions.map(_._2).sorted.toSeq
      assert(idx == (1L to idx.length), s"user $u indices: $idx")
      // every non-first session opens after an idle gap STRICTLY over the
      // threshold; the first session carries the -1 sentinel
      sessions.foreach { sess =>
        if (sess._2 == 1L) assert(sess._5 == -1L, s"user $u first-session gap ${sess._5}")
        else assert(sess._5 > Relational.SessionGapUs, s"user $u session ${sess._2} gap ${sess._5}")
      }
    }
    // sessions partition the event table: counts sum to the full table
    val totalEvents = graft.Tables.events(spark, d).count()
    assert(out.map(_._3).sum == totalEvents)
  }

  test("equidepthBounds edge battery: two-pass == single-agg on degenerate and adversarial inputs") {
    val s = spark; import s.implicits._
    val cases: Seq[Seq[Double]] = Seq(
      Seq(1.0),                                  // n = 1: every rank clamps to row 0
      Seq(1.0, 2.0),                             // n = 2: every decile interpolates the same pair
      Seq(5.0, 5.0, 5.0, 5.0),                   // all ties (hi == lo cell path)
      Seq(-3.0, -1.0, 7.0),                      // negatives + tiny n
      Seq(1e300, -1e300, 0.0),                   // extreme magnitudes (coarse map degenerates)
      (1 to 10).map(_ * 0.1),                    // n = 10: integral rank at every decile
      Seq(1.0, 1.0, 1.0, 2.0, 2.0, 3.0, 100.0),  // heavy ties + outlier
      (1 to 97).map(i => math.sin(i.toDouble) * 50)) // irregular spread
    cases.zipWithIndex.foreach { case (xs, ci) =>
      val df = xs.toDF("x")
      val direct = df.agg(percentile(col("x"), lit((1 to 9).map(_ / 10.0).toArray)))
        .collect()(0).getSeq[Double](0)
      Seq(4, 8192).foreach { coarse =>
        val twoPass = Relational.equidepthBoundsArray(df, coarse = coarse)
          .collect()(0).getSeq[Double](0)
        assert(twoPass == direct, s"case $ci coarse=$coarse: $twoPass != $direct")
      }
    }
  }

  test("groupedEquidepthBounds: 200 uneven groups, two-pass == per-group exact percentile") {
    val s = spark; import s.implicits._
    // group g holds g % 17 + 1 values (1..17 rows — exercises tiny-group
    // rank clamping) drawn from a deterministic irregular sequence
    val df = (0 until 200).flatMap { g =>
      (0 to g % 17).map(i => (g, ((g * 31 + i * 7) % 97).toDouble + g / 100.0))
    }.toDF("grp", "x")
    val pcts = Seq(1 -> 0.25, 2 -> 0.5, 3 -> 0.9)
    val direct = df.groupBy(col("grp"))
      .agg(percentile(col("x"), lit(Array(0.25, 0.5, 0.9))).as("ps"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    Seq(4, 64).foreach { coarse =>
      val twoPass = Relational.groupedEquidepthBounds(df, pcts, coarse).collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
      (0 until 200).foreach { g =>
        val got = (1 to 3).map(i => twoPass((g, i)))
        assert(got == direct(g), s"group $g coarse=$coarse: $got != ${direct(g)}")
      }
    }
  }

  test("q28_percentiles_scale: grouped two-pass equals the single-agg percentiles bit-for-bit") {
    val direct = Relational.q28Percentiles(spark, d).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3))).sortBy(_._1)
    val scaled = Relational.q28PercentilesScale(spark, d).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3))).sortBy(_._1)
    assert(scaled.toSeq == direct.toSeq, s"$scaled vs $direct")
    // and the scale plan carries no Percentile aggregate at all
    val plan = Relational.q28PercentilesScale(spark, d)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("percentile("), s"two-pass plan must not buffer percentiles:\n$plan")
  }

  test("bm25_incremental: merged state+fresh partials equal the direct recompute, split-invariant") {
    val docs = graft.Tables.documents(spark, d)
    val direct = TextOps.bm25Search(docs, TextOps.Bm25Query, 10).collect().toSeq
    // two different state/fresh splits must both reproduce the direct
    // ranking exactly (every merged statistic is an integer count)
    val byParity = TextOps.bm25Incremental(
      docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1),
      TextOps.Bm25Query, 10).collect().toSeq
    val byFifth = TextOps.bm25Incremental(
      docs.filter(col("doc_id") % 5 =!= 0), docs.filter(col("doc_id") % 5 === 0),
      TextOps.Bm25Query, 10).collect().toSeq
    assert(byParity == direct, s"parity split diverged: $byParity vs $direct")
    assert(byFifth == direct, s"fifth split diverged: $byFifth vs $direct")
  }

  test("bm25_search matches an independently-computed BM25 ranking on a crafted corpus") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "spark spark join other filler words", "s"),
      (2L, "join stream join agg table", "s"),
      (3L, "no relevant terms at all here", "s"),
      (4L, "spark", "s")).toDF("doc_id", "text", "source")
    val out = TextOps.bm25Search(docs, Seq("spark", "join", "stream"), 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

    // independent reference: plain Scala BM25 with the same constants
    val corpus = Map(
      1L -> Seq("spark", "spark", "join", "other", "filler", "words"),
      2L -> Seq("join", "stream", "join", "agg", "table"),
      3L -> Seq("no", "relevant", "terms", "at", "all", "here"),
      4L -> Seq("spark"))
    val nDocs = corpus.size
    val avgdl = corpus.values.map(_.size).sum.toDouble / nDocs
    def dfOf(t: String) = corpus.values.count(_.contains(t))
    def score(id: Long): (Long, Double) = {
      val toks = corpus(id)
      val parts = Seq("spark", "join", "stream").flatMap { t =>
        val tf = toks.count(_ == t)
        if (tf == 0) None else {
          val df = dfOf(t)
          val idf = math.log(1.0 + (nDocs - df + 0.5) / (df + 0.5))
          val sat = (tf * (TextOps.Bm25K1 + 1)) /
            (tf + TextOps.Bm25K1 * (1.0 - TextOps.Bm25B + TextOps.Bm25B * toks.size / avgdl))
          Some(BigDecimal(idf * sat).setScale(6, BigDecimal.RoundingMode.HALF_UP))
        }
      }
      (parts.size.toLong, parts.sum.toDouble)
    }
    val expect = Seq(1L, 2L, 4L).map(id => (id, score(id)._1, score(id)._2))
      .sortBy { case (id, _, sc) => (-sc, id) }
    assert(out.toSeq == expect, s"got ${out.toSeq}, expect $expect")
    assert(!out.exists(_._1 == 3L), "doc with no query terms must not appear")
  }

  test("plan shape: bm25_search top-k is TakeOrderedAndProject — no global sort") {
    val plan = graft.SparkEntry.queries("bm25_search")(spark, d).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$plan")
  }

  test("rollup_incremental is split-invariant: any state/fresh boundary yields the identical served rollup") {
    val ord = graft.Tables.orders(spark, d)
    def rows(split: Int) = Relational.rollupIncremental(ord, split).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2), r.getLong(3))).toSet
    val all = Seq(1990, 1994, 1996, 1999, 2010).map(rows)
    // 1990 = everything is "fresh" (pure direct); 2010 = everything is
    // pre-agg state; the interior splits exercise the real merge
    all.tail.foreach(s => assert(s == all.head, "merge must equal direct recompute exactly"))
    assert(all.head.nonEmpty)
  }

  test("dq_audit: clean warehouse scores zero on every violation metric; planted violations count exactly") {
    val s = spark; import s.implicits._
    val clean = Audit.qDqAudit(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // the driver warehouse is referentially intact and in-range
    clean.foreach { case ((tbl, m), v) =>
      if (m != "row_count") assert(v == 0L, s"$tbl.$m expected clean, got $v")
    }
    assert(clean(("orders", "row_count")) > 0)

    // plant one violation of each class and demand exact counts
    val cust = graft.Tables.customer(spark, d)
    val ord = graft.Tables.orders(spark, d)
    val li = graft.Tables.lineitem(spark, d)
    val badOrd = ord.unionByName(
      ord.limit(1).select(
        lit(-1L).as("o_orderkey"), lit(999999999L).as("o_custkey"), // orphan FK
        col("o_orderstatus"), lit(-5.0).as("o_totalprice"),          // negative total
        lit(null).cast("timestamp").as("o_orderdate"),               // null date
        col("o_orderpriority")))
    val dirty = Audit.dqAudit(cust, badOrd, li).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(dirty(("orders", "row_count")) == clean(("orders", "row_count")) + 1)
    assert(dirty(("orders", "orphan_custkey")) == 1L)
    assert(dirty(("orders", "negative_total")) == 1L)
    assert(dirty(("orders", "null_orderdate")) == 1L)
    // one NEW orderkey (-1): no duplicate introduced
    assert(dirty(("orders", "dup_orderkey")) == 0L)
    // lineitem untouched except... nothing: its metrics must be unchanged
    assert(dirty(("lineitem", "orphan_orderkey")) == 0L)
  }

  test("plan shape: dq_audit FK checks broadcast the key sets — fact tables never shuffle") {
    val plan = Audit.qDqAudit(spark, d).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"FK anti-joins must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"fact side must not sort-merge:\n$plan")
  }

  test("corpus_diff labels every transition correctly on hand-built snapshots") {
    val s = spark; import s.implicits._
    val old = Seq((1L, "s", "fA"), (2L, "s", "fB"), (3L, "s", "fC"))
      .toDF("doc_id", "source", "fp")
    val nw = Seq((1L, "s", "fA"), (2L, "s", "fB2"), (9L, "s", "fN"))
      .toDF("doc_id", "source", "fp")
    val out = Relational.corpusDiff(old, nw).collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getString(3), r.getString(4))).toMap
    assert(out(1L) == (("unchanged", "fA", "fA")))
    assert(out(2L) == (("changed", "fB", "fB2")))
    assert(out(3L) == (("removed", "fC", "")))
    assert(out(9L) == (("added", "", "fN")))
  }

  test("corpus_diff on the simulated refresh reconciles with the modulo rules") {
    val byStatus = Relational.qCorpusDiff(spark, d).groupBy("status").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ids = graft.Tables.documents(spark, d).select("doc_id")
      .collect().map(_.getLong(0))
    assert(byStatus.getOrElse("removed", 0L) == ids.count(_ % 11 == 0))
    assert(byStatus.getOrElse("added", 0L) == ids.count(_ % 13 == 0))
    // changed = edited ids that were NOT removed and whose re-hash differs
    // (it always differs: md5(fp||':v2') != fp)
    assert(byStatus.getOrElse("changed", 0L) == ids.count(i => i % 7 == 0 && i % 11 != 0))
    assert(byStatus.values.sum == ids.length + ids.count(_ % 13 == 0))
  }

  test("novelty_score: unique doc scores 1, exact twins 0, half-shared doc 0.5; short docs absent") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "a1 a2 a3 a4", "s"),  // shingles: a1a2a3 (shared w/ doc4), a2a3a4
      (2L, "b1 b2 b3", "s"),     // identical to doc 3 -> df 2 everywhere
      (3L, "b1 b2 b3", "s"),
      (4L, "a1 a2 a3 c1", "s"),  // shares a1a2a3, owns a2a3c1
      (5L, "u1 u2 u3 u4 u5", "s"), // fully unique
      (6L, "x y", "s")           // < 3 words: no shingle, absent
    ).toDF("doc_id", "text", "source")
    val out = TextOps.noveltyScore(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(out(1L) == ((2L, 1L, 0.5)))
    assert(out(2L) == ((1L, 0L, 0.0)) && out(3L) == ((1L, 0L, 0.0)))
    assert(out(4L) == ((2L, 1L, 0.5)))
    assert(out(5L) == ((3L, 3L, 1.0)))
  }

  test("triplet_mine: one triplet per near-dup pair; negatives valid, in range, and deterministic") {
    val n = graft.Tables.embeddings(spark, d).count()
    val pairs = Similarity.qEmbeddingDedup(spark, d).count()
    val t1 = Similarity.qTripletMine(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).sortBy(x => (x._1, x._2))
    assert(t1.length == pairs && pairs > 0)
    t1.foreach { case (a, p, neg, cosPos, cosNeg, margin) =>
      assert(neg != a && neg != p, s"negative collides: ($a, $p, $neg)")
      assert(neg >= 0 && neg < n)
      assert(cosPos >= 0.4)
      assert(math.abs(margin - (cosPos - cosNeg)) < 1e-9)
    }
    val t2 = Similarity.qTripletMine(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).sortBy(x => (x._1, x._2))
    assert(t1.toSeq == t2.toSeq, "negative draw must be deterministic")
    // the scale entry (2-level positives) is a subset with IDENTICAL rows
    // on shared pairs — the negative draw depends only on (anchor, pos)
    val byPair = t1.map(t => (t._1, t._2) -> t).toMap
    val scale = Similarity.qTripletMineScale(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(scale.nonEmpty)
    scale.foreach { t =>
      assert(byPair.get((t._1, t._2)).contains(t), s"scale row diverges: $t")
    }
  }

  test("token_fertility: language sums reconcile with per-doc token_count totals") {
    val docs = graft.Tables.documents(spark, d)
    val expected = TextOps.qTokenCount(spark, d)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ws_tokens")).as("ws"),
        sum(col("re_tokens")).as("re"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val fert = TextOps.qTokenFertility(spark, d).collect()
    assert(fert.map(_.getString(0)).toSet == expected.keySet)
    fert.foreach { r =>
      val (nd, ws, re) = expected(r.getString(0))
      assert(r.getLong(1) == nd && r.getLong(2) == ws && r.getLong(3) == re)
      val chars = r.getLong(4)
      assert(math.abs(r.getDouble(5) - chars.toDouble / ws) < 1e-6)
      assert(math.abs(r.getDouble(6) - chars.toDouble / re) < 1e-6)
    }
  }

  test("kanon_release: no released group below k; total mass conserved") {
    val rows = Pipeline.qKanonRelease(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val (supp, released) = rows.partition(_._1 == "__suppressed__")
    assert(released.forall(_._3 >= Pipeline.KAnonThreshold))
    assert(supp.length <= 1)
    val total = graft.Tables.documents(spark, d).count()
    assert(rows.map(_._3).sum == total, "released + suppressed must cover every doc")
    // the suppressed row exists iff some (source, lang) group is below k
    val nSmall = graft.Tables.documents(spark, d)
      .groupBy(col("source"), col("lang")).count()
      .filter(col("count") < Pipeline.KAnonThreshold).count()
    assert(supp.nonEmpty == (nSmall > 0))
  }

  test("epoch_plan: weights sum to 1 and the token budget is conserved") {
    val rows = Pipeline.qEpochPlan(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-4, "mix weights must sum to ~1")
    val totTokens = rows.map(_._2).sum.toDouble
    val allocated = rows.map(r => r._4 * r._2).sum
    assert(math.abs(allocated - Pipeline.EpochBudgetMult * totTokens)
      / (Pipeline.EpochBudgetMult * totTokens) < 1e-3,
      s"allocated $allocated vs budget ${Pipeline.EpochBudgetMult * totTokens}")
    rows.foreach { r => assert(r._5 == (r._4 > Pipeline.EpochRepeatKnee)) }
    // epochs_i = 2T / (tot_w · sqrt(t_i)) — strictly decreasing in source
    // size, the α=0.5 up-weighting of small sources
    val sorted = rows.sortBy(_._2)
    assert(sorted.sliding(2).forall(p => p.head._4 >= p.last._4 - 1e-9),
      "smaller sources must get at least as many epochs")
  }

  test("lsh_eval: counts reconcile with the ngram_jaccard truth and the minhash entry") {
    val r = graft.SparkEntry.queries("lsh_eval")(spark, d).collect().head
    val (nTruth, nCand, nCandHit, nEst, nEstHit) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(nTruth == graft.SparkEntry.queries("ngram_jaccard")(spark, d).count(),
      "truth side must be exactly the registered exact-Jaccard output")
    assert(nEst == graft.SparkEntry.queries("minhash_lsh_md5")(spark, d).count(),
      "est side must be exactly the registered minhash entry's pairs")
    assert(nEstHit <= nEst && nEstHit <= nTruth)
    assert(nCandHit <= nCand && nCandHit <= nTruth)
    assert(nEst <= nCand, "estimate filter only prunes candidates")
    assert(nEstHit <= nCandHit, "pruning cannot add hits")
    assert(nTruth > 0 && nCand > 0)
    // precision/recall columns must equal their count ratios
    assert(math.abs(r.getDouble(5) - nCandHit.toDouble / nCand) < 1e-6)
    assert(math.abs(r.getDouble(6) - nCandHit.toDouble / nTruth) < 1e-6)
    assert(math.abs(r.getDouble(7) - nEstHit.toDouble / nEst) < 1e-6)
    assert(math.abs(r.getDouble(8) - nEstHit.toDouble / nTruth) < 1e-6)
    // the parameter choice must actually deliver: banded recall ≥ 0.9 here
    assert(r.getDouble(6) >= 0.9, s"candidate recall ${r.getDouble(6)} below 0.9")
  }

  test("curation_funnel: monotone chain from total docs to the kept count") {
    val cc = Pipeline.qCorpusCurate(spark, d).persist()
    val rows = graft.SparkEntry.queries("curation_funnel")(spark, d).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5))).sortBy(_._1)
    assert(rows.map(_._2).toSeq ==
      Seq("dedup", "repetition", "contamination", "quality", "perplexity", "domain_mix"))
    assert(rows.head._3 == cc.count(), "stage 1 n_in must be the corpus size")
    assert(rows.last._4 == cc.filter(col("keep")).count(),
      "final n_out must equal the kept count")
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 == b._3, s"funnel break: ${a._2} n_out ${a._4} != ${b._2} n_in ${b._3}")
    }
    rows.foreach { case (_, stage, nIn, nOut, nDropped, rate) =>
      assert(nOut <= nIn, s"$stage gained rows")
      assert(nDropped == nIn - nOut)
      assert(math.abs(rate - nDropped.toDouble / nIn) < 1e-6)
    }
    cc.unpersist()
  }

  test("classifier_eval: sweep reconciles with classifier_score and is threshold-monotone") {
    val rows = Curation.qClassifierEval(spark, d).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5), r.getDouble(6), r.getDouble(7))).sortBy(_._1)
    assert(rows.length == Curation.EvalThresholds.length)
    val n = graft.Tables.documents(spark, d).count()
    rows.foreach { case (_, tp, fp, fn, tn, _, _, _) =>
      assert(tp + fp + fn + tn == n, "confusion cells must cover every doc")
    }
    // at threshold 0.0 the predicted-positive mass equals the registered
    // entry's keep count (same score, same > comparison)
    val keepN = Curation.qClassifierScore(spark, d)
      .filter(col("keep")).count()
    val at0 = rows.find(_._1 == 0.0).get
    assert(at0._2 + at0._3 == keepN, "tp+fp at t=0 must equal classifier keep count")
    // raising the threshold can only shrink the predicted-positive set
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 <= a._2, "tp must be non-increasing in threshold")
      assert(b._2 + b._3 <= a._2 + a._3, "predicted positives must shrink")
      assert(b._7 <= a._7 + 1e-9, "recall must be non-increasing")
    }
  }

  test("classifier_train: GD learns — label classes separate, loss drops, weight join broadcasts") {
    val docs = graft.Tables.documents(spark, d)
    val labeled = docs.select(col("doc_id"),
      (TextOps.qualityExpr(col("text")) >= Curation.TrainLabelMin).as("label"))
    // label must be non-degenerate at the TrainLabelMin bar (the whole
    // reason it is NOT the permissive CurateQualityMin gate)
    val byLabel = labeled.groupBy("label").count().collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(byLabel.getOrElse(true, 0L) > 0 && byLabel.getOrElse(false, 0L) > 0,
      s"degenerate training label: $byLabel")
    val scored = graft.SparkEntry.queries("classifier_train_score")(spark, d)
    val joined = scored.join(labeled, "doc_id")
      .groupBy("label").agg(avg(col("score")).as("m"), count(lit(1)).as("n"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    // trained margins must separate the classes in the right direction
    assert(joined(true) - joined(false) > 0.05,
      s"no class separation after training: $joined")
    // squared-error loss of the trained sigmoid must beat the w=0 model
    // (whose prediction is exactly 0.5 for every doc)
    val z = col("score")
    val sig = lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))
    val y = col("label").cast("double")
    val mse = scored.join(labeled, "doc_id")
      .agg(avg((sig - y) * (sig - y))).collect().head.getDouble(0)
    val mse0 = labeled
      .agg(avg((lit(0.5) - y) * (lit(0.5) - y))).collect().head.getDouble(0)
    assert(mse < mse0 - 0.01, s"training did not reduce loss: $mse vs $mse0")
    // serve-leg plan: the trained weight table broadcasts; the corpus-sized
    // feature side must never shuffle for the model lookup
    val plan = scored.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"model join not broadcast:\n${plan.take(2000)}")
    // weights stay in the bounded micro-unit envelope the scaladoc argues
    // (|delta| <= eta per round => |w| <= iters * eta in float units)
    val maxW = Curation.qClassifierTrain(spark, d)
      .agg(max(abs(col("w_micro")))).collect().head.getLong(0)
    assert(maxW <= (Curation.TrainIters * Curation.TrainEta * 1e6).toLong,
      s"weight escaped the step-size envelope: $maxW micro")
  }

  test("selectivity_estimate: actuals exact, estimates telescope to N and stay tight") {
    val li = graft.Tables.lineitem(spark, d)
    val n = li.count()
    val rows = Relational.qSelectivityEstimate(spark, d).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getLong(4),
        r.getDouble(5))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Relational.SelPredicates.map(_._1))
    rows.foreach { case (_, lo, hi, _, actual, _) =>
      val direct = li.filter(col("l_extendedprice") >= lo && col("l_extendedprice") < hi).count()
      assert(actual == direct, s"actual for [$lo,$hi) must be the exact count")
    }
    // predicates 1,2,3,5 are disjoint and cover the full value range, so
    // the interpolated-CDF estimates telescope to exactly N (mod rounding)
    val cover = rows.filter(r => Set(1, 2, 3, 5)(r._1))
    assert(math.abs(cover.map(_._4).sum - n.toDouble) < 0.1,
      s"telescoped estimate ${cover.map(_._4).sum} vs N=$n")
    assert(cover.map(_._5).sum == n, "disjoint covering actuals must sum to N")
    // equi-depth with interpolation on a smooth distribution: each
    // estimate within 5% of the table
    rows.foreach { case (id, _, _, _, _, err) =>
      assert(err <= 0.05, s"pred $id: abs_err_frac $err above 5%")
    }
  }

  test("passage_search: results are real chunks containing query terms, ranked desc") {
    val rows = TextOps.qPassageSearch(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty && rows.length <= 10)
    val chunks = TextOps.qDocChunk(spark, d)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getString(3)).toMap
    val q = TextOps.Bm25Query.toSet
    rows.foreach { case (docId, chunkIdx, nMatched, score) =>
      val text = chunks.getOrElse((docId, chunkIdx),
        fail(s"($docId, $chunkIdx) is not a real chunk"))
      val hits = text.split(" ").toSet.intersect(q)
      assert(hits.nonEmpty, s"top passage ($docId, $chunkIdx) holds no query term")
      assert(nMatched >= 1 && nMatched <= q.size)
      assert(nMatched == hits.size.toLong,
        s"n_matched $nMatched != distinct query terms present ${hits.size}")
      assert(score > 0.0)
    }
    // ranked: scores non-increasing with the declared tie-break
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 > b._4 || (a._4 == b._4 && (a._1 < b._1 || (a._1 == b._1 && a._2 < b._2))))
    }
  }

  test("embedding_drift: zero for identical snapshots, symmetric, centroid-reconciled") {
    val e = graft.Tables.embeddings(spark, d)
    // identical halves -> every label drifts exactly 0
    val self = Similarity.embeddingDrift(e, e).collect()
    assert(self.nonEmpty)
    self.foreach(r => assert(r.getDouble(3) == 0.0, s"self-drift must be 0: $r"))
    // the registered parity split: symmetric under half swap
    val base = e.filter(col("vec_id") % 2 === 0)
    val cur = e.filter(col("vec_id") % 2 === 1)
    val fwd = Similarity.embeddingDrift(base, cur).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val rev = Similarity.embeddingDrift(cur, base).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(fwd.keySet == rev.keySet && fwd.nonEmpty)
    fwd.foreach { case (label, (nb, nc, drift)) =>
      val (rnc, rnb, rdrift) = rev(label)
      assert(nb == rnb && nc == rnc)
      assert(math.abs(drift - rdrift) < 1e-9, s"label $label asymmetric")
    }
    // drift reconciles with independently computed centroids
    def centroids(v: org.apache.spark.sql.DataFrame) =
      Similarity.embeddingCentroidsLong(v).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val (cb, cc) = (centroids(base), centroids(cur))
    fwd.foreach { case (label, (_, _, drift)) =>
      val expected = math.sqrt((0L until 64L).map { dim =>
        val diff = cb((label, dim)) - cc((label, dim))
        BigDecimal(diff * diff).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.sum)
      assert(math.abs(drift - expected) < 1e-6, s"label $label: $drift vs $expected")
    }
  }

  test("heldout_surprisal: covers the valid split, OOV exact, self-scoring has no OOV") {
    val docs = graft.Tables.documents(spark, d)
    val sp = Sampling.qHashSplit(spark, d).select(col("doc_id"), col("split"))
    val withSplit = docs.join(sp, Seq("doc_id")).persist()
    val train = withSplit.filter(col("split") === "train")
    val valid = withSplit.filter(col("split") === "valid")
    val rows = Curation.qHeldoutSurprisal(spark, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(rows.size == valid.count(), "every valid doc must be scored")
    // OOV counts reconcile with an independent vocab diff
    val trainVocab = train.select(explode(TextOps.normWords(col("text"))).as("w"))
      .distinct().collect().map(_.getString(0)).toSet
    val validToks = valid.select(col("doc_id"), explode(TextOps.normWords(col("text"))).as("w"))
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1))).toMap
    rows.foreach { case (id, (nTok, nOov, surp)) =>
      val toks = validToks(id)
      assert(nTok == toks.length)
      assert(nOov == toks.count(w => !trainVocab(w)), s"doc $id OOV mismatch")
      assert(surp > 0.0)
    }
    // a model scoring its own training data has zero OOV everywhere
    val self = Curation.heldoutSurprisal(train, train).collect()
    assert(self.nonEmpty && self.forall(_.getLong(2) == 0L))
    withSplit.unpersist()
  }

  test("curation_report: per-source counts reconcile with the verdict frame and funnel") {
    val cc = Pipeline.qCorpusCurate(spark, d).persist()
    val rows = graft.SparkEntry.queries("curation_report")(spark, d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(8), r.getDouble(9))).toMap
    assert(rows.values.map(_._1).sum == cc.count(), "sources must partition the corpus")
    assert(rows.values.map(_._2).sum == cc.filter(col("keep")).count(),
      "per-source keeps must sum to the total keep count")
    rows.foreach { case (src, (nDocs, nKeep, rate)) =>
      assert(nKeep <= nDocs)
      assert(math.abs(rate - nKeep.toDouble / nDocs) < 1e-6, s"source $src rate off")
    }
    cc.unpersist()
  }

  test("dedup_agreement: counts reconcile with the three registered pair entries") {
    val rows = graft.SparkEntry.queries("dedup_agreement")(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5)))
    assert(rows.map(x => (x._1, x._2)).toSet ==
      Set(("jaccard", "simhash"), ("jaccard", "winnow"), ("simhash", "winnow")))
    val nJac = graft.SparkEntry.queries("ngram_jaccard")(spark, d).count()
    val nSim = graft.SparkEntry.queries("simhash_pairs_md5")(spark, d).count()
    rows.foreach { case (ma, _, na, nb, nc, pj) =>
      if (ma == "jaccard") assert(na == nJac)
      if (ma == "simhash") assert(na == nSim)
      assert(nc <= math.min(na, nb))
      val expected = nc.toDouble / math.max(na + nb - nc, 1L)
      assert(math.abs(pj - expected) < 1e-6)
    }
    assert(rows.exists(_._5 > 0), "the detectors must agree on at least one pair")
  }

  test("sizeClass matches the bit-arithmetic reference over random magnitudes") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260814)
    val ns = (1 to 5000).map { _ =>
      val bits = rnd.nextInt(41)
      1L + ((rnd.nextLong() & Long.MaxValue) % (1L << bits))
    } :+ 1L :+ 2L :+ 3L :+ (1L << 40) :+ ((1L << 40) + 1)
    def ref(n: Long): Int = if (n <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(n - 1)
    val got = ns.toDF("n")
      .select(col("n"), Audit.sizeClass(col("n")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1))
    got.foreach { case (n, c) =>
      assert(c == ref(n), s"n=$n: sizeClass=$c ref=${ref(n)}")
    }
  }

  test("kanon_release edges: all-suppressed and none-suppressed corpora") {
    import spark.implicits._
    // every group below k -> ONLY the suppressed row, carrying all mass
    val tiny = (1 to 30).map(i => (i.toLong, s"s${i % 5}", s"l${i % 3}"))
      .toDF("doc_id", "source", "lang") // 15 groups of ≤3 docs each
    val suppressedOnly = Pipeline.kanonRelease(tiny).collect()
    assert(suppressedOnly.length == 1)
    assert(suppressedOnly.head.getString(0) == "__suppressed__")
    assert(suppressedOnly.head.getLong(2) == 30L)
    // every group at/above k -> no suppressed row, groups intact
    val big = (1 to 40).map(i => (i.toLong, s"s${i % 2}", "en"))
      .toDF("doc_id", "source", "lang") // 2 groups of 20
    val open = Pipeline.kanonRelease(big).collect()
    assert(open.length == 2 && open.forall(_.getString(0) != "__suppressed__"))
    assert(open.map(_.getLong(2)).sum == 40L)
  }

  test("skew_report: classes partition the key table and bound their members") {
    val ev = graft.Tables.events(spark, d)
    val totalRows = ev.count()
    val nKeys = ev.select(col("user_id")).distinct().count()
    val rep = Audit.qSkewReport(spark, d).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5)))
    assert(rep.map(_._3).sum == nKeys, "every key lands in exactly one class")
    assert(rep.map(_._4).sum == totalRows, "row mass is conserved")
    rep.foreach { case (cls, cap, _, _, maxRows, share) =>
      assert(maxRows <= cap, s"class $cls: max $maxRows exceeds cap $cap")
      if (cls > 0) assert(maxRows > cap / 2, s"class $cls: max $maxRows not in (cap/2, cap]")
      assert(share >= 0.0 && share <= 1.0)
    }
    assert(math.abs(rep.map(_._6).sum - 1.0) < 1e-4)
  }

  test("vocab_coverage: milestones are a monotone prefix of the Zipf curve") {
    val out = graft.SparkEntry.queries("vocab_coverage")(spark, d)
      .orderBy(col("vocab_size")).collect()
    assert(out.nonEmpty)
    // milestones present are exactly those <= |V|, in declared order
    val sizes = out.map(_.getLong(0)).toSeq
    assert(sizes == TextOps.CoverageMilestones.map(_.toLong).take(sizes.length))
    // coverage strictly increases with vocab size and stays in (0, 1]
    val cov = out.map(_.getDouble(2)).toSeq
    assert(cov.zip(cov.tail).forall { case (a, b) => a < b })
    assert(cov.forall(c => c > 0.0 && c <= 1.0))
    // cum at milestone R == sum of the top-R counts computed directly
    val counts = Curation.tokens(graft.Tables.documents(spark, d))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).collect().map(_.getLong(1)).toSeq
    out.foreach { r =>
      val (size, cum) = (r.getLong(0).toInt, r.getLong(1))
      assert(cum == counts.take(size).sum, s"milestone $size")
    }
  }
}
