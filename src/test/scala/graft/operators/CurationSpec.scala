package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamFixture.spark

/** Crafted-data specs for the corpus-curation operators. The DuckDB oracle
  * (driver-side, sf0.01) is the primary gate for all four queries; these
  * cover the semantics the oracle exercises only incidentally: exact
  * redaction behavior, keep-first segment policy, threshold flags, and the
  * planted-copy contamination case. */
class CurationSpec extends AnyFunSuite {

  val d = "/root/testdata/sf0.001"

  def docsDf(rows: (Long, String, String)*) = {
    val s = spark; import s.implicits._
    rows.toSeq.toDF("doc_id", "text", "source")
  }

  // ------------------------------------------------------------------ PII

  test("pii scrub redacts emails, IPv4s and phones and leaves clean text alone") {
    assert(Curation.scrubText("mail bob.smith+x@corp.example.org now") == "mail <EMAIL> now")
    assert(Curation.scrubText("from 192.168.0.1 and 10.2.3.4.") == "from <IP> and <IP>.")
    assert(Curation.scrubText("call 555-0142 or 800-9999") == "call <PHONE> or <PHONE>")
    assert(Curation.scrubText("a@b.co 1.2.3.4 555-1234") == "<EMAIL> <IP> <PHONE>")
    // email local parts with digits/dots must not leave IP fragments behind
    assert(Curation.scrubText("u.1.2.3@ex.io") == "<EMAIL>")
    val clean = "no personal data in this sentence at all"
    assert(Curation.scrubText(clean) == clean)
    // Version-like strings over-redact (the first four octet groups match;
    // \b can't see the trailing ".5" and RE2 — the oracle engine — has no
    // lookahead). Conservative over-redaction is the documented trade.
    assert(Curation.scrubText("1.2.3.4.5") == "<IP>.5")
  }

  test("qPiiScrub finds exactly the injected PII per document") {
    val out = Curation.qPiiScrub(spark, d)
      .select("doc_id", "n_emails", "n_ips", "n_phones", "clean_text").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getInt(1) == 1, s"doc ${r.getLong(0)}: expected 1 email, got ${r.getInt(1)}")
      assert(r.getInt(2) == 1)
      assert(r.getInt(3) == 1)
      val t = r.getString(4)
      assert(t.contains("<EMAIL>") && t.contains("<IP>") && t.contains("<PHONE>"))
      assert(!t.matches(".*\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}.*"))
    }
  }

  // ----------------------------------------------------------- repetition

  test("repetition signals flag degenerate documents and pass diverse ones") {
    // The diverse doc needs enough bigrams that its top one sits below the
    // 10% threshold — 31 distinct words → 30 distinct bigrams, top = 1/30.
    val diverse = (1 to 31).map(i => s"word$i").mkString(" ")
    val docs = docsDf(
      (1L, "spam spam spam spam spam spam spam spam spam spam", "s"),
      (2L, diverse, "s"))
    val out = Curation.repetitionSignals(docs).collect()
      .map(r => r.getLong(0) -> r).toMap

    val rep = out(1L) // 10 words, 1 distinct; every bigram is "spam spam"
    assert(rep.getLong(1) == 10)
    assert(rep.getDouble(2) == 0.9) // 1 - 1/10
    assert(rep.getLong(3) == 9)
    assert(rep.getDouble(4) == 1.0) // 9/9
    assert(rep.getBoolean(5))

    val ok = out(2L) // 31 distinct words, 30 distinct bigrams
    assert(ok.getDouble(2) == 0.0)
    assert(ok.getLong(3) == 1)
    assert(!ok.getBoolean(5))
  }

  // -------------------------------------------------------- segment dedup

  test("segment dedup drops later exact occurrences and reassembles in order") {
    val seg1 = (1 to 10).map(i => s"alpha$i").mkString(" ")
    val seg2 = (1 to 10).map(i => s"beta$i").mkString(" ")
    val seg3 = (1 to 10).map(i => s"gamma$i").mkString(" ")
    val docs = docsDf(
      (1L, s"$seg1 $seg2", "s"),   // both novel → fully kept
      (2L, s"$seg1 $seg3", "s"),   // seg1 already owned by doc 1 → dropped
      (3L, s"$seg2 $seg2", "s"))   // cross-doc dup + within-doc dup → empty
    val out = Curation.segmentDedup(docs).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3)))).toMap

    assert(out(1L) == ((2L, 0L, s"$seg1 $seg2")))
    assert(out(2L) == ((2L, 1L, seg3)))
    assert(out(3L) == ((2L, 2L, ""))) // fully duplicated → empty, not null
  }

  test("segment dedup keeps a short tail segment and pads nothing") {
    val seg1 = (1 to 10).map(i => s"w$i").mkString(" ")
    val docs = docsDf((1L, s"$seg1 tail one two", "s"))
    val Array(r) = Curation.segmentDedup(docs).collect()
    assert(r.getLong(1) == 2 && r.getLong(2) == 0)
    assert(r.getString(3) == s"$seg1 tail one two")
  }

  test("property: no email/IP/phone pattern survives a scrub, and scrubbing is idempotent") {
    import org.scalacheck.{Gen, Prop, Test => ScTest}
    val word = Gen.alphaStr.suchThat(_.nonEmpty)
    val pii = Gen.oneOf(
      Gen.zip(word, word).map { case (a, b) => s"$a@$b.com" },
      Gen.zip(Gen.choose(0, 999), Gen.choose(0, 999), Gen.choose(0, 999), Gen.choose(0, 999))
        .map { case (a, b, c, e) => s"$a.$b.$c.$e" },
      Gen.zip(Gen.choose(100, 999), Gen.choose(0, 9999))
        .map { case (a, b) => f"$a-$b%04d" },
      word, Gen.oneOf(".", " ", ",", "@", "-", "1.2", "99"))
    val text = Gen.listOf(pii).map(_.mkString(" "))
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(200),
      Prop.forAll(text) { t =>
        val clean = Curation.scrubText(t)
        Seq(Curation.EmailRe, Curation.Ipv4Re, Curation.PhoneRe)
          .forall(re => !re.r.findFirstIn(clean).isDefined) &&
          Curation.scrubText(clean) == clean
      })
    assert(res.passed, res.status.toString)
  }

  // ----------------------------------------------------------- surprisal

  test("unigram surprisal matches the hand-computed corpus distribution") {
    // corpus: a×6, b×2 over 8 tokens → p(a)=3/4, p(b)=1/4
    val docs = docsDf((1L, "a a a a", "s"), (2L, "b b a a", "s"))
    val out = Curation.unigramSurprisal(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) == ((4L, r6(-math.log(0.75)))))
    assert(out(2L) == ((4L, r6((-2 * math.log(0.25) - 2 * math.log(0.75)) / 4))))
    // the rare-word doc is strictly more surprising
    assert(out(2L)._2 > out(1L)._2)
  }

  // ----------------------------------------------------- bigram surprisal

  test("bigram surprisal: interpolated LM score and terciles match hand computation") {
    // tokens: a*3 b*2 c*1 (T=6); bigrams: (a,b)*2, (a,c)*1; c1(a)=3
    val docs = docsDf((1L, "a b", "s"), (2L, "a b", "s"), (3L, "a c", "s"))
    val out = Curation.bigramSurprisal(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getString(3)))).toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val sAB = r6(-math.log(0.7 * (2.0 / 3.0) + 0.3 * (2.0 / 6.0)))
    val sAC = r6(-math.log(0.7 * (1.0 / 3.0) + 0.3 * (1.0 / 6.0)))
    assert(out(1L) == ((1L, sAB, "head")))
    assert(out(2L) == ((1L, sAB, "middle"))) // tie broken by doc_id
    assert(out(3L) == ((1L, sAC, "tail")))
    assert(sAC > sAB) // the rarer continuation is more surprising
  }

  test("sketch-cut terciles agree with the exact global-rank terciles on ≥95% of docs") {
    val exact = Curation.qBigramSurprisal(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("ppl_bucket")).toMap
    val approx = Curation.qBigramSurprisalScale(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("ppl_bucket")).toMap
    assert(approx.keySet == exact.keySet)
    val agree = exact.count { case (id, b) => approx(id) == b }
    val frac = agree.toDouble / exact.size
    info(s"tercile agreement = $frac ($agree/${exact.size})")
    assert(frac >= 0.95, s"agreement $frac")
  }

  test("corpus_curate_scale keep decisions agree with the exact composition on ≥95% of docs") {
    // The flagship composition with the sketch-cut perplexity gate (no
    // unpartitioned ntile window) must keep/drop the same documents as
    // the exact pipeline except where a doc's surprisal sits within
    // sketch error of a tercile boundary (VERDICT r6 task 1).
    val exact = Pipeline.qCorpusCurate(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
    val scale = Pipeline.qCorpusCurateScale(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
    assert(scale.keySet == exact.keySet)
    val agree = exact.count { case (id, k) => scale(id) == k }
    val frac = agree.toDouble / exact.size
    info(s"keep agreement = $frac ($agree/${exact.size})")
    assert(frac >= 0.95, s"keep agreement $frac")
  }

  test("shared-token From variants equal the direct forms under a foreign partitioning") {
    // corpus_curate feeds ALL n-gram gates from one tokenize
    // (Pipeline.corpusCurate); the composition is only sound if each
    // From-variant is insensitive to how that shared token table happens
    // to be partitioned when it reaches the gate
    val docs = graft.Tables.documents(spark, d)
    val toks = Curation.tokens(docs).repartition(7)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rows(Curation.repetitionSignalsFrom(toks)) == rows(Curation.qRepetitionSignals(spark, d)))
    assert(rows(Curation.contaminationFromTokens(toks)) == rows(Curation.qContamination(spark, d)))
    assert(rows(Curation.bigramSurprisalFrom(toks)) == rows(Curation.qBigramSurprisal(spark, d)))
    // the sketch cut shares the same token table (same-partitioning check:
    // percentile_approx merge order is not guaranteed partition-invariant)
    assert(rows(Curation.bigramSurprisalScaleFrom(Curation.tokens(docs))) ==
      rows(Curation.bigramSurprisalScale(docs)))
  }

  // ----------------------------------------------------------- domain mix

  test("domain mix: rare domains keep everything, hot domains downsample to temperature share") {
    // 90 docs of src_a vs 10 of src_b; with alpha=0.5, q_a = 3/4, M = 50:
    // p_a = 0.75*50/90 (~0.417), p_b = min(1, 0.25*50/10) = 1.0
    val docs = Pipeline.domainMix(docsDf(
      (0L until 90L).map(i => (i, s"alpha doc number $i with unique text", "src_a")) ++
        (90L until 100L).map(i => (i, s"beta doc number $i", "src_b")): _*))
    val rows = docs.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getDouble(3), r.getBoolean(5)))
    val (a, b) = rows.partition(_._2 == "src_a")
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pA = r6(math.sqrt(90.0) / (math.sqrt(90.0) + math.sqrt(10.0)) * 50.0 / 90.0)
    assert(a.forall(_._3 == pA))
    assert(b.forall(r => r._3 == 1.0 && r._4)) // rare domain keeps all
    // the hot domain really is thinned, and not to zero
    val keptA = a.count(_._4)
    assert(keptA > 0 && keptA < 90, s"keptA=$keptA")
  }

  test("domain mix keep decision is content-keyed: same text, same verdict under repartition") {
    val mix = Pipeline.qDomainMix(spark, d)
    val again = Pipeline.domainMix(
      graft.Tables.documents(spark, d).repartition(7, col("source")))
    assert(mix.select("doc_id", "kept").except(again.select("doc_id", "kept")).isEmpty)
  }

  // -------------------------------------------------------------- packing

  test("sequence packing: bins and offsets follow the cumulative recurrence per bucket") {
    val rows = Curation.qSequencePack(spark, d)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, bucketRows) =>
      var cum = 0L
      bucketRows.sortBy(_._2).foreach { case (_, docId, n, bin, off) =>
        assert(bin == cum / Curation.PackBudget, s"doc $docId bin")
        assert(off == cum % Curation.PackBudget, s"doc $docId offset")
        cum += n
      }
    }
    // every document must be placed exactly once
    assert(rows.map(_._2).distinct.length == rows.length)
  }

  // -------------------------------------------------------- contamination

  test("a planted copy of a benchmark document scores contamination 1.0") {
    val bench = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = docsDf(
      (1L, bench, Curation.BenchmarkSource),
      (2L, bench, "web"),                                     // exact copy
      (3L, s"prefix words here then $bench", "web"),          // contains it
      (4L, "nothing shared with the benchmark set here okay truly", "web"))
    val out = Curation.contaminationFrom(docs).collect()
      .map(r => r.getLong(0) -> r).toMap

    assert(!out.contains(1L)) // benchmark side is excluded from the report
    assert(out(2L).getDouble(3) == 1.0 && out(2L).getBoolean(4))
    assert(out(3L).getDouble(3) > 0.0 && out(3L).getDouble(3) < 1.0)
    assert(out(4L).getLong(2) == 0 && !out(4L).getBoolean(4))
  }

  test("contamination's benchmark membership test is a broadcast semi-join") {
    // The corpus side must never shuffle for the membership test — eval
    // suites are MBs, corpora are TBs; a shuffled semi-join would move the
    // whole corpus n-gram table. Plan-asserted so it can't silently rot.
    // (r10: the membership test became a broadcast LEFT join with a hit
    // flag — one doc-grain agg instead of two branches — so the asserted
    // shape is "broadcast hash join, no shuffle on the corpus side".)
    val plan = Curation.qContamination(spark, d).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark membership join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-side shuffle join in contamination plan:\n$plan")
  }

  test("curation plans stay in column space — no object deserialization") {
    Seq(
      Curation.qRepetitionSignals(spark, d),
      Curation.qContamination(spark, d),
      Curation.qPiiScrub(spark, d),
      Curation.qSegmentDedup(spark, d),
      Curation.qUnigramSurprisal(spark, d),
      Curation.qBigramSurprisal(spark, d),
      Curation.qSequencePack(spark, d),
      Pipeline.qDomainMix(spark, d)).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("DeserializeToObject"), s"object boundary in:\n$plan")
    }
  }

  test("plan shape: domain_mix broadcasts the cutoff table — corpus side never sort-merges") {
    val plan = Pipeline.qDomainMix(spark, d).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast cutoffs:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus side shuffled for a tiny dim:\n$plan")
  }

  test("plan shape: corpus_curate reads the shared token table from cache") {
    val plan = Pipeline.qCorpusCurate(spark, d).queryExecution.executedPlan.toString
    val hits = "InMemoryTableScan".r.findAllIn(plan).size
    assert(hits >= 3, s"expected ≥3 cached token-scan reads, got $hits:\n${plan.take(2000)}")
  }

  test("classifier_score margin equals a hand-rolled scorer, via a broadcast model join") {
    val docs = docsDf(
      (1L, "alpha beta gamma alpha", "s0"),
      (2L, "delta epsilon", "s0"))
    val out = Curation.classifierScore(docs, Curation.linearModel(spark))
    // hand score: same md5 bucket + (b % 7) - 3 weight per token occurrence
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(w: String): Long = {
      val hex = md.digest(s"feat:$w".getBytes("UTF-8")).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.take(8), 16) % Curation.FeatureDim
    }
    def margin(ws: Seq[String]): Long = ws.map(w => (bucket(w) % 7) - 3).sum
    val got = out.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L) == (4L, margin(Seq("alpha", "beta", "gamma", "alpha"))))
    assert(got(2L) == (2L, margin(Seq("delta", "epsilon"))))
    // the load-bearing plan property: the weight table broadcasts; the
    // corpus-sized feature side must not shuffle for the lookup
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"model join not broadcast:\n${plan.take(2000)}")
  }

  test("contamination on the real corpus is sane and flags the planted near-dups only") {
    val out = Curation.qContamination(spark, d)
      .agg(count(lit(1)), sum(when(col("contaminated"), 1).otherwise(0)),
        min("contamination_frac"), max("contamination_frac"))
      .collect().head
    val (n, flagged) = (out.getLong(0), out.getLong(1))
    assert(n > 0)
    assert(out.getDouble(2) >= 0.0 && out.getDouble(3) <= 1.0)
    // word-soup 5-grams collide rarely by chance; only planted dups of src0
    // documents can cross the 0.5 threshold, and most docs aren't dups
    assert(flagged < n / 2, s"$flagged of $n flagged — threshold degenerate")
  }

  // ------------------------------------------- boilerplate strip (df >= K)

  test("boilerplate_strip removes a >=3-doc segment from EVERY document and keeps 2-doc repeats everywhere") {
    val boiler = (1 to 10).map(i => s"cookie$i").mkString(" ")
    val twice = (1 to 10).map(i => s"nav$i").mkString(" ")
    val u = (1 to 5).map(k => (1 to 10).map(i => s"u${k}w$i").mkString(" "))
    val docs = docsDf(
      (1L, s"$boiler ${u(0)}", "s"),
      (2L, s"$boiler ${u(1)}", "s"),
      (3L, s"$boiler ${u(2)}", "s"), // boiler df=3 -> stripped everywhere
      (4L, s"$twice ${u(3)}", "s"),
      (5L, s"$twice ${u(4)}", "s"))  // twice df=2 -> kept everywhere
    val out = Curation.boilerplateStrip(docs).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((2L, 1L, u(0))))
    assert(out(2L) == ((2L, 1L, u(1))))
    assert(out(3L) == ((2L, 1L, u(2))), "the FIRST occurrence is stripped too (unlike segment_dedup)")
    assert(out(4L) == ((2L, 0L, s"$twice ${u(3)}")))
    assert(out(5L) == ((2L, 0L, s"$twice ${u(4)}")))
  }

  test("boilerplate_strip counts a within-doc repeat once toward document frequency") {
    val seg = (1 to 10).map(i => s"rep$i").mkString(" ")
    // seg appears twice in doc 1 and once in doc 2: df = 2 distinct docs,
    // below the threshold of 3 — nothing may be stripped
    val docs = docsDf((1L, s"$seg $seg", "s"), (2L, seg, "s"))
    val out = Curation.boilerplateStrip(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(1L) == 0L && out(2L) == 0L)
  }

  // ------------------------------------------- robust outliers (median/MAD)

  /** A document of exactly n whitespace tokens. */
  private def nTok(n: Int) = (1 to n).map(i => s"t$i").mkString(" ")

  test("robust_outliers matches hand-computed median/MAD and flags only the planted giant") {
    val docs = docsDf(
      (1L, nTok(10), "a"), (2L, nTok(10), "a"), (3L, nTok(10), "a"),
      (4L, nTok(11), "a"), (5L, nTok(12), "a"), (6L, nTok(13), "a"),
      (7L, nTok(100), "a")) // lens 10,10,10,11,12,13,100: med 11, MAD 1
    val out = Curation.robustOutliers(docs).collect()
      .map(r => (r.getLong(0), (r.getDouble(3), r.getDouble(4), r.getBoolean(5)))).toMap
    out.values.foreach { case (med, mad, _) => assert(med == 11.0 && mad == 1.0) }
    assert((1L to 6L).forall(!out(_)._3))
    assert(out(7L)._3, "adev 89 > 3*MAD must flag")
    // with the 8th doc the stats shift to med 11.5, MAD 1.5 (both exact
    // .5 doubles); len 16 sits at adev 4.5 == 3*MAD exactly and must NOT
    // flag: the gate is a strict inequality
    val edge = Curation.robustOutliers(docs.union(docsDf((8L, nTok(16), "a"))))
      .filter(col("doc_id") === 8L).collect()(0)
    assert(edge.getDouble(3) == 11.5 && edge.getDouble(4) == 1.5 && !edge.getBoolean(5))
  }

  test("robust_outliers MAD=0 degenerates to 'any deviation flags' per source, sources independent") {
    val docs = docsDf(
      (1L, nTok(5), "b"), (2L, nTok(5), "b"), (3L, nTok(5), "b"),
      (4L, nTok(5), "b"), (5L, nTok(9), "b"),  // med 5, MAD 0 -> only 9 flags
      (6L, nTok(50), "c"), (7L, nTok(60), "c"), (8L, nTok(70), "c")) // med 60, MAD 10
    val out = Curation.robustOutliers(docs).collect()
      .map(r => (r.getLong(0), (r.getDouble(4), r.getBoolean(5)))).toMap
    assert(out(1L) == ((0.0, false)) && out(5L) == ((0.0, true)))
    assert(Seq(6L, 7L, 8L).forall(id => out(id)._1 == 10.0 && !out(id)._2))
  }

  test("plan shape: robust_outliers joins the dimension-sized stat tables via broadcast") {
    val plan = Curation.qRobustOutliers(spark, d).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"stat joins must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus side must never sort-merge:\n$plan")
  }

  test("pack_assemble reconstructs every document exactly once, in bin-offset order") {
    val docs = graft.Tables.documents(spark, d)
    val out = Curation.packAssemble(docs).collect()
      .map(r => ((r.getString(0), r.getLong(1)), (r.getLong(2), r.getLong(3), r.getString(4))))
    // every packed doc appears in exactly one example; splitting on the
    // separator recovers the per-bin doc counts
    val splitCounts = out.map { case (_, (nDocs, _, txt)) =>
      (nDocs, txt.split(java.util.regex.Pattern.quote(Curation.PackSep), -1).length.toLong)
    }
    splitCounts.foreach { case (n, m) => assert(n == m, s"bin claims $n docs, text holds $m") }
    assert(out.map(_._2._1).sum == docs.count(), "every document packed exactly once")
    // reconciles with sequence_pack's layout: same (bucket, bin) spine,
    // same token mass per bin
    val packed = Curation.qSequencePack(spark, d).collect()
      .map(r => ((r.getString(1), r.getLong(3)), r.getLong(2)))
      .groupBy(_._1).view.mapValues(v => (v.size.toLong, v.map(_._2).sum)).toMap
    out.foreach { case (key, (nDocs, nTokens, _)) =>
      assert(packed(key) == ((nDocs, nTokens)), s"bin $key disagrees with sequence_pack")
    }
  }

  // ------------------------------------------------- RTBF / opt-out purge

  test("rtbf_purge takes every copy of opted-out content, not just the requested id") {
    val s = spark; import s.implicits._
    val docs = docsDf(
      (1L, "secret page content here x", "a"),
      (2L, "Secret   page CONTENT here x", "a"), // same normalized content, different id
      (3L, "innocent doc one", "a"),
      (4L, "secret page content here x", "b"),   // copy in ANOTHER source
      (5L, "innocent doc two", "b"))
    val optOut = Seq("secret page content here x").toDF("t")
      .select(md5(graft.operators.TextOps.normText(col("t")).cast("binary")).as("opt_fp"))
    val out = Curation.rtbfPurge(docs, optOut).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("a") == ((1L, 2L, 1L)), s"source a: ${out("a")}") // ids 1+2 purged, one fp matched
    assert(out("b") == ((1L, 1L, 1L)), s"source b: ${out("b")}") // the cross-source copy too
  }

  test("plan shape: rtbf_purge broadcasts the opt-out list — the corpus never shuffles for membership") {
    val plan = Curation.qRtbfPurge(spark, d).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"opt-out membership must broadcast:\n$plan")
  }

  test("plan shape: boilerplate_strip is pure hash joins/aggs — no cartesian, no global window") {
    val plan = Curation.qBoilerplateStrip(spark, d).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"seg_text mark must stay an equi join:\n$plan")
    // the segment grid is a groupBy pivot, not a window: no Window
    // operator may appear anywhere (the unpartitioned kind would
    // serialize the corpus into one task)
    assert(!plan.contains("Window ["), s"unexpected window operator in:\n$plan")
  }

  test("curate_incremental: stateless gates match batch; dedup/keep reconcile") {
    val d = "/root/testdata/sf0.001"
    val inc = graft.SparkEntry.queries("curate_incremental")(spark, d).persist()
    val docs = graft.Tables.documents(spark, d)
    val freshCount = docs.filter(col("doc_id") % 2 === 1).count()
    assert(inc.count() == freshCount, "one verdict row per fresh doc")
    // dedup gate reconciles with the registered incremental dedup entry
    val dedupKeepers = Dedup.qDedupIncremental(spark, d).count()
    assert(inc.filter(col("dedup_rep")).count() == dedupKeepers)
    // stateless gates (repetition, quality, contamination vs the fixed
    // benchmark set) must equal the batch composition's flags per doc
    val batch = Pipeline.qCorpusCurate(spark, d)
      .filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("repetitive").as("b_rep"),
        col("quality").as("b_q"), col("contaminated").as("b_con"))
    val diff = inc.join(batch, Seq("doc_id"))
      .filter(col("repetitive") =!= col("b_rep") || col("quality") =!= col("b_q")
        || col("contaminated") =!= col("b_con"))
      .count()
    assert(diff == 0L, s"$diff fresh docs disagree on stateless gates")
    // keep is exactly the column conjunction
    val badKeep = inc.filter(col("keep") =!=
      (col("dedup_rep") && !col("repetitive") && !col("contaminated") &&
        col("quality") >= Pipeline.CurateQualityMin &&
        col("ppl_bucket") =!= "tail" && col("mix_kept"))).count()
    assert(badKeep == 0L)
    // every ≥2-token fresh doc got a score under the smoothed state LM
    val unscored = inc.filter(col("avg_surprisal").isNull)
      .join(docs.select(col("doc_id"),
        size(TextOps.normWords(col("text"))).as("nw")), Seq("doc_id"))
      .filter(col("nw") >= 2).count()
    assert(unscored == 0L, "smoothing must score every fresh doc with a bigram")
    inc.unpersist()
  }
}
