package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.KMinValues
import graft.streaming.StreamFixture.spark

/** Overlap-operator specs: the DuckDB oracle pins overlap_exact; these
  * cover what the oracle can't — the KMV sketch's exact merge-invariance
  * (a sketch is a pure function of the SET, independent of row order and
  * partitioning) and its estimation error vs the exact twin, plus the
  * pmi_collocations plan shape. */
class OverlapSpec extends AnyFunSuite {

  val d = "/root/testdata/sf0.001"
  private def flip(x: Long): Long = x ^ Long.MinValue

  test("KMV aggregator: reduce/merge equal the k smallest distinct values under any split and order") {
    val rnd = new scala.util.Random(42)
    val agg = new KMinValues(16)
    for (trial <- 1 to 50) {
      val xs = Seq.fill(rnd.nextInt(400) + 1)(rnd.nextLong())
      val expected = xs.distinct.sortBy(flip).take(16)
      // straight fold in shuffled order
      val folded = rnd.shuffle(xs).foldLeft(agg.zero)(agg.reduce)
      assert(folded == expected, s"trial $trial: fold")
      // arbitrary 3-way split, partial-fold, merge in arbitrary order
      val parts = xs.grouped(math.max(1, xs.size / 3)).toSeq
      val merged = rnd.shuffle(parts.map(_.foldLeft(agg.zero)(agg.reduce)))
        .foldLeft(agg.zero)(agg.merge)
      assert(merged == expected, s"trial $trial: merge")
    }
  }

  test("KMV sketches are partitioning-invariant on the real corpus (exact equality)") {
    val ex = Overlap.sourceShingleTable(graft.Tables.documents(spark, d)).persist()
    def sketches(df: org.apache.spark.sql.DataFrame): Map[String, Seq[Long]] =
      df.select(col("source"), xxhash64(col("shingle")).as("h"))
        .groupBy(col("source")).agg(KMinValues.kmv()(col("h")).as("sk"))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val one = sketches(ex.repartition(1))
    val many = sketches(ex.repartition(32))
    assert(one == many)
    ex.unpersist()
  }

  test("KMV estimates track the exact twin within the 1/sqrt(k) error band") {
    val exact = graft.SparkEntry.queries("overlap_exact")(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    val est = graft.SparkEntry.queries("overlap_kmv")(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(exact.keySet == est.keySet)
    // k=512 -> sigma ~ 4.4% on cardinality and ~sqrt(j/k) on Jaccard.
    // Per-pair bounds sit at ~4 sigma; the MEAN over 190 pairs is the
    // stable signal and sits at ~1 sigma.
    val cardErrs = exact.flatMap { case (p, (na, nb, _, _)) =>
      val (ea, eb, _, _) = est(p)
      Seq(math.abs(ea - na) / na, math.abs(eb - nb) / nb)
    }.toSeq
    assert(cardErrs.max <= 0.20, f"max card err ${cardErrs.max}%.3f")
    assert(cardErrs.sum / cardErrs.size <= 0.08, f"mean card err ${cardErrs.sum / cardErrs.size}%.4f")
    val jacErrs = exact.map { case (p, (_, _, _, j)) => math.abs(est(p)._4 - j) }.toSeq
    assert(jacErrs.max <= 0.06, f"max jaccard err ${jacErrs.max}%.4f")
    assert(jacErrs.sum / jacErrs.size <= 0.02, f"mean jaccard err ${jacErrs.sum / jacErrs.size}%.4f")
    val comErrs = exact.map { case (p, (_, _, c, _)) => math.abs(est(p)._3 - c) }.toSeq
    assert(comErrs.max <= 100.0, f"max common err ${comErrs.max}%.1f")
    assert(comErrs.sum / comErrs.size <= 30.0, f"mean common err ${comErrs.sum / comErrs.size}%.1f")
  }

  test("hand-built corpus: hot shared phrase collapses per source; KMV is EXACT below k") {
    import spark.implicits._
    // source A: "x y z" ×50 (duplicate docs collapse in the source-grain
    // distinct — a corpus-wide hot phrase must not blow up the self-join),
    // plus "p q r" and a unique phrase. B shares both phrases; C only "x y z".
    val docs = (
      (1 to 50).map(i => (i.toLong, "A", "x y z")) ++ Seq(
        (100L, "A", "p q r"), (101L, "A", "aa ab ac"),
        (200L, "B", "x y z"), (201L, "B", "p q r"), (202L, "B", "ba bb bc"),
        (300L, "C", "x y z"), (301L, "C", "ca cb cc"))
      ).toDF("doc_id", "source", "text")
    val ex = Overlap.sourceShingleTable(docs)
    val exact = Overlap.overlapExact(ex).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(exact(("A", "B")) == ((3L, 3L, 2L, 0.5)))   // {xyz,pqr} of {xyz,pqr,aa..,ba..}
    assert(exact(("A", "C")) == ((3L, 2L, 1L, 0.25)))
    assert(exact(("B", "C")) == ((3L, 2L, 1L, 0.25)))
    // below k the sketch KEEPS every distinct hash, so estimates are exact
    val est = Overlap.overlapKmv(ex).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(est(("A", "B")) == ((3.0, 3.0, 2.0, 0.5)))
    assert(est(("A", "C")) == ((3.0, 2.0, 1.0, 0.25)))
    assert(est(("B", "C")) == ((3.0, 2.0, 1.0, 0.25)))
  }

  test("sourceShinglesFrom (shared-table form) equals the self-contained build exactly") {
    val docs = graft.Tables.documents(spark, d)
    val direct = Overlap.sourceShingleTable(docs).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val derived = Overlap.sourceShinglesFrom(
        Dedup.shingleTable(docs), docs.select("doc_id", "source")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(derived == direct)
  }

  test("overlap_exact: pair grain is C(sources,2); intersections bounded; Jaccard in [0,1]") {
    val docs = graft.Tables.documents(spark, d)
    val nSources = docs.select(col("source")).distinct().count().toInt
    val rows = graft.SparkEntry.queries("overlap_exact")(spark, d).collect()
    assert(rows.length == nSources * (nSources - 1) / 2)
    rows.foreach { r =>
      val (na, nb, common, j) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(common <= math.min(na, nb))
      assert(j >= 0.0 && j <= 1.0)
      assert(r.getString(0) < r.getString(1))
    }
  }

  /** Batch purge invariants the DuckDB oracle can't express: the
    * source-grain claim itself. (1) a purge confined to one source must
    * leave every pair NOT involving that source with estimates IDENTICAL
    * to the unpurged overlap_kmv run — untouched sources' sketches are
    * never recomputed, so this is equality by construction, asserted
    * anyway as the regression trap; (2) the purge result must equal a
    * from-scratch KMV over live rows only (the rebuild it replaces). */
  test("overlap_purge: source-grain — pairs without the affected source keep " +
    "their unpurged estimates; result equals a live-rows-only rebuild") {
    val docs = graft.Tables.documents(spark, d)
    val all = Overlap.sourceShingleTable(docs)
      .select(col("source"), xxhash64(col("shingle")).as("h")).distinct()
    val victimSource = docs.select(col("source")).distinct()
      .collect().map(_.getString(0)).sorted.head
    val purgedDocs = col("source") === victimSource && col("doc_id") % 3 === 0
    val live = Overlap.sourceShingleTable(docs.filter(!purgedDocs))
      .select(col("source"), xxhash64(col("shingle")).as("h")).distinct()
      .withColumn("live", lit(true))
    val flagged = all.join(live, Seq("source", "h"), "left")
      .select(col("source"), col("h"), coalesce(col("live"), lit(false)).as("live"))
      .persist()
    assert(flagged.filter(!col("live")).select("source").distinct()
      .collect().map(_.getString(0)).toSet == Set(victimSource),
      "fixture must confine dead hashes to the victim source")

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSet

    val purged = rows(Overlap.overlapPurgeFromHashes(flagged))
    // (2) equals the from-scratch rebuild over live rows
    val rebuild = rows(Overlap.overlapKmvFromHashes(
      flagged.filter(col("live")).select(col("source"), col("h"))))
    assert(purged == rebuild, "purge must equal a live-rows-only rebuild")
    // (1) pairs not involving the victim source are untouched vs unpurged
    val unpurged = rows(Overlap.overlapKmvFromHashes(
      flagged.select(col("source"), col("h"))))
    val untouched = (p: (String, String, Double, Double, Double, Double)) =>
      p._1 != victimSource && p._2 != victimSource
    assert(purged.filter(untouched) == unpurged.filter(untouched),
      "pairs without the affected source must keep their unpurged estimates")
    // and the victim's own pairs DID change (the purge actually bit)
    assert(purged.filterNot(untouched) != unpurged.filterNot(untouched),
      "fixture too weak: the purge removed nothing observable")
    flagged.unpersist()
  }

  test("pmi_collocations: top-k via TakeOrderedAndProject; floor respected; PMI recomputes from raw counts") {
    val df = TextOps.qPmiCollocations(spark, d)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected distributed top-k, got:\n$plan")
    val rows = df.collect()
    assert(rows.length == TextOps.PmiTopK)
    val pmis = rows.map(_.getDouble(3))
    assert(pmis.zip(pmis.tail).forall { case (a, b) => a >= b }, "pmi not non-increasing")
    assert(rows.forall(_.getLong(2) >= TextOps.PmiMinPairCount))
    // recompute the top row's PMI from first principles on the raw corpus
    val toks = Curation.tokens(graft.Tables.documents(spark, d)).persist()
    val t = toks.count().toDouble
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val bg = toks.select(col("w").as("w1"), lead(col("w"), 1).over(byDoc).as("w2"))
      .filter(col("w2").isNotNull).persist()
    val bt = bg.count().toDouble
    val top = rows.head
    val (w1, w2) = (top.getString(0), top.getString(1))
    val pc = bg.filter(col("w1") === w1 && col("w2") === w2).count().toDouble
    val c1w = toks.filter(col("w") === w1).count().toDouble
    val c1u = toks.filter(col("w") === w2).count().toDouble
    val expected = math.log((pc * t * t) / (bt * c1w * c1u))
    assert(math.abs(expected - top.getDouble(3)) < 1e-5,
      s"recomputed $expected vs ${top.getDouble(3)}")
    assert(pc == top.getLong(2).toDouble)
    toks.unpersist(); bg.unpersist()
  }
}
