package graft.operators

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed gram-index serve path (r15, VERDICT r14 task 1). At the
  * 100 TB design point the compacted substring index is corpus-sized;
  * the probe join must read it IN PLACE — a per-ingest-cycle index-wide
  * Exchange is the scale killer the r14 audit flagged. This suite pins:
  *  - the compacted-index leg is a left-semi sort-merge join whose index
  *    side contains ZERO Exchange and scans the bucketed table;
  *  - the full bucketed serve (compacted + broadcast fresh leg) equals
  *    the plain index-frame serve over the same state, which the driver
  *    oracle in turn hash-checks against the DuckDB full recompute. */
class GramIndexBucketSpec extends AnyFunSuite {

  val d = "/root/testdata/sf0.001"

  test("probe join over the compacted bucketed index: zero index-side " +
    "exchange, bucketed scan; bucketed serve == index-frame serve") {
    val spark = graft.streaming.StreamFixture.spark // temp warehouse dir
    val (table, freshPath) = Dedup.buildGramServeState(spark, d)
    val batch = Dedup.substringInjectedDocs(spark, d)
      .filter(col("doc_id") % 5 === 2)

    // Plan shape with AQE off (the PlanLintSpec convention: the prepared
    // plan is the deterministic object; AQE only narrows exchanges).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val probe = Dedup.bucketedGramProbe(spark, table,
        Dedup.substringGrams(batch))
      val plan = probe.queryExecution.executedPlan
      val smj = plan.collect { case j: SortMergeJoinExec => j }
      assert(smj.nonEmpty, s"probe must plan a sort-merge join:\n$plan")
      val idxSide = smj.head.right
      val idxExchanges = idxSide.collect { case e: Exchange => e }
      assert(idxExchanges.isEmpty,
        s"index side of the probe join must not shuffle:\n$idxSide")
      val bucketedScans = idxSide.collect {
        case sc: FileSourceScanExec if sc.bucketedScan => sc }
      assert(bucketedScans.nonEmpty,
        s"index side must scan the bucketed table in place:\n$idxSide")
      // the probe (batch) side is the one that adapts to the index layout
      val probeSideExchanges = smj.head.left.collect { case e: Exchange => e }
      assert(probeSideExchanges.nonEmpty,
        "batch side should carry the (batch-sized) exchange")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val bucketed = rows(Dedup.substringDedupFromBucketed(spark, table,
      spark.read.parquet(freshPath), batch))
    val viaIndex = rows(Dedup.substringDedupFromIndex(
      Dedup.gramIndexFromState(spark, Frozen.path("dedup-gramidx", d)), batch))
    assert(bucketed == viaIndex,
      "bucketed serve diverged from the index-frame serve\n" +
        s"bucketed-only: ${(bucketed -- viaIndex).take(2)}\n" +
        s"index-only: ${(viaIndex -- bucketed).take(2)}")
    // teeth: the planted passage means the serve actually excises something
    assert(bucketed.exists(_._3 > 0L), "no window was excised — fixture broken")
  }

  test("AQE-EXECUTED probe (isFinalPlan): the merge hint holds at runtime " +
    "and the index side still carries zero exchange") {
    val spark = graft.streaming.StreamFixture.spark
    assume(spark.conf.get("spark.sql.adaptive.enabled") == "true",
      "AQE must be on for a final-plan check")
    val (table, _) = Dedup.buildGramServeState(spark, d)
    val probe = Dedup.bucketedGramProbe(spark, table,
      Dedup.substringGrams(Dedup.substringInjectedDocs(spark, d)
        .filter(col("doc_id") % 5 === 2)))
    probe.queryExecution.toRdd.count() // execute → adaptive final plan
    // descend the wrappers collect() won't cross (the AqeFinalPlanSpec walk)
    def walk(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        p +: walk(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        p +: walk(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        p +: walk(r.child)
      case _ => p +: p.children.flatMap(walk)
    }
    val root = probe.queryExecution.executedPlan
    val smj = walk(root).collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
    assert(smj.nonEmpty,
      s"AQE demoted the hinted merge join at runtime:\n$root")
    val idxExchanges = walk(smj.head.right).collect { case e: Exchange => e }
    assert(idxExchanges.isEmpty,
      s"index side shuffles in the EXECUTED final plan:\n${smj.head.right}")
    assert(walk(smj.head.right).exists {
      case sc: FileSourceScanExec => sc.bucketedScan; case _ => false },
      s"executed index side is not the bucketed scan:\n${smj.head.right}")
  }

  test("purge-aware refcount probe over the bucketed (g,cnt) table: zero " +
    "index-side exchange; probe == full-serve presence; fresh purge flips") {
    val spark = graft.streaming.StreamFixture.spark
    import spark.implicits._
    val sharedText = (0 until 20).map(i => "shared" + i).mkString(" ")
    val prior = Dedup.substringInjectedDocs(spark, d)
      .filter(col("doc_id") % 5 =!= 2)
      .union(Seq((800001L, sharedText)).toDF("doc_id", "text"))
    val statePath = java.nio.file.Files
      .createTempDirectory("graft-refgram-bkt").toString + "/idx"
    val pub = lit("publish")
    Dedup.refGramIndexSink(statePath)(
      prior.filter(col("doc_id") % 2 === 0).withColumn("op", pub), 0L)
    Dedup.refGramIndexSink(statePath)(
      prior.filter(col("doc_id") % 2 === 1).withColumn("op", pub), 1L)
    val table = "graft_refgramidx_spec"
    Dedup.compactRefGramIndex(spark, statePath, table)
    // fresh (post-compaction) epoch purges the shared-text doc
    Dedup.refGramIndexSink(statePath)(
      Seq((800001L, sharedText, "purge")).toDF("doc_id", "text", "op"), 2L)
    val fresh = spark.read.parquet(s"$statePath/grams/batch=2")
    val batch = Seq(
      (900001L, "probe preamble words " + sharedText + " probe epilogue words"),
      (900002L, "entirely unique probe content sharing nothing with anyone"))
      .toDF("doc_id", "text")
    val bg = Dedup.substringGrams(batch)

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val probe = Dedup.refGramProbe(spark, table, fresh, bg)
      val plan = probe.queryExecution.executedPlan
      val smj = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
      assert(smj.nonEmpty, s"refcount probe must plan a sort-merge join:\n$plan")
      val idxSide = smj.head.right
      assert(idxSide.collect { case e: Exchange => e }.isEmpty,
        s"index side of the refcount probe must not shuffle:\n$idxSide")
      assert(idxSide.collect {
        case sc: FileSourceScanExec if sc.bucketedScan => sc }.nonEmpty,
        s"index side must scan the bucketed (g,cnt) table in place:\n$idxSide")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")

    def wins(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val probed = wins(Dedup.refGramProbe(spark, table, fresh, bg))
    val presence = Dedup.refGramIndexFromState(spark, statePath).select(col("g"))
    val expected = wins(bg.join(presence, Seq("g"), "left_semi")
      .select(col("doc_id"), col("i")))
    assert(probed == expected,
      "bucketed refcount probe diverged from full-serve presence\n" +
        s"probe-only: ${(probed -- expected).take(3)}\n" +
        s"presence-only: ${(expected -- probed).take(3)}")
    // teeth: without the fresh purge leg the shared run WOULD be marked;
    // with it, the purge nets the compacted cnt to zero
    val emptyFresh = Seq.empty[(String, Long)].toDF("g", "delta")
    val noFresh = wins(Dedup.refGramProbe(spark, table, emptyFresh, bg))
    assert(noFresh.exists(_._1 == 900001L),
      "shared run not marked from the compacted table — fixture broken")
    assert(!probed.exists(_._1 == 900001L),
      "fresh purge delta did not cancel the compacted refcount")
  }
}
