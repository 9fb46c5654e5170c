package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.Tables
import graft.streaming.StreamFixture.spark

/** The persisted/mergeable [[CurationState]] artifact (r9 VERDICT task 1):
  * every statistic is an integer count, a distinct string set, or an exact
  * parquet double — so (a) a finalize over ANY split of the state corpus
  * into partial batches equals the direct whole-corpus computation frame by
  * frame, and (b) serving a fresh batch from the written-then-loaded
  * artifact equals the direct in-memory pipeline row for row. The driver's
  * curate_incremental hash gate additionally runs through the artifact path
  * (curate_incremental writes + loads before serving). */
class CurationStateSpec extends AnyFunSuite {

  val d = "/root/testdata/sf0.001"

  def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  def assertFrameEqual(a: DataFrame, b: DataFrame, what: String): Unit = {
    assert(a.schema.map(f => (f.name, f.dataType)) ==
      b.schema.map(f => (f.name, f.dataType)), s"$what schema")
    assert(sortedRows(a) == sortedRows(b), s"$what rows")
  }

  lazy val docs = Tables.documents(spark, d)
  lazy val state = docs.filter(col("doc_id") % 2 === 0)
  lazy val fresh = docs.filter(col("doc_id") % 2 === 1)

  test("write → load round-trips every frame exactly") {
    val path = tmp("cs-roundtrip")
    val direct = CurationState.compute(state)
    CurationState.write(direct, path)
    val loaded = CurationState.load(spark, path)
    assertFrameEqual(loaded.fp, direct.fp, "fp")
    assertFrameEqual(loaded.c1, direct.c1, "c1")
    assertFrameEqual(loaded.c2, direct.c2, "c2")
    assertFrameEqual(loaded.stats, direct.stats, "stats")
    assertFrameEqual(loaded.bounds, direct.bounds, "bounds")
    assertFrameEqual(loaded.srcCounts, direct.srcCounts, "srcCounts")
    assertFrameEqual(loaded.benchGrams, direct.benchGrams, "benchGrams")
  }

  test("merged partials (3-way split) == direct whole-state computation") {
    val partials = tmp("cs-partials")
    val frozen = tmp("cs-frozen")
    (0 until 3).foreach { i =>
      CurationState.writePartial(
        state.filter(pmod(col("doc_id"), lit(3)) === i), partials, i.toLong)
    }
    CurationState.finalizeFromPartials(spark, partials, frozen)
    val merged = CurationState.load(spark, frozen)
    val direct = CurationState.compute(state)
    assertFrameEqual(merged.fp, direct.fp, "fp")
    assertFrameEqual(merged.c1, direct.c1, "c1")
    assertFrameEqual(merged.c2, direct.c2, "c2")
    assertFrameEqual(merged.stats, direct.stats, "stats")
    assertFrameEqual(merged.bounds, direct.bounds, "bounds")
    assertFrameEqual(merged.srcCounts, direct.srcCounts, "srcCounts")
    assertFrameEqual(merged.benchGrams, direct.benchGrams, "benchGrams")
  }

  test("merged partials (10-way split) == direct whole-state computation " +
    "(r10 VERDICT task 4: the merge algebra is split-count invariant)") {
    val partials = tmp("cs-partials10")
    val frozen = tmp("cs-frozen10")
    (0 until 10).foreach { i =>
      CurationState.writePartial(
        state.filter(pmod(col("doc_id"), lit(10)) === i), partials, i.toLong)
    }
    CurationState.finalizeFromPartials(spark, partials, frozen)
    val merged = CurationState.load(spark, frozen)
    val direct = CurationState.compute(state)
    assertFrameEqual(merged.c1, direct.c1, "c1 (10-way)")
    assertFrameEqual(merged.c2, direct.c2, "c2 (10-way)")
    assertFrameEqual(merged.stats, direct.stats, "stats (10-way)")
    assertFrameEqual(merged.bounds, direct.bounds, "bounds (10-way)")
    assertFrameEqual(merged.fp, direct.fp, "fp (10-way)")
    assertFrameEqual(merged.srcCounts, direct.srcCounts, "srcCounts (10-way)")
    assertFrameEqual(merged.benchGrams, direct.benchGrams, "benchGrams (10-way)")
  }

  test("a retried partial batch overwrites its own directory (idempotent replay)") {
    val partials = tmp("cs-replay")
    val frozenOnce = tmp("cs-frozen-once")
    val frozenTwice = tmp("cs-frozen-twice")
    val half = state.filter(col("doc_id") % 4 === 0)
    val rest = state.filter(col("doc_id") % 4 === 2)
    CurationState.writePartial(half, partials, 0L)
    CurationState.writePartial(rest, partials, 1L)
    CurationState.finalizeFromPartials(spark, partials, frozenOnce)
    // replay batch 1 — a retried micro-batch must not double-count
    CurationState.writePartial(rest, partials, 1L)
    CurationState.finalizeFromPartials(spark, partials, frozenTwice)
    val a = CurationState.load(spark, frozenOnce)
    val b = CurationState.load(spark, frozenTwice)
    assertFrameEqual(a.c1, b.c1, "c1 after replay")
    assertFrameEqual(a.stats, b.stats, "stats after replay")
    assertFrameEqual(a.bounds, b.bounds, "bounds after replay")
  }

  test("serving from the loaded artifact == the direct in-memory pipeline") {
    val path = tmp("cs-serve")
    CurationState.write(CurationState.compute(state), path)
    val viaArtifact = Pipeline.curateIncrementalFromState(
      CurationState.load(spark, path), fresh)
    val direct = Pipeline.curateIncremental(state, fresh)
    assertFrameEqual(viaArtifact, direct, "curate_incremental")
    spark.catalog.clearCache()
  }

  test("serving from merged partials == serving from the direct artifact") {
    val partials = tmp("cs-partial-serve")
    val frozen = tmp("cs-frozen-serve")
    (0 until 2).foreach { i =>
      CurationState.writePartial(
        state.filter(pmod(col("doc_id"), lit(4)) === i * 2), partials, i.toLong)
    }
    CurationState.finalizeFromPartials(spark, partials, frozen)
    val viaMerged = Pipeline.curateIncrementalFromState(
      CurationState.load(spark, frozen), fresh)
    val direct = Pipeline.curateIncremental(state, fresh)
    assertFrameEqual(viaMerged, direct, "curate_incremental via merged state")
    spark.catalog.clearCache()
  }
}
