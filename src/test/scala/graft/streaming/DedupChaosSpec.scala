package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Crash-recovery twin for streaming CC maintenance (r14, VERDICT r13
  * task 4). StreamingDedupSpec pins served == full recompute per chunk on
  * the happy path; this suite kills the maintainer at EVERY commit
  * boundary of [[Dedup.PersistedClusterMaintainer]] and proves the
  * restarted instance converges to the same labeling as the full
  * recompute:
  *  - crash injected between fold and state commit (the rename) — the
  *    epoch is NOT committed, the restart re-delivers it (the structured
  *    streaming foreachBatch contract: an uncommitted batch replays with
  *    the same id) and the re-fold lands on the identical state, even
  *    with the dead attempt's half-written temp dir still on disk;
  *  - re-delivery of an ALREADY-committed epoch (crash after rename,
  *    before the streaming engine commits its own offset log) — detected
  *    and skipped, state byte-identical.
  * The driver loop below IS the redelivery semantics: fold(id, chunk) in
  * order, on crash construct a FRESH maintainer over the same stateDir
  * (the restart) and re-deliver the same epoch id. */
class DedupChaosSpec extends AnyFunSuite {

  val d = "/root/testdata/sf0.001"

  private def labelSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("persisted CC maintainer: crash between fold and commit, restart, " +
    "re-delivery → final labeling == full recompute") {
    val spark = StreamFixture.spark
    import spark.implicits._

    val pairs = graft.SparkEntry.queries("ngram_jaccard")(spark, d)
      .select(col("doc_a"), col("doc_b"))
      .as[(Long, Long)].collect().sortBy(p => (p._1, p._2)).toSeq
    assert(pairs.size >= 3, s"fixture must have enough near-dup pairs: ${pairs.size}")
    // same chunking as StreamingDedupSpec, incl. the synthetic bridge
    // edge that forces a cross-chunk component merge INSIDE the replayed
    // epoch — the crash lands mid-merge, not on a trivial fold
    val (c1, rest) = pairs.splitAt(pairs.size / 3)
    val (c2, c3raw) = rest.splitAt(rest.size / 2)
    val c3 = c3raw :+ ((c1.head._1, c2.head._1))
    val chunks = Seq(c1, c2, c3)

    val stateDir = Files.createTempDirectory("graft-ccstate-chaos").toString
    val m1 = new Dedup.PersistedClusterMaintainer(spark, stateDir)
    m1.fold(0L, c1.toDF("doc_a", "doc_b"))
    assert(m1.lastCommitted.contains(0L), "epoch 0 must commit")

    // leave a stale half-written temp behind as well: the dead attempt's
    // directory must be overwritten by the replay, not trip it up
    m1.crashBeforeCommit = () => throw new RuntimeException("injected crash")
    val crashed = intercept[RuntimeException] {
      m1.fold(1L, c2.toDF("doc_a", "doc_b"))
    }
    assert(crashed.getMessage == "injected crash")
    assert(m1.lastCommitted.contains(0L),
      "a crash BEFORE the rename must leave epoch 1 uncommitted")
    assert(new java.io.File(stateDir, ".tmp-epoch-1").exists(),
      "the dead attempt's temp dir should still be on disk (fixture sanity)")

    // restart: fresh maintainer over the same state dir; the streaming
    // engine re-delivers the uncommitted epoch with the same id
    val m2 = new Dedup.PersistedClusterMaintainer(spark, stateDir)
    assert(m2.lastCommitted.contains(0L), "restart resumes from epoch 0")
    m2.fold(1L, c2.toDF("doc_a", "doc_b"))
    m2.fold(2L, c3.toDF("doc_a", "doc_b"))
    assert(m2.lastCommitted.contains(2L))

    val served = labelSet(m2.serve())
    val full = labelSet(
      Dedup.clusterPairs(chunks.flatten.toDF("doc_a", "doc_b")))
    assert(served == full,
      "post-crash recovered labeling != full recompute\n" +
        s"served-only: ${(served -- full).take(3)}\nfull-only: ${(full -- served).take(3)}")
  }

  test("persisted CC maintainer: re-delivery of a COMMITTED epoch is a " +
    "no-op (crash after rename, before the engine's offset commit)") {
    val spark = StreamFixture.spark
    import spark.implicits._

    val pairs = graft.SparkEntry.queries("ngram_jaccard")(spark, d)
      .select(col("doc_a"), col("doc_b"))
      .as[(Long, Long)].collect().sortBy(p => (p._1, p._2)).toSeq
    val (c1, c2) = pairs.splitAt(pairs.size / 2)

    val stateDir = Files.createTempDirectory("graft-ccstate-idem").toString
    val m1 = new Dedup.PersistedClusterMaintainer(spark, stateDir)
    m1.fold(0L, c1.toDF("doc_a", "doc_b"))
    m1.fold(1L, c2.toDF("doc_a", "doc_b"))
    val before = labelSet(m1.serve())

    // restart straight after the rename: the offset log never recorded
    // epoch 1, so it is re-delivered — must be skipped, state unchanged
    val m2 = new Dedup.PersistedClusterMaintainer(spark, stateDir)
    m2.fold(1L, c2.toDF("doc_a", "doc_b"))
    assert(m2.lastCommitted.contains(1L))
    assert(labelSet(m2.serve()) == before,
      "re-folding a committed epoch must not change the state")
    assert(labelSet(m2.serve()) ==
      labelSet(Dedup.clusterPairs(pairs.toDF("doc_a", "doc_b"))),
      "idempotent replay must still equal the full recompute")
  }
}
