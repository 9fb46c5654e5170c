package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** RTBF deletion propagation for the persisted CC label state (r15): a
  * purge epoch removes the purged documents from the served labeling and
  * the size counts, through the same crash-safe epoch-dir commit as a
  * fold. Semantics are CONSERVATIVE-MEMBERSHIP (documented on
  * [[Dedup.PersistedClusterMaintainer.purge]]): survivors keep their
  * cluster even if the purged doc was the bridge that merged it — the
  * expected labeling is therefore the full recompute FILTERED to live
  * docs with sizes recounted, which is exactly what this suite pins,
  * including across a crash injected inside the purge commit. */
class CcPurgeSpec extends AnyFunSuite {

  val d = "/root/testdata/sf0.001"

  test("purge epoch drops docs from served labeling + size counts; " +
    "crash-before-commit replays safely; committed purge replay is a no-op") {
    val spark = StreamFixture.spark
    import spark.implicits._

    val pairs = graft.SparkEntry.queries("ngram_jaccard")(spark, d)
      .select(col("doc_a"), col("doc_b"))
      .as[(Long, Long)].collect().sortBy(p => (p._1, p._2)).toSeq
    assert(pairs.size >= 3, s"fixture needs near-dup pairs: ${pairs.size}")
    val (c0, c1) = pairs.splitAt(pairs.size / 2)

    val stateDir = Files.createTempDirectory("graft-ccpurge").toString
    val m = new Dedup.PersistedClusterMaintainer(spark, stateDir)
    m.fold(0L, c0.toDF("doc_a", "doc_b"))
    m.fold(1L, c1.toDF("doc_a", "doc_b"))

    // purge a doc that is IN the labeling (a pair endpoint) — size
    // counts must move, and if it bridged a pair its partner survives
    val victim = pairs.head._1
    val full = Dedup.clusterPairs(pairs.toDF("doc_a", "doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.exists(_._1 == victim), "victim must be in the labeling")
    val liveLabels = full.filterNot(_._1 == victim)
    // conservative membership: components do not split; labels re-point
    // to the min LIVE member of each original cluster (labels must stay
    // member ids — the reconnection invariant purge() documents)
    val newLabel = liveLabels.groupBy(_._2)
      .map { case (c, ms) => c -> ms.map(_._1).min }
    val expectedSizes = liveLabels.groupBy(_._2).map { case (c, ms) => c -> ms.size.toLong }
    val expected = liveLabels.map { case (doc, c) =>
      (doc, newLabel(c), expectedSizes(c)) }

    // crash INSIDE the purge commit: epoch 2 stays uncommitted, the
    // restarted maintainer re-delivers it
    m.crashBeforeCommit = () => throw new RuntimeException("injected crash")
    intercept[RuntimeException] { m.purge(2L, Seq(victim).toDF("doc_id")) }
    assert(m.lastCommitted.contains(1L), "crashed purge must not commit")

    val m2 = new Dedup.PersistedClusterMaintainer(spark, stateDir)
    m2.purge(2L, Seq(victim).toDF("doc_id"))
    assert(m2.lastCommitted.contains(2L))

    val expectedRows: Set[(Long, Long, Long)] = expected.toSet
    val servedByName = m2.serve()
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(servedByName == expectedRows,
      "post-purge labeling != full recompute filtered to live docs\n" +
        s"served-only: ${(servedByName -- expectedRows).take(3)}\n" +
        s"expected-only: ${(expectedRows -- servedByName).take(3)}")
    assert(!servedByName.exists(_._1 == victim), "victim still served")

    // re-delivery of the committed purge epoch is a no-op
    m2.purge(2L, Seq(victim).toDF("doc_id"))
    val again = m2.serve()
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(again == servedByName, "replayed purge epoch changed the state")

    // and a later fold composes with the purge: new edges re-introduce
    // nothing about the purged doc unless it reappears in the stream
    m2.fold(3L, Seq((pairs.head._2, pairs.last._2)).toDF("doc_a", "doc_b"))
    val afterFold = m2.serve().select(col("doc_id")).as[Long].collect().toSet
    assert(!afterFold.contains(victim), "purged doc resurrected by a fold")
  }

  test("purging EVERY member of a cluster removes the whole cluster; " +
    "other clusters' labels and sizes are untouched") {
    // The whole-provider / whole-cluster RTBF edge the single-doc
    // scenario never reaches: with zero live members there is no min
    // live member to re-point labels to — the cluster must simply
    // vanish from the serve, while every other cluster's rows stay
    // bit-identical.
    val spark = StreamFixture.spark
    import spark.implicits._

    val pairs = graft.SparkEntry.queries("ngram_jaccard")(spark, d)
      .select(col("doc_a"), col("doc_b"))
      .as[(Long, Long)].collect().sortBy(p => (p._1, p._2)).toSeq
    val full = Dedup.clusterPairs(pairs.toDF("doc_a", "doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val clusters = full.groupBy(_._2)
    assert(clusters.size >= 2, s"fixture needs >=2 clusters: ${clusters.size}")
    val victimCluster = clusters.minBy { case (c, ms) => (ms.size, c) }._1
    val victims = clusters(victimCluster).map(_._1)

    val stateDir = Files.createTempDirectory("graft-ccgone").toString
    val m = new Dedup.PersistedClusterMaintainer(spark, stateDir)
    m.fold(0L, pairs.toDF("doc_a", "doc_b"))
    val before = m.serve()
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    m.purge(1L, victims.toSeq.toDF("doc_id"))
    val served = m.serve()
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(served == before.filterNot(r => victims.contains(r._1)),
      "surviving clusters must be untouched and the purged cluster gone")
    assert(!served.exists(r => r._2 == victimCluster),
      "the all-purged cluster must not appear under any label")
  }
}
