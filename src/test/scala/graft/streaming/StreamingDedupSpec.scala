package graft.streaming

import java.nio.file.Files
import java.util.UUID

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** The streaming face of near-dup detection: LSH bucket ownership as the
  * single stateful stage, with the signature computation proven equal to
  * the batch (oracle-matched) md5 MinHash path. */
class StreamingDedupSpec extends AnyFunSuite {

  private val d = "/root/testdata/sf0.001"

  test("bandKeysLocal reproduces the batch md5 signature/band pipeline per document") {
    val spark = StreamFixture.spark
    val docs = graft.Tables.documents(spark, d).select("doc_id", "text")
    // batch truth: the oracle-matched wide-agg path
    val batch = Dedup.md5BandTableForTest(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    val texts = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    assert(texts.nonEmpty)
    texts.foreach { case (id, text) =>
      val local = Dedup.bandKeysLocal(text)
      val expected = batch.getOrElse(id, Seq.empty)
      assert(local == expected,
        s"doc $id: local band keys diverge from the batch pipeline")
    }
  }

  test("streaming bucket ownership: first-seen wins, equals the batch min-id ownership table") {
    val spark = StreamFixture.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val docs = graft.Tables.documents(spark, d)
      .select($"doc_id", $"text").as[(Long, String)]
      .collect().sortBy(_._1)
    val (batch1, batch2) = docs.splitAt(docs.length / 2)

    val input = MemoryStream[(Long, String)]
    val hits = Dedup.nearDupStream(input.toDF().toDF("doc_id", "text"))
    val name = "neardup_" + UUID.randomUUID().toString.replace("-", "")
    val query = hits.toDF().writeStream
      .outputMode("append")
      .queryName(name)
      .format("memory")
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt").toString)
      .trigger(Trigger.ProcessingTime("25 milliseconds"))
      .start()
    try {
      input.addData(batch1: _*)
      query.processAllAvailable()
      input.addData(batch2: _*)
      query.processAllAvailable()

      val got = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      // fed in doc_id order, first-seen == global min id per bucket, which
      // is exactly the batch ownership table
      val expectedOwner = Dedup.md5BandTableForTest(
          graft.Tables.documents(spark, d).select("doc_id", "text"))
        .groupBy("bkey").agg(min("doc_id").as("owner"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got.nonEmpty)
      got.foreach { case (id, bkey, owner) =>
        assert(owner == expectedOwner(bkey),
          s"bucket $bkey: stream owner $owner vs batch ${expectedOwner(bkey)}")
        assert(owner <= id, "owner must be first-seen (min id under ordered feed)")
      }
      // every (doc, bkey) claim the batch table has must have streamed out
      val gotPairs = got.map(h => (h._1, h._2)).toSet
      val batchPairs = Dedup.md5BandTableForTest(
          graft.Tables.documents(spark, d).select("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getString(2))).toSet
      assert(gotPairs == batchPairs,
        s"missing: ${(batchPairs -- gotPairs).take(3)}; extra: ${(gotPairs -- batchPairs).take(3)}")
      // near-dup candidates: docs hitting a bucket someone else owns
      val candidates = got.collect { case (id, _, owner) if owner != id => id }.toSet
      assert(candidates.nonEmpty, "corpus has near-dups; stream must flag candidates")
      // state is bounded by DISTINCT buckets, not stream length
      val stateRows = Option(query.lastProgress).toSeq
        .flatMap(_.stateOperators).map(_.numRowsTotal).sum
      assert(stateRows.toInt == expectedOwner.size,
        s"state rows $stateRows != ${expectedOwner.size} distinct buckets")
    } finally query.stop()
  }

  test("bucket TTL evicts quiet buckets: state drains to zero after the window") {
    val spark = StreamFixture.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val docs = graft.Tables.documents(spark, d)
      .select($"doc_id", $"text").as[(Long, String)]
      .collect().sortBy(_._1).take(50)

    val input = MemoryStream[(Long, String)]
    val hits = Dedup.nearDupStream(input.toDF().toDF("doc_id", "text"), bucketTtlMs = 300)
    val name = "ttl_" + UUID.randomUUID().toString.replace("-", "")
    val query = hits.toDF().writeStream
      .outputMode("append")
      .queryName(name)
      .format("memory")
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt").toString)
      .trigger(Trigger.ProcessingTime("25 milliseconds"))
      .start()
    try {
      def stateRows = Option(query.lastProgress).toSeq
        .flatMap(_.stateOperators).map(_.numRowsTotal).sum
      input.addData(docs: _*)
      // NO processAllAvailable here: with processing-time timeouts firing
      // every trigger, it can wait forever for a quiet batch (EvictionSpec
      // polls for the same reason). Poll the sink + state metrics instead.
      val populated = {
        val deadline = System.currentTimeMillis() + 20000
        while ((spark.table(name).count() == 0 || stateRows == 0) &&
          System.currentTimeMillis() < deadline) Thread.sleep(50)
        stateRows
      }
      assert(spark.table(name).count() > 0, "hits must reach the sink")
      assert(populated > 0, "buckets must be resident right after the batch")
      // no further data: every bucket goes quiet and the TTL must drain it
      val deadline = System.currentTimeMillis() + 20000
      while (stateRows != 0 && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(stateRows == 0, s"TTL did not evict quiet buckets: $stateRows resident")
    } finally query.stop()
  }

  test("streaming CC maintenance: served labeling == full recompute after every edge chunk") {
    // r13: the foreachBatch ClusterMaintainer folds pair batches into a
    // label state (maintainClusters — the dedup_clusters_incremental
    // kernel); after each chunk the served labeling must equal
    // clusterPairs over ALL edges seen so far, including chunks whose
    // edges MERGE previously disjoint components. State is the label
    // table only — edges are consumed and dropped.
    val spark = StreamFixture.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val pairs = graft.SparkEntry.queries("ngram_jaccard")(spark, d)
      .select(col("doc_a"), col("doc_b"))
      .as[(Long, Long)].collect().sortBy(p => (p._1, p._2)).toSeq
    assert(pairs.size >= 3, s"fixture must have enough near-dup pairs: ${pairs.size}")
    // 3 chunks; a synthetic bridge edge in the LAST chunk guarantees a
    // cross-chunk component merge even if the fixture's pairs are disjoint
    val (c1, rest) = pairs.splitAt(pairs.size / 3)
    val (c2, c3raw) = rest.splitAt(rest.size / 2)
    val bridge = (c1.head._1, c2.head._1) // joins a chunk-1 and a chunk-2 component
    val c3 = c3raw :+ bridge

    val maintainer = new Dedup.ClusterMaintainer(spark)
    val input = MemoryStream[(Long, Long)]
    val query = input.toDF().toDF("doc_a", "doc_b").writeStream
      .outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt").toString)
      .foreachBatch { (epoch: org.apache.spark.sql.DataFrame, _: Long) =>
        maintainer.fold(epoch); ()
      }
      .start()
    try {
      var seen = Seq.empty[(Long, Long)]
      for (chunk <- Seq(c1, c2, c3)) {
        input.addData(chunk: _*)
        query.processAllAvailable()
        seen = seen ++ chunk
        val served = maintainer.serve().collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        val full = Dedup.clusterPairs(seen.toDF("doc_a", "doc_b")).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(served == full,
          s"after ${seen.size} edges: served != full recompute\n" +
            s"served-only: ${(served -- full).take(3)}\nfull-only: ${(full -- served).take(3)}")
      }
      // the bridge edge must have actually merged two components: its two
      // endpoints share a label in the final state
      val lab = maintainer.serve().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(lab(bridge._1) == lab(bridge._2), "bridge endpoints not merged")
    } finally query.stop()
  }
}
