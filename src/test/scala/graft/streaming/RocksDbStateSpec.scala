package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The 100 TB state story runs on RocksDB, not the default in-memory
  * HDFS-backed store: a months-long validation job's keyed state must
  * spill to local disk and restore incrementally from the checkpoint.
  * This spec runs the full pipeline — lifecycle, completion timer, TTL
  * eviction — against `RocksDBStateStoreProvider` (rocksdbjni ships with
  * Spark), proving the BatchTracker design is state-backend-agnostic and
  * the production backend actually works, not just the test default. */
class RocksDbStateSpec extends AnyFunSuite {

  import BatchStatus._
  import StreamFixture._

  val Topic = "ingest.porcupine.data-int1.in"

  def notif(b: String, status: String, expected: Option[Int] = None): BatchNotification =
    BatchNotification(b, b, status, "procedure",
      "2020-04-08T03:02:23Z", "2020-04-11T16:02:44Z", expected, Topic)

  def rec(key: Int, b: String): HriRecord =
    HriRecord(Seq(HriHeader("batchId", b.getBytes(UTF_8))),
      key.toString.getBytes(UTF_8), s"body-$key".getBytes(UTF_8), Topic, 0, key.toLong)

  test("full lifecycle + TTL eviction on the RocksDB state store") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(providerKey)
    s.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[PipelineEvent]
      val tracker = new BatchTracker(PassthroughValidator, new MapBatchLookup(Seq.empty),
        "porcupine", 100L)
      val outputs = ValidationJob.pipeline(input.toDS(), tracker)
      val collected = new ConcurrentLinkedQueue[Output]()
      val query = outputs.writeStream
        .outputMode("append")
        .option("checkpointLocation", Files.createTempDirectory("graft-rocks-ckpt").toString)
        .trigger(Trigger.ProcessingTime("25 milliseconds"))
        .foreachBatch { (b: Dataset[Output], _: Long) => b.collect().foreach(collected.add) }
        .start()
      try {
        val b = "rocks-batch"
        input.addData(PipelineEvent.of(notif(b, Started), 0) +:
          (1 to 20).map(i => PipelineEvent.of(rec(i, b), i.toLong)) :+
          PipelineEvent.of(notif(b, SendCompleted, Some(20)), 21): _*)
        val out = await(() => collected.asScala.toSeq)(
          r => notifs(r).exists(_.status == Completed))
        val done = notifs(out).filter(_.status == Completed)
        assert(done.map(_.recordCount) == Seq(Some(20)), s"on RocksDB: ${notifs(out)}")
        assert(valids(out).size == 20 && invalids(out).isEmpty)

        // the terminal tombstone must evict from RocksDB too
        val deadline = System.currentTimeMillis() + 30000
        def rows = Option(query.lastProgress).map(_.stateOperators).filter(_.nonEmpty)
          .map(_.head.numRowsTotal).getOrElse(-1L)
        while (rows != 0 && System.currentTimeMillis() < deadline) Thread.sleep(100)
        assert(rows == 0, s"state rows not evicted on RocksDB: $rows")
      } finally query.stop()
    } finally {
      prev match {
        case Some(v) => s.conf.set(providerKey, v)
        case None    => s.conf.unset(providerKey)
      }
    }
  }
}
