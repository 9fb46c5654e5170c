package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Streaming-level proof of the two round-3 state-machine fixes:
  *
  *  1. Timer re-arm across triggers — Spark clears a key's stored
  *     processing-time timeout on every invocation, so a record arriving in
  *     a LATER micro-batch while the batch sits in sendCompleted used to
  *     cancel the completion-delay timer and strand the batch forever
  *     (reference behavior: the batch still finalizes after the delay,
  *     spec.rb:320-356 flow). This cannot be caught by TestGroupState unit
  *     tests (single invocation) — only by a real multi-trigger query.
  *
  *  2. State eviction — terminal batches carry a TTL tombstone and are then
  *     removed, so the state store tracks ACTIVE batches, not all batches
  *     ever (the 100 TB months-long-job requirement). Observed here via the
  *     query's stateOperators progress metrics, and the clause-5 late-record
  *     routing is re-proven across an eviction via the BatchLookup re-seed.
  */
class EvictionSpec extends AnyFunSuite {

  import BatchStatus._
  import StreamFixture._

  val Topic = "ingest.porcupine.data-int1.in"

  def notif(b: String, status: String, expected: Option[Int] = None): BatchNotification =
    BatchNotification(b, b, status, "procedure",
      "2020-04-08T03:02:23Z", "2020-04-11T16:02:44Z", expected, Topic)

  def rec(key: Int, b: String): HriRecord =
    HriRecord(Seq(HriHeader("batchId", b.getBytes(UTF_8))),
      key.toString.getBytes(UTF_8), s"body-$key".getBytes(UTF_8), Topic, 0, key.toLong)

  /** Like StreamFixture.runPipeline but exposes the query (for progress
    * metrics). The terminal TTL is the tracker's 2× completionDelayMs. */
  def runQuery(
      completionDelayMs: Long,
      lookup: BatchLookup = new MapBatchLookup(Seq.empty))(
      script: (MemoryStream[PipelineEvent], () => Seq[Output], StreamingQuery) => Unit): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[PipelineEvent]
    val tracker = new BatchTracker(PassthroughValidator, lookup, "porcupine",
      completionDelayMs)
    val outputs = ValidationJob.pipeline(input.toDS(), tracker)
    val collected = new ConcurrentLinkedQueue[Output]()
    val query = outputs.writeStream
      .outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("graft-evict-ckpt").toString)
      .trigger(Trigger.ProcessingTime("25 milliseconds"))
      .foreachBatch { (b: Dataset[Output], _: Long) => b.collect().foreach(collected.add) }
      .start()
    try script(input, () => collected.asScala.toSeq, query)
    finally query.stop()
  }

  def stateRows(q: StreamingQuery): Long =
    Option(q.lastProgress).map(_.stateOperators).filter(_.nonEmpty)
      .map(_.head.numRowsTotal).getOrElse(-1L)

  test("a record in a later trigger during the completion window does not strand the batch") {
    // The delay must outlast the gap between the sendCompleted trigger (which
    // arms the timer) and the straggler record's trigger — on a loaded box a
    // 25 ms-interval trigger can take 500+ ms, so 300 ms raced and flaked
    // (the undercount timer fired before the straggler was processed). 3 s
    // keeps the scenario identical and removes the scheduling race.
    runQuery(completionDelayMs = 3000L) { (input, results, _) =>
      val b = "rearm-batch"
      input.addData(
        PipelineEvent.of(notif(b, Started), 0),
        PipelineEvent.of(rec(1, b), 1),
        PipelineEvent.of(notif(b, SendCompleted, Some(2)), 2))
      await(results)(r => valids(r).size == 1) // separate trigger for the straggler
      input.addData(PipelineEvent.of(rec(2, b), 3)) // inside the window, count → expected
      val out = await(results)(r => notifs(r).exists(_.status == Completed))
      val done = notifs(out).filter(_.status == Completed)
      assert(done.map(_.recordCount) == Seq(Some(2)),
        s"batch stranded in sendCompleted (timer not re-armed): ${notifs(out)}")
      assert(valids(out).size == 2)
      assert(notifs(out).count(_.status == Failed) == 0)
    }
  }

  test("state store returns to zero after batches complete and TTLs fire") {
    runQuery(completionDelayMs = 100L) { (input, results, q) =>
      val batches = (1 to 5).map(i => s"ttl-batch-$i")
      val evs = batches.zipWithIndex.flatMap { case (b, i) =>
        Seq(PipelineEvent.of(notif(b, Started), 10L * i),
          PipelineEvent.of(rec(1, b), 10L * i + 1),
          PipelineEvent.of(notif(b, SendCompleted, Some(1)), 10L * i + 2))
      }
      input.addData(evs: _*)
      val out = await(results)(r => notifs(r).count(_.status == Completed) == 5)
      assert(notifs(out).count(_.status == Completed) == 5)

      // After completion + TTL, every tombstone must be evicted.
      val deadline = System.currentTimeMillis() + 30000
      var rows = stateRows(q)
      while (rows != 0 && System.currentTimeMillis() < deadline) {
        Thread.sleep(100); rows = stateRows(q)
      }
      assert(rows == 0, s"state store still holds $rows rows after terminal TTLs")
    }
  }

  test("late record after streaming eviction re-seeds from lookup and stays invalid") {
    val b = "evict-late-batch"
    val lookupKnowsCompleted = new MapBatchLookup(Seq(notif(b, Completed, Some(1))))
    runQuery(completionDelayMs = 100L,
        lookup = lookupKnowsCompleted) { (input, results, q) =>
      input.addData(
        PipelineEvent.of(notif(b, Started), 0),
        PipelineEvent.of(rec(1, b), 1),
        PipelineEvent.of(notif(b, SendCompleted, Some(1)), 2))
      await(results)(r => notifs(r).exists(_.status == Completed))

      // wait for the tombstone to be evicted
      val deadline = System.currentTimeMillis() + 30000
      while (stateRows(q) != 0 && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(stateRows(q) == 0, "precondition: state evicted")

      input.addData(PipelineEvent.of(rec(99, b), 50))
      val out = await(results)(r => invalids(r).nonEmpty)
      assert(invalids(out).size == 1)
      assert(new String(invalids(out).head.value, UTF_8) ==
        """{"failure":"Record received after batch completed"}""")
      assert(notifs(out).map(_.status) == Seq(Completed), "batch must STAY completed")
    }
  }

  test("reference semantics: a batch abandoned in `started` waits forever for its sendCompleted") {
    runQuery(completionDelayMs = 100L) { (input, results, q) =>
      input.addData(PipelineEvent.of(notif("patient-batch", Started), 0))
      val deadline = System.currentTimeMillis() + 30000
      while (stateRows(q) != 1 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(stateRows(q) == 1, "precondition: started batch in state")
      Thread.sleep(1000) // 5× the terminal TTL — `started` arms no timer at all
      assert(stateRows(q) == 1, "a started batch must stay in state")
      // and the batch is still live: records + sendCompleted finish it normally
      input.addData(
        PipelineEvent.of(rec(1, "patient-batch"), 1),
        PipelineEvent.of(notif("patient-batch", SendCompleted, Some(1)), 2))
      val out = await(results)(r => notifs(r).exists(_.status == Completed))
      assert(notifs(out).filter(_.status == Completed).map(_.recordCount) == Seq(Some(1)))
    }
  }
}
