package graft.streaming

import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The production-ops face of X1: the reference harness watches the Flink
  * job's status and treats anything but RUNNING as fatal
  * (test/spec/flink_job.rb:54-55). Structured Streaming's equivalent signal
  * is the listener bus — these tests pin that [[OpsMonitor]] (a) surfaces
  * per-batch progress for a healthy query and (b) captures an error
  * termination and escalates it through the onFatal hook, so a deployment
  * dies loudly instead of idling beside a dead stream. */
class OpsMonitorSpec extends AnyFunSuite {

  /** Listener delivery is async — poll for the effect with a bounded wait. */
  private def eventually[A](what: String, timeoutMs: Long = 20000)(f: => Option[A]): A = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var r = f
    while (r.isEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(50); r = f
    }
    r.getOrElse(fail(s"timed out waiting for $what"))
  }

  test("a healthy query surfaces per-batch progress: batch id, rows, duration") {
    val spark = StreamFixture.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val monitor = OpsMonitor.attach(spark)
    val input = MemoryStream[Long]
    val name = "ops_" + UUID.randomUUID().toString.replace("-", "")
    val query = input.toDF().writeStream
      .outputMode("append")
      .queryName(name)
      .format("memory")
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt").toString)
      .trigger(Trigger.ProcessingTime("25 milliseconds"))
      .start()
    try {
      input.addData(1L to 40L: _*)
      query.processAllAvailable()
      val h = eventually(s"progress for $name") {
        monitor.lastProgress(query.id).filter(_.inputRows > 0)
      }
      assert(h.name == name)
      assert(h.batchId >= 0 && h.inputRows == 40 && h.triggerMs >= 0,
        s"unexpected health snapshot: $h")
      monitor.assertHealthy() // no failures recorded for a live query
    } finally {
      query.stop()
      spark.streams.removeListener(monitor)
    }
  }

  test("an error termination is captured and escalated through onFatal") {
    val spark = StreamFixture.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val escalated = new ConcurrentLinkedQueue[QueryFailure]()
    val monitor = OpsMonitor.attach(spark, f => escalated.add(f))
    val input = MemoryStream[Long]
    val name = "boom_" + UUID.randomUUID().toString.replace("-", "")
    val query = input.toDF().writeStream
      .outputMode("append")
      .queryName(name)
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt").toString)
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
        throw new RuntimeException("injected sink failure")
      }
      .start()
    monitor.watch(query.id)
    try {
      input.addData(1L, 2L, 3L)
      intercept[Exception](query.processAllAvailable()) // the query dies
      val f = eventually("failure capture") {
        monitor.failures.find(_.queryId == query.id)
      }
      assert(f.error.contains("injected sink failure"), f.error)
      val e = intercept[IllegalStateException](monitor.assertHealthy())
      assert(e.getMessage.contains("injected sink failure"), e.getMessage)
      val esc = eventually("onFatal escalation") {
        Option(escalated.peek()).filter(_.queryId == query.id)
      }
      assert(esc.error.contains("injected sink failure"))
    } finally {
      query.stop()
      spark.streams.removeListener(monitor)
    }
  }

  test("a scoped monitor buffers pre-watch failures instead of escalating them") {
    // ADVICE r6: between attach() and the watch() after start(), `watched`
    // is empty — an unscoped monitor would treat that as "monitor all" and
    // a neighbor query dying in the window would hit an exit-style
    // onFatal. Scoped mode: nothing escalates before the first watch();
    // the owned query's own pre-watch death is buffered and replayed the
    // moment watch() names it.
    val spark = StreamFixture.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val escalated = new ConcurrentLinkedQueue[QueryFailure]()
    val monitor = OpsMonitor.attach(spark, f => escalated.add(f))
    val input = MemoryStream[Long]
    val query = input.toDF().writeStream
      .outputMode("append")
      .queryName("scoped_" + UUID.randomUUID().toString.replace("-", ""))
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt").toString)
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
        throw new RuntimeException("pre-watch failure")
      }
      .start()
    try {
      input.addData(1L)
      intercept[Exception](query.processAllAvailable()) // the query dies
      // let the async terminated event land, then assert it did NOT escalate
      Thread.sleep(500)
      assert(escalated.isEmpty, s"scoped monitor escalated before watch(): $escalated")
      assert(monitor.failures.isEmpty)
      monitor.assertHealthy()
      // naming the dead query replays its buffered failure
      monitor.watch(query.id)
      val esc = eventually("buffered replay on watch()") {
        Option(escalated.peek()).filter(_.queryId == query.id)
      }
      assert(esc.error.contains("pre-watch failure"), esc.error)
      assert(monitor.failures.exists(_.queryId == query.id))
    } finally {
      query.stop()
      spark.streams.removeListener(monitor)
    }
  }

  test("a scoped monitor buffers a SECOND query's pre-watch failure even while one query is watched") {
    // review finding (r7): the buffer branch previously required
    // watched.isEmpty, so once query A was watched, query B dying in its
    // own attach-to-watch window was neither escalated nor buffered —
    // watch(B) replayed nothing and B's death vanished.
    val spark = StreamFixture.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val escalated = new ConcurrentLinkedQueue[QueryFailure]()
    val monitor = OpsMonitor.attach(spark, f => escalated.add(f))
    val inputA = MemoryStream[Long]
    val healthy = inputA.toDF().writeStream
      .outputMode("append")
      .queryName("scopedA_" + UUID.randomUUID().toString.replace("-", ""))
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt").toString)
      .format("memory")
      .start()
    val inputB = MemoryStream[Long]
    val doomed = inputB.toDF().writeStream
      .outputMode("append")
      .queryName("scopedB_" + UUID.randomUUID().toString.replace("-", ""))
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt").toString)
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
        throw new RuntimeException("second-query pre-watch failure")
      }
      .start()
    try {
      monitor.watch(healthy.id) // A is watched; B is still in its window
      inputB.addData(1L)
      intercept[Exception](doomed.processAllAvailable())
      Thread.sleep(500)
      assert(escalated.isEmpty, s"escalated before watch(B): $escalated")
      monitor.watch(doomed.id)
      val esc = eventually("buffered replay of B on watch(B)") {
        Option(escalated.peek()).filter(_.queryId == doomed.id)
      }
      assert(esc.error.contains("second-query pre-watch failure"), esc.error)
    } finally {
      healthy.stop(); doomed.stop()
      spark.streams.removeListener(monitor)
    }
  }
}
