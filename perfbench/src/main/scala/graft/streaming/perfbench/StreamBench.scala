package graft.streaming.perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

import graft.streaming._
import graft.streaming.ValidationJob.{EpochCommitLog, OutputSink}

/** Counters of the bench-owned Validator and BatchLookup wrappers. They
  * count only while [[Trace.on]]: the untraced runs call straight through. */
object LayerCounters {
  val validatorCalls = new LongAdder
  val validatorNs = new LongAdder
  val lookupCalls = new LongAdder
  val lookupMisses = new LongAdder
  val lookupNs = new LongAdder
  val lookupKeys = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def snapshot(): Map[String, Double] = Map(
    "validator.calls" -> validatorCalls.sum.toDouble,
    "validator.busy_ms" -> validatorNs.sum / 1e6,
    "lookup.calls" -> lookupCalls.sum.toDouble,
    "lookup.misses" -> lookupMisses.sum.toDouble,
    "lookup.busy_ms" -> lookupNs.sum / 1e6,
    "lookup.keys" -> lookupKeys.size.toDouble)
}

final class TimedValidator(inner: Validator) extends Validator {
  override def isValid(record: HriRecord): (Boolean, Option[String]) =
    if (!Trace.on) inner.isValid(record)
    else {
      val t0 = System.nanoTime()
      try inner.isValid(record)
      finally {
        LayerCounters.validatorNs.add(System.nanoTime() - t0)
        LayerCounters.validatorCalls.increment()
      }
    }
}

final class TimedLookup(inner: BatchLookup) extends BatchLookup {
  override def getBatchId(tenantId: String, batchId: String): Try[BatchNotification] =
    if (!Trace.on) inner.getBatchId(tenantId, batchId)
    else {
      val t0 = System.nanoTime()
      val r = inner.getBatchId(tenantId, batchId)
      LayerCounters.lookupNs.add(System.nanoTime() - t0)
      LayerCounters.lookupCalls.increment()
      LayerCounters.lookupKeys.add(batchId)
      if (r.isFailure) LayerCounters.lookupMisses.increment()
      r
    }
}

/** Everything one streaming query delivered, with the time each sink step
  * committed. Filled on the micro-batch thread; read after the query stops. */
object Capture {
  final case class Delivery(epoch: Long, step: String, rows: Array[Row])
  final case class Epoch(epoch: Long, startMs: Double, endMs: Double, traced: Boolean,
      steps: Map[String, (Double, Double)], commitlogMs: Double, k4Ms: Double, k4Calls: Int)
}

final class Capture(val tag: String) {
  import Capture._

  val deliveries = new ConcurrentLinkedQueue[Delivery]()
  val mgmtCalls = new ConcurrentLinkedQueue[(Long, String, String)]()
  val epochs = mutable.ArrayBuffer.empty[Epoch]
  val progress = new ConcurrentLinkedQueue[JsonNode]()
  val recordRows = new AtomicLong
  val notificationRows = new AtomicLong
  @volatile var lastOutputEpoch = -1L

  // state of the epoch in flight
  @volatile var epoch = -1L
  private var steps = Map.empty[String, (Double, Double)]
  private var commitlogMs = 0.0
  private var k4 = (Double.NaN, Double.NaN, 0.0, 0)

  def trace: String = s"$tag/b$epoch"

  def beginEpoch(e: Long): Unit = {
    epoch = e; steps = Map.empty; commitlogMs = 0.0; k4 = (Double.NaN, Double.NaN, 0.0, 0)
  }

  def endEpoch(startMs: Double, endMs: Double, traced: Boolean): Unit = synchronized {
    val (k4Start, k4End, k4Ms, k4Calls) = k4
    if (k4Calls > 0) {
      steps += "k4" -> (k4Start, k4End)
      if (traced) Trace.add(0L, trace, "sink.k4", k4Start, k4End)
    }
    epochs += Epoch(epoch, startMs, endMs, traced, steps, commitlogMs, k4Ms, k4Calls)
  }

  def delivered(step: String, rows: Array[Row], startMs: Double, endMs: Double): Unit = {
    steps += step -> (startMs, endMs)
    deliveries.add(Delivery(epoch, step, rows))
    if (rows.nonEmpty) {
      if (step == "k3") notificationRows.addAndGet(rows.length)
      else recordRows.addAndGet(rows.length)
      lastOutputEpoch = epoch
    }
  }

  def commitlog[T](sc: org.apache.spark.SparkContext)(body: => T): T = {
    val t0 = Trace.nowMs()
    try Trace.span(sc, "commitlog", trace)(body)
    finally commitlogMs += Trace.nowMs() - t0
  }

  def mgmtCall(batchId: String, json: String, startMs: Double, endMs: Double): Unit = {
    mgmtCalls.add((epoch, batchId, json))
    val (s, _, ms, n) = k4
    k4 = (if (n == 0) startMs else s, endMs, ms + (endMs - startMs), n + 1)
  }
}

/** The bench-owned K1–K3 sink: collects each step's rows to the driver, the
  * way a producer ships them off the executors, and stamps the commit. */
final class CaptureSink(topics: Topics, cap: Capture) extends OutputSink {
  override def write(df: DataFrame, topic: String): Unit = {
    val step = if (topic == topics.out) "k1" else if (topic == topics.invalid) "k2" else "k3"
    val t0 = Trace.nowMs()
    val rows = Trace.span(df.sparkSession.sparkContext, s"sink.$step", cap.trace)(df.collect())
    cap.delivered(step, rows, t0, Trace.nowMs())
  }
}

/** The bench-owned K4 Management-API client: records each status PUT. */
final class CaptureMgmt(cap: Capture) extends MgmtClient {
  override def putStatus(tenantId: String, batchId: String, notificationJson: String): Try[Unit] = Try {
    val t0 = Trace.nowMs()
    cap.mgmtCall(batchId, notificationJson, t0, Trace.nowMs())
  }
}

object StreamBench {

  /** Kafka row shape (FIXTURES A.2) as JSON lines: binary fields are
    * base64, the broker timestamp is epoch milliseconds. */
  val KafkaRowSchema: StructType = new StructType()
    .add("key", BinaryType)
    .add("value", BinaryType)
    .add("topic", StringType)
    .add("partition", IntegerType)
    .add("offset", LongType)
    .add("timestampMs", LongType)
    .add("headers", ArrayType(new StructType().add("key", StringType).add("value", BinaryType)))

  final case class Conf(
      topics: Topics,
      completionDelayMs: Long,
      trigger: Trigger,
      maxFilesPerTrigger: Int,
      lookup: BatchLookup)

  /** Composes the unchanged job the way [[ValidationJob.startKafka]] does,
    * minus Kafka: one file source in Kafka row shape → recordEvents /
    * notificationEvents → pipeline with BatchTracker → foreachBatch with
    * EpochCommitLog and writeOutputs → bench-owned sink and Mgmt client.
    * Both topics come from ONE source so a notification can never be
    * admitted in an earlier trigger than the records written before it. */
  def start(spark: SparkSession, conf: Conf, srcDir: String, ckpt: String, cap: Capture): StreamingQuery = {
    val reader = spark.readStream.schema(KafkaRowSchema)
    val raw = (if (conf.maxFilesPerTrigger > 0)
        reader.option("maxFilesPerTrigger", conf.maxFilesPerTrigger.toLong) else reader)
      .json(srcDir)
      .withColumn("timestamp", timestamp_millis(col("timestampMs")))
    val topics = conf.topics
    val events = ValidationJob.recordEvents(raw.where(col("topic") === topics.in))
      .union(ValidationJob.notificationEvents(raw.where(col("topic") === topics.notification)))
    val tracker = new BatchTracker(new TimedValidator(PassthroughValidator),
      new TimedLookup(conf.lookup), topics.tenant, conf.completionDelayMs)
    val outputs = ValidationJob.pipeline(events, tracker)
    val sink = new CaptureSink(topics, cap)
    val mgmt = new CaptureMgmt(cap)
    outputs.writeStream
      .queryName(cap.tag)
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(conf.trigger)
      .foreachBatch { (batch: Dataset[Output], epochId: Long) =>
        val session = batch.sparkSession
        val sc = session.sparkContext
        val commitDir = s"$ckpt/sink-commits"
        val traced = Trace.on
        cap.beginEpoch(epochId)
        val t0 = Trace.nowMs()
        Trace.span(sc, "epoch", cap.trace) {
          if (epochId > cap.commitlog(sc)(EpochCommitLog.lastCommitted(session, commitDir))) {
            ValidationJob.writeOutputs(batch, topics, sink, Some(mgmt), epochId, commitDir)
            cap.commitlog(sc)(EpochCommitLog.commit(session, commitDir, epochId))
          } else batch.foreach(_ => ())
        }
        cap.endEpoch(t0, Trace.nowMs(), traced)
      }
      .start()
  }

  /** Waits until the sink has seen every expected output, then until the
    * trigger that delivered the last of them has finished, and only then
    * stops the query — so a stop never lands inside a commit that still
    * carries outputs. A later no-data trigger may still be interrupted
    * (Spark then logs CANNOT_COMMIT … InterruptedException); that is not a
    * failure because every output was already delivered, and a real
    * failure still shows: as the query's exception before the stop, or as
    * missing outputs in the checker. Returns the error, if any. */
  def awaitAndStop(q: StreamingQuery, cap: Capture, records: Long, notifications: Long,
      timeoutMs: Long): Option[String] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def live = q.exception.isEmpty && System.currentTimeMillis() < deadline
    while (live && (cap.recordRows.get < records || cap.notificationRows.get < notifications))
      Thread.sleep(5)
    while (live && Option(q.lastProgress).forall(_.batchId < cap.lastOutputEpoch)) Thread.sleep(5)
    val idleBy = System.currentTimeMillis() + 2000
    while (q.status.isTriggerActive && System.currentTimeMillis() < idleBy) Thread.sleep(1)
    val error = q.exception.map(e => s"query failed: ${e.getMessage}").orElse(
      if (cap.recordRows.get < records || cap.notificationRows.get < notifications)
        Some(s"timed out: ${cap.recordRows.get}/$records records, " +
          s"${cap.notificationRows.get}/$notifications notifications delivered")
      else None)
    q.stop()
    error
  }

  /** Progress events of every query, routed by query name (the capture's
    * tag, registered before the query starts) to the capture of their query. */
  final class ProgressListener extends StreamingQueryListener {
    val captures = new java.util.concurrent.ConcurrentHashMap[String, Capture]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Option(captures.get(e.progress.name)).foreach(_.progress.add(Json.mapper.readTree(e.progress.json)))
  }

  /** Runs one query over `srcDir` until `records` record outputs and
    * `notifications` terminal notifications are delivered. */
  def runQuery(spark: SparkSession, conf: Conf, listener: ProgressListener, srcDir: String,
      ckpt: String, tag: String, records: Long, notifications: Long, timeoutMs: Long,
      whileRunning: StreamingQuery => Unit = _ => ()): (Capture, Option[String]) = {
    val cap = new Capture(tag)
    listener.captures.put(tag, cap)
    val q = start(spark, conf, srcDir, ckpt, cap)
    whileRunning(q)
    val err = awaitAndStop(q, cap, records, notifications, timeoutMs)
    org.apache.spark.PerfbenchBusShim.waitUntilEmpty(spark.sparkContext)
    (cap, err)
  }

  /** Writes what the query delivered, for the checker, and returns its
    * timing record. Runs after the query stopped: outside any timed region. */
  def dump(cap: Capture, dir: String, err: Option[String]): ObjectNode = {
    val path = new File(dir, s"out-${cap.tag}.jsonl")
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(path), UTF_8), 1 << 20)
    val b64 = Base64.getEncoder
    def bytes(a: Array[Byte]): String = if (a == null) null else b64.encodeToString(a)
    try {
      cap.deliveries.asScala.foreach { d =>
        d.rows.foreach { r =>
          val o = Json.mapper.createObjectNode()
          o.put("step", d.step).put("epoch", d.epoch)
          o.put("key", bytes(r.getAs[Array[Byte]]("key")))
          o.put("value", bytes(r.getAs[Array[Byte]]("value")))
          if (d.step != "k3") {
            val hs = o.putArray("headers")
            r.getSeq[Row](r.fieldIndex("headers")).foreach { h =>
              hs.addArray().add(h.getString(0)).add(bytes(h.getAs[Array[Byte]](1)))
            }
          }
          w.write(Json.mapper.writeValueAsString(o)); w.write('\n')
        }
      }
      cap.mgmtCalls.asScala.foreach { case (epoch, batchId, json) =>
        val o = Json.mapper.createObjectNode()
        o.put("step", "k4").put("epoch", epoch).put("batch", batchId).put("json", json)
        w.write(Json.mapper.writeValueAsString(o)); w.write('\n')
      }
    } finally w.close()

    val res = Json.mapper.createObjectNode()
    res.put("tag", cap.tag).put("dump", path.getPath)
    err.foreach(res.put("error", _))
    val eps = res.putArray("epochs")
    cap.epochs.foreach { e =>
      val o = eps.addObject()
      o.put("epoch", e.epoch).put("start", e.startMs).put("end", e.endMs).put("traced", e.traced)
        .put("commitlog_ms", e.commitlogMs).put("k4_ms", e.k4Ms).put("k4_calls", e.k4Calls)
      val st = o.putObject("steps")
      e.steps.foreach { case (k, (s, t)) => st.putArray(k).add(s).add(t) }
    }
    val pr = res.putArray("progress")
    cap.progress.asScala.foreach(pr.add)
    res
  }
}
