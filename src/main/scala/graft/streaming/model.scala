package graft.streaming

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.charset.StandardCharsets.UTF_8

/** Data model of the streaming validation pipeline (SURVEY.md §1).
  *
  * `HriRecord` mirrors the reference's opaque data record — construction
  * shape at reference PassthroughValidatorTest.java:35-36 and
  * PassthroughJobTestHelper.java:40-41: (headers, key, value, topic,
  * partition, offset), where key is nullable and value is NEVER inspected
  * by the passthrough pipeline. Headers are an array of (key, bytes) pairs
  * — Kafka allows duplicate header keys, so no Map (SURVEY §1.3).
  */
case class HriHeader(key: String, value: Array[Byte])

case class HriRecord(
    headers: Seq[HriHeader],
    key: Array[Byte],
    value: Array[Byte],
    topic: String,
    partition: Int,
    offset: Long) {

  def headerValue(name: String): Option[Array[Byte]] =
    headers.find(_.key == name).map(_.value)

  /** Routing metadata: the `batchId` header drives the pipeline
    * (reference PassthroughJobTestHelper.java:34). */
  def batchId: Option[String] = headerValue("batchId").map(new String(_, UTF_8))

  /** Invalid-record wrapping (reference kafka_record_validator.rb:106-111):
    * headers (incl. batchId) preserved, body replaced with a failure JSON. */
  def asInvalid(message: String): HriRecord = {
    val root = HriRecord.mapper.createObjectNode()
    root.put("failure", message)
    copy(value = HriRecord.mapper.writeValueAsString(root).getBytes(UTF_8))
  }
}

object HriRecord {
  /** Shared, like [[NotificationJson]]'s: an ObjectMapper is thread-safe
    * once configured, and building one per invalid record is the costly
    * part of the wrap. */
  private val mapper = new ObjectMapper()
}

/** Batch lifecycle states, JSON wire names (reference
  * flink_validation_passthrough_spec.rb:131,261,289,317,355). */
object BatchStatus {
  val Started = "started"
  val SendCompleted = "sendCompleted"
  val Completed = "completed"
  val Failed = "failed"
  val Terminated = "terminated"
}

/** Control-plane record, JSON on the wire (schema at reference
  * kafka_notification_builder.rb:7-42 and PassthroughJobTestHelper.java:63-72).
  * Dates are kept as ISO-8601 strings so they echo back byte-identically;
  * `metadata` is raw JSON echoed verbatim (spec.rb:112-114). */
case class BatchNotification(
    id: String,
    name: String,
    status: String,
    dataType: String,
    startDate: String,
    endDate: String,
    expectedRecordCount: Option[Int],
    topic: String,
    invalidThreshold: Int = -1,
    recordCount: Option[Int] = None,
    metadata: Option[String] = None)

/** JSON codec for [[BatchNotification]] using Jackson (on Spark's own
  * classpath). `metadata` round-trips as a raw JSON subtree. */
object NotificationJson {
  private val mapper = new ObjectMapper()

  def parse(bytes: Array[Byte]): BatchNotification = {
    val n = mapper.readTree(bytes)
    def optInt(f: String): Option[Int] =
      if (n.hasNonNull(f)) Some(n.get(f).asInt) else None
    BatchNotification(
      id = n.path("id").asText(null),
      name = n.path("name").asText(null),
      status = n.path("status").asText(null),
      dataType = n.path("dataType").asText(null),
      startDate = n.path("startDate").asText(null),
      endDate = n.path("endDate").asText(null),
      expectedRecordCount = optInt("expectedRecordCount"),
      topic = n.path("topic").asText(null),
      invalidThreshold = if (n.hasNonNull("invalidThreshold")) n.get("invalidThreshold").asInt else -1,
      recordCount = optInt("recordCount"),
      metadata = if (n.hasNonNull("metadata")) Some(n.get("metadata").toString) else None)
  }

  def render(bn: BatchNotification): String = {
    val root = mapper.createObjectNode()
    root.put("id", bn.id)
    root.put("name", bn.name)
    root.put("status", bn.status)
    root.put("dataType", bn.dataType)
    root.put("startDate", bn.startDate)
    root.put("endDate", bn.endDate)
    bn.expectedRecordCount.foreach(v => root.put("expectedRecordCount", v))
    root.put("topic", bn.topic)
    root.put("invalidThreshold", bn.invalidThreshold)
    bn.recordCount.foreach(v => root.put("recordCount", v))
    bn.metadata.foreach(m =>
      root.set[com.fasterxml.jackson.databind.JsonNode]("metadata", mapper.readTree(m)))
    mapper.writeValueAsString(root)
  }
}

/** Sum type over the two input streams, as a flat case class so a plain
  * product Encoder works for `Dataset[PipelineEvent]` (SURVEY §2.3 — the
  * idiomatic Spark replacement for Flink's connect/broadcast is a union of
  * one event type keyed by batchId). `seq` gives a total order within a
  * micro-batch (source offset), so replays are deterministic. */
case class PipelineEvent(
    batchId: String,
    seq: Long,
    record: Option[HriRecord],
    notification: Option[BatchNotification])

object PipelineEvent {
  def of(r: HriRecord, seq: Long): PipelineEvent =
    PipelineEvent(r.batchId.getOrElse(""), seq, Some(r), None)
  def of(n: BatchNotification, seq: Long): PipelineEvent =
    PipelineEvent(n.id, seq, None, Some(n))
}

/** Tagged output of the stateful core — Spark has no Flink-style side
  * outputs, so one Append stream is split by tag into the three sinks
  * (out / invalid / notification) inside foreachBatch (SURVEY §7.4). */
case class Output(
    tag: String,
    record: Option[HriRecord],
    notification: Option[BatchNotification])

object Output {
  val Valid = "valid"
  val Invalid = "invalid"
  val Notification = "notification"

  def valid(r: HriRecord): Output = Output(Valid, Some(r), None)
  def invalid(r: HriRecord): Output = Output(Invalid, Some(r), None)
  def notification(n: BatchNotification): Output = Output(Notification, None, Some(n))
}

/** State per batchId inside flatMapGroupsWithState (SURVEY §2.2 O4/O7). */
case class BatchProgress(
    notification: BatchNotification,
    status: String,
    validCount: Long,
    invalidCount: Long,
    expectedRecordCount: Option[Int],
    failedEmitted: Boolean,
    completedEmitted: Boolean)
