package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Topic-name convention `ingest.<tenant>.<stream>.in` with sibling topics
  * derived by suffix swap (reference PassthroughStreamingJobTest.java:104-121,
  * flink_validation_passthrough_spec.rb:24-32). */
final case class Topics(in: String) {
  val base: String = in.stripSuffix(".in")
  val out: String = s"$base.out"
  val invalid: String = s"$base.invalid"
  val notification: String = s"$base.notification"
  /** `ingest.<tenant>....` → tenant (SURVEY §3.1). */
  val tenant: String = in.split('.').lift(1).getOrElse("")
  /** Consumer group `hri-validation-<in>-<out>` (spec.rb:61-63). */
  val consumerGroup: String = s"hri-validation-$in-$out"
}

object Topics {
  /** Parity with the reference's abort-before-start validation (message
    * shape from PassthroughStreamingJobTest.java:110-120): topic must
    * start with `ingest.` and end with `.in`. */
  def validate(in: String): Either[String, Topics] =
    if (!in.startsWith("ingest."))
      Left(s"""The Input Topic Name $in is invalid: It must start with "ingest."""")
    else if (!in.endsWith(".in"))
      Left(s"""The Input Topic Name $in is invalid: It must end with ".in"""")
    else Right(Topics(in))
}

/** Graph assembly for the validation pipeline — the Spark twin of the
  * reference's three BaseValidationJob constructor shapes
  * (PassthroughStreamingJob.java:96-117):
  *
  *  - [[ValidationJob.pipeline]] is the pure transform every shape shares:
  *    union of record/notification events → groupByKey(batchId) →
  *    flatMapGroupsWithState(ProcessingTimeTimeout) with [[BatchTracker]].
  *  - the embedded-test shape drives it from MemoryStreams and collects the
  *    tagged outputs (ValidationJobSpec — twin of
  *    PassthroughStreamingJobIntTest.java:61-155);
  *  - [[ValidationJob.startKafka]] is the standalone/production shape: two
  *    Kafka sources with headers, three Kafka sinks + optional Management
  *    API writeback, one foreachBatch epoch for all three (SURVEY §7.4 —
  *    Spark has no side-outputs, so the split happens per micro-batch).
  *
  * Scale: the record path shuffles ONCE, on batchId, into the stateful
  * operator; the notification stream is negligible traffic on the same
  * shuffle. State is O(active batches) (terminal state is TTL-evicted —
  * see BatchTracker). Delivery: checkpointing gives exactly-once STATE
  * transitions; the Kafka sink is at-least-once, hardened three ways —
  * (1) the [[EpochCommitLog]] skips whole-epoch foreachBatch replays (the
  * common duplicate case: failure lands between sink write and checkpoint
  * commit), proven by RecoverySpec's injected mid-epoch crash; (2) each of
  * the four sink steps (K1 valid / K2 invalid / K3 notification / K4 mgmt
  * writeback) commits its own step marker, so a crash INSIDE writeOutputs
  * replays only the steps that had not finished — proven by RecoverySpec's
  * crash between K1 and K2 asserting zero duplicates per topic; (3) records
  * carry deterministic identity (topic, partition, offset) so the last
  * residual window — a crash in the middle of ONE topic's write, which no
  * file-marker protocol can make atomic without a transactional Kafka
  * producer (kafka-clients is not on this classpath) — stays idempotent
  * for downstream dedup. That single-step window is the remaining delta vs
  * the reference's transactional Flink sink, documented rather than
  * papered over.
  */
object ValidationJob {

  /** The §2.3 stateful core as a pure Dataset transform (testable with
    * MemoryStream and batch Datasets alike). */
  def pipeline(events: Dataset[PipelineEvent], tracker: BatchTracker): Dataset[Output] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.batchId)
      .flatMapGroupsWithState[BatchProgress, Output](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout)(tracker.trackBatch)
  }

  /** Kafka record stream → PipelineEvent. Schema is the standard Kafka
    * source shape with includeHeaders (FIXTURES A.2). `seq` = the Kafka log
    * timestamp in millis: records and notifications come from DIFFERENT
    * topics, whose offsets are mutually incomparable, so the only
    * cross-source ordering key Kafka offers is the broker timestamp. It is
    * best-effort (ms granularity, producer clocks for create-time
    * topics) — BatchTracker documents why that suffices: record-vs-record
    * order is semantically irrelevant and the monotonic state machine
    * absorbs residual notification races. */
  def recordEvents(df: DataFrame): Dataset[PipelineEvent] = {
    import df.sparkSession.implicits._
    df.select(col("headers"), col("key"), col("value"), col("topic"),
        col("partition"), col("offset"), unix_millis(col("timestamp")).as("seq"))
      .as[(Seq[HriHeader], Array[Byte], Array[Byte], String, Int, Long, Long)]
      .map { case (headers, key, value, topic, partition, offset, seq) =>
        PipelineEvent.of(HriRecord(headers, key, value, topic, partition, offset), seq)
      }
  }

  /** Kafka notification stream → PipelineEvent (JSON body, FIXTURES A.3).
    * `seq` = log timestamp millis, same key space as [[recordEvents]]. */
  def notificationEvents(df: DataFrame): Dataset[PipelineEvent] = {
    import df.sparkSession.implicits._
    df.select(col("value"), unix_millis(col("timestamp")).as("seq"))
      .as[(Array[Byte], Long)]
      .map { case (value, seq) => PipelineEvent.of(NotificationJson.parse(value), seq) }
  }

  /** Standalone/production shape: wire Kafka sources and sinks and start
    * the query. `mgmt` is None in standalone mode (K4 skipped, parity with
    * PassthroughStreamingJob.java:107-110). Requires the Kafka connector on
    * the classpath at runtime. */
  def startKafka(
      spark: SparkSession,
      topics: Topics,
      brokers: Seq[String],
      password: Option[String],
      validator: Validator,
      lookup: BatchLookup,
      completionDelayMs: Long,
      mgmt: Option[MgmtClient],
      checkpointLocation: String,
      maxOffsetsPerTrigger: Option[Long] = None,
      /** Invoked (on the listener thread) if THIS query dies with an
        * error — the reference's checkpoint-failure-is-fatal posture
        * (flink_job.rb:54-55). The monitor attached here watches only the
        * started query (listener events are session-wide; escalating every
        * failure would kill the JVM for an unrelated query's death).
        * Production ([[Main]]) passes [[OpsMonitor.exitOnFatal]]; embedded
        * callers that want to poll health attach their own monitor via
        * [[OpsMonitor.attach]] and `watch` the returned query's id. One
        * listener registers per startKafka call
        * and lives for the session — one per long-running job in
        * practice. */
      onFatal: QueryFailure => Unit = _ => ()): StreamingQuery = {
    import spark.implicits._
    // between this attach and the watch() after start(), a neighbor
    // query's failure must not hit onFatal (which exits the JVM in
    // production); the owned query's own pre-watch death is buffered and
    // replayed by watch().
    val monitor = OpsMonitor.attach(spark, onFatal)

    def source(topic: String): DataFrame = {
      val base0 = spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers.mkString(","))
        .option("subscribe", topic)
        .option("includeHeaders", "true")
        .option("startingOffsets", "latest")
        .option("kafka.group.id", topics.consumerGroup)
      // micro-batch admission control — the backpressure mechanism
      // (SURVEY §4): bounds a batch after downtime/catch-up so state and
      // sinks see a steady rate instead of one giant replay batch
      val base = maxOffsetsPerTrigger
        .fold(base0)(n => base0.option("maxOffsetsPerTrigger", n.toString))
      password.fold(base) { p =>
        base
          .option("kafka.security.protocol", "SASL_SSL")
          .option("kafka.sasl.mechanism", "PLAIN")
          .option("kafka.sasl.jaas.config",
            "org.apache.kafka.common.security.plain.PlainLoginModule required " +
              s"""username="token" password="$p";""")
      }.load()
    }

    val events = recordEvents(source(topics.in))
      .union(notificationEvents(source(topics.notification)))
    val tracker = new BatchTracker(validator, lookup, topics.tenant, completionDelayMs)
    val outputs = pipeline(events, tracker)

    // Epoch-id dedup (X1): Spark re-runs the last foreachBatch epoch after
    // a failure that struck between sink write and checkpoint commit. The
    // commit log below records the highest fully-written epoch, so the
    // replayed epoch is skipped instead of double-produced — closing the
    // common duplicate case of the at-least-once Kafka sink (the reference's
    // HA chaos bar, high_availability_spec.rb:101-181). A crash INSIDE
    // writeOutputs replays only the unfinished steps via the per-step
    // markers (see writeOutputs); the only remaining window is a crash in
    // the middle of a single topic's write, documented in the scaladoc
    // above.
    val sink = new KafkaOutputSink(brokers, password)
    val query = outputs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointLocation)
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: Dataset[Output], epochId: Long) =>
        val commitDir = s"$checkpointLocation/sink-commits"
        if (epochId > EpochCommitLog.lastCommitted(batch.sparkSession, commitDir)) {
          writeOutputs(batch, topics, sink, mgmt, epochId, commitDir)
          EpochCommitLog.commit(batch.sparkSession, commitDir, epochId)
        } else {
          // Replay of an already-written epoch: drain every partition (Spark
          // 4 validates that foreachBatch commits all state stores) but
          // write nothing — this skip IS the dedup.
          batch.foreach(_ => ())
        }
      }
      .start()
    monitor.watch(query.id) // scope escalation to this query only
    query
  }

  /** Physical sink boundary for one topic's rows within an epoch. The
    * DataFrame always has the Kafka writer shape: `key binary`,
    * `value binary`, `headers array<struct<key:string,value:binary>>`
    * (headers column optional for notifications). Production writes Kafka;
    * tests inject an in-memory sink so the epoch/step commit protocol is
    * provable without a broker. */
  private[streaming] trait OutputSink extends Serializable {
    def write(df: DataFrame, topic: String): Unit
  }

  /** Two-phase transactional variant of [[OutputSink]] (X1 — the last
    * at-least-once delta vs the reference's HA chaos contract,
    * test/nightly/flink_validation_passthrough_high_availability_spec.rb:101-181):
    * rows sent within an epoch step become visible ONLY at `commit()`; a
    * failure mid-step `abort()`s and leaves the topic untouched, so a
    * replayed step delivers exactly once even when the crash lands INSIDE
    * a write — the per-step commit log alone covers only crashes BETWEEN
    * steps (its markers record step completion, not write atomicity).
    *
    * The production Kafka analogue is the transactional producer
    * (`transactional.id = "<job>-<step>"`, initTransactions / begin /
    * commitTransaction, consumers at read_committed). Spark's bundled
    * Kafka batch writer exposes no transactions, so the Kafka
    * IMPLEMENTATION remains design-documented (COVERAGE.md), while the
    * PROTOCOL — begin / send* / commit-or-abort per epoch step, wired
    * through [[writeOutputs]] — is real and proven by RecoverySpec with
    * an aborting in-memory implementation. */
  private[streaming] trait TxOutputSink extends OutputSink {
    def begin(epochId: Long, step: String): SinkTransaction

    /** Single-write autocommit, so a transactional sink drops in anywhere
      * a plain [[OutputSink]] is expected. */
    override def write(df: DataFrame, topic: String): Unit = {
      val tx = begin(-1L, "autocommit")
      try { tx.send(df, topic); tx.commit() }
      catch { case e: Throwable => tx.abort(); throw e }
    }
  }

  /** One step's transaction: buffered sends, atomic visibility at commit.
    *
    * `commit(marker)` runs the step's replay marker AT THE COMMIT POINT —
    * the marker is part of the transaction, not a separate action after it
    * (r10 ADVICE: with the marker outside, a crash between commit() and
    * markStep replayed the whole step and delivered a second full copy;
    * the transaction only narrowed the duplicate window, it did not close
    * it). An implementation must make rows-visible and marker-written land
    * together from the replayer's point of view: the production Kafka
    * analogue commits the marker/offsets INSIDE the transaction
    * (`sendOffsetsToTransaction` — read_committed replayers see both or
    * neither), and RecoverySpec pins the protocol by crashing immediately
    * after a committed step and asserting the replay skips it. */
  private[streaming] trait SinkTransaction {
    def send(df: DataFrame, topic: String): Unit
    def commit(marker: () => Unit = () => ()): Unit
    def abort(): Unit
  }

  /** The production sink: Spark's Kafka batch writer, one `save()` per
    * topic per epoch (at-least-once within the step — see the class
    * scaladoc for why that residual is irreducible without a transactional
    * producer on the classpath). */
  private[streaming] final class KafkaOutputSink(
      brokers: Seq[String], password: Option[String]) extends OutputSink {
    def write(df: DataFrame, topic: String): Unit = {
      val w = df.write.format("kafka")
        .option("kafka.bootstrap.servers", brokers.mkString(","))
        .option("topic", topic)
        .option("includeHeaders", "true")
      password.fold(w) { p =>
        w.option("kafka.security.protocol", "SASL_SSL")
          .option("kafka.sasl.mechanism", "PLAIN")
          .option("kafka.sasl.jaas.config",
            "org.apache.kafka.common.security.plain.PlainLoginModule required " +
              s"""username="token" password="$p";""")
      }.save()
    }
  }

  /** Sink-side epoch commit log for foreachBatch idempotence (X1). Driver-
    * only, single-writer; lives next to the query checkpoint and speaks the
    * Hadoop FileSystem API so local paths and HDFS/object-store checkpoints
    * both work. Two granularities:
    *
    *  - `latest` stores the highest FULLY-written epoch id (all four sink
    *    steps done) — a replayed epoch at or below it is skipped whole;
    *  - `steps-<epoch>/<step>` markers record each completed sink step
    *    within the in-flight epoch, so a crash between steps replays only
    *    the unfinished ones (zero duplicates per topic as long as each
    *    step's own write completed — proven by RecoverySpec).
    *
    * `latest` is written temp-file + rename and each step marker is one
    * `mkdirs`, so a crash mid-write leaves the previous value; `commit`
    * removes the epoch's step dir afterwards (the markers are subsumed by
    * `latest`, and epoch ids never repeat within one checkpoint lineage,
    * so stale markers can never mask a future epoch's steps). */
  private[streaming] object EpochCommitLog {
    import org.apache.hadoop.fs.Path

    def lastCommitted(spark: SparkSession, dir: String): Long = {
      val latest = new Path(dir, "latest")
      val fs = latest.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(latest)) -1L
      else {
        val in = fs.open(latest)
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8).trim.toLong
        finally in.close()
      }
    }

    def commit(spark: SparkSession, dir: String, epochId: Long): Unit = {
      val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
      val tmp = new Path(dir, s"latest.tmp-$epochId")
      val latest = new Path(dir, "latest")
      val out = fs.create(tmp, true)
      try out.write(epochId.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      if (fs.exists(latest)) fs.delete(latest, false)
      fs.rename(tmp, latest)
      fs.delete(new Path(dir, s"steps-$epochId"), true) // subsumed by `latest`
    }

    def stepDone(spark: SparkSession, dir: String, epochId: Long, step: String): Boolean = {
      val marker = new Path(dir, s"steps-$epochId/$step")
      marker.getFileSystem(spark.sessionState.newHadoopConf()).exists(marker)
    }

    /** The marker is a directory: `mkdirs` is atomic on its own, so it
      * needs no temp file and rename (on the local FS each created file
      * also costs `chmod` forks for the file and its `.crc`). */
    def markStep(spark: SparkSession, dir: String, epochId: Long, step: String): Unit = {
      val marker = new Path(dir, s"steps-$epochId/$step")
      marker.getFileSystem(spark.sessionState.newHadoopConf()).mkdirs(marker)
    }
  }

  /** The Kafka-writer projection of one tag's records, entirely in column
    * space: a `where` + nested-field `select` that Catalyst resolves to
    * struct-field extraction over the operator's serialized rows — no
    * DeserializeToObject, no per-row `Output` object allocation (the old
    * typed `filter(_.tag==t).map(...)` deserialized every output row twice,
    * once per record sink — real money on the 100 TB record path).
    * RecoverySpec asserts the plan stays object-free. */
  private[streaming] def recordFrame(batch: Dataset[Output], tag: String): DataFrame =
    batch.where(col("tag") === lit(tag))
      .select(col("record.key").as("key"), col("record.value").as("value"),
        col("record.headers").as("headers"))

  /** One micro-batch epoch feeds all three sinks (+ optional K4 writeback)
    * so per-batch outputs stay ordered per key relative to each other.
    * Each step is guarded by an [[EpochCommitLog]] marker: on a replay of a
    * partially-written epoch, finished steps are skipped and unfinished
    * ones run — so a crash anywhere BETWEEN steps produces zero duplicate
    * rows on any topic. */
  private[streaming] def writeOutputs(
      batch: Dataset[Output],
      topics: Topics,
      sink: OutputSink,
      mgmt: Option[MgmtClient],
      epochId: Long,
      commitDir: String): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val cached = batch.persist()
    try {
      // Each step body receives a WRITER: the plain sink's write, or — for
      // a TxOutputSink — a transaction's send, committed after the body and
      // aborted on failure, so a crash inside a write leaves no partial
      // step visible (RecoverySpec's mid-write abort test).
      def step(name: String)(body: ((DataFrame, String) => Unit) => Unit): Unit =
        if (!EpochCommitLog.stepDone(spark, commitDir, epochId, name)) {
          sink match {
            case t: TxOutputSink =>
              // the step marker is COMMITTED WITH the transaction (see
              // SinkTransaction scaladoc): a crash anywhere around the
              // commit point leaves rows+marker either both present
              // (replay skips the step) or both absent (replay re-runs an
              // invisible step) — never a committed step without a marker
              val tx = t.begin(epochId, name)
              try {
                body(tx.send)
                tx.commit(() => EpochCommitLog.markStep(spark, commitDir, epochId, name))
              }
              catch { case e: Throwable => tx.abort(); throw e }
            case s =>
              // plain sink: the write itself is not atomic, so the marker
              // stays a separate follow-up — the documented at-least-once
              // residual of the non-transactional path
              body(s.write)
              EpochCommitLog.markStep(spark, commitDir, epochId, name)
          }
        }

      step("k1")(w => w(recordFrame(cached, Output.Valid), topics.out))
      step("k2")(w => w(recordFrame(cached, Output.Invalid), topics.invalid))

      // Notifications are driver-rendered JSON (Jackson) — a handful of
      // lifecycle transitions per epoch, so the collect is bounded by design.
      val notifications = cached.where(col("tag") === lit(Output.Notification))
        .select("notification.*").as[BatchNotification]
        .collect().map(n => (n.id, NotificationJson.render(n)))
      step("k3") { w =>
        if (notifications.nonEmpty) {
          val nDf = notifications.toSeq.toDF("key", "value")
            .select(col("key").cast("binary"), col("value").cast("binary"))
          w(nDf, topics.notification) // K3
        }
      }
      step("k4") { _ => // no sink write: HTTP writeback
        mgmt.foreach { client => // K4 (production mode only); PUT is idempotent
          notifications.foreach { case (id, json) =>
            client.putStatus(topics.tenant, id, json)
          }
        }
      }
    } finally cached.unpersist()
  }
}
