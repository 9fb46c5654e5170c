package graft.streaming

import org.apache.spark.sql.streaming.GroupState
import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success}

/** The one stateful core of the pipeline (SURVEY §2.3): every operator
  * O2–O9 of the reference dataflow composes into this single
  * `flatMapGroupsWithState` function, keyed by batchId, with a
  * processing-time timeout for the completion delay.
  *
  * Behavioral contract, clause by clause (evidence: the reference's
  * end-to-end specs, cited per clause below — file
  * test/spec/flink_validation_passthrough_spec.rb unless noted):
  *
  *  1. started notification seeds state (spec.rb:131).
  *  2. record with no state → BatchLookup; 404 ⇒ invalid with EXACTLY
  *     `Bad Message - Unknown batchId` and NO state seeded — each unknown
  *     record re-looks-up (spec.rb:264-290, kafka_record_validator.rb:106-111);
  *     Success ⇒ seed state from the returned notification, then process.
  *  3. record while `started` → Validator; valid ⇒ out + count; invalid ⇒
  *     wrapped to invalid + invalid count + threshold check (spec.rb:99-132).
  *     Records forward even past expectedRecordCount — the overcount check
  *     only runs at/after sendCompleted (spec.rb:292-318 shows 15 records on
  *     the out topic with expected=5, then `failed` at sendCompleted).
  *  4. record while `terminated` → routed to invalid, never to out
  *     (terminate stops forwarding, spec.rb:229-262; the invalid routing for
  *     post-terminate arrivals is inferred — unobserved in the reference).
  *  5. record while `completed` → invalid; batch STAYS completed
  *     (spec.rb:358-402, mgmt status still `completed` at :399-401).
  *  6. sendCompleted → record expectedRecordCount + start the completion
  *     delay timer; if already overcounted ⇒ `failed` immediately
  *     (spec.rb:292-318).
  *  7. record after sendCompleted, within the delay window → still
  *     validated and forwarded (spec.rb:320-356 sees 16 records on out),
  *     and if the count now exceeds expected ⇒ `failed` (same spec).
  *  8. timeout fires: count == expected ⇒ emit `completed` with recordCount
  *     (kafka_record_validator.rb:51-54, delay lower bound :67-71);
  *     count == 0 ⇒ emit NOTHING and EVICT state (reference NoOp,
  *     PassthroughStreamingJobIntTest.java:110-155);
  *     0 < count < expected ⇒ emit `failed` — the only unobserved edge in
  *     the reference (SURVEY §2.3 cl. 8); chosen and documented here.
  *  9. terminated notification → mark state; no further out deliveries
  *     (spec.rb:261: statuses end `started, terminated`).
  *
  * Invalid-threshold (O9): `invalidThreshold >= 0 && invalidCount >
  * threshold ⇒ failed` (field carried per PassthroughJobTestHelper.java:72,
  * −1 disables per kafka_notification_builder.rb:14).
  *
  * == Timer management (Spark-specific, load-bearing) ==
  * Spark clears a key's stored processing-time timeout at the START of
  * every `flatMapGroupsWithState` invocation for that key
  * (GroupStateImpl initializes each call with NO_TIMESTAMP). So a record
  * arriving while a batch sits in sendCompleted would silently cancel the
  * completion-delay timer and strand the batch forever unless the timer is
  * re-armed. [[armTimer]] therefore runs at the END of every non-timeout
  * invocation: sendCompleted → re-arm the completion delay (the delay
  * window restarts from the last arrival — the reference only asserts the
  * LOWER bound `completed − sendCompleted ≥ delay`, kafka_record_validator
  * .rb:67-71, so extending is safe); terminal states → arm the eviction
  * TTL (below).
  *
  * == Monotonic state machine ==
  * Notification-driven status moves only forward: started(0) →
  * sendCompleted(1) → completed/failed/terminated(2). A duplicate or late
  * notification of LOWER rank (e.g. a mgmt-retry `started` after
  * `sendCompleted`) is ignored — previously it regressed the status and,
  * combined with the timeout-clearing semantics above, dropped the armed
  * completion timer. Equal-rank retries re-apply idempotently
  * (`failedEmitted`/`completedEmitted` guards prevent duplicate
  * notifications). A terminal notification with NO state (the job's own
  * completed/failed echo read back from the notification topic after
  * eviction, or after a restart with fresh state) is ignored rather than
  * re-seeding state — the batch is finished; re-seeding would resurrect a
  * state entry per echo.
  *
  * == State eviction (100 TB scale) ==
  * Without eviction every batch that ever completes keeps its
  * BatchProgress in the state store forever — unbounded growth on a
  * months-long job. On reaching a terminal status the key's timeout is
  * re-purposed as a TTL tombstone of 2× the completion delay: while the
  * tombstone lives, late records still route to invalid with the exact
  * per-status message (clause 5); when it fires, `state.remove()`. A
  * record arriving AFTER eviction takes the clause-2 state-miss path: in
  * production the BatchLookup returns the completed batch from the
  * Management API, the state re-seeds terminal (re-arming the TTL), and
  * the record still routes to invalid — reference semantics
  * (spec.rb:358-402) preserved with bounded state. In standalone mode (no
  * external lookup) a post-TTL late record degrades to the unknown-batch
  * message — still invalid, documented delta. The zero-record NoOp batch
  * (clause 8) is evicted immediately at its timeout. A batch abandoned in
  * `started` (never sendCompleted) arms no timer and is held until its
  * `sendCompleted` arrives — reference semantics: the reference job waits
  * for that notification forever.
  *
  * Scale notes: state is O(1) per batch (a notification + counters) and
  * now O(active batches) overall, not O(all batches ever); the record path
  * never leaves the executors; `BatchLookup` fires once per unknown batch,
  * not per record (unknown-batch floods are the one per-record case —
  * acceptable: they are a client error). Per-key serial processing bounds
  * single-batch throughput; SURVEY §7.4 documents the salted two-level
  * refinement if one batch must exceed a core.
  */
class BatchTracker(
    validator: Validator,
    lookup: BatchLookup,
    tenantId: String,
    completionDelayMs: Long)
    extends Serializable {

  import BatchStatus._

  /** TTL for terminal-state tombstones: 2× the completion delay, so the
    * clause-5 late-arrival window comfortably outlives the delay. */
  private val ttlMs: Long = 2 * completionDelayMs

  import BatchTracker._

  private def rank(status: String): Int = status match {
    case Started       => 0
    case SendCompleted => 1
    case _             => 2 // completed / failed / terminated
  }

  /** The flatMapGroupsWithState function. Events are re-sorted by `seq`
    * inside a trigger (notifications before records on ties) so
    * cross-source arrival races cannot reorder a notification behind the
    * records that followed it. This is BEST-EFFORT, not a guarantee: `seq`
    * is comparable across the two source topics only as far as its
    * derivation allows (Kafka log timestamps in the production wiring —
    * see ValidationJob.recordEvents), and Kafka itself offers no
    * cross-topic order. Record-vs-record order within a batch is
    * semantically irrelevant (each valid record increments the same
    * counter and forwards verbatim), so only the notification/record
    * interleaving benefits — and the monotonic state machine tolerates the
    * residual races. */
  def trackBatch(
      batchId: String,
      events: Iterator[PipelineEvent],
      state: GroupState[BatchProgress]): Iterator[Output] = {
    val out = ArrayBuffer.empty[Output]

    if (state.hasTimedOut) {
      onTimeout(state, out) // clause 8 / TTL expiry; `events` is empty
    } else {
      events.toSeq.sortBy(ev => (ev.seq, ev.record.isDefined)).foreach { ev =>
        (ev.notification, ev.record) match {
          case (Some(n), _) => onNotification(n, state, out)
          case (_, Some(r)) => onRecord(r, batchId, state, out)
          case _            => ()
        }
      }
      armTimer(state)
    }
    out.iterator
  }

  /** End-of-invocation timer discipline — see "Timer management" above.
    * Runs after every non-timeout invocation; the timeout path arms its
    * own successor timer inline. */
  private def armTimer(state: GroupState[BatchProgress]): Unit =
    if (state.exists) {
      state.get.status match {
        case SendCompleted                   => state.setTimeoutDuration(completionDelayMs)
        case Completed | Failed | Terminated => state.setTimeoutDuration(ttlMs)
        case _                               => () // started: no timer
      }
    }

  private def onTimeout(state: GroupState[BatchProgress], out: ArrayBuffer[Output]): Unit = {
    val p = state.get
    p.status match {
      case SendCompleted if !p.failedEmitted =>
        val expected = p.expectedRecordCount.getOrElse(0)
        if (p.validCount == expected) {
          val done = p.notification.copy(
            status = Completed,
            expectedRecordCount = p.expectedRecordCount,
            recordCount = Some(p.validCount.toInt))
          out += Output.notification(done)
          state.update(p.copy(status = Completed, notification = done, completedEmitted = true))
          state.setTimeoutDuration(ttlMs) // terminal → TTL tombstone
        } else if (p.validCount == 0) {
          // Reference NoOp: a batch that saw no records emits no count
          // notification at all (PassthroughStreamingJobIntTest
          // noSentRecords) — and its state is evicted right here.
          state.remove()
        } else {
          emitFailed(p, state, out) // undercount: documented choice (cl. 8)
          state.setTimeoutDuration(ttlMs)
        }
      case Completed | Failed | Terminated =>
        state.remove() // TTL tombstone expired — eviction
      case _ => () // defensive: no timer is armed in `started`
    }
  }

  private def onNotification(
      n: BatchNotification,
      state: GroupState[BatchProgress],
      out: ArrayBuffer[Output]): Unit = {
    state.getOption match {
      case None if rank(n.status) == 2 =>
        // Terminal echo (our own completed/failed read back from the
        // notification topic) after eviction or restart: the batch is
        // done — do not resurrect state for it.
        ()
      case maybeP =>
        val p0 = maybeP.getOrElse(
          BatchProgress(n, n.status, 0L, 0L, n.expectedRecordCount,
            failedEmitted = false, completedEmitted = false))
        if (rank(n.status) < rank(p0.status)) {
          // Monotonic: a late/duplicate lower-rank notification (e.g.
          // mgmt-retry `started` after sendCompleted) is ignored.
          ()
        } else n.status match {
          case Started =>
            state.update(p0.copy(notification = n, status = Started))
          case SendCompleted =>
            val expected = n.expectedRecordCount.orElse(p0.expectedRecordCount)
            val p = p0.copy(notification = n, status = SendCompleted, expectedRecordCount = expected)
            state.update(p)
            if (expected.exists(e => p.validCount > e)) {
              emitFailed(p, state, out) // clause 6: already overcounted
            } // else: completion timer armed by armTimer at invocation end
          case Terminated =>
            state.update(p0.copy(notification = n, status = Terminated)) // clause 9
          case other => // completed/failed echoes for still-live state
            state.update(p0.copy(notification = n, status = other))
        }
    }
  }

  private def onRecord(
      r: HriRecord,
      batchId: String,
      state: GroupState[BatchProgress],
      out: ArrayBuffer[Output]): Unit = {
    if (!state.exists) {
      lookup.getBatchId(tenantId, batchId) match { // clause 2
        case Failure(_) =>
          out += Output.invalid(r.asInvalid(UnknownBatchMessage))
          return
        case Success(n) =>
          state.update(BatchProgress(n, n.status, 0L, 0L, n.expectedRecordCount,
            failedEmitted = false, completedEmitted = false))
        // timers (completion delay or terminal TTL) armed by armTimer
      }
    }
    val p = state.get
    p.status match {
      case Completed =>
        out += Output.invalid(r.asInvalid(CompletedBatchMessage)) // clause 5
      case Terminated =>
        out += Output.invalid(r.asInvalid(TerminatedBatchMessage)) // clause 4
      case Failed =>
        out += Output.invalid(r.asInvalid(FailedBatchMessage))
      case _ => // started or sendCompleted: clauses 3 and 7
        validator.isValid(r) match {
          case (true, _) =>
            val p1 = p.copy(validCount = p.validCount + 1)
            state.update(p1)
            out += Output.valid(r)
            if (p1.status == SendCompleted &&
                p1.expectedRecordCount.exists(e => p1.validCount > e)) {
              emitFailed(p1, state, out) // clause 7 (record still forwarded)
            }
          case (false, msg) =>
            val p1 = p.copy(invalidCount = p.invalidCount + 1)
            state.update(p1)
            out += Output.invalid(r.asInvalid(msg.getOrElse("Invalid record")))
            if (p1.notification.invalidThreshold >= 0 &&
                p1.invalidCount > p1.notification.invalidThreshold) {
              emitFailed(p1, state, out) // O9
            }
        }
    }
  }

  private def emitFailed(
      p: BatchProgress,
      state: GroupState[BatchProgress],
      out: ArrayBuffer[Output]): Unit =
    if (!p.failedEmitted) {
      val failed = p.notification.copy(
        status = Failed,
        expectedRecordCount = p.expectedRecordCount,
        recordCount = Some(p.validCount.toInt))
      out += Output.notification(failed)
      state.update(p.copy(status = Failed, notification = failed, failedEmitted = true))
    }
}

/** The reference's exact invalid-record wire messages
  * (kafka_record_validator.rb). */
object BatchTracker {
  val UnknownBatchMessage = "Bad Message - Unknown batchId"
  val CompletedBatchMessage = "Record received after batch completed"
  val TerminatedBatchMessage = "Record received after batch terminated"
  val FailedBatchMessage = "Record received after batch failed"
}
