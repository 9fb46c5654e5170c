package graft.streaming

import java.util.UUID

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{
  QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** One micro-batch's health snapshot, distilled from
  * `StreamingQueryProgress` to the fields an operator pages on. */
final case class BatchHealth(
    queryId: UUID,
    name: String,
    batchId: Long,
    inputRows: Long,
    triggerMs: Long,
    stateRows: Long,
    timestamp: String)

/** A query that stopped with an error — under the fatal posture this is a
  * job-level failure, not a recoverable event. */
final case class QueryFailure(queryId: UUID, runId: UUID, error: String)

/** Production ops monitor for the streaming job (SURVEY §2.2 X1 operational
  * face). The reference treats a failed or checkpoint-broken job as FATAL —
  * its harness watches the job status and aborts the moment the job leaves
  * RUNNING (test/spec/flink_job.rb:54-55: "Flink job failed" on any
  * non-running status). Structured Streaming surfaces the same condition as
  * a `QueryTerminatedEvent` carrying an exception (a checkpoint-write
  * failure lands here too: the stream cannot commit and dies). This
  * listener:
  *
  *  - records the latest [[BatchHealth]] per query (progress visibility:
  *    batch id, input rows, trigger duration, resident state rows);
  *  - records every error termination of a query it [[watch]]es as a
  *    [[QueryFailure]] and invokes `onFatal` ON THE LISTENER THREAD, so
  *    a deployment can escalate (default wiring in [[Main]]: log and
  *    exit non-zero, letting the orchestrator restart from the
  *    checkpoint — the reference's fail-and-restart-from-savepoint
  *    posture);
  *  - exposes [[assertHealthy]] for callers that poll instead of
  *    subscribing.
  *
  * Listener callbacks are asynchronous (Spark's listener bus), so tests
  * poll for the effect rather than assuming it lands before
  * `processAllAvailable` returns. Driver-side only; holds one small row
  * per live query — nothing here scales with data volume.
  */
final class OpsMonitor(onFatal: QueryFailure => Unit = _ => ())
    extends StreamingQueryListener {

  private val names = TrieMap.empty[UUID, String]
  private val last = TrieMap.empty[UUID, BatchHealth]
  private val failed = TrieMap.empty[UUID, QueryFailure]
  private val watched = TrieMap.empty[UUID, Unit]
  // error terminations of queries not (yet) watched — buffered, not
  // escalated: in any query's attach→watch window an unrelated death
  // must not trip an exit-style onFatal, but the soon-to-be-watched
  // query's own death must not be lost either.
  // watch() replays its query's entry; onQueryTerminated double-checks
  // after buffering so a concurrent watch() cannot strand the failure.
  private val pending = TrieMap.empty[UUID, QueryFailure]

  /** Capture and escalate failures of the given query (call right after
    * `start()`). Listener events are SESSION-wide, so a monitor that
    * escalated every failure in a process running several queries would
    * act on queries it does not own — with an exit-style onFatal that
    * kills the whole JVM for a neighbor's death. Only watched queries
    * escalate; no watches = escalate nothing yet. Replays a buffered
    * pre-watch failure of this query. */
  def watch(id: UUID): Unit = {
    watched.put(id, ())
    pending.remove(id).foreach(escalate)
  }

  private def escalate(f: QueryFailure): Unit = {
    failed.put(f.queryId, f)
    onFatal(f)
  }

  override def onQueryStarted(e: QueryStartedEvent): Unit =
    names.put(e.id, Option(e.name).getOrElse(""))

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    last.put(p.id, BatchHealth(
      queryId = p.id,
      name = Option(p.name).getOrElse(names.getOrElse(p.id, "")),
      batchId = p.batchId,
      inputRows = p.numInputRows,
      triggerMs = Option(p.durationMs.get("triggerExecution"))
        .map(_.longValue).getOrElse(-1L),
      stateRows = p.stateOperators.map(_.numRowsTotal).sum,
      timestamp = p.timestamp))
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    e.exception.foreach { msg =>
      val f = QueryFailure(e.id, e.runId, msg)
      if (watched.contains(e.id)) escalate(f)
      else {
        // buffer EVERY unwatched failure by query id (not only
        // while no watch exists — a second query's attach-to-watch window
        // must not lose its death just because the first is watched), then
        // re-check: if watch() landed between the watched test and the
        // put, the atomic remove below fires exactly one escalation on
        // whichever thread wins (the lost-wakeup double-check)
        pending.put(e.id, f)
        if (watched.contains(e.id)) pending.remove(e.id).foreach(escalate)
      }
    }

  /** Latest committed-batch snapshot for a query, if any batch ran. */
  def lastProgress(queryId: UUID): Option[BatchHealth] = last.get(queryId)

  /** Every query this monitor saw die with an error, in no fixed order. */
  def failures: Seq[QueryFailure] = failed.values.toSeq

  /** Fatal posture as a poll: throws if ANY watched query terminated
    * with an exception. */
  def assertHealthy(): Unit =
    failures.headOption.foreach { f =>
      throw new IllegalStateException(
        s"streaming query ${f.queryId} (run ${f.runId}) failed: ${f.error}")
    }
}

object OpsMonitor {

  /** Register a monitor on the session's listener bus and return it.
    * One registration per monitor instance — callers own removal via
    * `spark.streams.removeListener`. */
  def attach(spark: SparkSession, onFatal: QueryFailure => Unit = _ => ()): OpsMonitor = {
    val m = new OpsMonitor(onFatal)
    spark.streams.addListener(m)
    m
  }

  /** Production escalation: log and kill the JVM with a non-zero exit so
    * the orchestrator restarts the job from its checkpoint — the
    * reference's checkpoint-failure-is-fatal posture. Never called from
    * tests (they pass a recording callback instead). */
  def exitOnFatal(f: QueryFailure): Unit = {
    System.err.println(
      s"FATAL: streaming query ${f.queryId} terminated with error: ${f.error}")
    sys.exit(1)
  }
}
