package graft.streaming.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** One traced interval. Spans of one trigger (`b<epoch>`) or one catalogue
  * entry (`<entry>#<pass>`) share `trace`; `parent` is 0 for a root. */
final case class Span(id: Long, parent: Long, trace: String, name: String, startMs: Double, endMs: Double)

/** Work the Spark jobs of one trace did, summed from task-end events. */
final class JobAgg {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var spillBytes = 0L
  /** per shuffle-reading stage: (records read, largest single task's read) */
  val stageReads = TrieMap.empty[Int, (Long, Long)]
}

/** In-memory tracing for the traced run. Spans are recorded around the
  * calls the benchmark makes into each layer and around every Spark job;
  * nothing is written until [[spans]] is dumped when the run ends.
  *
  * `on` is read by the Validator and BatchLookup wrappers inside tasks; the
  * benchmark always runs Spark in local mode, so tasks share this JVM. */
object Trace {
  @volatile var on: Boolean = false

  val SpanKey = "perfbench.span"
  val TraceKey = "perfbench.trace"

  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  // Wall-clock milliseconds with sub-millisecond digits, comparable with
  // the generator's due times and with Spark's progress timestamps.
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  /** Runs `body` inside a span when tracing is on. Jobs `body` starts carry
    * the span id and trace as local properties, so the listener can parent
    * them exactly. */
  def span[T](sc: SparkContext, name: String, trace: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      val prevSpan = sc.getLocalProperty(SpanKey)
      val prevTrace = sc.getLocalProperty(TraceKey)
      current.set(id)
      sc.setLocalProperty(SpanKey, id.toString)
      sc.setLocalProperty(TraceKey, trace)
      val t0 = nowMs()
      try body
      finally {
        spans.add(Span(id, parent, trace, name, t0, nowMs()))
        current.set(parent)
        sc.setLocalProperty(SpanKey, prevSpan)
        sc.setLocalProperty(TraceKey, prevTrace)
      }
    }

  /** Records a span whose interval was measured elsewhere. */
  def add(parent: Long, trace: String, name: String, startMs: Double, endMs: Double): Long = {
    val id = ids.incrementAndGet()
    spans.add(Span(id, parent, trace, name, startMs, endMs))
    id
  }

  /** Job spans and per-trace task work, for jobs started inside a span. */
  final class JobListener extends SparkListener {
    val byTrace = TrieMap.empty[String, JobAgg]
    private val stageTrace = TrieMap.empty[Int, String]
    private val open = TrieMap.empty[Int, (Long, String, Double)]

    private def agg(trace: String): JobAgg = byTrace.getOrElseUpdate(trace, new JobAgg)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(TraceKey))).foreach { trace =>
        val parent = Option(e.properties.getProperty(SpanKey)).map(_.toLong).getOrElse(0L)
        open.put(e.jobId, (parent, trace, e.time.toDouble))
        e.stageIds.foreach(stageTrace.put(_, trace))
        val a = agg(trace)
        a.synchronized(a.jobs += 1)
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      open.remove(e.jobId).foreach { case (parent, trace, start) =>
        add(parent, trace, "job", start, e.time.toDouble)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (trace <- stageTrace.get(e.stageId); m <- Option(e.taskMetrics)) {
        val a = agg(trace)
        a.synchronized {
          a.tasks += 1
          a.taskMs += m.executorRunTime
          a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          a.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
          a.spillBytes += m.diskBytesSpilled
          val read = m.shuffleReadMetrics.recordsRead
          if (read > 0) {
            val (total, max) = a.stageReads.getOrElse(e.stageId, (0L, 0L))
            a.stageReads.put(e.stageId, (total + read, math.max(max, read)))
          }
        }
      }
  }

  object Jvm {
    private def heapPools =
      ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    def gcMs(): Long =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
    def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
    def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  }
}
