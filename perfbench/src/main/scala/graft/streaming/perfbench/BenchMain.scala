package graft.streaming.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.SparkEntry
import graft.streaming._

object Json {
  val mapper = new ObjectMapper()
}

/** JVM side of the benchmark. `perfbench/run.py` generates the inputs,
  * writes a spec file and starts this main with its path; this main runs
  * one workload on the unchanged program and writes what it measured and
  * what the program delivered into the spec's work directory. Metrics and
  * output checks are computed by run.py from those files.
  *
  * Usage: BenchMain <spec.json> */
object BenchMain {

  def main(args: Array[String]): Unit = {
    val spec = Json.mapper.readTree(new File(args(0)))
    val work = spec.get("work").asText
    val cores = spec.get("cores").asInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new Trace.JobListener
    spark.sparkContext.addSparkListener(jobs)
    val traced = spec.get("trace").asBoolean
    val seconds = spec.get("seconds").asDouble

    val result = Json.mapper.createObjectNode()
    spec.get("workload").asText match {
      case "hot_batch_drain" => drain(spark, spec, traced, seconds, result)
      case "batch_churn"     => churn(spark, spec, traced, seconds, result)
      case "catalogue_mix"   => catalogue(spark, spec, traced, seconds, result)
    }
    result.put("gc_ms", Trace.Jvm.gcMs() - result.get("gc_ms_at_start").asLong)
    result.put("heap_peak_mb", Trace.Jvm.heapPeakMb())
    if (traced) result.put("calibration_s", calibrate(spark))

    org.apache.spark.PerfbenchBusShim.waitUntilEmpty(spark.sparkContext)
    val aggs = result.putObject("jobs")
    jobs.byTrace.foreach { case (trace, a) =>
      val o = aggs.putObject(trace)
      o.put("jobs", a.jobs).put("tasks", a.tasks).put("task_ms", a.taskMs)
        .put("shuffle_write_bytes", a.shuffleWriteBytes)
        .put("shuffle_write_records", a.shuffleWriteRecords)
        .put("spill_bytes", a.spillBytes)
        .put("read_total", a.stageReads.values.map(_._1).sum)
        .put("read_max", a.stageReads.values.map(_._2).sum)
    }
    val counters = result.putObject("counters")
    LayerCounters.snapshot().foreach { case (k, v) => counters.put(k, v) }
    val spans = result.putArray("spans")
    Trace.spans.asScala.foreach { s =>
      spans.addObject().put("id", s.id).put("parent", s.parent).put("trace", s.trace)
        .put("name", s.name).put("start", s.startMs).put("end", s.endMs)
    }
    Files.writeString(Paths.get(work, "result.json"), Json.mapper.writeValueAsString(result))
    spark.stop()
  }

  /** The first timed operation starts now: set-up ends here. */
  private def startTimed(result: ObjectNode): Unit = {
    result.put("first_timed_ms", Trace.nowMs())
    result.put("gc_ms_at_start", Trace.Jvm.gcMs())
    Trace.Jvm.resetPeak()
  }

  /** One query of a streaming workload: its source directory, admission
    * and trigger, and the outputs to await before stopping it. */
  private final case class Part(dir: String, conf: StreamBench.Conf, records: Long, notifications: Long)

  private def part(spec: JsonNode, name: String): Part = {
    val known = spec.get("lookup_batches").elements().asScala
      .map(n => NotificationJson.parse(n.asText.getBytes("UTF-8"))).toSeq
    val p = spec.get(name)
    val conf = StreamBench.Conf(Topics(spec.get("topic").asText),
      spec.get("completion_delay_ms").asLong, Trigger.ProcessingTime(p.get("trigger_ms").asLong),
      p.get("max_files_per_trigger").asInt, new MapBatchLookup(known))
    Part(p.get("dir").asText, conf, p.get("records").asLong, p.get("notifications").asLong)
  }

  /** Untimed warm-up query: many back-to-back triggers over a small
    * backlog of the workload's shape, so the timed query runs on warm code. */
  private def warmUp(spark: SparkSession, spec: JsonNode, listener: StreamBench.ProgressListener,
      result: ObjectNode): Unit = {
    val work = spec.get("work").asText
    val w = part(spec, "warm")
    val (cap, err) = StreamBench.runQuery(spark, w.conf, listener, w.dir, s"$work/ckpt-warm",
      "warm", w.records, w.notifications, spec.get("timeout_s").asLong * 1000)
    result.set[JsonNode]("warm", StreamBench.dump(cap, work, err))
  }

  /** Closed-loop catch-up: the backlog is on disk before timing starts;
    * each round drains all of it with a fresh checkpoint, triggers back to
    * back. Rounds repeat until `seconds` have passed; a traced run
    * alternates untraced and traced rounds. */
  def drain(spark: SparkSession, spec: JsonNode, traced: Boolean, seconds: Double,
      result: ObjectNode): Unit = {
    val work = spec.get("work").asText
    val listener = new StreamBench.ProgressListener
    spark.streams.addListener(listener)
    warmUp(spark, spec, listener, result)
    val m = part(spec, "main")
    val rounds = result.putArray("rounds")
    startTimed(result)
    val t0 = System.nanoTime()
    var i = 0
    while (i < (if (traced) 2 else 1) || (System.nanoTime() - t0) / 1e9 < seconds) {
      val tracedRound = traced && i % 2 == 1
      Trace.on = tracedRound
      val (cap, err) = StreamBench.runQuery(spark, m.conf, listener, m.dir, s"$work/ckpt-r$i",
        s"r$i", m.records, m.notifications, spec.get("timeout_s").asLong * 1000)
      Trace.on = false
      rounds.add(StreamBench.dump(cap, work, err).put("traced", tracedRound))
      i += 1
    }
  }

  /** Open loop: run.py's generator thread writes the schedule once this
    * main signals `ready`; the query runs with production's 1 s trigger. A
    * traced run traces the second half of the schedule. */
  def churn(spark: SparkSession, spec: JsonNode, traced: Boolean, seconds: Double,
      result: ObjectNode): Unit = {
    val work = spec.get("work").asText
    val listener = new StreamBench.ProgressListener
    spark.streams.addListener(listener)
    warmUp(spark, spec, listener, result)
    val m = part(spec, "main")
    val (cap, err) = StreamBench.runQuery(spark, m.conf, listener, m.dir, s"$work/ckpt-main",
      "main", m.records, m.notifications, (spec.get("timeout_s").asDouble + seconds).toLong * 1000,
      whileRunning = { q =>
        // the source holds one priming notification: its trigger pays the
        // query's first-batch cost before the schedule starts
        val deadline = System.currentTimeMillis() + spec.get("timeout_s").asLong * 1000
        while (q.lastProgress == null && q.exception.isEmpty && System.currentTimeMillis() < deadline)
          Thread.sleep(5)
        startTimed(result)
        if (traced) {
          val t = new Thread(() => { Thread.sleep((seconds * 500).toLong); Trace.on = true })
          t.setDaemon(true)
          t.start()
        }
        Files.writeString(Paths.get(work, "ready"), "")
      })
    Trace.on = false
    result.putArray("rounds").add(StreamBench.dump(cap, work, err))
  }

  /** The registered entries on one warm session. The untimed warm-up pass
    * writes each entry's result for the oracle check; timed passes run
    * `queryExecution.toRdd.count()` (a plain count lets Catalyst prune
    * projection-only queries), with planning forced first so it is timed
    * on its own. A traced run alternates untraced and traced passes. */
  def catalogue(spark: SparkSession, spec: JsonNode, traced: Boolean, seconds: Double,
      result: ObjectNode): Unit = {
    val data = spec.get("data").asText
    val out = spec.get("out").asText
    val entries = spec.get("entries").elements().asScala.map(_.asText).toSeq
    val sc = spark.sparkContext
    val warm = result.putObject("warm_rows")
    val oracle = result.putObject("oracle_sql")
    val warmMs = result.putObject("warm_ms")
    entries.foreach { e =>
      oracle.put(e, SparkEntry.oracleSql.getOrElse(e, ""))
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(e)(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$out/$e")
        warm.put(e, spark.read.parquet(s"$out/$e").count())
      } catch { case t: Throwable => warm.put(e, s"failed: ${t.getMessage}") }
      warmMs.put(e, (System.nanoTime() - t0) / 1e6)
      spark.catalog.clearCache()
    }

    val passes = result.putArray("passes")
    startTimed(result)
    val t0 = System.nanoTime()
    var i = 0
    while (i < (if (traced) 2 else 1) || (System.nanoTime() - t0) / 1e9 < seconds) {
      val tracedPass = traced && i % 2 == 1
      Trace.on = tracedPass
      val pass = passes.addObject().put("traced", tracedPass).put("start", Trace.nowMs())
      val es = pass.putObject("entries")
      entries.foreach { e =>
        val o = es.putObject(e)
        val trace = s"$e#$i"
        try Trace.span(sc, "entry", trace) {
          val a = Trace.nowMs()
          val df = Trace.span(sc, "planning", trace) {
            val df = SparkEntry.queries(e)(spark, data)
            df.queryExecution.executedPlan
            df
          }
          val b = Trace.nowMs()
          val n = Trace.span(sc, "exec", trace)(df.queryExecution.toRdd.count())
          val c = Trace.nowMs()
          o.put("planning_ms", b - a).put("exec_ms", c - b).put("end", c).put("rows", n)
        } catch { case t: Throwable => o.put("error", String.valueOf(t.getMessage)) }
        Trace.on = false
        spark.catalog.clearCache()
        Trace.on = tracedPass
      }
      Trace.on = false
      i += 1
    }
  }

  /** `graft.Bench`'s calibration kernel: a fixed 20M-row groupBy. Recorded
    * as context, never used to normalize. */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(20000000L).selectExpr("id % 997 AS k", "id AS v")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("v"))
      .queryExecution.toRdd.count()
    (System.nanoTime() - t0) / 1e9
  }
}
