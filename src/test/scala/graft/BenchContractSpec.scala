package graft

import java.io.{ByteArrayOutputStream, PrintStream}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Driver-visible bench protocol pins (VERDICT r15 task 5): the BENCH
  * artifact has now broken twice for different reasons — r08 (the single
  * all-queries line outgrew the driver's tail capture) and r15 (the suite
  * outgrew the harness wall-clock budget, rc 124 / parsed:null). This
  * suite runs `Bench.main` in-process against the sf0.001 fixture with a
  * deadline tight enough to trip the pass scheduler and asserts the whole
  * driver-facing surface: per-query lines parse, the summary line parses
  * and is emitted even when later passes are deadline-skipped, the
  * bench.json artifact is valid JSON, and a nonexistent SF dir yields
  * all-failed / total 0.0 instead of a crash. The walker and probe
  * protocol run on a small synthetic DAG passed to `Bench.run`, so only
  * one full-catalogue pass runs here.
  *
  * Config reaches the main via system properties (Bench.cfg checks props
  * before env — a JVM cannot set its own environment). The main must NOT
  * stop the shared test SparkSession: SPARK_GRAFT_BENCH_NO_STOP=1. */
class BenchContractSpec extends AnyFunSuite {

  // touch the shared fixture so Bench's getOrCreate joins the session
  // other suites use instead of building a second context
  graft.streaming.StreamFixture.spark

  private val QueryLine = """\{"query":"([A-Za-z0-9_]+)","sec":(-?[0-9.]+)\}""".r
  private val SummaryFrag = """"metric":"total","value":(-?[0-9.]+)""".r.unanchored

  /** Runs the bench (`Bench.main`, or `Bench.run` over `catalogue`) under
    * `props` and returns its non-empty stdout lines. */
  private def runMain(props: Map[String, String],
      catalogue: Option[Seq[Node[_]]] = None): Seq[String] = {
    val saved = props.keys.map(k => k -> sys.props.get(k)).toMap
    props.foreach { case (k, v) => System.setProperty(k, v) }
    // Bench.main's getOrCreate applies its builder confs to the SHARED
    // test session (ADVICE r16: shuffle partitions / timezone / UI flags
    // leaked into later plan-sensitive suites) — snapshot and restore the
    // keys the builder sets, like the sys.props save/restore above.
    val spark = graft.streaming.StreamFixture.spark
    // only the RUNTIME-settable keys: static confs (spark.ui.enabled)
    // cannot be modified on a live session, so they cannot leak either
    val confKeys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong")
    val savedConf = confKeys.map(k => k -> spark.conf.getOption(k))
    val bos = new ByteArrayOutputStream()
    try Console.withOut(new PrintStream(bos, true, "UTF-8")) {
      catalogue.fold(Bench.main(Array.empty))(Bench.run)
    } finally {
      saved.foreach {
        case (k, Some(v)) => System.setProperty(k, v)
        case (k, None)    => System.clearProperty(k)
      }
      savedConf.foreach {
        case (k, Some(v)) => try spark.conf.set(k, v) catch { case _: Throwable => () }
        case (k, None)    => try spark.conf.unset(k) catch { case _: Throwable => () }
      }
    }
    bos.toString("UTF-8").linesIterator.toSeq.filter(_.nonEmpty)
  }

  private def field(line: String, name: String): Option[String] =
    (s""""$name":([^,}\\[]+|\\[[^\\]]*\\])""").r.findFirstMatchIn(line).map(_.group(1))

  test("sf0.001 run: per-query lines parse, summary parses, deadline skip " +
    "still emits a parseable summary, artifact is valid JSON") {
    val out = java.nio.file.Files.createTempFile("graft-bench-contract", ".json")
    val lines = runMain(Map(
      "SPARK_GRAFT_SF_DIR" -> "/root/testdata/sf0.001",
      "SPARK_GRAFT_BENCH_RUNS" -> "2",
      // pass 1 always runs; a 1 s deadline guarantees pass 2 is skipped —
      // the r15 failure mode, now required to degrade to a valid artifact
      "SPARK_GRAFT_BENCH_DEADLINE_S" -> "1",
      "SPARK_GRAFT_SF1" -> "0",
      "SPARK_GRAFT_BENCH_OUT" -> out.toString,
      "SPARK_GRAFT_BENCH_NO_STOP" -> "1"))

    val summaries = lines.filter(SummaryFrag.matches(_))
    assert(summaries.nonEmpty, s"no summary line in:\n${lines.takeRight(5).mkString("\n")}")
    // every non-summary line is a short per-query line
    val queryLines = lines.filterNot(summaries.contains(_))
    assert(queryLines.nonEmpty, "no per-query lines printed")
    queryLines.foreach {
      case QueryLine(_, _) => ()
      case other => fail(s"unparseable bench stdout line: $other")
    }
    // the LAST line is the final summary (the driver greps the tail)
    assert(SummaryFrag.matches(lines.last), s"last line is not a summary: ${lines.last}")
    val summary = lines.last
    assert(field(summary, "runs").contains("2"), summary)
    assert(field(summary, "passes_run").contains("1"),
      s"deadline must skip pass 2 of 2: $summary")
    assert(field(summary, "failed").contains("[]"),
      s"no entry may fail at sf0.001: $summary")
    assert(field(summary, "value").exists(_.toDouble > 0), summary)
    // per-query coverage: every registered + bench-only entry reports
    // (the bench catalogue is a SUPERSET — it also bills shared pipeline
    // artifacts like shingle_table / token_table as their own entries)
    val reported = queryLines.collect { case QueryLine(n, _) => n }.toSet
    val expected = SparkEntry.queries.keySet ++ SparkEntry.benchOnly.keySet
    assert((expected -- reported).isEmpty,
      s"entries missing from bench stdout: ${expected -- reported}")
    assert(reported == SparkEntry.catalogue.map(_.name).toSet,
      s"bench stdout must name exactly the catalogue DAG's nodes")
    // artifact: valid JSON with the same per-query map (a real parse —
    // Spark's JSON reader — not a regex)
    val spark = graft.streaming.StreamFixture.spark
    val parsed = spark.read.option("multiLine", "true").json(out.toString)
    assert(parsed.columns.contains("queries") && parsed.columns.contains("summary"),
      s"bench artifact missing sections: ${parsed.columns.mkString(",")}")
    assert(parsed.select("queries.*").columns.length == reported.size,
      "artifact per-query map must cover the whole catalogue")
    // writer <-> parsePrior drift loop, closed on a REAL artifact: the
    // regex prior-parser must read back what this very run just wrote —
    // a format drift in render() would otherwise pass the hand-written
    // round-trip fixture while silently disabling next round's re-probe
    val (priorQ, _, priorCals, _) =
      Bench.parsePrior(java.nio.file.Files.readString(out))
    assert(priorQ.keySet == reported,
      s"parsePrior must read back every written entry; missing: ${reported -- priorQ.keySet}")
    assert(priorCals.nonEmpty && priorCals.forall(_ > 0),
      s"parsePrior must read back the calibration column: $priorCals")
  }

  // ---- outlier re-probe protocol (VERDICT r16 task 1) ----

  test("synthetic slow pass: the inflated min is flagged and the re-probe " +
    "sample replaces it via the tagged merge") {
    // the r16 incident, miniaturized: one surviving pass on a window
    // calibrating 3.125 published q07 at 18x its committed value
    val slowPass = Seq("q07" -> 17.2, "cheap" -> 0.4, "fine" -> 2.0)
    val prior = Map("q07" -> 0.94, "cheap" -> 0.35, "fine" -> 1.9)
    val flagged = Bench.outlierEntries(Seq(slowPass), Seq(3.125), prior)
    assert(flagged.map(_._1) == Seq("q07"),
      s"only the >2.5x-prior entry may flag: $flagged")
    // the re-probe sample folds in through the same tagged-extra merge
    val merged = Bench.minOver(Seq(slowPass), Seq("q07" -> 0.98)).toMap
    assert(merged("q07") == 0.98, "re-probe must replace the inflated min")
    assert(merged("fine") == 2.0, "untouched entries keep their pass min")
    // a slower re-probe (load got worse) must never inflate further
    assert(Bench.minOver(Seq(slowPass), Seq("fine" -> 9.9)).toMap.apply("fine") == 2.0)
  }

  test("loaded-passes-only criterion: entries whose every sample came from " +
    "a >1.5x-calibration pass flag even without a prior") {
    // both entries sampled on the clean (best-calibration) pass: no flags
    val flagged = Bench.outlierEntries(
      Seq(Seq("a" -> 4.8, "b" -> 1.0), Seq("a" -> 5.0, "b" -> 0.9)),
      Seq(0.6, 3.0), Map.empty)
    assert(flagged.isEmpty, s"clean-pass samples must clear the flag: $flagged")
    // b FAILED on the clean pass; its only valid sample is loaded-window
    val flagged2 = Bench.outlierEntries(
      Seq(Seq("a" -> 4.8, "b" -> -1.0), Seq("a" -> 5.0, "b" -> 2.0)),
      Seq(0.6, 3.0), Map.empty)
    assert(flagged2.map(_._1) == Seq("b"),
      s"b's only sample is loaded-window: $flagged2")
  }

  test("sf1 flags are calibration-normalized against the committed prior") {
    val cur = Seq("x" -> 9.0, "y" -> 9.0, "z" -> -1.0)
    val prior = Map("x" -> 4.0, "y" -> 8.0, "z" -> 1.0)
    // window ratio 1.2: x normalizes to 9/(4*1.2)=1.875x (flag), y to
    // 0.94x (clear), z failed (never flagged)
    val flagged = Bench.sf1Flagged(cur, prior, curCal = 0.72, priorCal = 0.6)
    assert(flagged.map(_._1) == Seq("x"), s"$flagged")
  }

  test("parsePrior round-trips the artifact this bench writes") {
    val text =
      """{
        |  "summary": {"metric":"total","value":10.5,"unit":"sec","n_queries":2,"failed":[],"runs":3,"passes_run":2,"deadline_s":2700.0,"calibration_s":[0.641,3.125],"reprobed":[],"deferred":[],"sf":"/x","sf1":{"total":99.0,"scale_path_total":90.0,"quadratic_total":9.0,"quadratic":["p"],"n_queries":2,"failed":[],"runs":1,"second_pass":[],"calibration_s":[0.789],"probes":{},"probe_cal":-1.0,"dir":"/y"}},
        |  "queries": {
        |    "q07_agg_tpch_q1": 0.94,
        |    "q09": 1.4
        |  },
        |  "sf1_queries": {
        |    "q07_agg_tpch_q1": 7.1
        |  }
        |}""".stripMargin
    val (q, sf1q, cal01, calSf1) = Bench.parsePrior(text)
    assert(q == Map("q07_agg_tpch_q1" -> 0.94, "q09" -> 1.4))
    assert(sf1q == Map("q07_agg_tpch_q1" -> 7.1))
    assert(cal01 == Seq(0.641, 3.125))
    assert(calSf1 == Seq(0.789))
    // degenerate inputs parse to empty, never throw
    assert(Bench.parsePrior("") == (Map.empty, Map.empty, Seq.empty, Seq.empty))
    assert(Bench.parsePrior("not json at all") ==
      (Map.empty, Map.empty, Seq.empty, Seq.empty))
  }

  // ---- the DAG walker, on a synthetic catalogue ----

  private val SlowS = 0.4

  /** A small synthetic DAG: `base` sleeps [[SlowS]] in its step and feeds
    * `dep`; `other` is still held when `check` (its consumer) records the
    * storage levels of base — whose last consumer has run — and of other;
    * `broken` fails, and `after_broken` → `after_after` depend on it. Each
    * node counts its step invocations. */
  private final class Synthetic {
    private val spark = graft.streaming.StreamFixture.spark
    val builds = mutable.Map.empty[String, Int].withDefaultValue(0)
    @volatile var baseFrame: DataFrame = _
    @volatile var levelsAtCheck: (StorageLevel, StorageLevel) = _
    private def node(name: String, deps: Node[_]*)(body: Node.In => DataFrame) =
      Node.frame(name, deps: _*) { in => builds(name) += 1; body(in) }
    val base = node("base") { _ =>
      Thread.sleep((SlowS * 1000).toLong)
      baseFrame = spark.range(1000).toDF("id")
      baseFrame
    }
    val other = node("other")(_ => spark.range(5).toDF("id"))
    val dep = node("dep", base)(in => in(base).filter(col("id") % 2 === 0))
    val check = node("check", other) { in =>
      levelsAtCheck = (baseFrame.storageLevel, in(other).storageLevel)
      in(other)
    }
    val leaf = node("leaf")(_ => spark.range(10).toDF("id"))
    val broken = node("broken")(_ => throw new IllegalStateException("synthetic failure"))
    val afterBroken = node("after_broken", broken)(in => in(broken))
    val afterAfter = node("after_after", afterBroken)(in => in(afterBroken))
    val healthy: Seq[Node[_]] = Seq(base, other, dep, check, leaf)
  }

  private val fixture = "/root/testdata/sf0.001"

  test("walker: each artifact is built once per pass, handed to its consumers, " +
    "and unpersisted after its last consumer") {
    val s = new Synthetic
    val spark = graft.streaming.StreamFixture.spark
    val out = Bench.runPass(spark, s.healthy, fixture)
    assert(out.map(_._1) == s.healthy.map(_.name), "one line per node, in walk order")
    assert(out.forall(_._2 >= 0), s"no synthetic node may fail: $out")
    assert(s.healthy.forall(n => s.builds(n.name) == 1), s"each node built once: ${s.builds}")
    val sec = out.toMap
    assert(sec("base") >= SlowS, s"base bills its own step: $out")
    assert(sec("dep") < SlowS, s"dep reads the kept base, never rebuilds it: $out")
    val (baseLevel, otherLevel) = s.levelsAtCheck
    assert(baseLevel == StorageLevel.NONE, "base must be unpersisted after its last consumer")
    assert(otherLevel != StorageLevel.NONE, "other must stay kept until its consumer ran")
    assert(s.baseFrame.storageLevel == StorageLevel.NONE)
    intercept[IllegalArgumentException](Bench.runPass(spark, Seq(s.dep, s.base), fixture))
  }

  test("walker: a failed dependency marks each dependent -1 and names the dependency") {
    val s = new Synthetic
    val spark = graft.streaming.StreamFixture.spark
    val err = new ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new PrintStream(err, true, "UTF-8"))
    val out =
      try Bench.runPass(spark, s.healthy ++ Seq(s.broken, s.afterBroken, s.afterAfter), fixture).toMap
      finally System.setErr(saved)
    assert(Seq("broken", "after_broken", "after_after").forall(out(_) == -1.0), s"$out")
    assert(s.healthy.forall(n => out(n.name) >= 0), s"$out")
    assert(s.builds("after_broken") == 0 && s.builds("after_after") == 0,
      "a dependent of a failed node must not run its step")
    val log = err.toString("UTF-8")
    assert(log.contains("upstream entry 'broken' failed — dependent entry after_broken skipped"), log)
    assert(log.contains("upstream entry 'after_broken' failed — dependent entry after_after skipped"), log)
  }

  test("end-to-end: a prior claiming tiny values makes the re-probe run " +
    "(reprobed tag) and the sf1 flag probe run (sf1.probes + probe_cal)") {
    val out = java.nio.file.Files.createTempFile("graft-bench-reprobe", ".json")
    val prior = java.nio.file.Files.createTempFile("graft-bench-prior", ".json")
    // a committed prior in which one cheap DEPENDENT entry was ~free (but
    // above outlierEntries' 0.001 epsilon floor) at BOTH tiers: the live
    // run's min exceeds 2.5x (sf0.1 re-probe) / 1.5x-normalized (sf1
    // probe) of it, so both probe paths must fire. The catalogue is the
    // synthetic DAG and the "sf1 tier" the same fixture — the protocol
    // under test is the probe machinery, not the scaling numbers.
    java.nio.file.Files.writeString(prior,
      """{
        |  "summary": {"metric":"total","value":1.0,"unit":"sec","calibration_s":[0.5],"sf":"/root/testdata/sf0.001","sf1":{"total":1.0,"calibration_s":[0.5],"dir":"/root/testdata/sf0.001"}},
        |  "queries": {
        |    "dep": 0.002
        |  },
        |  "sf1_queries": {
        |    "dep": 0.002
        |  }
        |}""".stripMargin)
    val s = new Synthetic
    val lines = runMain(Map(
      "SPARK_GRAFT_SF_DIR" -> fixture,
      "SPARK_GRAFT_BENCH_RUNS" -> "1",
      "SPARK_GRAFT_BENCH_DEADLINE_S" -> "9999",
      "SPARK_GRAFT_SF1" -> "1",
      "SPARK_GRAFT_SF1_DIR" -> fixture,
      "SPARK_GRAFT_SF1_RUNS" -> "1",
      "SPARK_GRAFT_BENCH_PRIOR" -> prior.toString,
      "SPARK_GRAFT_BENCH_OUT" -> out.toString,
      "SPARK_GRAFT_BENCH_NO_STOP" -> "1"), Some(s.healthy))
    val summary = lines.last
    assert(field(summary, "reprobed").exists(_.contains("dep")),
      s"re-probe must fire for the >2.5x-prior entry: $summary")
    // entries absent from the prior must not be re-probed
    val reprobed = field(summary, "reprobed").getOrElse("[]")
    assert(reprobed.count(_ == ',') == 0 && reprobed.contains("dep"),
      s"only the flagged entry may re-probe: $reprobed")
    assert(field(summary, "deferred").contains("[]"),
      s"nothing may defer under a 9999s deadline: $summary")
    // the sf1 probe leg: flagged vs the tiny prior, min-of-2 probed,
    // probe window calibration recorded
    assert(field(summary, "probes").exists(_.contains("dep")),
      s"sf1 probe must fire for the flagged entry: $summary")
    assert(field(summary, "probe_cal").exists(_.toDouble > 0),
      s"probe calibration must be recorded: $summary")
    // a dependent entry's probes pre-build its dependency OUTSIDE the
    // timed block: base (SlowS per build) ran once per pass and once per
    // probe of dep (sf0.1 re-probe + two sf1 probes), yet dep's probed
    // time stays below one base build
    assert(s.builds("base") == 5 && s.builds("dep") == 5, s"builds: ${s.builds}")
    val probed = """"probes":\{"dep":([0-9.]+)\}""".r.findFirstMatchIn(summary).map(_.group(1).toDouble)
    assert(probed.exists(_ < SlowS), s"dep's probe billed its dependency: $summary")
    // sf1 side of the writer <-> parsePrior drift loop (the sf0.001
    // contract test covers the sf0.1 section; only this run writes an
    // sf1_queries section to read back)
    val (_, sf1Q, _, sf1Cals) =
      Bench.parsePrior(java.nio.file.Files.readString(out))
    assert(sf1Q.nonEmpty && sf1Q.contains("dep"),
      s"parsePrior must read back the sf1_queries section: ${sf1Q.size} entries")
    assert(sf1Cals.nonEmpty && sf1Cals.forall(_ > 0),
      s"parsePrior must read back the sf1 calibration column: $sf1Cals")
  }

  test("nonexistent SF dir: every entry fails, total 0.0, no crash") {
    val out = java.nio.file.Files.createTempFile("graft-bench-contract-bad", ".json")
    val lines = runMain(Map(
      "SPARK_GRAFT_SF_DIR" -> "/nonexistent/graft-no-such-dir",
      "SPARK_GRAFT_BENCH_RUNS" -> "1",
      "SPARK_GRAFT_SF1" -> "0",
      "SPARK_GRAFT_BENCH_OUT" -> out.toString,
      "SPARK_GRAFT_BENCH_NO_STOP" -> "1"))
    val summary = lines.last
    assert(SummaryFrag.matches(summary), s"no summary on the degenerate path: $summary")
    assert(field(summary, "value").contains("0.0"),
      s"a nonexistent dir must total 0.0: $summary")
    val failedList = field(summary, "failed").getOrElse("[]")
    val nFailed = if (failedList == "[]") 0 else failedList.count(_ == ',') + 1
    val nQueries = field(summary, "n_queries").map(_.toInt).getOrElse(-1)
    assert(nFailed == nQueries,
      s"all $nQueries catalogue entries must report failed, got $nFailed")
    assert(nQueries >= SparkEntry.queries.size + SparkEntry.benchOnly.size,
      "catalogue cannot be smaller than the registry")
  }
}
