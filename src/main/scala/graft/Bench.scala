package graft

import scala.collection.mutable

import org.apache.spark.sql.{classic, Dataset, SparkSession}
import org.apache.spark.sql.execution.{CacheManager, CachedData}

/** Benchmark main: times every catalogue entry at SPARK_GRAFT_SF_DIR and
  * prints one short JSON line PER QUERY ({"query":name,"sec":min}) followed
  * by a compact summary line ({"metric":"total",...}) — multi-line since
  * round 9 because the single all-queries line outgrew the driver's tail
  * capture (BENCH_r08 parsed:null). A failed query records sec = -1 and
  * is listed in "failed" — a broken query must never masquerade as a fast
  * one (VERDICT r01 §wrong-6).
  *
  * Protocol (VERDICT r02 §perf): this box swings ±40% under co-tenant
  * load, so a single-run number cannot distinguish a true regression from
  * noise. The whole suite runs SPARK_GRAFT_BENCH_RUNS (default 3) full
  * passes and reports the per-query MIN across passes; within a pass each
  * query is timed once with caches cleared between queries, so a min is an
  * honest cold-ish run, not a cache replay.
  *
  * Pipeline sharing: the catalogue is a dependency DAG
  * ([[SparkEntry.catalogue]]; every shared pipeline is declared once, as
  * nodes naming their upstream artifacts). A pass ([[runPass]]) walks it
  * in order and times each node once ([[Node.make]]: its own step plus
  * materializing its output frame). A node with consumers is kept (a
  * DataFrame persisted) and handed to them, so e.g. the tokenize
  * shuffle of the shared shingle table is paid and counted exactly once
  * per pass; it is released right after its last consumer, and the
  * cache is cleared
  * whenever no artifact is held. A node whose dependency failed records
  * -1 and names that dependency. A re-probe ([[probe]]) pre-builds the
  * node's dependencies outside the timed block — exactly how the pass
  * bills it — so every entry, shared or not, can be re-probed.
  *
  * sf1 addendum (r12): when target/testdata/sf1 exists (or
  * SPARK_GRAFT_SF1_DIR points elsewhere; SPARK_GRAFT_SF1=0 disables,
  * SPARK_GRAFT_SF1_RUNS overrides the pass count), extra passes run the
  * whole catalogue at the 10x tier and land as a compact "sf1" object on
  * the summary line plus a full "sf1_queries" map in bench.json — the
  * whole-catalogue scaling measurement VERDICT r11 task 6 asked for.
  * Min-of-2 r13..r15; ONE full pass since r16 (the second all-inclusive
  * sf1 pass busted the r15 harness deadline).
  *
  * Deadline awareness (r16, VERDICT r15 task 1): the whole run fits
  * SPARK_GRAFT_BENCH_DEADLINE_S (default 2700 s). sf0.1 pass 1 always
  * runs; later passes are DEFERRED when their projected cost (1.15x the
  * slowest completed pass, plus a reservation for one sf1 pass) would
  * bust the deadline, then backfilled after the sf1 tier from whatever
  * budget remains; the summary line is printed and bench.json
  * rewritten after EVERY completed pass; a shutdown hook (stdout + file
  * only, no Spark calls) flushes the latest totals on SIGTERM. The
  * summary carries passes_run so BENCH_DIFF can normalize a shortened
  * round; "runs" keeps its requested-count semantics. BenchContractSpec
  * pins all of this against the sf0.001 fixture and a synthetic DAG on
  * every sbt test. */
object Bench {
  /** Per-query min across completed passes (plus any tagged extras —
    * partial-pass or re-probe samples — for the same name); a query that
    * failed every pass stays -1. Object-level since r17 so
    * BenchContractSpec can pin the re-probe merge on a synthetic fixture. */
  def minOver(passes: Seq[Seq[(String, Double)]],
      extra: Seq[(String, Double)] = Nil): Seq[(String, Double)] =
    if (passes.isEmpty) Seq.empty
    else {
      val extraByName = extra.groupBy(_._1)
      passes.head.map(_._1).map { n =>
        val xs = (passes.flatMap(_.toMap.get(n)) ++
          extraByName.getOrElse(n, Nil).map(_._2)).filter(_ >= 0)
        n -> (if (xs.isEmpty) -1.0 else xs.min)
      }
    }

  /** Outlier detection for the re-probe pass (VERDICT r16 task 1): the
    * r16 driver artifact published one entry at 17.2 s — 18x its
    * committed value — because its only completed pass ran on a window calibrating 3.125
    * and nothing re-checked the inflated minima. An entry's min is NOT
    * trustworthy when (a) it exceeds ~2.5x its value in the committed
    * prior artifact, or (b) every pass that contributed a sample
    * calibrated > 1.5x the best pass of this run. Returns (name, current
    * min) sorted cheapest-first (by the smaller of prior/current) so a
    * tight remaining budget re-probes the most entries. */
  def outlierEntries(passes: Seq[Seq[(String, Double)]], cals: Seq[Double],
      prior: Map[String, Double]): Seq[(String, Double)] = {
    val goodCals = cals.filter(_ > 0)
    val bestCal = if (goodCals.nonEmpty) goodCals.min else -1.0
    minOver(passes).flatMap {
      case (n, cur) if cur >= 0 =>
        val inflated = prior.get(n).exists(p => p >= 0.001 && cur > 2.5 * p)
        val contributing = passes.zipWithIndex.collect {
          case (pass, i) if pass.toMap.get(n).exists(_ >= 0) => i }
        val loadedOnly = bestCal > 0 && contributing.nonEmpty &&
          contributing.forall(i => i < cals.size && cals(i) > 1.5 * bestCal)
        if (inflated || loadedOnly) Some(n -> cur) else None
      case _ => None
    }.sortBy { case (n, cur) => math.min(prior.getOrElse(n, cur), cur) }
  }

  /** sf1 flag detection for the automated adjudication probe (VERDICT r16
    * task 4): an sf1 entry is flagged when its min exceeds 1.5x its
    * committed prior AFTER normalizing by the calibration ratio of the
    * two windows — the same arithmetic BENCH_DIFF applies, so the probe
    * list is exactly the flag list the diff would raise. Sorted
    * cheapest-first. */
  def sf1Flagged(current: Seq[(String, Double)], prior: Map[String, Double],
      curCal: Double, priorCal: Double): Seq[(String, Double)] = {
    // The deflation side of the normalization is CLAMPED at 0.9: the sf1
    // calibration is min-of-1, and one lucky sample (r17 live run: 0.630
    // vs prior 0.789) deflates the threshold enough to manufacture 50+
    // flags out of raw ratios near 1.2x. A real regression still flags —
    // raw 1.35x+ always exceeds the clamped threshold — while the probe
    // budget stops drowning in calibration variance.
    val raw = if (priorCal > 0 && curCal > 0) curCal / priorCal else 1.0
    val norm = math.max(raw, 0.9)
    current.filter { case (n, v) =>
      v >= 0 && prior.get(n).exists(p => p >= 0.001 && v > 1.5 * p * norm)
    }.sortBy(_._2)
  }

  /** Parse a prior bench.json artifact (this file's own render format —
    * machine-written, so the shapes are exact): the sf0.1 and sf1
    * per-query maps plus the sf0.1 and sf1 calibration columns. Absent
    * file / section → empty. Regex-based by design: the bench must not
    * depend on a JSON library the runtime classpath doesn't pin. */
  def parsePrior(text: String)
      : (Map[String, Double], Map[String, Double], Seq[Double], Seq[Double]) = {
    def mapBlock(key: String): Map[String, Double] = {
      val i = text.indexOf("\"" + key + "\": {")
      if (i < 0) Map.empty
      else {
        val rest = text.substring(i + key.length + 5)
        val end = rest.indexOf("}")
        """"([A-Za-z0-9_]+)":\s*(-?[0-9.]+)""".r
          .findAllMatchIn(if (end < 0) rest else rest.take(end))
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    }
    def cals(scope: String): Seq[Double] =
      """"calibration_s":\[([^\]]*)\]""".r.findFirstMatchIn(scope)
        .map(_.group(1).split(",").toSeq.filter(_.nonEmpty).map(_.toDouble))
        .getOrElse(Seq.empty)
    val sf1Start = text.indexOf("\"sf1\":{")
    val (pre, post) = if (sf1Start < 0) (text, "") else text.splitAt(sf1Start)
    (mapBlock("queries"), mapBlock("sf1_queries"), cals(pre), cals(post))
  }

  /** Config lookup: system property first (BenchContractSpec drives the
    * main in-JVM and cannot set environment variables), then the
    * environment, then the default. */
  private def cfg(name: String, default: String): String =
    sys.props.get(name).orElse(sys.env.get(name)).getOrElse(default)

  // toRdd.count() materializes every output column; a plain count()
  // would let Catalyst prune projection-only queries to no-ops.
  private def time(body: => Unit): Double = {
    val t0 = System.nanoTime()
    val ok =
      try { body; true }
      catch { case e: Throwable =>
        System.err.println(s"[bench] FAILED: ${e.getMessage}"); false
      }
    if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
  }

  /** Fixed-work calibration probe, timed at the head of every pass: a
    * constant CPU+shuffle kernel (20M-row modular groupBy, no data
    * dependence on sfDir) whose runtime moves only with box load. The
    * last three rounds each spent judge time adjudicating co-tenant
    * noise (VERDICT r6 task 3); with calibration_s in the artifact a
    * noisy window is detectable from the JSON alone — divide a
    * suspicious per-query delta by the calibration ratio first.
    * graft.tools.Profile prints the same kernel as its load context. */
  def calibrate(spark: SparkSession): Double = time {
    spark.range(20000000L)
      .selectExpr("id % 997 AS k", "id AS v")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("v"))
      .queryExecution.toRdd.count()
  }

  /** One pass over `catalogue` (dependency order) at `dir`: per node, in
    * order, its seconds or -1. Each node is built and billed once; a node
    * with consumers is kept for them and released after its last one.
    * Every other cache a node creates is dropped once it is billed, so a
    * later node that caches the same frame builds and bills it itself. */
  def runPass(spark: SparkSession, catalogue: Seq[Node[_]], dir: String): Seq[(String, Double)] = {
    val lastUse = lastConsumer(catalogue)
    val held = mutable.LinkedHashMap.empty[Node[_], Any]
    def release[A](n: Node[A]): Unit = held.remove(n).foreach(a => n.free(a.asInstanceOf[A]))
    catalogue.zipWithIndex.map { case (n, i) =>
      val before = cacheEntries(spark)
      val sec = n.deps.find(d => !held.contains(d)) match {
        case Some(d) =>
          System.err.println(s"[bench] FAILED: upstream entry '${d.name}' failed — " +
            s"dependent entry ${n.name} skipped")
          -1.0
        case None =>
          val in = Node.in(spark, dir, n.deps, held)
          time { val a = n.make(in, shared = lastUse.contains(n)); if (lastUse.contains(n)) held(n) = a }
      }
      val kept = held.get(n).collect { case df: Dataset[_] => df.queryExecution.analyzed }
      cacheEntries(spark)
        .filterNot(e => before.exists(_ eq e) || kept.exists(e.plan.sameResult))
        .foreach(e => spark.sharedState.cacheManager.uncacheQuery(
          spark.asInstanceOf[classic.SparkSession], e.plan, cascade = false))
      n.deps.filter(d => lastUse(d) == i).foreach(release(_))
      if (held.isEmpty) spark.catalog.clearCache()
      n.name -> sec
    }
  }

  /** The session's cache entries. `CacheManager` has no public listing,
    * so this reads its private entry list. */
  private def cacheEntries(spark: SparkSession): Seq[CachedData] = {
    val entries = classOf[CacheManager].getDeclaredField("cachedData")
    entries.setAccessible(true)
    entries.get(spark.sharedState.cacheManager).asInstanceOf[IndexedSeq[CachedData]]
  }

  /** Index of each node's last consumer in `catalogue`; nodes without
    * consumers are absent. Requires dependency order. */
  private def lastConsumer(catalogue: Seq[Node[_]]): Map[Node[_], Int] = {
    val position = catalogue.zipWithIndex.toMap
    catalogue.zipWithIndex.foreach { case (n, i) =>
      n.deps.foreach(d => require(position.get(d).exists(_ < i),
        s"catalogue is not in dependency order: ${n.name} needs ${d.name} before it"))
    }
    catalogue.zipWithIndex
      .flatMap { case (n, i) => n.deps.map(_ -> i) }
      .groupMapReduce(_._1)(_._2)(math.max)
  }

  /** Re-times one node as a pass bills it: its dependencies pre-built
    * outside the timed block, then [[Node.make]] (kept iff `shared`).
    * -1 if a dependency or the node fails; the cache is cleared after. */
  def probe(spark: SparkSession, n: Node[_], shared: Boolean, dir: String): Double = {
    val sec =
      try {
        val in = Node.prepare(spark, dir, n.deps)
        time { n.make(in, shared) }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] FAILED: dependencies of ${n.name}: ${e.getMessage}"); -1.0
      }
    spark.catalog.clearCache()
    sec
  }

  def main(args: Array[String]): Unit = run(SparkEntry.catalogue)

  /** The bench over `catalogue`, in dependency order (`main` passes
    * [[SparkEntry.catalogue]]). */
  def run(catalogue: Seq[Node[_]]): Unit = {
    val wall0 = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - wall0) / 1e9
    val sfDir = cfg("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = cfg("SPARK_GRAFT_CPUS", "32")
    val runs = cfg("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // Wall-clock budget (VERDICT r15 task 1): r14's driver invocation
    // passed at 53:44, r15's timed out — default to a safe ~45 min and
    // let the scheduler below drop repeat passes first, sf1 passes last.
    val deadlineS = cfg("SPARK_GRAFT_BENCH_DEADLINE_S", "2700").toDouble
    val spark = Tables.localSession(cpus)
    // warm the session (task scheduling, codegen compiler, parquet footer
    // caches) so the first timed query doesn't absorb JVM start-up costs
    spark.range(1000000).selectExpr("sum(id)").collect()
    SparkEntry.entry(spark).queryExecution.toRdd.count()
    val shared = lastConsumer(catalogue).keySet
    def probeOf(name: String, dir: String): () => Double = {
      val n = catalogue.find(_.name == name).get
      () => probe(spark, n, shared(n), dir)
    }

    // ---- deadline-aware pass scheduler (VERDICT r15 task 1) ----
    // r15's driver invocation timed out (rc 124, parsed:null) because the
    // catalogue outgrew the harness budget: 199 entries x (3 sf0.1 + 2
    // all-inclusive sf1 passes) was 53:44 at r14 and blew past it at r15
    // on a slow window. The scheduler below (a) always runs sf0.1 pass 1,
    // (b) skips any LATER pass whose projected cost would bust
    // SPARK_GRAFT_BENCH_DEADLINE_S, reserving room for at least one sf1
    // pass, (c) emits the summary line + rewrites the bench.json artifact
    // after EVERY completed pass, and (d) flushes via a shutdown hook
    // (pure file/stdout work, no Spark calls) so even a SIGTERM mid-pass
    // leaves a parseable artifact of the passes that did complete.
    val calibrations = scala.collection.mutable.ArrayBuffer.empty[Double]
    val sf01Passes = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    val sf01Durs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val sf1Full = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    val sf1Durs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val sf1Cals = scala.collection.mutable.ArrayBuffer.empty[Double]

    // locale-independent rendering: the f interpolator formats with the
    // default locale, which under a comma-decimal locale would corrupt
    // the machine-read JSON ("0,512" → two array elements)
    def r3(x: Double): String = (math.round(x * 1000) / 1000.0).toString

    // sf1 tier config (r11 VERDICT task 6): whole-catalogue passes at the
    // 10x tier, auto-detected at target/testdata/sf1 (generated via
    // `runMain graft.tools.Profile generate <sf0.1> target/testdata/sf1
    // 10`; not in git — skipped cleanly when absent).
    // DEFAULT 1 FULL PASS since r16 (VERDICT r15 task 1d): the second
    // all-inclusive sf1 pass — ~402 s of declared quadratics included —
    // is what blew the r15 harness budget, and for entries with a stable
    // prior-round ratio min-of-1 plus the per-pass calibration column is
    // enough to adjudicate a window.
    val sf1Dir = cfg("SPARK_GRAFT_SF1_DIR", "target/testdata/sf1")
    val sf1Runs = cfg("SPARK_GRAFT_SF1_RUNS", "1").toInt
    val sf1Enabled = cfg("SPARK_GRAFT_SF1", "1") != "0" &&
      new java.io.File(s"$sf1Dir/lineitem.parquet").exists()
    // one full-catalogue sf1 pass costs 4-6.5x one sf0.1 pass wall-clock
    // (BENCH_r14.json: 3x ~200 s sf0.1 + 2 sf1 in 53:44; the r16 mixed
    // windows measured 4.1x when pass 1 ran slower than the sf1 pass).
    // Two factors because the decisions are asymmetric:
    //  - RESERVE (defer sf0.1 repeats): high end — repeats can backfill
    //    later, so over-reserving costs nothing permanent;
    //  - GO (launch the sf1 pass): low end — skipping loses the scaling
    //    tier with certainty, while an optimistic start that overshoots
    //    the soft deadline still leaves a parseable artifact (per-pass
    //    summaries + the shutdown-hook flush), so the downside is
    //    bounded and the upside is the whole tier.
    val Sf1ReserveFactor = 6.5
    val Sf1GoFactor = 4.5

    // sf1 headline split (r14, VERDICT r13 task 3): the DECLARED exact
    // all-pairs baselines land in their own quadratic_total field; the
    // HEADLINE sf1 total tracks only the scale-path entries.
    val sf1Quadratics = SparkEntry.quadraticBaselines

    // ---- emission: summary after EVERY completed pass + crash-safe flush
    val out = cfg("SPARK_GRAFT_BENCH_OUT", "bench.json")
    // Prior artifact (VERDICT r16 task 1): the committed bench.json is the
    // adjudication baseline for the outlier re-probe and the sf1 flag
    // probe. Read BEFORE the first render overwrites the out path; a
    // separate prior can be pointed at via SPARK_GRAFT_BENCH_PRIOR.
    val priorPath = cfg("SPARK_GRAFT_BENCH_PRIOR", out)
    val (priorQ, priorSf1Q, _, priorSf1Cals) =
      try parsePrior(java.nio.file.Files.readString(java.nio.file.Paths.get(priorPath)))
      catch { case _: Throwable =>
        (Map.empty[String, Double], Map.empty[String, Double],
          Seq.empty[Double], Seq.empty[Double])
      }
    // Re-probe / probe samples, each billed as the pass bills the entry
    // (dependencies pre-built untimed). reprobes fold into the sf0.1
    // minima under an explicit tag; sf1Probes are ADJUDICATION-ONLY (never
    // folded: the sf1 min stays one full pass) — BENCH_DIFF reads them
    // from the artifact.
    var reprobes = Seq.empty[(String, Double)]
    var sf1Probes = Seq.empty[(String, Double)]
    var sf1ProbeCal = -1.0
    var deadlineNote = List.empty[String]
    @volatile var latestSummary: Option[String] = None
    @volatile var latestArtifact: Option[String] = None
    val flushed = new java.util.concurrent.atomic.AtomicBoolean(false)

    def render(finalEmit: Boolean): Unit = {
      val results = minOver(sf01Passes.toSeq, reprobes)
      val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
        .mkString("[", ",", "]")
      val total = results.collect { case (_, v) if v >= 0 => v }.sum
      val cal = calibrations.map(r3).mkString("[", ",", "]")
      val reprobedArr = reprobes.map(p => "\"" + p._1 + "\"")
        .mkString("[", ",", "]")
      val deferredArr = deadlineNote.reverse.map(n => "\"" + n + "\"")
        .mkString("[", ",", "]")
      val sf1Summary =
        if (sf1Full.isEmpty) None
        else {
          val rs = minOver(sf1Full.toSeq)
          val sf1Failed = rs.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
            .mkString("[", ",", "]")
          val sf1Total = rs.collect {
            case (k, v) if v >= 0 && !sf1Quadratics(k) => v }.sum
          val quadTotal = rs.collect {
            case (k, v) if v >= 0 && sf1Quadratics(k) => v }.sum
          val quadNames = rs.collect { case (k, _) if sf1Quadratics(k) => "\"" + k + "\"" }
            .mkString("[", ",", "]")
          val sf1Cal = sf1Cals.map(r3).mkString("[", ",", "]")
          // in-artifact adjudication probes (VERDICT r16 task 4): min-of-2
          // same-JVM re-runs of calibration-normalized flags, with the
          // calibration of the probe window alongside — never folded into
          // the minima
          val probes = sf1Probes
            .map(p => "\"" + p._1 + "\":" + r3(p._2)).mkString("{", ",", "}")
          // "total" keeps its pre-r14 all-inclusive semantics (ADVICE
          // r14: never redefine a field in place); the scale-path
          // headline lives under its own name.
          Some(s""""sf1":{"total":${r3(sf1Total + quadTotal)},"scale_path_total":${r3(sf1Total)},"quadratic_total":${r3(quadTotal)},"quadratic":$quadNames,"n_queries":${rs.size},"failed":$sf1Failed,"runs":${sf1Cals.size},"calibration_s":$sf1Cal,"probes":$probes,"probe_cal":${r3(sf1ProbeCal)},"dir":"$sf1Dir"}""")
        }
      // "runs" keeps its pre-r16 requested-count semantics; the new
      // passes_run field carries how many sf0.1 passes actually ran so
      // BENCH_DIFF can normalize a deadline-shortened round (VERDICT r15
      // task 1a).
      val summary = s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.size},"failed":$failed,"runs":$runs,"passes_run":${sf01Passes.size},"deadline_s":${r3(deadlineS)},"calibration_s":$cal,"reprobed":$reprobedArr,"deferred":$deferredArr,"sf":"$sfDir"${sf1Summary.fold("")("," + _)}}"""
      // One short line per query, then the summary line LAST (VERDICT r8
      // task 3: a single all-queries line outgrew the driver's tail
      // capture). Per-query lines print only on the final emission;
      // interim emissions print just the summary so the stdout stays
      // line-budgeted while still leaving a parseable line after every
      // completed pass (VERDICT r15 task 1b).
      if (finalEmit)
        results.foreach { case (k, v) => println(s"""{"query":"$k","sec":${r3(v)}}""") }
      println(summary)
      System.out.flush()
      // Machine-readable artifact (r9 VERDICT task 3): bench.json carries
      // EVERY query's min-of-N plus the calibration column — rewritten
      // after every pass, so a hard kill loses at most the pass in
      // flight. Commit a copy per round.
      val perQuery = results
        .map { case (k, v) => s"""    "$k": ${r3(v)}""" }.mkString(",\n")
      val sf1Queries =
        if (sf1Full.isEmpty) ""
        else {
          val m = minOver(sf1Full.toSeq)
            .map { case (k, v) => s"""    "$k": ${r3(v)}""" }.mkString(",\n")
          s""",\n  "sf1_queries": {\n$m\n  }"""
        }
      val artifact =
        s"""{\n  "summary": $summary,\n  "queries": {\n$perQuery\n  }$sf1Queries\n}\n"""
      latestSummary = Some(summary)
      latestArtifact = Some(artifact)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), artifact)
    }

    // Shutdown-hook flush (VERDICT r15 task 1c): pure stdout + file work —
    // deliberately NO Spark calls, so it cannot race the context's own
    // shutdown (the r15 tail was full of "stopped SparkContext" noise
    // from exactly that race in the still-running suite).
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      if (flushed.compareAndSet(false, true)) {
        latestSummary.foreach { s => System.out.println(s); System.out.flush() }
        try latestArtifact.foreach(a =>
          java.nio.file.Files.writeString(java.nio.file.Paths.get(out), a))
        catch { case _: Throwable => () }
      }
    }, "graft-bench-flush"))

    // ---- scheduler ----
    // sf0.1 passes: pass 1 unconditionally (an artifact with zero passes
    // helps nobody); later passes only if the projected cost — 1.15x the
    // slowest completed pass — plus the sf1 reservation still fits.
    var p = 1
    def runSf01Pass(label: String): Unit = {
      System.err.println(s"[bench] $label pass $p/$runs")
      val c = calibrate(spark)
      calibrations += c
      System.err.println(f"[bench] calibration $c%.3f s")
      val t0 = System.nanoTime()
      sf01Passes += runPass(spark, catalogue, sfDir)
      sf01Durs += (System.nanoTime() - t0) / 1e9
      render(finalEmit = false)
      p += 1
    }
    var sf01Deferred = false
    while (p <= runs && !sf01Deferred) {
      val sf1Reserve =
        if (sf1Enabled && sf1Full.isEmpty && sf01Durs.nonEmpty)
          Sf1ReserveFactor * sf01Durs.min
        else 0.0
      if (p > 1 && elapsedS + 1.15 * sf01Durs.max + sf1Reserve > deadlineS) {
        // not necessarily skipped for good: the backfill loop below
        // retries once the sf1 tier is secured (a slow pass 1 makes the
        // reservation swallow the repeats even when the window recovers)
        deadlineNote ::= s"sf0.1 passes $p..$runs deferred to backfill (deadline)"
        System.err.println(s"[bench] ${deadlineNote.head} at ${r3(elapsedS)}s")
        sf01Deferred = true
      } else runSf01Pass("")
    }
    // sf1 passes: before the first, the estimate is the factor above; a
    // repeat is projected from the measured first pass.
    if (sf1Enabled) {
      var q = 1
      while (q <= sf1Runs) {
        val need =
          if (sf1Durs.isEmpty) Sf1GoFactor * (if (sf01Durs.isEmpty) 0.0 else sf01Durs.min)
          else 1.15 * sf1Durs.max
        if (elapsedS + need > deadlineS) {
          deadlineNote ::= s"sf1 passes $q..$sf1Runs skipped (deadline)"
          System.err.println(s"[bench] ${deadlineNote.head} at ${r3(elapsedS)}s")
          q = sf1Runs + 1
        } else {
          System.err.println(s"[bench] sf1 addendum pass $q/$sf1Runs at $sf1Dir")
          val c = calibrate(spark)
          sf1Cals += c
          System.err.println(f"[bench] sf1 calibration $c%.3f s")
          val t0 = System.nanoTime()
          sf1Full += runPass(spark, catalogue, sf1Dir)
          sf1Durs += (System.nanoTime() - t0) / 1e9
          render(finalEmit = false)
          q += 1
        }
      }
    }
    // Backfill deferred sf0.1 passes with whatever budget the sf1 tier
    // left over: min-of-N noise rejection recovers whenever the window
    // does, and the sf1 tier (which has no other chance to run) was
    // never starved to get it. A backfill pass reserves room for the
    // outlier re-probe below — the re-probe is what guarantees the
    // artifact's per-entry minima are load-robust (VERDICT r16 task 1),
    // so a full repeat pass must not starve it.
    def reprobeReserve: Double = {
      val flagged = outlierEntries(sf01Passes.toSeq, calibrations.toSeq, priorQ)
      math.min(90.0, flagged.map { case (n, cur) =>
        1.3 * math.min(priorQ.getOrElse(n, cur), cur) + 2.0 }.sum)
    }
    while (p <= runs && elapsedS + 1.15 * sf01Durs.max + reprobeReserve <= deadlineS)
      runSf01Pass("backfill")

    // ---- sf0.1 outlier re-probe (VERDICT r16 task 1) ----
    // The r16 driver artifact published one entry at 17.2 s (18x its
    // committed value) because its only surviving pass ran on a window calibrating
    // 3.125. Detection runs over ALL completed passes (including
    // backfill), so a clean repeat pass clears most flags for free;
    // whatever stays inflated re-runs once, cheapest-first, and the
    // sample folds into the minima under the explicit "reprobed" tag.
    outlierEntries(sf01Passes.toSeq, calibrations.toSeq, priorQ).foreach {
      case (name, cur) =>
        val est = 1.3 * math.min(priorQ.getOrElse(name, cur), cur) + 2.0
        if (elapsedS + est > deadlineS)
          deadlineNote ::= s"reprobe of $name skipped (deadline)"
        else {
          System.err.println(s"[bench] re-probe $name: min ${r3(cur)}s" +
            priorQ.get(name).fold("")(pv => s" vs prior ${r3(pv)}s"))
          reprobes ++= Seq(name -> probeOf(name, sfDir)())
        }
    }
    if (reprobes.nonEmpty) render(finalEmit = false)

    // ---- sf1 flag adjudication probes (VERDICT r16 task 4) ----
    // r16 adjudicated 27 sf1 flags by hand (same-JVM ABProbe sessions the
    // judge could not replay). The same probe now runs IN the bench: each
    // calibration-normalized >=1.5x flag vs the committed artifact gets a
    // min-of-2 same-JVM re-probe on one freshly calibrated
    // window, emitted per entry under sf1.probes (+ probe_cal) so
    // BENCH_DIFF adjudicates from the artifact alone. Never folded into
    // the minima: the sf1 tier stays one full pass.
    if (sf1Full.nonEmpty && priorSf1Q.nonEmpty) {
      val curCal = if (sf1Cals.nonEmpty) sf1Cals.min else -1.0
      val priorCal = if (priorSf1Cals.nonEmpty) priorSf1Cals.min else -1.0
      val flagged = sf1Flagged(
        minOver(sf1Full.toSeq), priorSf1Q, curCal, priorCal)
      if (flagged.nonEmpty) {
        sf1ProbeCal = calibrate(spark)
        System.err.println(
          f"[bench] sf1 probes: ${flagged.size} flags, probe window $sf1ProbeCal%.3f s")
        flagged.foreach { case (name, cur) =>
          val est = 2.6 * math.min(priorSf1Q.getOrElse(name, cur), cur) + 4.0
          if (elapsedS + est > deadlineS)
            deadlineNote ::= s"sf1 probe of $name skipped (deadline)"
          else {
            val run = probeOf(name, sf1Dir)
            val best = Seq(run(), run()).filter(_ >= 0)
            sf1Probes ++= Seq(name -> (if (best.nonEmpty) best.min else -1.0))
          }
        }
        render(finalEmit = false)
      }
    }
    render(finalEmit = true)
    flushed.set(true)
    if (cfg("SPARK_GRAFT_BENCH_NO_STOP", "0") != "1") spark.stop()
  }
}
