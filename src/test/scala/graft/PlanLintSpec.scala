package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftListenerBusShim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{LocalTableScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.{GlobalLimitExec, LocalLimitExec, RangeExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamFixture.spark

/** Plan-shape lint over the ENTIRE catalogue DAG (r9 VERDICT task 2):
  * turns the per-round manual plan audit into a regression gate. For every
  * `SparkEntry.catalogue` node that outputs a frame — every registered and
  * bench-only entry plus the shared artifacts such as shingle_table — the
  * pre-AQE physical plan must be free of:
  *
  *  1. `CartesianProductExec` — an unbroadcast all-pairs join is never the
  *     right plan at 100 TB; every intentional crossJoin in this library
  *     broadcasts a bounded side and therefore plans as a broadcast NLJ.
  *  2. `BroadcastNestedLoopJoinExec` whose BUILD side is not provably
  *     bounded (a grand aggregate, a limit, a local relation, or a small
  *     `range`) — a broadcast NLJ against a data-sized build side is a
  *     Cartesian product wearing a trench coat.
  *  3. `ShuffleExchangeExec(SinglePartition)` over a non-bounded child —
  *     the "every row through one task" shape (unpartitioned windows,
  *     global collects). Declared exceptions carry a justification in
  *     [[singlePartitionAllowlist]] and each has a registered scale twin.
  *
  * Boundedness is structural: see [[bounded]]. An entry's dependencies
  * are built first and read as cached relations; each is linted at its
  * own row, and [[bounded]] sees through the cached plan.
  */
class PlanLintSpec extends AnyFunSuite {

  val d = "/root/testdata/sf0.001"

  /** Entries whose plan legitimately funnels data-sized input through one
    * partition, each the DECLARED exact form with a registered sketch/
    * scale twin (SURVEY §2.4, VERDICT r8/r9 adjudications). */
  val singlePartitionAllowlist: Map[String, String] = Map(
    "bigram_surprisal" -> ("exact ntile(3) tercile is an unpartitioned rank " +
      "by declared design; scale twin = bigram_surprisal_scale (percentile_approx)"),
    "unigram_surprisal" -> ("exact ntile(3) tercile, same design; scale twin " +
      "= unigram_surprisal_scale"),
    "corpus_curate" -> ("composes the exact tercile gate (doc-grain rank " +
      "rows, not tokens); scale twin = corpus_curate_scale"),
    "curation_funnel" -> "aggregates corpus_curate (exact-tercile form)",
    "curation_report" -> "aggregates corpus_curate (exact-tercile form)",
    "global_shuffle" -> ("reproducible global order is the OPERATOR " +
      "(seeded-hash sort); doc-grain rows, writer re-chunks downstream"),
    // vocab_coverage left the allowlist in r12: its rank window now reads
    // a top-16384 TakeOrderedAndProject pre-cut, which bounded() sees.
    // ---- grain-bounded single-partition windows surfaced when the lint
    // moved to the PREPARED plan (r11): each child is an aggregate whose
    // grain is fixed by the data contract, not corpus size ----
    "ingest_anomaly" -> ("trailing-week z-score runs over DAY-grain counts " +
      "— rows = #calendar days, invariant under corpus scale"),
    "q46_histogram" -> ("cumulative distribution over fixed-width value " +
      "buckets — rows = value-range/25, a constant (~17)"),
    "weighted_sample" -> ("global cumulative base over the 256-bucket md5 " +
      "prefix grain — exactly 256 rows at any scale"),
    // surfaced when bounded() stopped accepting a grand aggregate or limit
    // merely somewhere below: the child is a join, bounded by key contract
    "hybrid_search" -> ("the two RRF rank windows run over the BM25 top-50 " +
      "candidates joined to their vectors on the unique vec_id — at most " +
      "HybridN = 50 rows at any scale"))
    // equidepth_hist and selectivity_estimate left the allowlist when the
    // quantile refinement became driver round trips: their plans read the
    // boundaries as a local frame and carry no single-partition window.

  /** Build sides that are bounded by DATA CONTRACT rather than plan
    * structure — each an explicit `broadcast()` the operator's scaladoc
    * justifies; the lint can't see cardinality, so these carry it here. */
  val nljAllowlist: Map[String, String] = Map(
    "ann_brute" -> "build = the ONE query vector (unique-key equality filter on vec_id)",
    "nearest_neighbor" -> "build = the one query vector (same pattern)",
    "ann_eval" -> ("build = the fixed 100-row eval query block (vec_id < 100) " +
      "feeding the exact-reference scan — the nearest_neighbor pattern; " +
      "eval block size is a constant of the audit, not a data scale"),
    "ann_exact_top3" -> ("build = the same fixed 100-row eval query block " +
      "(the audit's exact side split into its own entry, r14)"),
    "hybrid_search" -> "build = the one query vector feeding the cosine leg",
    "curate_incremental" -> ("build = the CurationState stats/bounds artifacts " +
      "— 1-row parquet frames by construction (CurationStateSpec)"),
    "curation_state_report" -> ("build = the same loaded CurationState stats/" +
      "bounds frames (1 row each) and its count aggregates"),
    "bigram_surprisal_scale" -> ("build = the frozen pplCutsPath artifact — " +
      "a 1-row (cut1, cut2) parquet by construction"),
    "corpus_curate_scale" -> ("build = the same 1-row frozen-cuts artifact"),
    "overlap_exact" -> "build = per-source distinct-shingle totals (source grain, ~20 rows)",
    "overlap_kmv" -> "build = per-source KMV sketches (source grain)",
    "overlap_purge" -> ("build = per-source KMV sketches (source grain), " +
      "untouched+rebuilt union — same pairEstimates tail as overlap_kmv"),
    "corpus_divergence" -> "build = per-source token totals (source grain)",
    "q53_funnel" -> "build = per-final-stage counts (3 funnel stages)")

  def nodes(p: SparkPlan): Seq[SparkPlan] = p.collect { case n => n }

  /** A grand aggregate: no grouping keys — including Spark's constant-key
    * rewrite `keys=[0 AS 0]`, whose grouping expressions are foldable. */
  def grand(agg: BaseAggregateExec): Boolean =
    // Alias never overrides foldable (defaults false) — strip it, or the
    // constant-key rewrite `0 AS 0#n` reads as unbounded
    agg.groupingExpressions.isEmpty || agg.groupingExpressions.forall {
      case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child.foldable
      case e => e.foldable
    }

  /** A subtree that provably produces a bounded number of rows: a bounded
    * PRODUCER — a grand aggregate, a limit, a local relation, a small
    * range — reached from the root through operators that never add rows
    * (project, filter, sort, aggregate, window, exchanges, and the
    * codegen / AQE / input-adapter / cached-relation wrappers), or a join
    * or union whose inputs are all bounded. A grand aggregate somewhere
    * BELOW a data-sized join, generate or scan does not bound the subtree. */
  def bounded(p: SparkPlan): Boolean = p match {
    case agg: BaseAggregateExec if grand(agg) => true
    case _: GlobalLimitExec | _: LocalLimitExec => true
    // prepared-plan spellings of a limit (the lint runs on executedPlan
    // since r11: EnsureRequirements inserts the exchanges it audits)
    case _: org.apache.spark.sql.execution.CollectLimitExec => true
    case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
    case _: LocalTableScanExec => true
    case r: RangeExec => r.numElements <= BigInt(1000000)
    // ReusedExchangeExec is a LEAF pointing at another exchange — descend
    // into the referenced subtree or every reuse reads as unbounded
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => bounded(r.child)
    // a dependency's artifact, read from the cache: bounded iff its plan is
    case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
      bounded(m.relation.cachedPlan)
    case _: org.apache.spark.sql.execution.joins.BaseJoinExec |
         _: org.apache.spark.sql.execution.UnionExec => p.children.forall(bounded)
    case _: org.apache.spark.sql.execution.ProjectExec |
         _: org.apache.spark.sql.execution.FilterExec |
         _: org.apache.spark.sql.execution.SortExec |
         _: BaseAggregateExec |
         _: org.apache.spark.sql.execution.window.WindowExec |
         _: org.apache.spark.sql.execution.exchange.Exchange |
         _: org.apache.spark.sql.execution.WholeStageCodegenExec |
         _: org.apache.spark.sql.execution.InputAdapter |
         _: org.apache.spark.sql.execution.ColumnarToRowExec |
         _: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec |
         _: org.apache.spark.sql.execution.adaptive.QueryStageExec |
         _: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec =>
      p.children.forall(bounded)
    case _ => false
  }

  /** What building one entry produced: the plan of the frame it returns,
    * and the plan of every query that ran while it was being built — the
    * eager work an entry does before it hands back a frame (driver round
    * trips such as the quantile refinement's collects, `Ckpt`
    * materializations, freeze writes, pageRank's setup). Both are linted
    * and pinned; an entry whose returned plan reads a local frame still
    * owes the shuffles that produced it. */
  case class Built(plan: SparkPlan, during: Seq[SparkPlan]) {
    def all: Seq[SparkPlan] = plan +: during
  }

  type Entry = (String, (SparkSession, String) => DataFrame)

  /** One plan build per entry, shared by the shape lint and the
    * exchange-count budget (building 170+ plans — including the frozen-
    * artifact entries' eager freeze writes — is the expensive part; pay
    * it once). The plan is the PREPARED physical plan with AQE disabled:
    * `sparkPlan` predates EnsureRequirements, so it carries only explicit
    * repartitions — the exchanges that define the shuffle budget (and the
    * single-partition shapes the lint hunts) are INSERTED during
    * preparation, and AQE must be off so the tree is the concrete plan,
    * not an AdaptiveSparkPlanExec placeholder. The queries that run during
    * construction are caught by a query-execution listener, read after
    * the listener bus drains, so each lands with the entry that ran it. */
  def buildAll(entries: Seq[Entry] = catalogue): Seq[(String, Either[String, Built])] = {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val ran = new ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        ran.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def drain(): Seq[SparkPlan] = {
      GraftListenerBusShim.waitUntilEmpty(spark.sparkContext, 60000L)
      val out = ran.asScala.toSeq
      ran.clear()
      out
    }
    drain()
    spark.listenerManager.register(listener)
    try entries.map { case (name, fn) =>
      val r =
        try {
          val plan = fn(spark, d).queryExecution.executedPlan
          Right(Built(plan, drain()))
        } catch { case e: Throwable => drain(); Left(s"${e.getMessage}") }
      spark.catalog.clearCache()
      (name, r)
    }
    finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
  }

  // The bench's catalogue DAG: benchOnly entries (raw codec boundaries,
  // r16) keep their plan gates even though they left the oracle surface,
  // and the shared artifacts (shingle_table, token_table, …) are linted
  // at their own rows — their consumers read them as cached relations.
  // A node that outputs no frame (curation_state_build) is linted through
  // its consumers' construction queries.
  def catalogue: Seq[Entry] = SparkEntry.catalogue.flatMap(n => n.entry.map(n.name -> _))

  lazy val built: Seq[(String, Either[String, Built])] = buildAll()

  /** Second view (VERDICT r17 item 5): the same catalogue built with
    * [[graft.operators.Ckpt.lintBypass]] set, so multi-consumer
    * `Ckpt.local` materializations do NOT truncate the plan and the lint
    * sees every pre-checkpoint subtree (the r17 funnel_latency plan had
    * ZERO FileScans; an upstream Cartesian would have passed unseen).
    * `Ckpt.state` sites — frozen-state boundaries and loop-internal
    * truncations — stay opaque by design; their story is in docs/CHECKPOINTS.md
    * §"Checkpoint sites at 100 TB".
    *
    * A `Ckpt.local` nested UPSTREAM of a `Ckpt.state` (`pairs` in
    * `Dedup.dedupClustersIncremental` and `Dedup.dedupClustersMaintain`) is seen
    * through the construction-time queries: the state boundary's own
    * materialization runs while the entry is built, and in this view its
    * plan carries the bypassed local's subtree. */
  lazy val builtFull: Seq[(String, Either[String, Built])] = {
    graft.operators.Ckpt.lintBypass = true
    try buildAll() finally graft.operators.Ckpt.lintBypass = false
  }

  /** The first 25 lines of an offending subtree, indented under its
    * failure line, so a red lint names the shape without a rerun. */
  def excerpt(p: SparkPlan): String =
    p.treeString.linesIterator.take(25).map(l => "    " + l.take(200)).mkString("\n", "\n", "")

  def shapeLint(view: String,
      plans: Seq[(String, Either[String, Built])]): Seq[String] = {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    plans.foreach {
      case (name, Left(err)) =>
        failures += s"$name [$view]: query construction failed: $err"
      case (name, Right(built)) =>
        built.all.zipWithIndex.foreach { case (plan, i) =>
          val at = if (i == 0) s"$name [$view]" else s"$name [$view, construction query $i]"
          nodes(plan).foreach {
            case c: CartesianProductExec =>
              failures += s"$at: CartesianProductExec in plan" + excerpt(c)
            case j: BroadcastNestedLoopJoinExec =>
              val build = j.buildSide match {
                case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
                case _ => j.right
              }
              if (!bounded(build) && !nljAllowlist.contains(name))
                failures += s"$at: BroadcastNestedLoopJoin with unbounded " +
                  s"build side (build top: ${build.nodeName})" + excerpt(build)
            case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition =>
              if (!bounded(e.child) && !singlePartitionAllowlist.contains(name))
                failures += s"$at: Exchange SinglePartition over unbounded child" +
                  excerpt(e)
            case _ => ()
          }
        }
    }
    failures.toSeq
  }

  test("no registered query plans a Cartesian product, an unbounded NLJ, " +
    "or an unapproved data-sized single-partition exchange") {
    val failures = shapeLint("checkpointed", built)
    assert(failures.isEmpty, "plan lint failures:\n" + failures.mkString("\n"))
  }

  test("the FULL pre-checkpoint plans pass the same shape lint") {
    val failures = shapeLint("full", builtFull)
    assert(failures.isEmpty, "plan lint failures:\n" + failures.mkString("\n"))
  }

  test("lintBypass actually exposes upstream plan shapes (seeded Cartesian)") {
    // Mechanism check, not a catalogue check: a Cartesian product hidden
    // behind a Ckpt.local is invisible in the checkpointed view and MUST
    // be visible in the bypassed view — the property the full-view lint
    // above relies on.
    import org.apache.spark.sql.functions.col
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val abt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // two 100-row ranges would otherwise plan as a broadcast NLJ — force
    // the CartesianProductExec shape the catalogue lint hunts
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = spark.range(100).select(col("id").as("a"))
      val b = spark.range(100).select(col("id").as("b"))
      def seeded() = graft.operators.Ckpt
        .local(a.crossJoin(b), graft.operators.Ckpt.SampleSized)
        .groupBy(col("a")).count()
      val hidden = seeded().queryExecution.executedPlan
      assert(!nodes(hidden).exists(_.isInstanceOf[CartesianProductExec]),
        "checkpointed view should truncate the seeded Cartesian")
      graft.operators.Ckpt.lintBypass = true
      val exposed =
        try seeded().queryExecution.executedPlan
        finally graft.operators.Ckpt.lintBypass = false
      assert(nodes(exposed).exists(_.isInstanceOf[CartesianProductExec]),
        "bypassed view must expose the seeded Cartesian")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", abt)
    }
  }

  test("queries run during construction are linted (seeded eager Cartesian)") {
    // Mechanism check: an entry that collects a Cartesian product before
    // returning a harmless frame must fail the shape lint and count that
    // query's exchanges — the property the construction-query lint relies on.
    import org.apache.spark.sql.functions.col
    val abt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val seeded: Entry = ("seeded", (s: SparkSession, _: String) => {
        val a = s.range(100).select(col("id").as("a"))
        val b = s.range(100).select(col("id").as("b"))
        a.crossJoin(b).groupBy(col("a")).count().collect()
        s.range(1).toDF()
      })
      val Seq((_, Right(b))) = buildAll(Seq(seeded))
      assert(b.during.size == 1, s"expected one construction query, saw ${b.during.size}")
      assert(exchanges(b.plan) == 0 && exchanges(b.during.head) == 1)
      val failures = shapeLint("seeded", Seq("seeded" -> Right(b)))
      assert(failures.exists(f => f.startsWith("seeded [seeded, construction query 1]: " +
        "CartesianProductExec")), failures.mkString("\n"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", abt)
  }

  test("a single-partition exchange over a data-sized plan is flagged even " +
    "with a grand aggregate below it (seeded repartition(1) over LM scores)") {
    // CurationState's LM scores cross-join a grand-aggregate stats frame,
    // so a contains-check would call the doc-grain scores bounded
    import org.apache.spark.sql.functions.col
    import graft.operators.{Curation, CurationState}
    val seeded: Entry = ("seeded", (s: SparkSession, dir: String) => {
      val toks = Curation.tokens(graft.Tables.documents(s, dir))
      val c1 = toks.groupBy(col("w")).count().withColumnRenamed("count", "c")
      val c2 = CurationState.bigramsOf(toks).groupBy(col("w1"), col("w2")).count()
        .withColumnRenamed("count", "c2")
      val stats = toks.agg(org.apache.spark.sql.functions.count(col("w")).as("t"),
        org.apache.spark.sql.functions.countDistinct(col("w")).as("v"))
      CurationState.lmScores(CurationState.bigramsOf(toks), c1, c2, stats).repartition(1)
    })
    val Seq((_, Right(b))) = buildAll(Seq(seeded))
    val failures = shapeLint("seeded", Seq("seeded" -> Right(b)))
    assert(failures.exists(_.startsWith("seeded [seeded]: Exchange SinglePartition over unbounded child")),
      failures.mkString("\n"))
  }

  /** r10 VERDICT task 6: the shuffle BUDGET. The shape lint above forbids
    * catastrophic plans; this gate pins each entry's ShuffleExchangeExec
    * COUNT against a committed manifest so an edit that introduces an
    * avoidable exchange fails CI as a diff, not as a bench mover three
    * rounds later. Counts are pre-AQE (structural, deterministic at the
    * fixed sf0.001 fixture). A row is `name, returned, during`: the
    * exchanges of the returned plan, then the sum over the queries that
    * ran while the entry was built ([[Built]]). An INTENTIONAL plan change
    * regenerates the manifest:
    * GRAFT_REGEN_EXCHANGE_MANIFEST=1 sbt "testOnly *PlanLintSpec"
    * rewrites src/test/resources/exchange_counts.tsv — the diff then
    * carries the new counts for review, which is the point. */
  val manifestPath = "src/test/resources/exchange_counts.tsv"
  val manifestFullPath = "src/test/resources/exchange_counts_full.tsv"

  def exchanges(p: SparkPlan): Int = nodes(p).count(_.isInstanceOf[ShuffleExchangeExec])

  def manifestCheck(path: String,
      plans: Seq[(String, Either[String, Built])]): Unit = {
    val counts: Seq[(String, (Int, Int))] = plans.collect { case (name, Right(b)) =>
      (name, (exchanges(b.plan), b.during.map(exchanges).sum))
    }
    val rendered = counts.map { case (n, (r, c)) => s"$n\t$r\t$c" }.mkString("", "\n", "\n")
    if (sys.env.contains("GRAFT_REGEN_EXCHANGE_MANIFEST")) {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), rendered)
      info(s"regenerated $path with ${counts.size} entries")
    } else {
      val f = java.nio.file.Paths.get(path)
      assert(java.nio.file.Files.exists(f),
        s"missing $path — run with GRAFT_REGEN_EXCHANGE_MANIFEST=1 to create it")
      val expected = java.nio.file.Files.readString(f).linesIterator
        .filter(_.nonEmpty).map { l =>
          val Array(n, r, c) = l.split("\t"); (n, (r.toInt, c.toInt))
        }.toMap
      val diffs = counts.flatMap { case (n, (r, c)) =>
        expected.get(n) match {
          case Some(e) if e == (r, c) => None
          case Some((er, ec)) => Some(s"$n: plan has $r exchanges (+$c in construction " +
            s"queries), manifest pins $er (+$ec)")
          case None => Some(s"$n: not in manifest (new entry? regenerate)")
        }
      } ++ (expected.keySet -- counts.map(_._1).toSet)
        .map(n => s"$n: in manifest but not registered (stale? regenerate)")
      assert(diffs.isEmpty,
        "exchange-budget drift (if intentional, regenerate the manifest and " +
          "review its diff):\n" + diffs.mkString("\n"))
    }
  }

  test("per-entry shuffle-exchange counts match the committed manifest") {
    manifestCheck(manifestPath, built)
  }

  test("FULL-view shuffle-exchange counts match the committed manifest") {
    manifestCheck(manifestFullPath, builtFull)
  }

  test("allowlists name only registered queries") {
    val unknown = (singlePartitionAllowlist.keySet ++ nljAllowlist.keySet) --
      SparkEntry.queries.keySet -- SparkEntry.benchOnly.keySet
    assert(unknown.isEmpty, s"allowlist entries without a registered query: $unknown")
  }
}
