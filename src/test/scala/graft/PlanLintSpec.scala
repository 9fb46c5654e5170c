package graft

import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.{GlobalLimitExec, LocalLimitExec, RangeExec}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamFixture.spark

/** Plan-shape lint over the ENTIRE registered catalogue (r9 VERDICT task
  * 2): turns the per-round manual plan audit into a regression gate. For
  * every `SparkEntry.queries` entry the pre-AQE physical plan must be free
  * of:
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
  * Boundedness is structural (the subtree CONTAINS a 1-row-per-partition
  * producer with no re-expanding generate above it would be exact; the
  * lint's contains-check is the conservative approximation that matches
  * every legitimate pattern in this codebase — grand aggregates, bounds
  * arrays, codebooks, stats frames).
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
    "equidepth_hist" -> ("boundary refinement over the 10-coarse-bucket " +
      "grain (the bounded two-pass design: only bucket stats, never " +
      "values, cross the single partition)"),
    "selectivity_estimate" -> ("embeds equidepth_hist's 10-bucket " +
      "boundary refinement — same grain bound"))

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

  /** A subtree that provably produces a bounded number of rows: a grand
    * aggregate (no grouping keys — including Spark's constant-key rewrite
    * `keys=[0 AS 0]`, whose grouping expressions are foldable), a limit, a
    * local relation, or a small range. */
  def bounded(p: SparkPlan): Boolean = p.exists {
    case agg: BaseAggregateExec =>
      // Alias never overrides foldable (defaults false) — strip it, or the
      // constant-key rewrite `0 AS 0#n` reads as unbounded
      agg.groupingExpressions.isEmpty || agg.groupingExpressions.forall {
        case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child.foldable
        case e => e.foldable
      }
    case _: GlobalLimitExec | _: LocalLimitExec => true
    // prepared-plan spellings of a limit (the lint runs on executedPlan
    // since r11: EnsureRequirements inserts the exchanges it audits)
    case _: org.apache.spark.sql.execution.CollectLimitExec => true
    case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
    // ReusedExchangeExec is a LEAF pointing at another exchange — descend
    // into the referenced subtree or every reuse reads as unbounded
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      bounded(r.child)
    case _: LocalTableScanExec => true
    case r: RangeExec => r.numElements <= BigInt(1000000)
    case _ => false
  }

  /** One plan build per entry, shared by the shape lint and the
    * exchange-count budget (building 170+ plans — including the frozen-
    * artifact entries' eager freeze writes — is the expensive part; pay
    * it once). The plan is the PREPARED physical plan with AQE disabled:
    * `sparkPlan` predates EnsureRequirements, so it carries only explicit
    * repartitions — the exchanges that define the shuffle budget (and the
    * single-partition shapes the lint hunts) are INSERTED during
    * preparation, and AQE must be off so the tree is the concrete plan,
    * not an AdaptiveSparkPlanExec placeholder. */
  def buildAll(): Seq[(String, Either[String, SparkPlan])] = {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // benchOnly entries (raw codec boundaries, r16) keep their plan gates
    // even though they left the oracle surface — they still run on the
    // bench and at scale, so their shuffle budget stays pinned.
    try (SparkEntry.queries.toSeq ++ SparkEntry.benchOnly.toSeq).map { case (name, fn) =>
      val r =
        try Right(fn(spark, d).queryExecution.executedPlan)
        catch { case e: Throwable => Left(s"${e.getMessage}") }
      spark.catalog.clearCache()
      (name, r)
    }
    finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  lazy val built: Seq[(String, Either[String, SparkPlan])] = buildAll()

  /** Second view (VERDICT r17 item 5): the same catalogue built with
    * [[graft.operators.Ckpt.lintBypass]] set, so multi-consumer
    * `Ckpt.local` materializations do NOT truncate the plan and the lint
    * sees every pre-checkpoint subtree (the r17 funnel_latency plan had
    * ZERO FileScans; an upstream Cartesian would have passed unseen).
    * `Ckpt.state` sites — frozen-state boundaries and loop-internal
    * truncations — stay opaque by design; their story is in docs/CHECKPOINTS.md
    * §"Checkpoint sites at 100 TB".
    *
    * Blind spot: a `Ckpt.local` nested UPSTREAM of a `Ckpt.state` is
    * invisible in BOTH views — the checkpointed view stops at the local,
    * the full view at the state boundary. Example: `pairs` (the
    * ngram_jaccard pair list) in `qDedupClustersIncremental` and
    * `qDedupClustersMaintain`. Such subtrees are covered only because
    * they are also linted standalone as registered entries (here
    * `ngram_jaccard`). */
  lazy val builtFull: Seq[(String, Either[String, SparkPlan])] = {
    graft.operators.Ckpt.lintBypass = true
    try buildAll() finally graft.operators.Ckpt.lintBypass = false
  }

  /** The first 25 lines of an offending subtree, indented under its
    * failure line, so a red lint names the shape without a rerun. */
  def excerpt(p: SparkPlan): String =
    p.treeString.linesIterator.take(25).map(l => "    " + l.take(200)).mkString("\n", "\n", "")

  def shapeLint(view: String,
      plans: Seq[(String, Either[String, SparkPlan])]): Seq[String] = {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    plans.foreach {
      case (name, Left(err)) =>
        failures += s"$name [$view]: query construction failed: $err"
      case (name, Right(plan)) =>
        nodes(plan).foreach {
          case c: CartesianProductExec =>
            failures += s"$name [$view]: CartesianProductExec in plan" + excerpt(c)
          case j: BroadcastNestedLoopJoinExec =>
            val build = j.buildSide match {
              case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
              case _ => j.right
            }
            if (!bounded(build) && !nljAllowlist.contains(name))
              failures += s"$name [$view]: BroadcastNestedLoopJoin with unbounded " +
                s"build side (build top: ${build.nodeName})" + excerpt(build)
          case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition =>
            if (!bounded(e.child) && !singlePartitionAllowlist.contains(name))
              failures += s"$name [$view]: Exchange SinglePartition over unbounded child" +
                excerpt(e)
          case _ => ()
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

  /** r10 VERDICT task 6: the shuffle BUDGET. The shape lint above forbids
    * catastrophic plans; this gate pins each entry's ShuffleExchangeExec
    * COUNT against a committed manifest so an edit that introduces an
    * avoidable exchange fails CI as a diff, not as a bench mover three
    * rounds later. Counts are pre-AQE (structural, deterministic at the
    * fixed sf0.001 fixture). An INTENTIONAL plan change regenerates the
    * manifest: GRAFT_REGEN_EXCHANGE_MANIFEST=1 sbt "testOnly *PlanLintSpec"
    * rewrites src/test/resources/exchange_counts.tsv — the diff then
    * carries the new counts for review, which is the point. */
  val manifestPath = "src/test/resources/exchange_counts.tsv"
  val manifestFullPath = "src/test/resources/exchange_counts_full.tsv"

  def manifestCheck(path: String,
      plans: Seq[(String, Either[String, SparkPlan])]): Unit = {
    val counts: Seq[(String, Int)] = plans.collect { case (name, Right(plan)) =>
      (name, nodes(plan).count(_.isInstanceOf[ShuffleExchangeExec]))
    }
    val rendered = counts.map { case (n, c) => s"$n\t$c" }.mkString("", "\n", "\n")
    if (sys.env.contains("GRAFT_REGEN_EXCHANGE_MANIFEST")) {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), rendered)
      info(s"regenerated $path with ${counts.size} entries")
    } else {
      val f = java.nio.file.Paths.get(path)
      assert(java.nio.file.Files.exists(f),
        s"missing $path — run with GRAFT_REGEN_EXCHANGE_MANIFEST=1 to create it")
      val expected = java.nio.file.Files.readString(f).linesIterator
        .filter(_.nonEmpty).map { l =>
          val Array(n, c) = l.split("\t"); (n, c.toInt)
        }.toMap
      val diffs = counts.flatMap { case (n, c) =>
        expected.get(n) match {
          case Some(e) if e == c => None
          case Some(e) => Some(s"$n: plan has $c exchanges, manifest pins $e")
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
