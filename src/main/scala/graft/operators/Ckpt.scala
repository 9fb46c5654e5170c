package graft.operators

import org.apache.spark.sql.DataFrame

/** Central registry for every lineage-truncation (`localCheckpoint`) site
  * in the operator library (VERDICT r17 items 5 + 8).
  *
  * Why a registry: `localCheckpoint()` truncates the logical plan, which
  * has three consequences the call site must own explicitly —
  *
  *  1. **Plan gates go blind.** PlanLintSpec's Cartesian/single-partition
  *     shape lint and the exchange-count budget see nothing upstream of a
  *     checkpoint (the r17 funnel_latency "after" plan contained ZERO
  *     FileScans). [[local]] sites are therefore bypassable: the lint
  *     builds every entry a second time with [[lintBypass]] set, so the
  *     full pre-checkpoint plan is linted and pinned
  *     (src/test/resources/exchange_counts_full.tsv). The materialization
  *     itself runs while the entry is built; the lint catches every query
  *     that runs then and lints and pins its plan next to the returned one.
  *  2. **Fault tolerance changes.** A checkpointed block lives
  *     non-replicated on executor-local storage with no recompute lineage:
  *     at cluster scale an executor loss kills the job instead of
  *     recomputing. Each size class below records the 100 TB story in
  *     docs/CHECKPOINTS.md.
  *  3. **Construction becomes eager** — building the frame runs a job, so
  *     a checkpoint inside a registered query must sit INSIDE the bench's
  *     timed region (it does; Bench times construction + action).
  *
  * Every new site MUST go through [[local]] or [[state]] and declare a
  * [[SizeClass]] — CheckpointRegistrySpec rejects raw `.localCheckpoint()`
  * calls anywhere else under graft/operators.
  */
object Ckpt {

  /** Storage footprint class of a checkpointed frame — what an executor
    * loss forfeits and what local disks must hold at 100 TB. The per-class
    * production story (loss semantics + cluster-mode alternative) lives in
    * docs/CHECKPOINTS.md. */
  sealed abstract class SizeClass(val label: String)
  /** Bounded by a declared cap/sample (df-capped prefix index, purge id
    * lists): MBs at any corpus scale; recompute-on-loss is a non-event. */
  case object SampleSized extends SizeClass("sample")
  /** ∝ one ingest batch (TB against a 100 TB corpus): loss costs one
    * batch recompute; production alternative = reliable checkpoint dir. */
  case object BatchSized extends SizeClass("batch")
  /** ∝ the near-dup pair graph or its vertex set — orders of magnitude
    * below the corpus (dup rate × docs), but unbounded in principle. */
  case object PairGraphSized extends SizeClass("pair-graph")
  /** ∝ the corpus itself (k-gram table, per-user gaps): the largest class.
    * Only defensible where the same table IS the production sink state
    * (substring gram index) — see docs/CHECKPOINTS.md for the per-site story. */
  case object CorpusSized extends SizeClass("corpus")

  /** Test-only (package-private): PlanLintSpec sets this while building
    * its full-plan view so the shape lint and exchange budget inspect the
    * pre-checkpoint subtrees. Never set outside tests. */
  @volatile private[graft] var lintBypass = false

  /** Multi-consumer materialization INSIDE one query (the frame feeds 2+
    * structurally different subtrees, so exchange reuse can't fire):
    * performance-only truncation, skipped under [[lintBypass]] so the
    * plan gates see through it. */
  def local(df: DataFrame, size: SizeClass): DataFrame =
    if (lintBypass) df else df.localCheckpoint()

  /** State-boundary / loop-internal truncation: NEVER bypassed. Either it
    * models a frozen-table read (the production lineage genuinely starts
    * here — prior labelings, ingest batches), or it keeps an iterative
    * plan flat (without it, nesting one CC loop's output inside another's
    * edges makes the plan tree exponential in total rounds —
    * [[Dedup.maintainClusters]] scaladoc, measured OOM at sf0.01). The
    * plan gates treat these like any other leaf table. */
  def state(df: DataFrame, size: SizeClass): DataFrame = df.localCheckpoint()
}
