package graft.operators

import graft.Tables._
import graft.operators.TextOps.{normText, normWords}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for the LLM-data-pipeline surface: exact,
  * word-shingle Jaccard (exact inverted-index join), MinHash+LSH, SimHash.
  *
  * Scale design:
  *  - signature computation (MinHash / SimHash) EXPLODES tokens/perms into
  *    rows so every hash stays inside whole-stage codegen, then map-side
  *    partial aggregation (min / signed sum) collapses back to one row per
  *    doc before the shuffle. Spark's higher-order-function lambdas are
  *    interpreted (measured ~35 µs/element), so per-row nested-HOF
  *    signatures are 50-100× slower — at any scale.
  *  - candidate generation shuffles only small keys (band hashes / shingle
  *    strings), never full documents; pair verification joins signatures
  *    (fixed 64×8 bytes), not text.
  */
object Dedup {

  /** Distinct (doc_id, shingle) inverted-index rows — the shared input of
    * both the exact-Jaccard and MinHash paths.
    *
    * Computed HOF-free: posexplode the words, window-`lead` the next n−1
    * words per doc, concat. Every operator here is whole-stage codegen'd;
    * the per-row `transform(sequence…)` alternative evaluates its lambda
    * interpreted (~35 µs/element — 13 s for the sf0.1 corpus, and Catalyst
    * re-inlines it into every consumer). Costs one shuffle of the word
    * table on doc_id; at 100 TB this is the standard tokenize-shuffle and
    * the output would be written once as a materialized shingle table. */
  def shingleTable(docs: DataFrame, n: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val nexts = (1 until n).map(k => lead(col("w"), k).over(w).as(s"w$k"))
    docs
      .select(col("doc_id"), posexplode(normWords(col("text"))).as(Seq("pos", "w")))
      .select(col("doc_id") +: col("w") +: nexts: _*)
      .filter(col(s"w${n - 1}").isNotNull) // tail positions have no full n-gram
      .select(col("doc_id"),
        concat_ws(" ", col("w") +: (1 until n).map(k => col(s"w$k")): _*).as("shingle"))
      .distinct()
  }

  /** Exact dedup: group documents by content fingerprint (md5 of the
    * normalized text). Emits one row per distinct content with the
    * representative (min doc_id) and the multiplicity — the "keep table"
    * a dedup pass would join back against. */
  def qDedupExact(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), md5(normText(col("text")).cast("binary")).as("content_fp"))
      .groupBy(col("content_fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Incremental dedup (dedup_incremental): the production shape of
    * [[qDedupExact]] for a corpus that grows — a new ingest batch is
    * checked against the EXISTING corpus's fingerprint table (a compact
    * table of 16-byte hashes the pipeline maintains), never by rescanning
    * the corpus text. Composition: fingerprint the new batch → collapse
    * within-batch duplicates (keep min doc_id) → LEFT ANTI join against
    * the known-fingerprint table. Both shuffles move only hashes; the
    * 100 TB corpus itself is untouched. Old/new split here by doc_id
    * parity so the oracle can reproduce it. */
  def qDedupIncremental(s: SparkSession, d: String): DataFrame = {
    val fp = md5(normText(col("text")).cast("binary"))
    val docs = documents(s, d)
    val known = docs.filter(col("doc_id") % 2 === 0)
      .select(fp.as("content_fp")).distinct()
    docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), fp.as("content_fp"))
      .groupBy(col("content_fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))
      .join(known, Seq("content_fp"), "left_anti")
  }

  /** Document-frequency cap for candidate generation: shingles appearing in
    * more than this many documents are boilerplate — at corpus scale a hot
    * shingle creates a quadratic self-join bucket, so it is excluded from
    * intersection counting (in the DuckDB oracle too, so the check stays
    * exact). */
  val ShingleDfCap = 100

  /** Exact near-dup pairs by word-3-gram Jaccard ≥ 0.5, via an inverted
    * shingle index self-join (the oracle-checkable ground truth that the
    * MinHash variant approximates). Shuffles (doc_id, shingle) pairs; hot
    * shingles are DF-capped (see [[ShingleDfCap]]) so no join bucket can go
    * quadratic at 100 TB. Per-doc shingle counts join by shuffle — never
    * broadcast an unbounded per-document relation; AQE still broadcasts it
    * at small scale on its own.
    *
    * Reads an ALREADY-MATERIALIZED shingle table — the cluster-scale
    * shape, where the tokenize shuffle is paid once and shared with the
    * MinHash path ([[minHashLshFrom]]): the catalogue DAG declares the
    * table as its own `shingle_table` node. */
  def ngramJaccardFrom(ex: DataFrame): DataFrame = {
    val counts = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val rare = ex.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= ShingleDfCap)
      .select(col("shingle"))
    val exCapped = ex.join(rare, Seq("shingle"))
    val inter = exCapped.as("a").join(exCapped.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val j = col("inter").cast("double") /
      (col("ca.n") + col("cb.n") - col("inter")).cast("double")
    inter
      .join(counts.as("ca"), col("doc_a") === col("ca.doc_id"))
      .join(counts.as("cb"), col("doc_b") === col("cb.doc_id"))
      .filter(j >= 0.5)
      .select(col("doc_a"), col("doc_b"), round(j, 3).as("jaccard"))
  }

  /** Prefix-filtered exact Jaccard join (prefix_jaccard): the SAME output
    * as [[ngramJaccardFrom]] — provably, so it shares that oracle — with the
    * candidate-generation join pruned by the positional prefix filter of
    * the set-similarity-join literature (AllPairs/PPJoin family).
    *
    * Bound derivation for threshold t = 0.5, full per-doc shingle counts
    * n_a, n_b and capped intersection i (the DF cap excludes hot shingles
    * from i on BOTH sides, matching [[ngramJaccardFrom]]):
    * j = i/(n_a+n_b−i) ≥ 1/2 ⟺ 3i ≥ n_a+n_b. With i ≤ n_b that gives the
    * size filter n_b ≥ n_a/2, and substituting the smallest admissible
    * partner back: i ≥ (n_a + n_a/2)/3 = n_a/2, so every qualifying pair
    * overlaps doc a in ≥ α_a = ⌈n_a/2⌉ capped shingles. The single-sided
    * prefix lemma then applies: doc a's last α_a−1 shingles (in ANY fixed
    * global order) can cover at most α_a−1 of those, so a's first
    * c_a−α_a+1 capped shingles (c_a = capped count) must contain at least
    * one shared shingle — which, being shared, sits in b's FULL capped
    * set. Hence candidates = prefix ⋈ full, NOT prefix ⋈ prefix (the
    * tempting symmetric join is unsound for asymmetric per-record α: two
    * suffixes of α_a−1 and α_b−1 elements can jointly hide
    * α_a+α_b−2 ≥ α_pair shared shingles once n_a+n_b ≥ 12).
    *
    * Scale win: the inverted-index self-join costs Σ_s df(s)² over every
    * shingle; here the probe side is only each doc's prefix — about half
    * its shingles, and the RAREST half, because the global order is
    * ascending document frequency — so the join work collapses to
    * Σ_{s∈prefixes} df_prefix(s)·df(s) with the high-df shingles exactly
    * the ones prefixes exclude. Verification then computes the true
    * intersection ONLY for candidate pairs (a doc_id-keyed join, fact
    * rows never re-join by shingle). Candidate-superset + output equality
    * vs ngram_jaccard are pinned in OperatorSpec.
    *
    * WHEN TO USE (measured regime boundary, docs/SCALEPROBE.md round 10):
    * on corpora whose df distribution is scale-stable, the df-capped
    * index stays cheaper through 30× (1×/30×: 1.9/22.7 s vs 4.3/92.2 s)
    * — prefix_jaccard's extra cost is the price of its recall GUARANTEE
    * (candidate-complete by the prefix lemma; the cap silently loses any
    * pair whose every shared shingle is hot). Default to the capped
    * index; switch here when dedup_agreement shows the capped method
    * diverging from exact truth on a sampled band — i.e. on heavily
    * templated corpora, where the win is recall, not wall-clock. Same
    * input contract as [[ngramJaccardFrom]]. */
  def prefixJaccardFrom(ex: DataFrame): DataFrame = {
    val counts = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val dfs = ex.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    // materialized once (opt r17): exCapped feeds the rank windows, the
    // prefix-probe join's full side, AND both verify-join sides — four
    // structurally different subtrees, so exchange reuse never fires and
    // the df-cap join re-ran per consumer (same-JVM sf0.1 warm:
    // 4.89 s → 4.09 s, output identical). This entry is the DECLARED
    // exact recall baseline, run on samples at scale — a sample-sized
    // checkpoint.
    val exCapped = Ckpt.local(
      ex.join(dfs.filter(col("df") <= ShingleDfCap), Seq("shingle"))
        .select(col("doc_id"), col("shingle"), col("df")), Ckpt.SampleSized)
    // rarest-first global order; per-doc position and capped-set size
    val docW = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val ranked = exCapped
      .withColumn("srank", row_number().over(docW.orderBy(col("df"), col("shingle"))))
      .withColumn("ca", count(lit(1)).over(docW))
      .join(counts.select(col("doc_id").as("cdoc"), col("n")),
        col("doc_id") === col("cdoc"))
    // α = ceil(n/2); keep the first ca − α + 1 capped shingles
    val prefix = ranked
      .filter(col("srank") <= col("ca") - expr("(n + 1) div 2") + 1)
      .select(col("doc_id"), col("shingle"))
    val cand = prefix.as("p").join(exCapped.as("f"),
        col("p.shingle") === col("f.shingle") && col("p.doc_id") < col("f.doc_id"))
      .select(col("p.doc_id").as("doc_a"), col("f.doc_id").as("doc_b"))
      .distinct()
    val inter = exCapped.as("a")
      .join(cand, col("a.doc_id") === col("doc_a"))
      .join(exCapped.as("b"),
        col("b.doc_id") === col("doc_b") && col("a.shingle") === col("b.shingle"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    val j = col("inter").cast("double") /
      (col("ca.n") + col("cb.n") - col("inter")).cast("double")
    inter
      .join(counts.as("ca"), col("doc_a") === col("ca.doc_id"))
      .join(counts.as("cb"), col("doc_b") === col("cb.doc_id"))
      .filter(j >= 0.5)
      .select(col("doc_a"), col("doc_b"), round(j, 3).as("jaccard"))
  }

  /** Near-duplicate CLUSTERS (dedup_clusters over the exact Jaccard pair
    * graph): connected components, with the canonical representative (min
    * doc_id) as the cluster id — the step a real dedup pass runs after
    * pair generation, because duplicates arrive as chains (A~B, B~C) that
    * pairwise keep/drop rules handle inconsistently.
    *
    * Connected components by iterative min-label propagation — the
    * standard Spark CC dataflow (no GraphX dependency): each round, every
    * vertex takes the min label among itself and its neighbors; the loop
    * exits on a fixpoint (the 32-round cap is a safety rail, and the
    * oracle compare certifies the fixpoint is the true component
    * labeling). On near-dup graphs the min label floods a component in
    * very few rounds — measured 2 at sf0.1 — because dup components are
    * dense, not long paths.
    *
    * Two refinements were A/B-probed in the same JVM and REJECTED as
    * slower at this scale (3-4×): pointer jumping (path halving) — no
    * round savings when convergence is already 2 rounds, one extra join
    * per round; and explicitly right-sizing the loop's shuffles to the
    * label-graph cardinality — the added repartition exchanges cost more
    * than the empty-partition task waves they avoid. At genuine 100 TB
    * with billions of dup-pair vertices both become relevant again; they
    * are one-line re-additions, and the measurement protocol to justify
    * them is in the scaladoc history.
    *
    * Scale shape: edges persist once (both directions); each round is ONE
    * shuffle join over (id, label) pairs — never the documents. The
    * driver only sees a change counter per round (iteration control is
    * inherently driver-side; the data path stays distributed). */
  def clusterPairs(pairs: DataFrame): DataFrame = {
    // localCheckpoint, not persist (opt r17): every propagation round's
    // candidate plan embeds the edge lineage TWICE (join side + the label
    // union descends from it), and with a cached-but-lazy edge table each
    // round re-analyzes the full upstream pair CASCADE (shingle self-join
    // …) — driver-side planning, not cluster work. Truncating the edge
    // lineage once makes every round's plan flat over an in-memory RDD.
    // Measured same-JVM at sf0.1 on the bench's cascade lineage:
    // 2.5-2.8 s → 0.95-1.03 s, labels bit-identical. The checkpoint is
    // edge-sized — the same storage class the old persist() held.
    val edges = Ckpt.state(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))),
      Ckpt.PairGraphSized)
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label")).persist()
    var converged = false
    var iter = 0
    // Min-propagation is MONOTONE (labels only decrease), so the exact
    // label sum is a sufficient convergence witness: unchanged sum ⇔ no
    // label moved. One tiny agg over the cached table replaces the
    // old-vs-new join per round; decimal(38,0) keeps the sum exact at any
    // id range / row count (a long would overflow at cluster scale).
    var prevSum: java.math.BigDecimal = null
    while (!converged && iter < 32) {
      val candidate = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("label"))
        .union(labels)
        .groupBy(col("id")).agg(min(col("label")).as("label"))
        .persist()
      val curSum = candidate
        .agg(sum(col("label").cast("decimal(38,0)"))).head.getDecimal(0)
      labels.unpersist()
      labels = candidate
      // sum of an EMPTY label table is null: nothing can ever change, so
      // converge immediately instead of spinning out the 32-round rail
      converged = curSum == null ||
        (prevSum != null && curSum.compareTo(prevSum) == 0)
      prevSum = curSum
      iter += 1
      if (sys.env.contains("GRAFT_CC_DEBUG")) System.err.println(s"[cc] round $iter sum=$curSum")
    }
    withClusterSizes(labels, "id", "label")
  }

  /** (doc_id, cluster_id, cluster_size) from a labeling whose document
    * and cluster columns are `doc` and `cluster`: the labeling joined to
    * its per-cluster member counts. */
  private def withClusterSizes(labels: DataFrame, doc: String = "doc_id",
      cluster: String = "cluster_id"): DataFrame = {
    val sizes = labels.groupBy(col(cluster)).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, cluster)
      .select(col(doc).as("doc_id"), col(cluster).as("cluster_id"), col("cluster_size"))
  }

  /** Canonical-document selection: for each near-dup cluster, keep the
    * member with the BEST quality score (ties → min doc_id) instead of the
    * min-id representative [[clusterPairs]] reports — the policy a real
    * curation pass wants, because duplicate chains often pair a clean
    * original with truncated or boilerplate-wrapped copies and min-id
    * keeps an arbitrary one. Composes the cluster labels with
    * [[TextOps.qualityExpr]]; one row per cluster.
    *
    * Scale shape: the quality column is a per-row map over the documents
    * already joined to their (id, cluster) labels; the argmax is a window
    * partitioned BY CLUSTER — cluster-sized frames (dup clusters are
    * small by construction), never a global sort. `clusters` is any
    * (doc_id, cluster_id, cluster_size) labeling of `docs`. */
  def canonicalSelect(docs: DataFrame, clusters: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val quality = docs.select(col("doc_id"),
      TextOps.qualityExpr(col("text")).as("canonical_quality"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("canonical_quality").desc, col("doc_id"))
    clusters.join(quality, "doc_id")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("canonical_id"),
        col("canonical_quality"), col("cluster_size"))
  }

  /** Incremental connected-components maintenance
    * (dedup_clusters_incremental) — the one incremental the dedup cascade
    * lacked (VERDICT r12 task 5): a growing corpus doesn't re-cluster from
    * scratch each ingest cycle, it adds the new batch's edges to an
    * EXISTING labeling and re-solves only the components those edges
    * touch. Batch split: doc_id % 5 == 2 is the new batch (~20%, a
    * realistic ingest ratio) — chosen over the dedup_incremental parity
    * convention because the fixture's dup pairs are even↔odd, so a parity
    * split yields ZERO affected prior clusters and the merge path would
    * never execute; mod-5 leaves the (45,413,267) triple split across
    * prior/batch and the component-merge path runs for real (pinned in
    * OperatorSpec).
    *
    * Algorithm (exact, == full recompute by construction):
    *  1. AFFECTED prior clusters = those with any member in a delta edge.
    *  2. Reduced graph = delta edges ∪ one (member → prior-representative)
    *     edge per member of each affected cluster. The representative IS
    *     the component's min doc_id, so each affected prior component
    *     enters the reduced graph fully connected through it, and min-label
    *     propagation over the reduced graph lands on the true min of every
    *     merged component (all candidate minima are present as vertices).
    *  3. Final labeling = untouched prior labels (their components gained
    *     no edge, so their full-graph component is unchanged) ∪ the reduced
    *     graph's labels; sizes recomputed over the union.
    * The DuckDB oracle runs the full-graph recursive-CTE CC (identical SQL
    * to dedup_clusters), so the driver hash IS the incremental==full proof.
    *
    * Scale shape (100 TB corpus, TB-sized ingest batch): the prior
    * labeling is a frozen table read, not recomputed (here the entry
    * rebuilds it from the even half so the oracle needs no artifact — same
    * stance as minhash_incremental's state side); everything downstream is
    * sized by the BATCH — delta edges, affected members (dup clusters are
    * small and the batch touches few), and the propagation loop runs over
    * the reduced graph only. Cost ∝ batch + affected-component mass, never
    * corpus (SCALEPROBE r13 note pins the ratio). `pairTable` is the
    * corpus's exact Jaccard pair table (the ngram_jaccard artifact). */
  def dedupClustersIncremental(pairTable: DataFrame): DataFrame = {
    // checkpoint the pair list ONCE: both filter branches read it
    val pairs = Ckpt.local(
      pairTable.select(col("doc_a"), col("doc_b")), Ckpt.PairGraphSized)
    dedupClustersIncrementalFrom(
      pairs.filter(col("doc_a") % 5 =!= 2 && col("doc_b") % 5 =!= 2),
      pairs.filter(col("doc_a") % 5 === 2 || col("doc_b") % 5 === 2))
  }

  /** See [[dedupClustersIncremental]]; `priorPairs` is the corpus pair
    * graph the frozen labeling was built from, `deltaPairs` the new
    * batch's edges (both directions of the split are exact-Jaccard pairs —
    * the generation stage is [[minHashIncrementalFrom]]'s probe shape). */
  def dedupClustersIncrementalFrom(priorPairs: DataFrame,
                                   deltaPairs: DataFrame): DataFrame = {
    // Lineage truncation at the state boundary: in production the prior
    // labeling is a FROZEN TABLE read from storage and the delta a fresh
    // ingest batch — neither carries a recomputation lineage.
    // localCheckpoint models exactly that, and is also load-bearing here:
    // clusterPairs' per-round plan references its previous round twice, so
    // nesting one CC loop's OUTPUT inside another CC loop's EDGES without
    // truncation makes AQE's per-update explainString rendering exponential
    // in total rounds (measured: OOM at sf0.01 — the string, not the data).
    maintainClusters(
      Ckpt.state(clusterPairs(priorPairs)
        .select(col("doc_id"), col("cluster_id")), Ckpt.PairGraphSized),
      Ckpt.state(deltaPairs, Ckpt.BatchSized))
  }

  /** dedup_clusters_maintain (r14, VERDICT r13 task 2): the RECURRING leg
    * of incremental CC, split from the once-per-ingest-cycle prior-state
    * build that [[dedupClustersIncremental]] bundles into one bill (the
    * curation_state_build / curate_incremental precedent, r10). Here the
    * prior labeling is WRITTEN to a frozen parquet state table and read
    * back, so the registered entry's maintenance lineage genuinely starts
    * at a frozen-table read — the production shape, where the label state
    * lives in the artifact store and only the fold runs per batch.
    * Oracle: the IDENTICAL full-recompute recursive-CTE as dedup_clusters
    * / dedup_clusters_incremental — the driver hash match IS the
    * fold == full-recompute proof. `pairTable` is the ngram_jaccard
    * artifact; the state table lands under `d`'s artifact path. */
  def dedupClustersMaintain(pairTable: DataFrame, d: String): DataFrame = {
    val pairs = Ckpt.local(
      pairTable.select(col("doc_a"), col("doc_b")), Ckpt.PairGraphSized)
    val prior = clusterPairs(
        pairs.filter(col("doc_a") % 5 =!= 2 && col("doc_b") % 5 =!= 2))
      .select(col("doc_id"), col("cluster_id"))
    maintainClusters(
      Frozen(prior, Frozen.path("dedup-ccstate", d)),
      Ckpt.state(pairs.filter(col("doc_a") % 5 === 2 || col("doc_b") % 5 === 2),
        Ckpt.BatchSized))
  }

  /** The maintenance kernel of [[dedupClustersIncrementalFrom]]: fold one
    * batch of new edges into an existing (doc_id, cluster_id) labeling.
    * Also the per-epoch body of [[ClusterMaintainer]] (streaming CC
    * maintenance). Both inputs must already be lineage-truncated
    * (frozen-table read / localCheckpoint — see the caller's scaladoc). */
  def maintainClusters(prior: DataFrame, delta: DataFrame): DataFrame = {
    // Every batch-sized intermediate is localCheckpoint'd: `affected` and
    // `relabeled` are each REFERENCED TWICE downstream, and `relabeled`'s
    // logical plan is the CC loop's nested tree — left lazy, Catalyst
    // re-plans the doubled tree at every reference and the DRIVER (plan
    // analysis + AQE explain rendering) dominates end-to-end time
    // (measured on a 2M-edge / 10k-batch synthetic: 99.6 s lazy vs 5.5 s
    // truncated, with identical cluster work underneath — CcMaintProbe).
    // All three are ∝ batch + affected-component mass, never corpus, so
    // the truncation cost itself is batch-sized.
    val deltaV = delta.select(col("doc_a").as("doc_id"))
      .union(delta.select(col("doc_b").as("doc_id"))).distinct()
    // `affected` is bounded only by ~2× the delta edge count, so it is
    // NOT broadcast-hinted (ADVICE r13: a forced broadcast of a
    // batch-proportional frame collects it to the driver regardless of
    // autoBroadcastJoinThreshold — driver OOM exactly at the TB-batch
    // scale this operator advertises). AQE demotes/promotes the join at
    // runtime: a typical small batch still gets a broadcast join from the
    // materialized size, a huge one falls back to a shuffled join.
    val affected = Ckpt.state(prior.join(deltaV, "doc_id")
      .select(col("cluster_id")).distinct(), Ckpt.BatchSized)
    val affMembers = prior.join(affected, "cluster_id")
    // member → representative edges re-connect each affected prior
    // component inside the reduced graph (self-edge on the rep is a no-op
    // under min propagation)
    val reduced = Ckpt.state(delta.select(col("doc_a"), col("doc_b"))
      .union(affMembers.select(col("doc_id").as("doc_a"),
        col("cluster_id").as("doc_b"))), Ckpt.BatchSized)
    val relabeled = Ckpt.state(
      clusterPairs(reduced).select(col("doc_id"), col("cluster_id")),
      Ckpt.BatchSized)
    val untouched = prior.join(affected, Seq("cluster_id"), "left_anti")
      .select(col("doc_id"), col("cluster_id"))
    withClusterSizes(untouched.union(relabeled))
  }

  /** Streaming connected-components maintenance — the foreachBatch sink
    * that keeps a near-dup cluster labeling current as pair batches
    * arrive (the Overlap.sketchSink / bm25IndexSink pattern): each epoch
    * folds its edges into the label state with [[maintainClusters]] and
    * the served labeling is always the full graph's. State = the
    * (doc_id, cluster_id) label table only — vertices seen so far, NOT
    * edges (edges are consumed and dropped; the member→representative
    * reconnection makes stored edges unnecessary, which is what keeps
    * streaming CC state bounded by corpus vertices instead of growing
    * with the pair stream). Per-epoch cost ∝ batch + affected-component
    * mass, the [[dedupClustersIncrementalFrom]] property. State is
    * re-truncated (localCheckpoint) every epoch so lineage cannot grow
    * across epochs. */
  final class ClusterMaintainer(s: SparkSession) {
    import s.implicits._
    @volatile private var state: DataFrame =
      Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id")
    def fold(edges: DataFrame): Unit = synchronized {
      state = Ckpt.state(
        maintainClusters(state, Ckpt.state(edges, Ckpt.BatchSized))
          .select(col("doc_id"), col("cluster_id")), Ckpt.PairGraphSized)
    }
    /** Current labeling with sizes — the serve-side read. */
    def serve(): DataFrame = withClusterSizes(state)
  }

  /** Crash-safe PERSISTED form of [[ClusterMaintainer]] (r14, VERDICT r13
    * task 4): the label state lives under `stateDir/epoch=<id>/` and each
    * fold follows the TxOutputSink marker-in-transaction discipline —
    * compute the new labeling from the LAST COMMITTED state + the epoch's
    * edges, write it to a temp dir, COMMIT by atomic rename to the
    * epoch-deterministic name. The two crash windows are both safe:
    *  - crash BEFORE the rename → no `epoch=<id>` dir exists, so the
    *    restarted maintainer recomputes the SAME fold from the same
    *    committed prior when foreachBatch re-delivers the epoch (a stale
    *    temp dir from the dead attempt is overwritten);
    *  - crash AFTER the rename → the re-delivered epoch is detected as
    *    committed and skipped (retry-idempotent, the batch=id overwrite
    *    convention of sketchSink / bm25IndexSink / reservoirSink).
    * Either way the final labeling equals the full recompute —
    * DedupChaosSpec pins every boundary. Epoch dirs older than the
    * latest exist only to make the commit atomic; a production deployment
    * prunes them (retention is policy, not correctness — serve reads only
    * the latest).
    *
    * Deployment constraint: `stateDir` must be a DRIVER-VISIBLE POSIX
    * filesystem (local disk or a mounted NFS) — the commit is a
    * `Files.move(ATOMIC_MOVE)` and the epoch listing is `File.listFiles`,
    * both deliberately chosen because a same-filesystem rename is the
    * strongest atomicity primitive available (HDFS `rename` is also
    * atomic and a drop-in swap via `FileSystem.rename`; S3 has no atomic
    * rename at all, so an object-store deployment must put THIS dir —
    * which holds only (doc_id, cluster_id) labels, not documents — on
    * real disk). The data-plane state sinks (sketchSink, bm25IndexSink,
    * gramIndexSink, hllSketchSink) have no such constraint: they are
    * plain parquet writes on any Hadoop filesystem, probed via
    * [[StatePath]]. */
  final class PersistedClusterMaintainer(s: SparkSession, stateDir: String) {
    private val root = new java.io.File(stateDir)
    root.mkdirs()
    /** Test-only failure injection between fold and commit. */
    @volatile var crashBeforeCommit: () => Unit = () => ()
    private def epochDir(id: Long) = new java.io.File(root, s"epoch=$id")
    private def committedEpochs: Seq[Long] =
      Option(root.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("epoch="))
        // a foreign directory in stateDir must be ignored, not fatal
        .flatMap(f =>
          scala.util.Try(f.getName.stripPrefix("epoch=").toLong).toOption)
        .sorted
    def lastCommitted: Option[Long] = committedEpochs.lastOption
    private def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(deleteRec)
      f.delete(); ()
    }
    private def loadState(): DataFrame = lastCommitted match {
      case Some(id) => s.read.parquet(epochDir(id).toString)
      case None =>
        import s.implicits._
        Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id")
    }
    /** foreachBatch body: `(epoch, id) => pm.fold(id, epoch)`. */
    def fold(epochId: Long, edges: DataFrame): Unit = synchronized {
      if (epochDir(epochId).exists()) return // re-delivered epoch: committed
      commitEpoch(epochId,
        maintainClusters(loadState(), Ckpt.state(edges, Ckpt.BatchSized))
          .select(col("doc_id"), col("cluster_id")))
    }

    /** RTBF purge epoch (r15): drop the purged documents from the label
      * state — they disappear from the served membership AND the size
      * counts (serve derives sizes from the state). Conservative-
      * membership semantics for the survivors: remaining members KEEP
      * their cluster even when the purged doc was the bridge that merged
      * it — the near-dup relations were observed at publish time, and a
      * purge removes the DOCUMENT, not the historical observation (a
      * split would require storing edges, which the bounded-state design
      * deliberately does not; for dedup, staying merged is the safe
      * direction). Clusters whose LABEL was the purged doc are re-pointed
      * to their minimum live member — labels must stay member ids or the
      * next fold's member→representative reconnection would resurrect the
      * purged id as a vertex (CcPurgeSpec caught exactly that). The
      * relabel is purge-proportional: only clusters that contained a
      * purged doc are touched. Crash-safe through the same epoch-dir
      * atomic commit as [[fold]]; a re-delivered purge epoch is skipped
      * as committed. */
    def purge(epochId: Long, docIds: DataFrame): Unit = synchronized {
      if (epochDir(epochId).exists()) return
      val purged = Ckpt.state(docIds.select(col("doc_id")), Ckpt.SampleSized)
      val state = loadState()
      val live = state.join(purged, Seq("doc_id"), "left_anti")
      val affected = Ckpt.state(state.join(purged, Seq("doc_id"), "left_semi")
        .select(col("cluster_id")).distinct(), Ckpt.SampleSized)
      val untouched = live.join(affected, Seq("cluster_id"), "left_anti")
        .select(col("doc_id"), col("cluster_id"))
      val fixed = live.join(affected, Seq("cluster_id"), "left_semi")
      val relabeled = fixed
        .join(fixed.groupBy(col("cluster_id"))
          .agg(min(col("doc_id")).as("new_label")), Seq("cluster_id"))
        .select(col("doc_id"), col("new_label").as("cluster_id"))
      commitEpoch(epochId, untouched.union(relabeled))
    }

    private def commitEpoch(epochId: Long, next: DataFrame): Unit = {
      val tmp = new java.io.File(root, s".tmp-epoch-$epochId")
      if (tmp.exists()) deleteRec(tmp) // stale temp from a dead attempt
      next.write.mode("overwrite").parquet(tmp.toString)
      crashBeforeCommit()
      // Files.move(ATOMIC_MOVE) rather than File.renameTo: renameTo
      // returns a bare false on failure and is only atomic on a POSIX
      // same-filesystem rename; this throws a DESCRIPTIVE exception
      // (AtomicMoveNotSupportedException) where atomicity is unavailable
      // instead of silently degrading the commit guarantee.
      java.nio.file.Files.move(tmp.toPath, epochDir(epochId).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      ()
    }
    /** Current labeling with sizes, read from the committed state. */
    def serve(): DataFrame = withClusterSizes(loadState())
  }

  /** Edit-distance verification (q38) over the near-dup CANDIDATE pairs —
    * the final fuzzy filter of a dedup cascade. Levenshtein is O(len²) per
    * pair, so at any scale it runs only on the pair list the cheap stages
    * produced (here: the exact Jaccard pairs), never all-pairs; the two
    * text payloads join back by id. The pairs are ALREADY COMPUTED — a
    * dedup cascade materializes the candidate pair list once and feeds
    * every verifier from it, instead of re-paying the tokenize +
    * self-join per verifier. */
  def editDistanceFrom(docTable: DataFrame, pairs: DataFrame): DataFrame = {
    val docs = docTable.select(col("doc_id"), normText(col("text")).as("norm"))
    pairs.select(col("doc_a"), col("doc_b"))
      .join(docs.select(col("doc_id").as("doc_a"), col("norm").as("na")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("norm").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("na"), col("nb")).as("edit_dist"),
        round(lit(1.0) - levenshtein(col("na"), col("nb")).cast("double") /
          greatest(length(col("na")), length(col("nb"))).cast("double"), 4).as("edit_sim"))
  }

  // ---------------------------------------------------------------------
  // Exact cross-document substring dedup (token granularity)
  // ---------------------------------------------------------------------

  /** Minimum duplicated-run length (tokens) for [[substringDedup]] — the
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better") exact-substring threshold, scaled to this corpus's short
    * synthetic documents (the paper uses 50 BPE tokens on ~kB documents).
    */
  val SubstringK = 15

  /** Deterministic 60-token passage [[qSubstringDedup]] plants into every
    * doc_id % 7 == 3 document (the pii_scrub injected-fixture pattern:
    * the synthetic corpus carries near-dup PAIRS but no guaranteed long
    * verbatim run shared across MANY docs, so the entry injects one —
    * built identically in the oracle SQL — and the planted run sits
    * MID-TEXT, before a doc-unique tail, so excision is interior, not a
    * suffix chop). */
  val SubstringPassage: String = (0 until 60).map(i => "dup" + i).mkString(" ")

  /** Deterministic 40-token benchmark passage for
    * [[qDecontaminateSubstring]]'s planted fixtures (distinct vocabulary
    * from [[SubstringPassage]] so the two entries' fixtures can't
    * interact). */
  val DecontamPassage: String = (0 until 40).map(i => "bench" + i).mkString(" ")

  /** Exact cross-document substring dedup (substring_dedup, r14 — VERDICT
    * r13 task 5): remove every maximal token run of length ≥
    * [[SubstringK]] that already occurred in an EARLIER document (keep-
    * first at token granularity) — the standard LLM-pipeline dedup mode
    * the catalogue lacked: segment_dedup is separator-segment-granularity
    * and boilerplate_strip is document-frequency-based; neither catches a
    * 60-token verbatim run embedded mid-paragraph across two docs.
    *
    * Algorithm (exact, set-algebraic — no extension scan needed): token
    * position p of doc d is covered by a duplicated run iff SOME k-window
    * containing p matches a window of an earlier doc; every position of a
    * shared run of length L ≥ k is covered by one of its L−k+1 windows,
    * and no position of a shorter shared run can be (its windows don't
    * fit inside the run). So: all k-grams → first_doc = min(doc_id) per
    * gram → duplicated windows (doc_id > first_doc) → covered positions
    * (window start + 0..k−1, distinct) → anti-join tokens → ordered
    * reassembly per doc.
    *
    * Scale shape (100 TB): k-gram generation is per-row array algebra
    * (explode + codegen'd slice/concat/md5 — no window sort, no HOF
    * lambda); grams shuffle by a 128-bit md5 key (fixed width, never the
    * text); first-doc is a map-side-combined min; boilerplate-hot grams
    * skew the probe join like every Zipf-keyed join here — AQE skew-join
    * splits them (the saltedCountJoin alternative if a corpus is
    * pathological). Reassembly shuffles kept tokens once by doc_id — the
    * same tokenize-shuffle class as [[shingleTable]]. md5 keys make the
    * twin artifact-free: DuckDB recomputes the ENTIRE pipeline from base
    * parquet. */
  def qSubstringDedup(s: SparkSession, d: String): DataFrame =
    substringDedup(substringInjectedDocs(s, d))

  /** The shared planted-passage fixture frame for the substring-dedup
    * entry family (see [[qSubstringDedup]] for why the passage is
    * injected): every doc_id % 7 == 3 document gets [[SubstringPassage]]
    * mid-text, replicated verbatim in each entry's oracle SQL. */
  def substringInjectedDocs(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(col("doc_id"),
      when(col("doc_id") % 7 === 3,
        concat(col("text"), lit(" " + SubstringPassage + " tail"),
          col("doc_id").cast("string")))
        .otherwise(col("text")).as("text"))

  /** See [[qSubstringDedup]]; runs on any (doc_id, text) frame. */
  def substringDedup(docs: DataFrame): DataFrame = {
    // every k-token window, keyed by md5 of its text (engine-portable,
    // fixed-width shuffle key). Materialized ONCE (opt r17): the frame is
    // consumed by both the first-doc agg and the probe join, and the two
    // subtrees differ (partial-agg vs raw) so exchange reuse never fires —
    // unchecked, the explode+slice+md5 gram build ran twice per query
    // (measured same-JVM at sf0.1: 3.55 s → 2.57 s, output identical).
    // One materialized gram pass is also the production layout (the
    // gramIndexSink state IS this table persisted).
    val kg = Ckpt.local(substringGrams(docs), Ckpt.CorpusSized)
    val first = kg.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
    val dupWin = kg.join(first, "g")
      .filter(col("doc_id") > col("first_doc"))
      .select(col("doc_id"), col("i"))
    substringReassemble(docs, dupWin)
  }

  /** Incremental cross-document substring dedup
    * (substring_dedup_incremental, r14): dedup an INCOMING batch against
    * the already-published corpus plus itself — the per-ingest-cycle form
    * of [[substringDedup]], completing the operator's
    * build→maintain→serve family the way dedup/bm25/CC incrementals do.
    * Published documents are immutable, so the rule changes from global
    * keep-first to: a batch window is duplicated iff its gram exists in
    * the PRIOR corpus (prior always wins) or in an EARLIER batch document
    * (keep-first within the batch). Only batch documents are emitted.
    *
    * Scale shape (100 TB corpus, TB batch): the prior side enters only as
    * the distinct-gram PRESENCE SET — in production a persisted index
    * maintained ADDITIVELY (set union per cycle; no rescan — here the
    * entry rebuilds it from the prior half so the oracle needs no
    * artifact, the minhash_incremental stance). Batch grams probe it with
    * one semi join; everything downstream (batch-internal keep-first,
    * covered-position expansion, reassembly) is batch-sized. */
  def qSubstringDedupIncremental(s: SparkSession, d: String): DataFrame = {
    val injected = substringInjectedDocs(s, d)
    substringDedupIncremental(
      injected.filter(col("doc_id") % 5 =!= 2),
      injected.filter(col("doc_id") % 5 === 2))
  }

  /** Streaming gram-index maintenance — the foreachBatch sink that keeps
    * the published-corpus substring index current as document batches are
    * published (the sketchSink / bm25IndexSink pattern): each epoch
    * writes ITS OWN distinct-gram set under `batch=<id>` (overwrite →
    * retry-idempotent; a replayed epoch rewrites the identical grams),
    * and the served index is the merge-on-read distinct union — gram
    * presence is additive, so served == the index built directly from
    * all published docs, exactly (SubstringStreamSpec pins it per chunk).
    * State is gram-grain (32-char md5 keys), never text. */
  def gramIndexSink(statePath: String)(batch: DataFrame, id: Long): Unit =
    substringGrams(batch).select(col("g")).distinct()
      .write.mode("overwrite").parquet(s"$statePath/grams/batch=$id")

  /** Serve the substring-dedup gram index from a [[gramIndexSink]] state
    * directory: merge-on-read union across batch partials. NO distinct —
    * the only consumer is a left-semi presence probe, which tolerates the
    * (rare) cross-batch duplicate gram, and a serve-path distinct was an
    * index-wide shuffle per ingest cycle at the 100 TB design point
    * (VERDICT r14 task 1; the per-epoch partials are already internally
    * distinct, so duplication is bounded by the epoch count). */
  def gramIndexFromState(s: SparkSession, statePath: String): DataFrame =
    s.read.parquet(s"$statePath/grams").select(col("g"))

  /** Bucket count for the compacted gram index. On a real cluster this is
    * the corpus-wide layout knob (thousands of buckets so each holds a
    * few hundred MB of 16-byte keys at 100 TB); 32 here matches the
    * local[32] shuffle width. */
  val GramIndexBuckets = 32

  /** Compact distinct grams into a g-bucketed, g-sorted table (r15,
    * VERDICT r14 task 1). The compacted index is the corpus-sized side of
    * every subsequent serve probe; bucketing it by the join key means the
    * probe join reads it IN PLACE — zero index-side Exchange, verified by
    * GramIndexBucketSpec — so each ingest cycle shuffles only the
    * batch-sized gram set instead of re-exchanging a corpus-sized index.
    * Data lands at `path` (an external table, so the artifact location is
    * explicit); the catalog entry carries the bucket spec. */
  def compactGramsToTable(grams: DataFrame, table: String, path: String,
      buckets: Int = GramIndexBuckets): Unit = {
    val s = grams.sparkSession
    s.sql(s"DROP TABLE IF EXISTS $table")
    grams.select(col("g")).distinct()
      .write.bucketBy(buckets, "g").sortBy("g")
      .option("path", path).mode("overwrite").saveAsTable(table)
  }

  /** Compact a [[gramIndexSink]] state directory into the bucketed serve
    * table: fold every published per-epoch partial (distinct union) into
    * `table`, data under `statePath/compact`. Run once per compaction
    * cycle; partials written AFTER the compaction watermark stay served
    * via the merge-on-read fresh leg of [[substringDedupFromBucketed]]
    * until the next compaction folds them in. */
  def compactGramIndex(s: SparkSession, statePath: String, table: String,
      buckets: Int = GramIndexBuckets): Unit =
    compactGramsToTable(s.read.parquet(s"$statePath/grams"), table,
      s"$statePath/compact", buckets)

  /** The compacted-index leg of the serve probe, exposed for the plan
    * lint: a left-semi sort-merge join (merge hint — at 100 TB neither
    * side broadcasts) whose index side is the bucketed table scanned in
    * place. Duplicate grams on the index side are tolerated by the semi
    * join, so no serve-path distinct. */
  def bucketedGramProbe(s: SparkSession, table: String, batchGrams: DataFrame): DataFrame =
    batchGrams.hint("merge").join(s.table(table), Seq("g"), "left_semi")
      .select(col("doc_id"), col("i"))

  /** The production serve path over a COMPACTED bucketed index plus the
    * fresh (since-compaction) partials: batch grams probe the bucketed
    * table with zero index-side shuffle, fresh partials — batch-sized by
    * construction — probe via broadcast, and the in-batch keep-first rule
    * plus reassembly are batch-sized. Semantically identical to
    * [[substringDedupFromIndex]] over the union index (presence is
    * additive), which is what the driver oracle checks. */
  def substringDedupFromBucketed(s: SparkSession, table: String,
      fresh: DataFrame, batch: DataFrame): DataFrame = {
    // three consumers of the batch grams (compacted probe, fresh probe,
    // in-batch keep-first) — materialize once (opt r17)
    val bg = Ckpt.local(substringGrams(batch), Ckpt.BatchSized)
    val dupVsCompacted = bucketedGramProbe(s, table, bg)
    val dupVsFresh = bg.join(broadcast(fresh.select(col("g"))), Seq("g"), "left_semi")
      .select(col("doc_id"), col("i"))
    val firstInBatch = bg.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
    val dupInBatch = bg.join(firstInBatch, "g")
      .filter(col("doc_id") > col("first_doc"))
      .select(col("doc_id"), col("i"))
    substringReassemble(batch, dupVsCompacted.union(dupVsFresh).union(dupInBatch))
  }

  /** Catalog name for the per-dataset compacted gram index (table names
    * cannot carry dots, so the sf-dir basename is sanitized). */
  def gramIndexTableName(d: String): String =
    "graft_gramidx_" + new java.io.File(d).getName.replaceAll("[^A-Za-z0-9_]", "_")

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(deleteRecursively)
    f.delete(); ()
  }

  /** Build the bucketed serve state of the serve split
    * (gram_index_compact; substring_dedup_serve probes it): three
    * ingest epochs of the prior corpus drain through [[gramIndexSink]],
    * epochs 0–1 (doc_id % 5 in {0,1,3}) are folded into the bucketed
    * table by [[compactGramIndex]], and epoch 2 (doc_id % 5 == 4) lands
    * AFTER the compaction watermark so it exercises the merge-on-read
    * fresh leg. Returns (table, freshPartialPath). The state dir is wiped
    * first so re-runs compact exactly the pre-watermark epochs.
    *
    * The compacted table's CONTENT is the distinct grams of the
    * pre-watermark epochs; the DuckDB twin of gram_index_compact rebuilds
    * the same set from base parquet, so the hash check covers sink
    * partials + compaction. */
  def buildGramServeState(s: SparkSession, d: String): (String, String) = {
    val prior = substringInjectedDocs(s, d).filter(col("doc_id") % 5 =!= 2)
    val statePath = Frozen.path("dedup-gramidx", d)
    deleteRecursively(new java.io.File(statePath))
    gramIndexSink(statePath)(prior.filter(col("doc_id") % 5 <= 1), 0L)
    gramIndexSink(statePath)(prior.filter(col("doc_id") % 5 === 3), 1L)
    val table = gramIndexTableName(d)
    compactGramIndex(s, statePath, table)
    gramIndexSink(statePath)(prior.filter(col("doc_id") % 5 === 4), 2L)
    (table, s"$statePath/grams/batch=2")
  }

  // ---------------------------------------------------------------------
  // Refcounted (purge-aware) gram index — RTBF deletion propagation
  // ---------------------------------------------------------------------

  /** Per-batch signed refcount deltas for the purge-aware gram index
    * (r15, VERDICT r14 task 2). Input batch rows are (doc_id, text, op)
    * with op in {publish, purge}: a publish contributes +1 per DISTINCT
    * gram of the document, a purge contributes −1 for the same set (the
    * purge request carries the payload being removed — rtbf_purge filters
    * the corpus which still holds the text at purge time). Aggregated to
    * (g, delta) per batch so the stored partial is gram-grain, never
    * text. */
  def refGramDeltas(batch: DataFrame): DataFrame =
    substringGrams(batch.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("g")).distinct()
      .join(batch.select(col("doc_id"),
        when(col("op") === "purge", lit(-1L)).otherwise(lit(1L)).as("delta")),
        Seq("doc_id"))
      .groupBy(col("g")).agg(sum(col("delta")).as("delta"))

  /** Streaming maintenance sink for the REFCOUNTED gram index — the
    * purge-aware successor of [[gramIndexSink]], which is additive-only
    * (the r14 audit's RTBF gap: an opt-out there forces a full state
    * rebuild and a purged document's grams keep excising future text).
    * Each epoch writes its (g, delta) partial under `batch=<id>`
    * (overwrite → retry-idempotent: deltas are recomputed from the same
    * epoch payload, so a replay rewrites the identical rows, not a second
    * decrement). Purges are just another epoch — deletion propagates
    * through the same additive merge the publishes use. */
  def refGramIndexSink(statePath: String)(batch: DataFrame, id: Long): Unit =
    refGramDeltas(batch).write.mode("overwrite")
      .parquet(s"$statePath/grams/batch=$id")

  /** Serve the refcounted gram index: merge-on-read sum of the signed
    * partials, presence = cnt > 0. cnt equals the number of LIVE
    * (published minus purged) documents containing the gram, so the
    * served set is exactly the index rebuilt from the purged corpus —
    * the driver's gram_index_purge twin recomputes that from base
    * parquet. This full-index materialization is the once-per-compaction
    * shape; the per-probe path is [[refGramProbe]]. */
  def refGramIndexFromState(s: SparkSession, statePath: String): DataFrame =
    s.read.parquet(s"$statePath/grams")
      .groupBy(col("g")).agg(sum(col("delta")).as("cnt"))
      .filter(col("cnt") > 0)

  /** Compact the refcounted state into a g-bucketed (g, cnt) table — the
    * [[compactGramIndex]] layout with counts. cnt == 0 rows are dropped
    * (absent means zero); the rare negative residue (a duplicate purge)
    * is kept so a later re-publish sums back to the true count instead of
    * resurrecting early. */
  def compactRefGramIndex(s: SparkSession, statePath: String, table: String,
      buckets: Int = GramIndexBuckets): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $table")
    s.read.parquet(s"$statePath/grams")
      .groupBy(col("g")).agg(sum(col("delta")).as("cnt"))
      .filter(col("cnt") =!= 0)
      .write.bucketBy(buckets, "g").sortBy("g")
      .option("path", s"$statePath/compact").mode("overwrite").saveAsTable(table)
  }

  /** Purge-aware presence probe: duplicated windows of `batchGrams`
    * against compacted refcounts PLUS fresh (since-compaction) signed
    * deltas — presence is (compacted cnt + fresh delta) > 0, computed PER
    * PROBE GRAM so the served index is never materialized. The compacted
    * side is the bucketed table read in place (zero index-side Exchange,
    * like [[bucketedGramProbe]]); fresh deltas are batch-sized and
    * broadcast. A gram whose carriers were all purged since compaction
    * nets to <= 0 and stops excising — deletion propagates without any
    * state rebuild. */
  def refGramProbe(s: SparkSession, table: String, freshDeltas: DataFrame,
      batchGrams: DataFrame): DataFrame = {
    val f = freshDeltas.groupBy(col("g")).agg(sum(col("delta")).as("fd"))
    batchGrams.hint("merge")
      .join(s.table(table).select(col("g"), col("cnt")), Seq("g"), "left_outer")
      .join(broadcast(f), Seq("g"), "left_outer")
      .filter(coalesce(col("cnt"), lit(0L)) + coalesce(col("fd"), lit(0L)) > 0)
      .select(col("doc_id"), col("i"))
  }

  /** Build the refcounted state for the purge entries: the prior corpus
    * (doc_id % 5 != 2) publishes in two epochs, then epoch 2 PURGES every
    * planted-passage carrier among them (doc_id % 7 == 3 — so the purge
    * genuinely changes serve results: the batch's passage carriers stop
    * matching the prior index and fall back to in-batch keep-first).
    * Returns the state path. */
  def buildRefGramState(s: SparkSession, d: String): String = {
    val prior = substringInjectedDocs(s, d).filter(col("doc_id") % 5 =!= 2)
    val statePath = Frozen.path("dedup-refgramidx", d)
    deleteRecursively(new java.io.File(statePath))
    val pub = lit("publish")
    refGramIndexSink(statePath)(
      prior.filter(col("doc_id") % 2 === 0).withColumn("op", pub), 0L)
    refGramIndexSink(statePath)(
      prior.filter(col("doc_id") % 2 === 1).withColumn("op", pub), 1L)
    refGramIndexSink(statePath)(
      prior.filter(col("doc_id") % 7 === 3).withColumn("op", lit("purge")), 2L)
    statePath
  }

  /** gram_index_purge (r15, VERDICT r14 task 2): the refcounted gram
    * index AFTER a purge epoch — (g, cnt) with cnt > 0. The DuckDB twin
    * rebuilds the index from the purged corpus (live prior documents
    * only), so the hash proves publish(+1)/purge(−1) delta folding equals
    * a full rebuild: the RTBF opt-out no longer requires one. */
  def qGramIndexPurge(s: SparkSession, d: String): DataFrame =
    refGramIndexFromState(s, buildRefGramState(s, d))

  /** substring_dedup_purged (r15): the incremental substring dedup SERVE
    * leg against the PURGED refcount index — a purged document's grams no
    * longer excise future text (the r14 audit's exact failure mode). The
    * batch's planted-passage carriers survive the prior-index rule here
    * (every prior carrier was purged) and only in-batch keep-first
    * applies to them; the twin recomputes the whole pipeline from base
    * parquet with the purged docs filtered out of the prior side. */
  def qSubstringDedupPurged(s: SparkSession, d: String): DataFrame =
    substringDedupFromIndex(
      refGramIndexFromState(s, buildRefGramState(s, d)).select(col("g")),
      substringInjectedDocs(s, d).filter(col("doc_id") % 5 === 2))

  /** (doc_id, i, g) k-gram window keys — shared by [[substringDedup]],
    * the incremental/batch probe side, and external index builds (a
    * benchmark suite's decontamination index is
    * `substringGrams(bench).select("g").distinct()`, persistable exactly
    * like the [[gramIndexSink]] state). */
  def substringGrams(docs: DataFrame): DataFrame = {
    val k = SubstringK
    docs.select(col("doc_id"), normWords(col("text")).as("l"))
      .withColumn("n", size(col("l")))
      .filter(col("n") >= k)
      .select(col("doc_id"), col("l"),
        explode(sequence(lit(1), col("n") - (k - 1))).as("i"))
      .select(col("doc_id"), col("i"),
        md5(concat_ws(" ", slice(col("l"), col("i"), lit(k))).cast("binary")).as("g"))
  }

  /** See [[qSubstringDedupIncremental]]. */
  def substringDedupIncremental(prior: DataFrame, batch: DataFrame): DataFrame =
    substringDedupFromIndex(
      substringGrams(prior).select(col("g")).distinct(), batch)

  /** The serving form over an ALREADY-MATERIALIZED gram presence index —
    * what a production cycle actually runs (the index is persisted and
    * maintained additively; see [[gramIndexSink]] for the streaming
    * maintenance). */
  def substringDedupFromIndex(priorIdx: DataFrame, batch: DataFrame): DataFrame = {
    // batch grams feed three consumers (prior probe, first-in-batch agg,
    // in-batch probe) — materialize the batch-sized frame once (opt r17,
    // same rationale as substringDedup's kg)
    val bg = Ckpt.local(substringGrams(batch), Ckpt.BatchSized)
    val dupVsPrior = bg.join(priorIdx, Seq("g"), "left_semi")
      .select(col("doc_id"), col("i"))
    val firstInBatch = bg.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
    val dupInBatch = bg.join(firstInBatch, "g")
      .filter(col("doc_id") > col("first_doc"))
      .select(col("doc_id"), col("i"))
    substringReassemble(batch, dupVsPrior.union(dupInBatch))
  }

  /** Substring-granularity benchmark DECONTAMINATION
    * (decontaminate_substring, r14): excise every ≥ [[SubstringK]]-token
    * verbatim benchmark passage from the training split — the
    * GPT-3/Lee-et-al decontamination mode at substring grain, where
    * [[graft.operators.Curation.qContamination]] only SCORES documents by
    * 5-gram overlap. ONLY the benchmark rule applies (no intra-batch
    * keep-first — removing training↔training dups is substring_dedup's
    * job): covered = windows whose gram exists in the benchmark's
    * distinct-gram index; benchmark docs themselves are not emitted.
    *
    * Fixture (the pii_scrub injection stance): the synthetic corpus has
    * only 2 natural ≥15-token cross-source overlaps at sf0.01, so the
    * entry plants [[DecontamPassage]] at the END of every benchmark
    * (source = src0) document and MID-TEXT in every doc_id % 9 == 4
    * training document, both replicated verbatim in the oracle SQL — the
    * oracle genuinely checks that each planted (and natural) passage is
    * excised and the remainder reassembles in order.
    *
    * Scale shape: the benchmark index is eval-suite-sized (MBs — it
    * BROADCASTS, the contamination precedent), so the excision pass is
    * one semi join over training grams + the batch-sized reassembly:
    * linear in the training corpus, zero data-sized shuffle beyond the
    * doc_id reassembly. */
  def qDecontaminateSubstring(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val bench = docs.filter(col("source") === Curation.BenchmarkSource)
      .select(col("doc_id"),
        concat(col("text"), lit(" " + DecontamPassage)).as("text"))
    val train = docs.filter(col("source") =!= Curation.BenchmarkSource)
      .select(col("doc_id"),
        when(col("doc_id") % 9 === 4,
          concat(col("text"), lit(" " + DecontamPassage + " trail"),
            col("doc_id").cast("string")))
          .otherwise(col("text")).as("text"))
    substringExciseAgainstIndex(
      substringGrams(bench).select(col("g")).distinct(), train)
  }

  /** The decontamination kernel: excise every window matching `idx` from
    * `docs` — index rule only, no intra-corpus comparison. `idx` is the
    * benchmark's distinct-gram presence set (persistable exactly like the
    * [[gramIndexSink]] state). */
  def substringExciseAgainstIndex(idx: DataFrame, docs: DataFrame): DataFrame =
    substringReassemble(docs,
      substringGrams(docs).join(idx, Seq("g"), "left_semi")
        .select(col("doc_id"), col("i")))

  /** Shared excision tail: expand duplicated windows `dupWin`
    * (doc_id, i) to covered positions, anti-join the token table, and
    * reassemble each doc's surviving tokens in order (doc-partitioned
    * window — doc-sized frames, no interpreted HOF). */
  private def substringReassemble(batchDocs: DataFrame, dupWin: DataFrame): DataFrame = {
    val k = SubstringK
    val covered = dupWin
      .select(col("doc_id"), explode(sequence(col("i"), col("i") + (k - 1))).as("pos"))
      .distinct()
    val base = batchDocs.select(col("doc_id"), normWords(col("text")).as("l"))
      .withColumn("n", size(col("l")))
    val toks = base
      .select(col("doc_id"), posexplode(col("l")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("tok"))
    val kept = toks.join(covered, Seq("doc_id", "pos"), "left_anti")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val full = w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val clean = kept
      .withColumn("rn", row_number().over(w))
      .withColumn("n_kept", count(lit(1)).over(full))
      .withColumn("clean_text", concat_ws(" ", collect_list(col("tok")).over(full)))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("n_kept"), col("clean_text"))
    base.select(col("doc_id"), col("n").cast("long").as("n_tokens"))
      .join(clean, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  val MinHashPerms = 64
  val LshBands = 16 // 4 rows/band → LSH threshold ≈ (1/16)^(1/4) ≈ 0.5

  /** 64-perm MinHash signatures as ONE wide aggregation: each (doc,
    * shingle) row projects 64 codegen'd xxhash64 columns, one min()
    * aggregate per permutation (map-side combined), and a final `array()`
    * projection assembles the signature. Zero higher-order functions —
    * Spark evaluates HOF lambdas interpreted (~35 µs/element measured), so
    * a perms×shingles nested transform is ~60 s for 500 docs, and even the
    * round-2 explode shape paid an interpreted
    * transform(array_sort(collect_list)) per doc to assemble the array.
    * This shape also beats the explode dataflow structurally: no 64× row
    * blow-up and ONE doc_id shuffle of 64 pre-combined columns instead of
    * a (doc, perm) shuffle of 64× rows — the same wide-agg pattern as
    * [[qSimHash]]'s 64 vote columns. Hash inputs (lit("mh"), perm,
    * shingle) are unchanged from round 2, so signatures are bit-identical. */
  def minhashSigs(ex: DataFrame): DataFrame = {
    val mins = (0 until MinHashPerms).map(p =>
      min(xxhash64(lit("mh"), lit(p), col("shingle"))).as(s"m$p"))
    ex.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until MinHashPerms).map(p => col(s"m$p")): _*).as("sig"))
  }

  // Signature/bucket tables freeze as [[Frozen]] "dedup-<which>": the
  // xxhash64-derived values are the engine-specific piece; the oracle
  // recomputes banding joins / agreement / hamming from the frozen tables.

  /** (doc_id, band, bkey) rows: band b's key hashes signature rows
    * 4b..4b+3. Exploded + codegen'd (top-level xxhash64 projection), not a
    * per-row HOF. */
  def bandKeyTable(sigs: DataFrame): DataFrame = {
    val rows = MinHashPerms / LshBands
    sigs
      .select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(LshBands - 1))).as("band"))
      .select(col("doc_id"), col("band"),
        xxhash64(lit("band") +: col("band") +:
          (1 to rows).map(k => element_at(col("sig"), col("band") * rows + k)): _*).as("bkey"))
  }

  /** MinHash+LSH near-dup candidates with signature-estimated Jaccard.
    *
    * Dataflow (each stage sees signatures as DATA, never re-derives them):
    *   1. compute the 64-perm signature once per doc ([[minhashSigs]]) and
    *      MATERIALIZE it (`persist`) so the band-key explode and the two
    *      estimate-side joins reuse it instead of re-running the signature
    *      job per branch (round 1 recomputed signatures ~64×: 129 s for
    *      500 docs). At cluster scale the same boundary is a checkpoint /
    *      signature table.
    *   2. explode 16 band keys per doc, self-join on (band, bkey), and
    *      DISTINCT the candidate id-pairs BEFORE any signature comparison —
    *      a pair colliding in k bands is estimated once, not k times.
    *   3. join the two fixed-size signatures back by id and estimate
    *      Jaccard from positionwise agreement.
    * Only ids, band keys, and 64×8-byte signatures ever shuffle.
    *
    * Reads an already-materialized shingle table (see
    * [[ngramJaccardFrom]]); the signature and bucket tables freeze under
    * `d`'s artifact path so the DuckDB twin verifies everything downstream
    * of the xxhash values. */
  def minHashLshFrom(ex: DataFrame, d: String): DataFrame = {
    // no persist on the signature job: its single consumer is the Frozen
    // write — every downstream read comes from the re-loaded frozen parquet,
    // so a cached copy would live (unused) for the session (r10 ADVICE)
    val sigs = Frozen(minhashSigs(ex), Frozen.path("dedup-minhash-sigs", d))
    val buckets = Frozen(bandKeyTable(sigs), Frozen.path("dedup-minhash-buckets", d))
    minHashLshFromParts(sigs, buckets)
  }

  /** Pair generation + signature-agreement estimate over explicit
    * signature/bucket tables (frozen by the registered entry so the
    * DuckDB twin verifies everything downstream of the xxhash values). */
  def minHashLshFromParts(sigs: DataFrame, buckets: DataFrame): DataFrame = {
    val cand = buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // codegen'd agreement count (graft.functions.ArrayAgreeCount) — the
    // per-candidate-pair hot path must not run interpreted HOF lambdas
    val est = graft.functions.VectorFunctions.agreeCount(col("sig_a"), col("sig_b"))
      .cast("double") / lit(MinHashPerms.toDouble)
    cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), round(est, 4).as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
  }

  /** MinHash+LSH with an engine-portable permutation hash — the ORACLE
    * twin of [[minHashLshFrom]] (minhash_lsh_md5). xxhash64 has no DuckDB equivalent, so that
    * entry is rows-only; md5 is bit-identical in both engines, and a
    * MinHash permutation only needs a total order, not integers: the
    * "value" of permutation p on a shingle is the 32-char lowercase-hex
    * md5 of "mh:p:<shingle>", and because the hex is fixed-width,
    * lexicographic `min` IS numeric min — both engines agree exactly.
    *
    * Same dataflow and parameters as [[minHashLshFrom]] (64 perms as ONE
    * wide map-side-combined aggregation, 16 band keys = md5 over 4
    * signature rows, candidates DISTINCT'd before estimation); only the
    * hash family and the signature representation (64 hex strings instead
    * of 64 longs) differ. est_jaccard is k/64 rounded at 6 decimals —
    * exact in both engines (1/64 = 0.015625 needs exactly 6), so the
    * driver hash compare is deterministic. The string signatures shuffle
    * 64×32 bytes per doc instead of 64×8 — the production path stays
    * [[minHashLshFrom]]; this twin exists to pin the whole LSH dataflow
    * against an independent engine. The body is [[minHashLshMd5From]]. */
  /** Wide md5-string signature table: (doc_id, m0..m63). */
  private def md5Sigs(ex: DataFrame): DataFrame = {
    val mins = (0 until MinHashPerms).map(p =>
      min(md5(concat(lit(s"mh:$p:"), col("shingle")).cast("binary"))).as(s"m$p"))
    ex.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** (doc_id, band, bkey) rows over an md5 signature table. */
  private def md5BandTable(sigs: DataFrame): DataFrame = {
    val rows = MinHashPerms / LshBands // 4 signature rows per band
    val bkeys = (0 until LshBands).map(b =>
      md5(concat_ws("|",
        (0 until rows).map(k => col(s"m${b * rows + k}")): _*).cast("binary")))
    sigs.select(col("doc_id"), posexplode(array(bkeys: _*)).as(Seq("band", "bkey")))
  }

  /** Positionwise-agreement estimate between two renamed signature sides. */
  private def md5Agreement(aPrefix: String, bPrefix: String) =
    (0 until MinHashPerms)
      .map(p => when(col(s"$aPrefix$p") === col(s"$bPrefix$p"), 1).otherwise(0))
      .reduce(_ + _)

  def minHashLshMd5From(ex: DataFrame): DataFrame = {
    val sigs = md5Sigs(ex).persist()
    val bands = md5BandTable(sigs)
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sa = sigs.toDF("doc_a" +: (0 until MinHashPerms).map(p => s"a$p"): _*)
    val sb = sigs.toDF("doc_b" +: (0 until MinHashPerms).map(p => s"b$p"): _*)
    val agree = md5Agreement("a", "b")
    cand.join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(agree.cast("double") / lit(MinHashPerms.toDouble), 6).as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
  }

  /** LSH candidate-quality evaluation — the harness that justifies the
    * banded-MinHash parameters (64 perms × 16 bands ≈ 0.5 S-curve
    * threshold) with numbers instead of theory: the band join's candidate
    * pairs, and the post-estimate-filter pairs, are each scored against
    * the EXACT df-capped Jaccard pairs at the same ≥ 0.5 threshold
    * ([[ngramJaccardFrom]], the driver-green ground truth). One summary
    * row: pair counts plus precision/recall at both stages. Recall is the
    * number a curator must watch when retuning bands/rows — LSH misses are
    * silent at production scale, so the eval harness IS the operator.
    *
    * Scale shape: both sides reuse the one materialized shingle table;
    * the five counts are 1-row aggs crossJoined (broadcast). The exact
    * side costs the capped inverted-index self-join — at 100 TB this eval
    * runs on a SAMPLE of the corpus (any doc_id hash band), which changes
    * none of the plumbing. Takes a prebuilt [[shingleTable]]; eager (one
    * bounded summary row). */
  def lshEvalFrom(ex: DataFrame): DataFrame = {
    val truth = ngramJaccardFrom(ex).select(col("doc_a"), col("doc_b"))
    val sigs = md5Sigs(ex).persist()
    val bands = md5BandTable(sigs)
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct().persist()
    val sa = sigs.toDF("doc_a" +: (0 until MinHashPerms).map(p => s"a$p"): _*)
    val sb = sigs.toDF("doc_b" +: (0 until MinHashPerms).map(p => s"b$p"): _*)
    val est = cand.join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
      .filter(round(md5Agreement("a", "b").cast("double") / lit(MinHashPerms.toDouble), 6)
        >= 0.5)
      .select(col("doc_a"), col("doc_b"))
    def one(df: DataFrame, name: String) = df.agg(count(lit(1)).as(name))
    val pairKeys = Seq("doc_a", "doc_b")
    // greatest(·, 1): an empty candidate/truth set reports metric 0, not a
    // Spark-NULL vs DuckDB-NaN divergence (ADVICE r9; mirrored in the
    // oracle SQL)
    def ratio(num: Column, den: Column) =
      round(num.cast("double") / greatest(den, lit(1L)).cast("double"), 6)
    val summary = one(truth, "n_truth")
      .crossJoin(one(cand, "n_cand"))
      .crossJoin(one(cand.join(truth, pairKeys, "left_semi"), "n_cand_hit"))
      .crossJoin(one(est, "n_est"))
      .crossJoin(one(est.join(truth, pairKeys, "left_semi"), "n_est_hit"))
      .select(col("n_truth"), col("n_cand"), col("n_cand_hit"), col("n_est"), col("n_est_hit"),
        ratio(col("n_cand_hit"), col("n_cand")).as("cand_precision"),
        ratio(col("n_cand_hit"), col("n_truth")).as("cand_recall"),
        ratio(col("n_est_hit"), col("n_est")).as("est_precision"),
        ratio(col("n_est_hit"), col("n_truth")).as("est_recall"))
    eagerRelease(summary, sigs, cand)
  }

  /** Materialize a BOUNDED summary frame eagerly, then release the persisted
    * intermediates that fed it — the cache-hygiene contract for the eval
    * harnesses (ADVICE r9: back-to-back entries must not accumulate cached
    * partitions). Only call with results of fixed, tiny cardinality (the
    * collect here is a handful of metric rows, never data-sized). */
  private[operators] def eagerRelease(summary: DataFrame,
                                      cached: DataFrame*): DataFrame = {
    val rows = summary.collect()
    cached.foreach(_.unpersist())
    summary.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), summary.schema)
  }

  /** Dedup method-agreement matrix (dedup_agreement) — the comparison a
    * curation team runs when CHOOSING a near-dup detector: the pair sets
    * found by the exact df-capped Jaccard join, the banded SimHash, and
    * the winnowing shared-fingerprint join, scored pairwise (counts,
    * common pairs, and the Jaccard of the pair SETS themselves). The
    * three detectors answer subtly different questions (set overlap vs
    * bit-vector distance vs shared runs), so their disagreement pattern —
    * not any one method's output — is the evidence for a method choice.
    * Completes the eval family next to [[lshEvalFrom]] (which grades ONE
    * method against the exact truth).
    *
    * Scale shape: three pair tables (each already bounded by its own
    * cap/banding), three semi-join intersections, nine 1-row aggs
    * crossJoined (broadcast). Takes prebuilt Jaccard/SimHash pair tables
    * and the winnow fingerprint table — the cascade's shared artifacts —
    * so the billed cost is the agreement MATRIX (winnow pair join + nine
    * bounded aggs), not three rebuilt cascades. */
  def dedupAgreementFrom(a: DataFrame, b: DataFrame, fps: DataFrame): DataFrame = {
    val c = fps.as("x").join(fps.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct().persist()
    def cmp(nameA: String, dfA: DataFrame, nameB: String, dfB: DataFrame) = {
      val na = dfA.agg(count(lit(1)).as("n_a"))
      val nb = dfB.agg(count(lit(1)).as("n_b"))
      val nc = dfA.join(dfB, Seq("doc_a", "doc_b"), "left_semi")
        .agg(count(lit(1)).as("n_common"))
      na.crossJoin(nb).crossJoin(nc)
        .select(lit(nameA).as("method_a"), lit(nameB).as("method_b"),
          col("n_a"), col("n_b"), col("n_common"),
          round(col("n_common").cast("double") /
            greatest(col("n_a") + col("n_b") - col("n_common"), lit(1L)).cast("double"), 6)
            .as("pair_jaccard"))
    }
    val matrix = cmp("jaccard", a, "simhash", b)
      .unionByName(cmp("jaccard", a, "winnow", c))
      .unionByName(cmp("simhash", b, "winnow", c))
    // 3 bounded comparison rows: materialize, then release the winnow
    // pair table built here (a and b belong to the caller — the bench
    // keeps them cached for other consumers; ADVICE r9 cache hygiene)
    eagerRelease(matrix, c)
  }

  /** Incremental NEAR-dup detection — the MinHash face of
    * [[qDedupIncremental]] (minhash_incremental): a new ingest batch is checked against the
    * EXISTING corpus through its signature/band-key tables, never against
    * the corpus text. At production scale the corpus side of this query is
    * a materialized table the pipeline maintains (64×32 B signatures +
    * 16 band keys per doc); here both sides derive from the documents
    * table split by doc_id parity (odd = new batch, even = corpus) so the
    * oracle can reproduce the split. Emits every (doc_new, doc_old) match
    * with estimated Jaccard ≥ 0.5 — the anti-join of the batch against
    * `doc_new` is the kept set. Only ids, band keys and signatures
    * shuffle; candidates join new-batch keys (small) against corpus keys
    * (large) with no corpus self-join — work is ∝ batch, not ∝ corpus².
    * Shingles are per-document, so both sides are parity filters of one
    * shared [[shingleTable]]. */
  def minHashIncrementalFrom(exNew: DataFrame, exCorpus: DataFrame): DataFrame = {
    val sigsNew = md5Sigs(exNew).persist()
    val sigsOld = md5Sigs(exCorpus).persist()
    val cand = md5BandTable(sigsNew).as("n")
      .join(md5BandTable(sigsOld).as("o"),
        col("n.band") === col("o.band") && col("n.bkey") === col("o.bkey"))
      .select(col("n.doc_id").as("doc_new"), col("o.doc_id").as("doc_old"))
      .distinct()
    val sa = sigsNew.toDF("doc_new" +: (0 until MinHashPerms).map(p => s"a$p"): _*)
    val sb = sigsOld.toDF("doc_old" +: (0 until MinHashPerms).map(p => s"b$p"): _*)
    val agree = md5Agreement("a", "b")
    cand.join(sa, Seq("doc_new")).join(sb, Seq("doc_old"))
      .select(col("doc_new"), col("doc_old"),
        round(agree.cast("double") / lit(MinHashPerms.toDouble), 6).as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
  }

  /** 64-bit SimHash over the normalized token bag (duplicates count): bit j
    * votes +1/−1 by bit j of xxhash64(token); bit set iff the vote sum is
    * positive. Same explode + codegen + partial-agg shape as
    * [[minhashSigs]]: one hash per (doc, token) row, 64 signed-sum
    * aggregates (map-side combined), bit assembly in a final projection.
    *
    * HASH-GREEN since r11 (r10 VERDICT task 2): the per-(doc, token-
    * occurrence) xxhash64 table — the ONE engine-specific piece — is
    * frozen to parquet, and the DuckDB twin recomputes the 64 vote sums
    * (arithmetic `>>` + mask, identical semantics) and the two's-
    * complement bit assembly (bit 63 as the explicit Long.MinValue
    * literal) from the same frozen values. The md5 twin additionally
    * pins signature CONSTRUCTION with a portable hash. */
  def qSimHash(s: SparkSession, d: String): DataFrame = {
    val h0 = documents(s, d)
      .select(col("doc_id"), explode(normWords(col("text"))).as("w"))
      .select(col("doc_id"), xxhash64(col("w")).as("h"))
    simHashFromTokenHashes(Frozen(h0, Frozen.path("dedup-simhash-toks", d)))
  }

  /** Vote sums + bit assembly over an explicit (doc_id, h) token-hash
    * BAG (duplicates count — each occurrence votes). */
  def simHashFromTokenHashes(h: DataFrame): DataFrame = {
    val voteCols = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"b$j")
    }
    val bits = (0 until 64)
      .map(j => when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    h.groupBy(col("doc_id")).agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"), bits.as("simhash"))
  }

  /** SimHash with an engine-portable bit source — the ORACLE twin of
    * [[qSimHash]], same trick as minhash_lsh_md5: md5 is bit-identical
    * in both engines, so bit j of the first 64 bits of md5("sh:<token>")
    * replaces bit j of xxhash64(token). Hex digit j/4 of the digest is
    * parsed once per row (16 codegen'd conv columns), the 64 vote sums
    * aggregate map-side exactly like the xxhash form, and the signature is
    * re-assembled as a 16-char lowercase-hex STRING (a BIGINT assembly
    * would need two's-complement bit 63, which DuckDB refuses to overflow
    * into), so both engines render it identically. */
  def qSimHashMd5(s: SparkSession, d: String): DataFrame =
    simHashMd5(documents(s, d))

  def simHashMd5(docs: DataFrame): DataFrame = {
    val hexDigits = (0 until 16).map(k =>
      conv(substring(col("h"), k + 1, 1), 16, 10).cast("int").as(s"d$k"))
    val tok = docs
      .select(col("doc_id"), explode(normWords(col("text"))).as("w"))
      .select(col("doc_id"), md5(concat(lit("sh:"), col("w")).cast("binary")).as("h"))
      .select(col("doc_id") +: hexDigits: _*)
    val votes = (0 until 64).map { j =>
      val bit = shiftright(col(s"d${j / 4}"), 3 - j % 4).bitwiseAND(lit(1))
      sum(when(bit === 1, 1).otherwise(-1)).as(s"v$j")
    }
    val hexTable = array((('0' to '9') ++ ('a' to 'f')).map(c => lit(c.toString)): _*)
    val outDigits = (0 until 16).map { m =>
      val dv = (0 until 4)
        .map(b => when(col(s"v${4 * m + b}") > 0, lit(8 >> b)).otherwise(lit(0)))
        .reduce(_ + _)
      element_at(hexTable, dv + 1)
    }
    tok.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), concat(outDigits: _*).as("simhash"))
  }

  /** Banded pairs over the md5 SimHash twin — the ORACLE face of
    * [[qSimHashPairs]]. The hex-string signature bands into 4 chunks of 4
    * hex digits (= the 16-bit chunks of the numeric form), candidates join
    * on (band, chunk), and the hamming verify re-parses the 16 digits and
    * sums per-digit bit_count(xor) — every step identical SQL in DuckDB,
    * so the pair set and distances hash-match exactly. Reads an
    * already-materialized md5 signature table (the production shape: the
    * signature table is computed once and persisted — the simhash_md5
    * artifact). */
  def simHashPairsMd5From(sigs: DataFrame): DataFrame = {
    val chunks = sigs.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(c =>
        substring(col("simhash"), c * 4 + 1, 4)): _*)).as(Seq("chunk", "ckey")))
    val hamming = (0 until 16).map { k =>
      bit_count(
        conv(substring(col("a.simhash"), k + 1, 1), 16, 10).cast("long")
          .bitwiseXOR(conv(substring(col("b.simhash"), k + 1, 1), 16, 10).cast("long")))
    }.reduce(_ + _).cast("long")
    chunks.as("a").join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ckey") === col("b.ckey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        hamming.as("hamming"))
      .filter(col("hamming") <= 6)
      .distinct()
  }

  /** Bloom-pruned incremental dedup — the 100 TB refinement of
    * [[qDedupIncremental]]: the corpus fingerprint set is summarized as a
    * Bloom filter (~1.2 GB per 10⁹ fingerprints at 1% fpp — maintained
    * alongside the fingerprint table and shipped to executors), and the
    * new batch splits BEFORE the anti-join shuffle: fingerprints the
    * filter rejects are DEFINITELY new (no bloom false negatives) and
    * skip the join entirely; only the might-contain fraction (true dups +
    * fpp) pays the exact anti-join. The result is bit-identical to the
    * plain anti-join — the bloom changes the plan, not the answer — so
    * this entry shares dedup_incremental's DuckDB oracle verbatim.
    *
    * The membership probe is the CODEGEN'd Catalyst expression behind
    * Spark's own runtime-filter injection ([[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]]
    * over xxhash64), built from the public `stat.bloomFilter` sketch —
    * no UDF, no interpreted path; the serialized filter rides the plan
    * exactly like an injected runtime filter's subquery result. */
  def qDedupIncrementalBloom(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    dedupIncrementalBloom(
      docs.filter(col("doc_id") % 2 === 1),
      docs.filter(col("doc_id") % 2 === 0))
  }

  /** Core of [[qDedupIncrementalBloom]] over explicit batch/corpus frames
    * (each (doc_id, text)). CRITICAL hash-family detail: the filter is
    * built over xxhash64(content_fp) inserted AS LONGS, because
    * [[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]]
    * probes `mightContainLong(xxhash64(value))` — building the filter from
    * the raw strings instead (Murmur3 over UTF-8 bytes) would set DISJOINT
    * bit positions and silently turn every member into a bloom miss,
    * breaking the no-false-negatives invariant the definitely-new branch
    * relies on (pinned by a crafted cross-duplicate test in OperatorSpec,
    * not just the clean driver tables). */
  def dedupIncrementalBloom(batchDocs: DataFrame, corpusDocs: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    val fpCol = md5(normText(col("text")).cast("binary"))
    val known = corpusDocs.select(fpCol.as("content_fp")).distinct().persist()
    val batch = batchDocs
      .select(col("doc_id"), fpCol.as("content_fp"))
      .groupBy(col("content_fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))
      .persist() // both bloom branches read it; one aggregation, not two
    // capacity from the actual corpus cardinality (cheap: `known` is the
    // persisted distinct table) — a fixed constant would let fpp degrade
    // toward 1 as the corpus grows and the bloom would prune nothing
    val nKnown = math.max(1000L, known.count())
    val bloom = known.select(xxhash64(col("content_fp")).as("h"))
      .stat.bloomFilter("h", nKnown, 0.01) // long column → putLong path
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    import org.apache.spark.sql.GraftColumnBridge
    val mightContain = GraftColumnBridge.column(BloomFilterMightContain(
      Literal.create(bytes, org.apache.spark.sql.types.BinaryType),
      new XxHash64(Seq(GraftColumnBridge.expression(col("content_fp"))))))
    val definitelyNew = batch.filter(!mightContain)
    val needsCheck = batch.filter(mightContain)
      .join(known, Seq("content_fp"), "left_anti")
    definitelyNew.union(needsCheck)
  }

  /** (doc_id, band, bkey) band-key table over any (doc_id, text) frame —
    * the batch surface [[bandKeysLocal]] must reproduce (pinned in
    * StreamingDedupSpec). */
  def md5BandTableForTest(docs: DataFrame): DataFrame =
    md5BandTable(md5Sigs(shingleTable(docs)))

  /** One LSH bucket claim from the streaming near-dup filter: `owner` is
    * the doc that held the bucket when `doc_id` arrived (owner == doc_id
    * ⇔ this doc claimed it first). */
  case class BucketHit(doc_id: Long, bkey: String, owner: Long)

  /** Per-document md5 MinHash band keys computed IN ONE ROW — no
    * aggregation, no shuffle: one doc's signature is a local min over its
    * own shingles, so a plain Scala loop reproduces [[md5Sigs]] +
    * [[md5BandTable]] exactly (asserted in StreamingDedupSpec). This is
    * what makes the STREAMING form possible: signatures become a stateless
    * projection, leaving bucket ownership as the query's only stateful
    * stage. */
  def bandKeysLocal(text: String): Seq[String] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    // replicate TextOps.normText EXACTLY, in its order: collapse \s+ to
    // one space, strip spaces only (NOT Java String.trim, which also
    // strips control chars ≤ 0x20 that SQL trim keeps), then lowercase
    // with Locale.ROOT (a tr_TR default locale would map I→ı and diverge
    // from Spark's locale-independent lower())
    val norm = text.replaceAll("\\s+", " ")
      .stripPrefix(" ").stripSuffix(" ")
      .toLowerCase(java.util.Locale.ROOT)
    val words = norm.split(" ").toSeq
    val shingles = words.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
    if (shingles.isEmpty) return Seq.empty
    val sig = (0 until MinHashPerms).map(p => shingles.map(s => hex(s"mh:$p:$s")).min)
    val rows = MinHashPerms / LshBands
    (0 until LshBands).map(b => hex((0 until rows).map(k => sig(b * rows + k)).mkString("|")))
  }

  /** Streaming near-dup filter (the streaming face of
    * minhash_incremental): documents arriving on an unbounded stream
    * are checked against every PREVIOUSLY seen document via LSH bucket
    * ownership. Stateless typed map computes each doc's 16 band keys
    * ([[bandKeysLocal]]); flatMap explodes to (bkey, doc) rows; ONE
    * `flatMapGroupsWithState` keyed by band key stores the first owner
    * per bucket (state value: a single long — bounded by distinct buckets,
    * never by stream length; `bucketTtlMs > 0` additionally evicts buckets
    * quiet for the TTL, windowing the memory at the price of missing
    * near-dups separated by more than the TTL — the same trade as
    * [[Relational.dedupStream]]'s watermark, asserted in
    * StreamingDedupSpec). Emits every
    * [[BucketHit]]; a doc with ANY hit where owner ≠ doc_id is a near-dup
    * CANDIDATE — downstream verification joins signatures by id, same as
    * the batch path. Within a micro-batch, first-seen = min doc_id
    * (iterator sorted), so replaying a bounded stream in one batch equals
    * the batch ownership table bit for bit (asserted in
    * StreamingDedupSpec). */
  def nearDupStream(docs: DataFrame, bucketTtlMs: Long = -1L): Dataset[BucketHit] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}
    val timeout =
      if (bucketTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) => bandKeysLocal(text).map(bk => (bk, id)) }
      .toDF("bkey", "doc_id")
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, BucketHit](OutputMode.Append, timeout) {
        (bkey: String, rows: Iterator[(String, Long)], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            // quiet bucket past the TTL: forget the owner. Near-dups
            // separated by more than the TTL are no longer detected — the
            // windowed-recall trade every production stream dedup makes
            // to bound memory (same posture as dedupStream's watermark).
            state.remove()
            Iterator.empty
          } else {
            val ids = rows.map(_._2).toSeq.sorted // first-seen = min id in batch
            if (ids.isEmpty) Iterator.empty
            else {
              val owner = if (state.exists) state.get else ids.head
              if (!state.exists) state.update(owner)
              if (bucketTtlMs > 0) state.setTimeoutDuration(bucketTtlMs) // Spark rejects a 0 duration
              ids.iterator.map(id => BucketHit(id, bkey, owner))
            }
          }
      }
  }

  /** SimHash near-dup pairs: band the 64-bit signature into 4×16-bit chunks
    * (hamming ≤ 3 ⇒ at least one chunk equal), join on chunks, verify with
    * bit_count(xor). */
  def qSimHashPairs(s: SparkSession, d: String): DataFrame =
    // signatures frozen so the DuckDB twin recomputes chunking, the banded
    // join, hamming and the threshold from the same values
    simHashPairsFromSigs(Frozen(qSimHash(s, d), Frozen.path("dedup-simhash-sigs", d)))

  /** Banded pair generation + hamming gate over an explicit signature
    * table. */
  def simHashPairsFromSigs(sigs: DataFrame): DataFrame = {
    val chunks = sigs.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("simhash"), c * 16).bitwiseAND(lit(65535L))): _*))
        .as(Seq("chunk", "ckey")))
    chunks.as("a").join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ckey") === col("b.ckey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= 6)
      .distinct()
  }
}
