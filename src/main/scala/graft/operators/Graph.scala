package graft.operators

import scala.collection.mutable

import graft.Tables._
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.serializer.KryoSerializer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Graph analytics over relationship tables — the iterative-algorithm
  * family (Pregel-style message passing expressed as join + aggregate
  * rounds) that complements the single-pass connected-components labeling
  * in [[Dedup.qDedupClusters]].
  *
  * Scale design (the part that has to survive 1000 executors / 100 TB of
  * edges): the rounds run on RDDs that share ONE `HashPartitioner`. The
  * symmetric edge list — the only data-sized input — is grouped by `src`
  * into adjacency arrays once (one shuffle) and persisted; each node's
  * degree rides along with its adjacency. Each round is then a narrow
  * `links ⋈ ranks` (co-partitioned, one record per node on each side) and
  * exactly ONE shuffle: the map-side-combined sum of node-grain
  * contributions, whose output already sits in the partitioning the next
  * round joins on. Nothing edge-sized crosses the network after setup,
  * and the whole fixpoint runs as one Spark job (GraphSpec pins the
  * lineage's shuffle count: setup + one per round). The DataFrame form of
  * the same rounds ran 17–19 jobs under AQE: a job per query stage,
  * broadcasts, and two cache builds. Memory: the join holds one node's
  * adjacency at a time and spills across nodes, so the bound is the
  * largest degree, not the graph. The persisted adjacency RDD is not in
  * the Dataset cache, so `spark.catalog.clearCache()` does not free it:
  * Spark's ContextCleaner does, at the first driver GC after the returned
  * frame becomes unreachable. At sf0.1 that is 9.3 MiB held in memory;
  * eight passes with a `clearCache` between them (local[3]) never held
  * more than one copy, and none was left after a GC.
  *
  * Determinism (the part that makes an iterative float algorithm
  * oracle-checkable): ranks are integer micro-units ([[PrScale]] = 1e12),
  * every division is integral (long `/` here, `//` in DuckDB — identical
  * on non-negative operands), and sums run over longs, so the fixpoint
  * arithmetic is bit-exact and order-invariant across engines — no float
  * accumulation whose reduction order could differ. The damping update is
  * `(15·r0) / 100 + (85·inflow) / 100` applied in the SAME operation
  * order on both sides.
  */
object Graph {

  /** Rank mass scale: 1 rank unit = 1e-12 of the total graph mass. */
  val PrScale = 1000000000000L

  /** Fixed iteration count — mirrored by the unrolled CTE chain in the
    * DuckDB oracle ([[graft.SparkEntry.oracleSql]] `pagerank`). */
  val PrIters = 3

  /** PageRank over the customer–supplier order graph: an edge links a
    * customer to every supplier that ever shipped them a line item
    * (orders ⋈ lineitem, distinct). Node ids are namespaced into one key
    * space (customer → 2k, supplier → 2k+1). The graph is treated as
    * undirected (symmetric edges), which also guarantees no dangling
    * nodes: every node in the edge list has out-degree ≥ 1, so no
    * lost-mass redistribution term is needed. */
  def qPageRank(s: SparkSession, d: String): DataFrame = {
    val ol = orders(s, d)
      .join(lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    pageRank(ol, PrIters)
  }

  /** Integer-exact PageRank (damping 0.85) over an undirected edge list
    * `(src, dst)`; emits `(node, pr)` with pr in [[PrScale]] micro-units.
    * The only driver-side value is the scalar node count N (one number,
    * the [[Layout]]-min/max precedent) — needed because the per-node base
    * mass (1−d)/N is a constant of the recurrence, not data.
    *
    * Null endpoints keep SQL join semantics: a null node counts toward N
    * (it is a group of the degree count) and its edges count toward the
    * other endpoint's degree, but it never sends or receives rank.
    *
    * Node keys must be integral (byte, short, int or long): the rounds key
    * on longs, and a wider or non-numeric key would be truncated or nulled
    * into another node. */
  def pageRank(undirected: DataFrame, iters: Int): DataFrame = {
    val s = undirected.sparkSession
    Seq("src", "dst").foreach { c =>
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(undirected.schema(c).dataType),
        s"pageRank: $c must be an integral node key, not ${undirected.schema(c).dataType.simpleString}")
    }
    val part = new HashPartitioner(s.sessionState.conf.numShufflePartitions)
    // boxed keys (a null endpoint stays a key, as in the SQL form) would
    // make both shuffles fall back to Java serialization: name Kryo
    val kryo = new KryoSerializer(s.sparkContext.getConf)
    val input = undirected.select(col("src").cast("long"), col("dst").cast("long"))
      .queryExecution
    // setup runs as one SQL execution of the input plan, so it reports as a
    // query (UI, query-execution listeners) like a Dataset action would
    val (links, n) = SQLExecution.withNewExecutionId(input, Some("pageRank")) {
      val sym: RDD[(Node, Node)] = input.toRdd.flatMap { r =>
        val a: Node = if (r.isNullAt(0)) null else r.getLong(0)
        val b: Node = if (r.isNullAt(1)) null else r.getLong(1)
        Iterator(a -> b, b -> a)
      }
      // (node, (non-null neighbours, degree)): the symmetric edge list
      // grouped by src ONCE, in the partitioning every round reuses
      val links = sym.combineByKeyWithClassTag[(mutable.ArrayBuilder.ofLong, Long)](
          (d: Node) => (adj(new mutable.ArrayBuilder.ofLong, d), 1L),
          (c: (mutable.ArrayBuilder.ofLong, Long), d: Node) => (adj(c._1, d), c._2 + 1),
          (x: (mutable.ArrayBuilder.ofLong, Long), y: (mutable.ArrayBuilder.ofLong, Long)) =>
            (x._1 ++= y._1.result(), x._2 + y._2),
          part, mapSideCombine = false, serializer = kryo)
        .mapValues { case (ns, deg) => (ns.result(), deg) }
        .persist(StorageLevel.MEMORY_AND_DISK)
      // bounded driver scalar: node count (a null node included)
      (links, links.count())
    }
    require(n > 0, "pageRank: empty edge list")
    val r0 = PrScale / n
    val base = (15L * r0) / 100L
    // (node, pr); every step keeps `part`, so each round's join is narrow
    var ranks: RDD[(Node, Long)] = links.filter(_._1 != null).mapValues(_ => r0)
    for (_ <- 1 to iters) {
      ranks = links.join(ranks, part)
        .flatMap { case (_, ((ns, deg), pr)) =>
          val c = pr / deg
          ns.iterator.map(d => (Long.box(d), c))
        }
        .combineByKeyWithClassTag[Long]((c: Long) => c, (a: Long, c: Long) => a + c,
          (a: Long, b: Long) => a + b, part, mapSideCombine = true, serializer = kryo)
        .mapValues(in => base + (85L * in) / 100L)
    }
    val out = s.createDataFrame(ranks.map { case (k, pr) => Row(k.longValue, pr) },
      StructType(Seq(StructField("node", LongType, nullable = false),
        StructField("pr", LongType, nullable = false))))
    out.select(col("node").cast(undirected.schema("src").dataType).as("node"), col("pr"))
  }

  /** A node key: boxed, so a null endpoint is a key as in SQL grouping. */
  private type Node = java.lang.Long

  private def adj(ns: mutable.ArrayBuilder.ofLong, d: Node): mutable.ArrayBuilder.ofLong =
    if (d == null) ns else ns += d
}
