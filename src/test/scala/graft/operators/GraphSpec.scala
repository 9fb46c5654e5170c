package graft.operators

import org.apache.spark.ShuffleDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamFixture.spark

/** PageRank invariants the oracle's value-compare can't express: the
  * hand-computed recurrence on a tiny graph, mass conservation under
  * integer truncation, and the degree-ordering sanity of the result. */
class GraphSpec extends AnyFunSuite {

  val d = "/root/testdata/sf0.001"

  private def path3(iters: Int) = {
    import spark.implicits._
    Graph.pageRank(Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("pagerank reproduces the hand-computed integer recurrence on a 3-node path") {
    // undirected path 1-2-3: deg = (1,2,1), N = 3
    // r0 = 1e12/3 = 333333333333; base = (15*r0)/100 = 49999999999
    // inflow(1) = inflow(3) = r0/2 = 166666666666; inflow(2) = 2*r0
    // pr1(ends) = base + (85*166666666666)/100 = 49999999999 + 141666666666
    // pr1(mid)  = base + (85*666666666666)/100 = 49999999999 + 566666666666
    val got = path3(1)
    assert(got(1L) == 191666666665L)
    assert(got(3L) == 191666666665L)
    assert(got(2L) == 616666666665L)
  }

  test("pagerank conserves mass up to integer truncation and keeps all nodes") {
    val out = Graph.qPageRank(spark, d).collect()
    val nodes = out.map(_.getLong(0))
    assert(nodes.distinct.length == nodes.length, "one row per node")
    out.foreach(r => assert(r.getLong(1) > 0, s"rank must stay positive: $r"))
    // truncation budget: r0 loses < N at init; each round, a node's outflow
    // pr - outdeg*(pr div outdeg) loses < outdeg (so < E over the graph),
    // and the two div-100 damping terms lose < 2 per node. Mass only
    // drifts DOWN from PrScale, bounded by N + iters*(E + 2N).
    val total = out.map(_.getLong(1)).sum
    val n = out.length.toLong
    val ol = graft.Tables.orders(spark, d)
      .join(graft.Tables.lineitem(spark, d), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct().count()
    val e = 2L * ol // symmetrized edge count
    assert(total <= Graph.PrScale)
    assert(total >= Graph.PrScale - n - Graph.PrIters * (e + 2L * n),
      s"lost too much mass: $total of ${Graph.PrScale} over $n nodes, $e edges")
  }

  test("pagerank on a star graph ranks the hub above every leaf") {
    import spark.implicits._
    val star = (2L to 9L).map(k => (1L, k)).toDF("src", "dst")
    val got = Graph.pageRank(star, Graph.PrIters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hub = got(1L)
    (2L to 9L).foreach(k => assert(hub > got(k), s"hub must outrank leaf $k"))
    // leaves are symmetric, so their ranks must be identical
    assert((2L to 9L).map(got).distinct.length == 1)
  }

  /** The DataFrame form of the same rounds (the pre-RDD implementation),
    * kept as the differential reference for [[Graph.pageRank]]. */
  private def pageRankFrames(undirected: DataFrame, iters: Int): DataFrame = {
    val sym = undirected.select(col("src"), col("dst"))
    val edges = sym.union(sym.select(col("dst").as("src"), col("src").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .select(col("src").as("node"), col("outdeg"))
    val n = deg.count()
    val r0 = Graph.PrScale / n
    val base = (15L * r0) / 100L
    var ranks = deg.select(col("node"), col("outdeg"), lit(r0).as("pr"))
    for (_ <- 1 to iters) {
      val inflow = edges.join(ranks, edges("src") === ranks("node"))
        .select(col("dst"), expr("pr div outdeg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
      ranks = inflow
        .join(deg.select(col("node").as("dnode"), col("outdeg").as("doutdeg")),
          col("dst") === col("dnode"))
        .select(col("dnode").as("node"), col("doutdeg").as("outdeg"),
          (lit(base) + expr("(85 * inflow) div 100")).as("pr"))
    }
    ranks.select(col("node"), col("pr"))
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  test("pagerank rounds equal the DataFrame form row for row, null endpoints included") {
    import spark.implicits._
    val ol = graft.Tables.orders(spark, d)
      .join(graft.Tables.lineitem(spark, d), col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    val got = Graph.qPageRank(spark, d)
    val want = pageRankFrames(ol, Graph.PrIters)
    assert(got.schema.map(f => (f.name, f.dataType)) == want.schema.map(f => (f.name, f.dataType)))
    assert(rows(got) == rows(want))
    // a null endpoint counts toward N and toward its neighbour's degree,
    // but never sends or receives rank (SQL join semantics)
    val withNulls = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (2L, 3L), (3L, null), (null, 4L), (4L, 1L), (5L, 1L)).toDF("src", "dst")
    Seq(1, 2, 3).foreach { k =>
      assert(rows(Graph.pageRank(withNulls, k)) == rows(pageRankFrames(withNulls, k)), s"iters $k")
    }
    // an int-typed key keeps its type
    val ints = Seq((1, 2), (2, 3)).toDF("src", "dst")
    assert(Graph.pageRank(ints, 1).schema("node").dataType ==
      org.apache.spark.sql.types.IntegerType)
  }

  test("pagerank rejects non-integral node keys instead of merging them") {
    import spark.implicits._
    // the rounds key on longs: a string key would cast to null (every node
    // one node) and a double key would truncate (1.2 and 1.7 one node)
    Seq(
      Seq(("a", "b"), ("b", "c")).toDF("src", "dst"),
      Seq((1.2, 1.7), (1.7, 3.0)).toDF("src", "dst"),
      Seq((1L, "b")).toDF("src", "dst")).foreach { g =>
      val e = intercept[IllegalArgumentException](Graph.pageRank(g, 1))
      assert(e.getMessage.contains("integral node key"), e.getMessage)
    }
  }

  test("pagerank lineage: one setup shuffle, then exactly one shuffle per round") {
    import spark.implicits._
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L)).toDF("src", "dst")
    def shuffles(rdd: RDD[_]): Set[Int] = rdd.dependencies.flatMap {
      case sd: ShuffleDependency[_, _, _] => shuffles(sd.rdd) + sd.shuffleId
      case dep => shuffles(dep.rdd)
    }.toSet
    Seq(1, 3, 5).foreach { iters =>
      val n = shuffles(Graph.pageRank(g, iters).queryExecution.toRdd).size
      // setup: the edge list's partitionBy (the degree count reduces
      // inside that partitioning); each round: the contribution reduceByKey
      assert(n == 1 + iters, s"iters $iters: $n shuffle dependencies")
    }
  }

  test("corpus_divergence: identical sources diverge by 0, disjoint ones approach ln 2") {
    import spark.implicits._
    // counts must dominate the +1 Laplace prior or smoothing pulls every
    // distribution toward uniform and JS collapses — hence the repetition
    def rep(w: String) = Array.fill(40)(w).mkString(" ")
    val same = Seq(
      (1L, rep("alpha") + " " + rep("beta"), "A"),
      (2L, rep("alpha") + " " + rep("beta"), "B"),
      (3L, rep("zeta") + " " + rep("eta"), "C"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.corpusDivergence(same)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getDouble(3))).toMap
    assert(out.keySet == Set(("A", "B"), ("A", "C"), ("B", "C")))
    assert(out(("A", "B")) == 0.0, "identical unigram distributions must give JS 0")
    // A and C share no vocabulary: JS must sit near its ln 2 ceiling (the
    // Laplace prior keeps it strictly below) and strictly above the A-B pair
    assert(out(("A", "C")) > 0.4 && out(("A", "C")) <= math.log(2.0) + 1e-9)
    assert(out(("B", "C")) == out(("A", "C")), "A==B so both must diverge from C equally")
  }

  test("corpus_divergence on real data: full pair set, union-vocab spine, JS in [0, ln 2]") {
    val docs = graft.Tables.documents(spark, d)
    val nSrc = docs.select("source").distinct().count().toInt
    val vocab = docs
      .select(explode(TextOps.normWords(col("text"))).as("w")).distinct().count()
    val out = graft.SparkEntry.queries("corpus_divergence")(spark, d).collect()
    assert(out.length == nSrc * (nSrc - 1) / 2, "one row per unordered source pair")
    out.foreach { r =>
      assert(r.getString(0) < r.getString(1), "pairs are emitted a < b once")
      assert(r.getLong(2) == vocab, "every pair sums over the union vocab spine")
      val js = r.getDouble(3)
      assert(js >= 0.0 && js <= math.log(2.0) + 1e-9, s"JS out of range: $r")
    }
  }
}
