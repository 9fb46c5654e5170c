package graft.tools

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Profile's three subcommands, called by name on the sf0.001 fixture. */
class ProfileSpec extends AnyFunSuite {
  private lazy val spark = graft.streaming.StreamFixture.spark
  private val d = "/root/testdata/sf0.001"

  private def entries(names: String*) = Profile.resolve(names).fold(e => fail(e), identity)

  test("profile reports jobs, tasks and wall for one dir") {
    val Seq(p) = Profile.profile(spark, Seq(d), entries("q07_agg_tpch_q1"))
    val Seq(r) = p.runs
    assert(p.name == "q07_agg_tpch_q1")
    assert(r.jobs >= 1 && r.stages >= 1 && r.tasks >= 1, r)
    assert(r.wallS > 0 && r.taskS > 0 && r.par > 0, r)
    assert(p.ratio.isEmpty)
  }

  test("profile over two dirs reports the B/A ratio") {
    val Seq(p) = Profile.profile(spark, Seq(d, d), entries("q07_agg_tpch_q1"))
    assert(p.runs.size == 2 && p.runs.forall(_.jobs >= 1), p)
    assert(p.ratio.exists(x => x > 0 && !x.isInfinite), p)
  }

  test("pagerank and funnel_latency stay within their Spark-job budgets") {
    // per-job scheduling dominates these entries at small per-job work:
    // co-partitioned PageRank rounds, the quantile refinement's one job
    // per round trip and table reads that infer no schema hold them at 4
    // and 6 jobs (construction + action)
    val budget = Map("pagerank" -> 4, "funnel_latency" -> 6)
    Profile.profile(spark, Seq(d), entries(budget.keys.toSeq: _*)).foreach { p =>
      val Seq(r) = p.runs
      assert(r.jobs <= budget(p.name), s"${p.name} ran ${r.jobs} Spark jobs, budget ${budget(p.name)}")
    }
  }

  test("unknown names are rejected, each named, before any Spark job runs") {
    val (jobs, code) = graft.SparkJobs.during(spark.sparkContext)(
      Profile.run(Array("profile", d, "q07_agg_tpch_q1,no_such_entry,curation_state_build")))
    assert(code == 2)
    assert(jobs == 0, "a Spark job ran before the names were resolved")

    val Left(err) = Profile.resolve(Seq("q07_agg_tpch_q1", "no_such_entry", "curation_state_build"))
    assert(err.contains("no_such_entry: not a catalogue entry"), err)
    assert(!err.contains("q07_agg_tpch_q1") && !err.contains("curation_state_build"), err)
    assert(Profile.run(Array("generate", d, "out", "zero")) == 2)
  }

  test("the shared artifacts resolve, and shingle_table profiles as the bench bills it") {
    val artifacts = Seq("shingle_table", "token_table", "cms_sketch_build", "curation_state_build")
    assert(Profile.resolve(artifacts).map(_.map(_.name)) == Right(artifacts))
    val Seq(p) = Profile.profile(spark, Seq(d), entries("shingle_table"))
    val Seq(r) = p.runs
    assert(p.name == "shingle_table")
    assert(r.jobs >= 1 && r.tasks >= 1 && r.wallS > 0, r)
  }

  test("generate with K = 2 doubles documents and lineitem and keeps doc_id unique") {
    val out = Files.createTempDirectory("graft-generate").toString
    Profile.generate(spark, d, out, 2)
    def rows(dir: String, t: String) = spark.read.parquet(s"$dir/$t.parquet").count()
    for (t <- Seq("documents", "lineitem")) assert(rows(out, t) == 2 * rows(d, t), t)
    val docs = spark.read.parquet(s"$out/documents.parquet")
    assert(docs.select("doc_id").distinct().count() == docs.count())
    assert(rows(out, "nation") == rows(d, "nation"))
  }

  test("plans writes one section per requested entry") {
    val out = Files.createTempFile("graft-plans", ".md")
    Profile.plans(spark, d, out.toString, entries("q01_scan_count", "q07_agg_tpch_q1"))
    val text = Files.readString(out)
    assert(text.linesIterator.filter(_.startsWith("## ")).toSeq ==
      Seq("## q01_scan_count", "## q07_agg_tpch_q1"))
    assert(text.contains("AdaptiveSparkPlan isFinalPlan=true"), text.take(500))
  }
}
