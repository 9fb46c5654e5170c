package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.GraftListenerBusShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Bench, Node, SparkEntry, Tables}

/** The one measurement tool over the catalogue DAG
  * (`SparkEntry.catalogue`: every registered and bench-only entry, and the
  * shared artifacts such as shingle_table):
  *
  * {{{
  *   runMain graft.tools.Profile profile <dir>[,<dirB>] <name,...>
  *   runMain graft.tools.Profile plans <dir> <out.md> [name,...]
  *   runMain graft.tools.Profile generate <sfDir> <outDir> <K>
  * }}}
  *
  *  - `profile` prints, per entry, the jobs, stages, tasks, summed task
  *    time, wall and `par` = taskTime / (wall · cores) of its fastest run.
  *    An entry is measured as Bench bills it: its dependencies are built
  *    first, outside the counters and the clock.
  *    `par` ≈ 1 means the cores were busy the whole wall; `par` ≪ 1 means
  *    the wall is mostly driver work: planning and per-job scheduling.
  *    With two dirs each entry runs on both in this one JVM and the B/A
  *    wall ratio is printed, so the co-tenant load cancels out of it.
  *  - `plans` writes each entry's executed physical plan as one
  *    `## <name>` section. For before/after evidence, run it on both
  *    revisions and diff the files; PlanLintSpec is the automated gate
  *    over the same plans.
  *  - `generate` writes a perturbed K× replica of a data dir (see
  *    [[generate]]); Bench's sf1 tier reads `target/testdata/sf1`, made by
  *    `generate <sf0.1 dir> target/testdata/sf1 10`.
  *
  * Every name is resolved before the session is built: an unknown name
  * exits with status 2 and no Spark work. The session runs on
  * `SPARK_GRAFT_CPUS` cores (default 32) with that many shuffle partitions,
  * as Bench's does. */
object Profile {
  def catalogue: Map[String, Node[_]] = SparkEntry.catalogue.map(n => n.name -> n).toMap

  /** Looks every name up in [[catalogue]]; Left names each unknown one. */
  def resolve(names: Seq[String]): Either[String, Seq[Node[_]]] = {
    val cat = catalogue
    names.filterNot(cat.contains) match {
      case Seq() => Right(names.map(cat))
      case unknown => Left(unknown.map(n => s"$n: not a catalogue entry")
        .mkString("unknown entry names:\n  ", "\n  ", ""))
    }
  }

  /** The fastest timed run of one entry on one dir. */
  final case class Run(wallS: Double, jobs: Int, stages: Int, tasks: Int, taskS: Double, par: Double)

  /** One entry's runs, in dir order; with two dirs, `ratio` is B/A wall. */
  final case class Profiled(name: String, runs: Seq[Run]) {
    def ratio: Option[Double] = runs match {
      case Seq(a, b) => Some(b.wallS / a.wallS)
      case _ => None
    }
  }

  private final class Counter extends SparkListener {
    val jobs, stages, tasks = new AtomicInteger
    val taskNanos = new AtomicLong
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (t.taskMetrics != null) taskNanos.addAndGet(t.taskMetrics.executorRunTime * 1000000L)
    }
  }

  /** Warms the session and prints Bench's calibration line, then per entry
    * runs one untimed warm-up on the first dir and min-of-2 timed runs per
    * dir, clearing the cache after every run. A run builds the entry's
    * dependencies first, untimed and uncounted, then times [[Node.make]]
    * (kept, as the bench keeps it, iff another node consumes it).
    * Counters are read after the listener bus has drained. */
  def profile(spark: SparkSession, dirs: Seq[String], entries: Seq[Node[_]]): Seq[Profiled] = {
    val sc = spark.sparkContext
    val counter = new Counter
    val consumed = SparkEntry.catalogue.flatMap(_.deps).toSet[Node[_]]
    def drain(): Unit = GraftListenerBusShim.waitUntilEmpty(sc, 60000L)
    def timed(n: Node[_], dir: String): Run = {
      val in = Node.prepare(spark, dir, n.deps)
      drain()
      Seq(counter.jobs, counter.stages, counter.tasks).foreach(_.set(0))
      counter.taskNanos.set(0)
      val t0 = System.nanoTime()
      n.make(in, shared = consumed(n))
      val wall = (System.nanoTime() - t0) / 1e9
      drain()
      spark.catalog.clearCache()
      val taskS = counter.taskNanos.get / 1e9
      Run(wall, counter.jobs.get, counter.stages.get, counter.tasks.get, taskS,
        taskS / (wall * sc.defaultParallelism))
    }
    sc.addSparkListener(counter)
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      println(f"[profile] calibration ${Bench.calibrate(spark)}%.2fs (Bench's fixed 20M-row groupBy kernel)")
      entries.map { n =>
        val name = n.name
        timed(n, dirs.head)
        val p = Profiled(name, dirs.map(d => Seq(timed(n, d), timed(n, d)).minBy(_.wallS)))
        p.runs.zip(Seq("A", "B")).foreach { case (r, tag) =>
          println(f"[profile] $name%-28s ${if (dirs.size > 1) tag else ""}%1s jobs=${r.jobs}%4d " +
            f"stages=${r.stages}%4d tasks=${r.tasks}%6d taskTime=${r.taskS}%8.2fs " +
            f"wall=${r.wallS}%7.2fs par=${r.par}%5.2f")
        }
        p.ratio.foreach(x => println(f"[profile] $name%-28s B/A=$x%6.2fx"))
        p
      }
    } finally sc.removeSparkListener(counter)
  }

  /** Writes each entry's executed (AQE final) plan to `out`, one
    * `## <name>` section each, capped at 150 lines of 200 characters: a
    * plan over an iteratively built cached table (the CC labels) embeds
    * every iteration's lineage, thousands of lines with no audit value
    * below the top operators. */
  def plans(spark: SparkSession, dir: String, out: String, entries: Seq[Node[_]]): Unit = {
    val sb = new StringBuilder
    sb ++= s"# Physical plans (${Paths.get(dir).getFileName}, generated by graft.tools.Profile plans)\n\n"
    sb ++= "Audit evidence for the scaling claims in README.md: filters/pruning\n"
    sb ++= "reach the scans, dims broadcast, top-k avoids global sorts, dedup\n"
    sb ++= "and ANN shuffle only ids/keys/signatures.\n"
    entries.foreach { n =>
      val lines = n.entry.fold(Seq("(no output frame: the artifact is written by its step)")) { fn =>
        val df = fn(spark, dir)
        df.collect() // materialize AQE final plan
        df.queryExecution.executedPlan.toString.linesIterator
          .map(l => if (l.length > 200) l.take(197) + "..." else l).toSeq
      }
      sb ++= s"\n## ${n.name}\n\n```\n" + lines.take(150).mkString("\n")
      if (lines.length > 150) sb ++= s"\n... (${lines.length - 150} more lines truncated)"
      sb ++= "\n```\n"
      spark.catalog.clearCache()
    }
    Files.writeString(Paths.get(out), sb.toString)
  }

  /** Writes perturbed K× replicas of the data tables to `out`.
    * Replication is PERTURBED so the workload stays representative instead
    * of degenerate:
    *  - documents: every word of a copy is prefixed with the copy tag, so a
    *    copy shares NO shingles with its original — near-dup density stays
    *    the per-copy rate instead of every doc gaining K-1 twins (which
    *    would blow the pair graph up quadratically and measure a different
    *    problem);
    *  - embeddings: each copy gets a fresh deterministic pseudo-random
    *    vector (xxhash64-derived), preserving the near-uniform geometry the
    *    real table has;
    *  - lineitem/orders/customer: keys offset by copy × (max key + 1) so
    *    join fan-outs stay 1:1 and group counts scale linearly;
    *  - events: user_id offset per copy (window/session partitions scale in
    *    count, not in per-key depth), event_id offset to stay unique. */
  def generate(spark: SparkSession, sfDir: String, out: String, k: Int): Unit = {
    import spark.implicits._
    val copies = spark.range(k).select(col("id").cast("int").as("c"))

    def replicated(df: DataFrame): DataFrame = df.crossJoin(copies)

    // documents: per-copy word prefix → zero cross-copy shingle overlap
    replicated(Tables.documents(spark, sfDir))
      .select(
        (col("doc_id") * k + col("c")).as("doc_id"),
        when(col("c") === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(\\w+)"),
            concat(lit("c"), col("c"), lit("$1"))))
          .as("text"),
        col("lang"), col("source"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    // embeddings: fresh deterministic vector per copy (near-uniform, like
    // the source table); copy 0 keeps the original vectors
    replicated(Tables.embeddings(spark, sfDir))
      .select(
        (col("vec_id") * k + col("c")).as("vec_id"),
        when(col("c") === 0, col("embedding")).otherwise(
          expr("transform(sequence(0, size(embedding)-1), " +
            "i -> cast((pmod(xxhash64(vec_id, c, i), 2000) - 1000) / 1000.0 as float))"))
          .as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    val loff = Tables.lineitem(spark, sfDir).agg(max("l_orderkey")).as[Long].head() + 1
    replicated(Tables.lineitem(spark, sfDir))
      .withColumn("l_orderkey", col("l_orderkey") + col("c") * loff)
      .drop("c")
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    val coff = Tables.customer(spark, sfDir).agg(max("c_custkey")).as[Long].head() + 1
    replicated(Tables.orders(spark, sfDir))
      .withColumn("o_orderkey", col("o_orderkey") + col("c") * loff)
      .withColumn("o_custkey", col("o_custkey") + col("c") * coff)
      .drop("c")
      .write.mode("overwrite").parquet(s"$out/orders.parquet")

    replicated(Tables.customer(spark, sfDir))
      .withColumn("c_custkey", col("c_custkey") + col("c") * coff)
      .drop("c")
      .write.mode("overwrite").parquet(s"$out/customer.parquet")

    // events: raw read (ts stays a nanos long on disk — rewrite verbatim)
    val eventsRaw = spark.read.parquet(s"$sfDir/events.parquet")
    val eoff = eventsRaw.agg(max("event_id")).as[Long].head() + 1
    val uoff = eventsRaw.agg(max("user_id")).as[Long].head() + 1
    replicated(eventsRaw)
      .withColumn("event_id", col("event_id") + col("c") * eoff)
      .withColumn("user_id", col("user_id") + col("c") * uoff)
      .drop("c")
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    // small dims referenced by the join families: copy verbatim
    for (t <- Seq("nation", "region", "supplier", "part"))
      spark.read.parquet(s"$sfDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
  }

  private val Usage =
    """usage: graft.tools.Profile profile <dir>[,<dirB>] <name,...>
      |       graft.tools.Profile plans <dir> <out.md> [name,...]
      |       graft.tools.Profile generate <sfDir> <outDir> <K>""".stripMargin

  def main(args: Array[String]): Unit = {
    val code = run(args)
    if (code != 0) sys.exit(code)
  }

  /** Runs one subcommand and returns the exit status: 2 for a usage error
    * or an unknown entry name, both found before any session exists. */
  def run(args: Array[String]): Int = {
    def names(csv: String) = csv.split(',').toSeq.filter(_.nonEmpty)
    def withEntries(ns: Seq[String])(body: (SparkSession, Seq[Node[_]]) => Unit): Int =
      resolve(ns) match {
        case Left(err) => System.err.println(s"[profile] $err"); 2
        case Right(entries) => withSession(body(_, entries)); 0
      }
    args.toSeq match {
      case Seq("profile", dirs, ns) if (1 to 2).contains(names(dirs).size) =>
        withEntries(names(ns))((s, es) => profile(s, names(dirs), es))
      case Seq("plans", dir, out, rest @ _*) if rest.size <= 1 =>
        withEntries(rest.headOption.fold(SparkEntry.catalogue.map(_.name))(names))((s, es) => plans(s, dir, out, es))
      case Seq("generate", sfDir, outDir, k) if k.toIntOption.exists(_ > 0) =>
        withSession(generate(_, sfDir, outDir, k.toInt))
        println(s"""{"metric":"scale_generate","k":$k,"base":"$sfDir","out":"$outDir"}""")
        0
      case _ => System.err.println(Usage); 2
    }
  }

  private def withSession(body: SparkSession => Unit): Unit = {
    val spark = Tables.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    try body(spark) finally spark.stop()
  }
}
