package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** One node of the catalogue DAG ([[SparkEntry.catalogue]]): a named
  * artifact that `step` builds from the artifacts of `deps`.
  *
  * Every consumer of the DAG derives from the same declaration:
  *  - the registered entry ([[entry]], what `SparkEntry.queries` holds)
  *    builds every dependency fresh ([[Node.prepare]]) and returns its own
  *    step's frame;
  *  - `graft.Bench` walks the catalogue once per pass, billing each node
  *    once ([[make]]) and handing the kept artifact to its consumers;
  *  - `graft.tools.Profile` and a Bench re-probe pre-build the
  *    dependencies untimed, then time [[make]] — the pass's billing.
  *
  * An artifact is usually a DataFrame: it is persisted while consumers
  * need it and billed by materializing it. A typed artifact (a
  * `CurationState`, the gram-serve table and path) does its work inside
  * `step`; its `output` is the frame an entry reports, if it has one. */
final class Node[A] private (
    val name: String,
    val deps: Seq[Node[_]],
    step: Node.In => A,
    output: Option[(SparkSession, A) => DataFrame],
    keep: A => A,
    release: A => Unit) {

  /** Builds the artifact and materializes its output frame: the work the
    * bench bills to this node. `shared` keeps it for consumers. */
  def make(in: Node.In, shared: Boolean): A = {
    val a = if (shared) keep(step(in)) else step(in)
    output.foreach(_(in.spark, a).queryExecution.toRdd.count())
    a
  }

  /** Releases a kept artifact after its last consumer. */
  def free(a: A): Unit = release(a)

  /** The artifact with every dependency built fresh, then this step. */
  def standalone(spark: SparkSession, dir: String): A =
    step(Node.prepare(spark, dir, deps))

  /** The registered form: the standalone artifact's output frame. */
  def entry: Option[(SparkSession, String) => DataFrame] =
    output.map(f => (spark: SparkSession, dir: String) => f(spark, standalone(spark, dir)))

  /** The same node reporting `f` of its artifact as its output frame. */
  def reporting(f: (SparkSession, A) => DataFrame): Node[A] =
    new Node(name, deps, step, Some(f), keep, release)
}

object Node {

  /** What a step reads: the session, the data dir, and the artifacts of
    * exactly its declared dependencies. */
  final class In private[graft] (val spark: SparkSession, val dir: String,
      built: collection.Map[Node[_], Any]) {
    def apply[B](n: Node[B]): B = built.get(n) match {
      case Some(a) => a.asInstanceOf[B]
      case None => throw new IllegalStateException(s"'${n.name}' is not a declared dependency")
    }
  }

  private[graft] def in(spark: SparkSession, dir: String, deps: Seq[Node[_]],
      built: collection.Map[Node[_], Any]): In =
    new In(spark, dir, built.filter { case (n, _) => deps.contains(n) })

  /** A DataFrame artifact: persisted while consumers need it (unless the
    * step already cached it), unpersisted after the last one. */
  def frame(name: String, deps: Node[_]*)(step: In => DataFrame): Node[DataFrame] =
    new Node[DataFrame](name, deps, step, Some((_, df) => df),
      df => if (df.storageLevel == StorageLevel.NONE) df.persist() else df,
      _.unpersist())

  /** A typed artifact whose step does its own eager work; it reports no
    * frame unless given one with [[Node.reporting]]. */
  def typed[A](name: String, deps: Node[_]*)(step: In => A): Node[A] =
    new Node[A](name, deps, step, None, identity, _ => ())

  /** Builds `deps` and everything they need, each once and kept, in
    * dependency order; returns the view a step over `deps` reads. */
  def prepare(spark: SparkSession, dir: String, deps: Seq[Node[_]]): In = {
    val built = mutable.LinkedHashMap.empty[Node[_], Any]
    def go[B](n: Node[B]): Unit = if (!built.contains(n)) {
      n.deps.foreach(go(_))
      built(n) = n.make(in(spark, dir, n.deps, built), shared = true)
    }
    deps.foreach(go(_))
    in(spark, dir, deps, built)
  }
}
