package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftListenerBusShim
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamFixture.spark

/** Edge cases of [[Relational.groupedEquidepthBounds]], each checked
  * against Spark's exact per-group `percentile` on small data, plus the
  * shape of its three driver round trips. */
class QuantileSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private val pcts = Seq(1 -> 0.0, 2 -> 0.25, 3 -> 0.5, 4 -> 0.9, 5 -> 1.0)

  /** (grp → quantile values in `pcts` order) from Spark's `percentile`. */
  private def direct(df: DataFrame): Map[Any, Seq[Double]] =
    df.groupBy(col("grp"))
      .agg(percentile(col("x"), lit(pcts.map(_._2).toArray)).as("ps"))
      .collect().map(r => r.get(0) -> r.getSeq[Double](1)).toMap

  private def refined(df: DataFrame, coarse: Int): Map[Any, Seq[Double]] =
    Relational.groupedEquidepthBounds(df, pcts, coarse).collect()
      // boxed NaN keys are unequal under ==, so they group by their name
      .groupBy(r => r.get(0) match { case k: java.lang.Double if k.isNaN => "NaN"; case k => k })
      .map { case (g, rs) => g -> rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq }

  /** Keys as strings and values as bit patterns, so a NaN key or value
    * matches NaN and −0.0 does not match 0.0. */
  private def exact(m: Map[Any, Seq[Double]]): Map[String, Seq[Long]] =
    m.map { case (g, qs) => String.valueOf(g) -> qs.map(java.lang.Double.doubleToLongBits) }

  private def assertMatches(df: DataFrame, what: String): Unit = {
    val want = exact(direct(df))
    Seq(2, 4, 8192).foreach { coarse =>
      val got = exact(refined(df, coarse))
      assert(got == want, s"$what coarse=$coarse: $got != $want")
    }
  }

  test("empty input yields no rows") {
    val s = spark; import s.implicits._
    val empty = Seq.empty[(Int, Double)].toDF("grp", "x")
    assert(direct(empty).isEmpty)
    val out = Relational.groupedEquidepthBounds(empty, pcts)
    assert(out.collect().isEmpty)
    assert(out.columns.toSeq == Seq("grp", "i", "bound"))
    assert(Relational.equidepthBoundsArray(empty.select("x")).collect()(0).getSeq[Double](0).isEmpty)
  }

  test("a single-row group and an all-equal group (hi == lo) match percentile") {
    val s = spark; import s.implicits._
    val df = (Seq((1, 7.5)) ++ Seq.fill(6)((2, 3.25)) ++ (1 to 9).map(i => (3, i * 1.5)))
      .toDF("grp", "x")
    assertMatches(df, "single/all-equal")
    val got = refined(df, 4)
    assert(got(1) == Seq.fill(pcts.size)(7.5))
    assert(got(2) == Seq.fill(pcts.size)(3.25))
  }

  test("pct 0.0 and 1.0 are the group minimum and maximum") {
    val s = spark; import s.implicits._
    val df = (1 to 40).map(i => (i % 3, math.cos(i.toDouble) * 100)).toDF("grp", "x")
    assertMatches(df, "extremes")
    val mm = df.groupBy("grp").agg(min("x"), max("x")).collect()
      .map(r => r.get(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    refined(df, 4).foreach { case (g, qs) =>
      assert(qs.head == mm(g)._1 && qs.last == mm(g)._2, s"group $g: $qs vs ${mm(g)}")
    }
  }

  test("string-keyed groups (the q28 shape), with a null key and null values, match percentile") {
    val s = spark; import s.implicits._
    val rows: Seq[(String, java.lang.Double)] =
      (1 to 60).map(i => (Seq("view", "click", "purchase")(i % 3), Double.box(i * 0.37 % 5))) ++
        Seq((null, Double.box(4.0)), (null, Double.box(1.0)), ("view", null))
    val df = rows.toDF("grp", "x")
    assertMatches(df, "string keys")
    assert(refined(df, 8).keySet == Set("view", "click", "purchase", null))
  }

  test("a lo/hi rank pair straddling two coarse cells interpolates across them") {
    val s = spark; import s.implicits._
    // x = 1..4 over coarse = 2: cell 0 = {1, 2}, cell 1 = {3, 4}. The
    // median's r = 0.5·3 = 1.5 needs rank 1 (x = 2, the last of cell 0)
    // and rank 2 (x = 3, the first of cell 1).
    val df = Seq(1.0, 2.0, 3.0, 4.0).map(x => (0, x)).toDF("grp", "x")
    val Array(r) = Relational.groupedEquidepthBounds(df, Seq(1 -> 0.5), coarse = 2).collect()
    assert(r.getDouble(2) == 2.5)
    assertMatches(df, "straddle")
  }

  test("three driver round trips, none of them a nested-loop or Cartesian join") {
    val s = spark; import s.implicits._
    val df = (1 to 500).map(i => (i % 7, (i * 31 % 101).toDouble)).toDF("grp", "x")
    val actions = new AtomicInteger
    val badJoins = new AtomicInteger
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        actions.incrementAndGet()
        if (collectWithSubqueries(qe.executedPlan) {
            case j: BroadcastNestedLoopJoinExec => j
            case j: CartesianProductExec => j
          }.nonEmpty) badJoins.incrementAndGet()
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    GraftListenerBusShim.waitUntilEmpty(spark.sparkContext, 30000L)
    spark.listenerManager.register(listener)
    try {
      Relational.groupedEquidepthBounds(df, pcts)
      GraftListenerBusShim.waitUntilEmpty(spark.sparkContext, 30000L)
    } finally spark.listenerManager.unregister(listener)
    assert(actions.get == 3, s"expected 3 round trips, saw ${actions.get}")
    assert(badJoins.get == 0)
  }

  test("over a materialized input the refinement runs exactly three Spark jobs") {
    val s = spark; import s.implicits._
    val df = (1 to 500).map(i => (i % 7, (i * 31 % 101).toDouble)).toDF("grp", "x")
      .localCheckpoint()
    assert(graft.SparkJobs.during(spark.sparkContext)(Relational.groupedEquidepthBounds(df, pcts))._1 == 3)
  }

  test("NaN sorts last, -0.0 keeps its sign, and floating and null keys group as SQL does") {
    val s = spark; import s.implicits._
    val (nan, inf) = (Double.NaN, Double.PositiveInfinity)
    val rows: Seq[(java.lang.Double, java.lang.Double)] = Seq(
      // keys -0.0 and 0.0 are one group; its median is -0.0 itself
      (-0.0, -2.0), (0.0, -0.0), (-0.0, 3.0),
      // ±∞ sit at the ends of the finite range, NaN after +∞
      (1.0, 1.0), (1.0, nan), (1.0, 2.0), (1.0, nan), (1.0, inf), (1.0, -inf),
      // only NaN values; a NaN key; the null key, with a null value skipped
      (2.0, nan), (2.0, nan), (nan, 5.0), (nan, 4.0),
      (null, 7.0), (null, null), (null, -1.0))
    val df = rows.toDF("grp", "x")
    assertMatches(df, "NaN / -0.0 / null keys")
    val got = exact(refined(df, 4))
    assert(got.keySet == Set("0.0", "1.0", "2.0", "NaN", "null"), got.keySet)
    assert(got("0.0")(2) == java.lang.Double.doubleToLongBits(-0.0), "the median is -0.0")
    assert(got("2.0").forall(_ == java.lang.Double.doubleToLongBits(nan)))
  }

  test("a quantile between two equal values is that value, not an interpolation of it") {
    val s = spark; import s.implicits._
    // r = 0.3·(n−1) = 0.3: ranks 0 and 1 both hold 0.1, and
    // 0.7·0.1 + 0.3·0.1 is not 0.1 in double arithmetic
    val df = Seq(0.1, 0.1, 5.0, 6.0).map(x => (0, x)).toDF("grp", "x")
    val Array(r) = Relational.groupedEquidepthBounds(df, Seq(1 -> 0.1), coarse = 2).collect()
    assert(r.getDouble(2) == 0.1)
    assertMatches(df, "equal neighbours")
  }
}
