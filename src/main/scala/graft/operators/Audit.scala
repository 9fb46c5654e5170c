package graft.operators

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-quality constraint audit — the validation layer an ingest
  * pipeline runs over a warehouse before anything downstream trusts it
  * (the Deequ/expectations pattern): completeness (null counts), key
  * uniqueness, referential integrity, and domain-range checks, emitted as
  * one narrow (tbl, metric, value) frame a monitoring system can diff
  * across loads.
  *
  * This is the relational face of the reference's per-record validation
  * job (SURVEY §2.2: routing records that fail a validator) — batch
  * constraint metrics over whole tables instead of per-record verdicts
  * over a stream.
  *
  * Scale shape: every per-table metric family is ONE scan with
  * conditional aggregates (count(when(...))) — map-side combined, no
  * shuffle beyond the 1-row agg; the two referential-integrity checks
  * count anti-join survivors against dimension-sized key sets (customer,
  * orders-keys) which broadcast. All values are exact BIGINT counts, so
  * the frame is engine-portable with no float policy.
  */
object Audit {

  /** Constraint metrics over the TPC-H-ish warehouse at `d`. */
  def qDqAudit(s: SparkSession, d: String): DataFrame =
    dqAudit(customer(s, d), orders(s, d), lineitem(s, d))

  /** See [[qDqAudit]]; takes the three frames so tests can plant
    * violations and assert the exact metric deltas. */
  def dqAudit(cust: DataFrame, ord: DataFrame, li: DataFrame): DataFrame = {
    def metrics(tbl: String, df: DataFrame, cols: (String, org.apache.spark.sql.Column)*) =
      df.agg(cols.head._2.as(cols.head._1), cols.tail.map { case (n, c) => c.as(n) }: _*)
        .select(lit(tbl).as("tbl"),
          expr(s"stack(${cols.size}, ${cols.map(c => s"'${c._1}', ${c._1}").mkString(", ")})")
            .as(Seq("metric", "value")))

    val custM = metrics("customer", cust,
      "row_count"    -> count(lit(1)),
      "dup_custkey"  -> (count(lit(1)) - countDistinct(col("c_custkey"))),
      "null_name"    -> count(when(col("c_name").isNull, 1)))

    val ordM = metrics("orders", ord,
      "row_count"        -> count(lit(1)),
      "null_custkey"     -> count(when(col("o_custkey").isNull, 1)),
      "dup_orderkey"     -> (count(lit(1)) - countDistinct(col("o_orderkey"))),
      "negative_total"   -> count(when(col("o_totalprice") < 0, 1)),
      "null_orderdate"   -> count(when(col("o_orderdate").isNull, 1)))

    val liM = metrics("lineitem", li,
      "row_count"        -> count(lit(1)),
      "qty_out_of_range" -> count(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1)),
      "negative_price"   -> count(when(col("l_extendedprice") < 0, 1)),
      "discount_out_of_range" -> count(when(col("l_discount") < 0 || col("l_discount") > 1, 1)))

    // referential integrity: fact keys with no dimension partner. The key
    // sets are dimension-sized -> broadcast anti joins; the fact side
    // never shuffles for the membership test.
    // NULL-key policy: a NULL FK has no dimension partner, so the
    // anti-join counts it as an orphan IN ADDITION to null_custkey —
    // deliberate, the two metrics answer different questions (missing
    // value vs broken reference). The oracle uses NOT EXISTS, which
    // shares this semantics; NOT IN would silently zero the count when
    // any NULL appears on either side.
    val orphanOrders = ord.join(broadcast(cust.select(col("c_custkey"))),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("v"))
      .select(lit("orders").as("tbl"), lit("orphan_custkey").as("metric"), col("v").as("value"))
    val orphanLines = li.join(broadcast(ord.select(col("o_orderkey").as("ok"))),
        col("l_orderkey") === col("ok"), "left_anti")
      .agg(count(lit(1)).as("v"))
      .select(lit("lineitem").as("tbl"), lit("orphan_orderkey").as("metric"), col("v").as("value"))

    custM.unionByName(ordM).unionByName(liM)
      .unionByName(orphanOrders).unionByName(orphanLines)
  }

  /** Key-skew diagnosis — the report a pipeline operator reads BEFORE
    * choosing a partitioning for a join/agg on this key (the decision the
    * salting operators — the surprisal joins, the salted BPE apply — then act
    * on). Per-key row counts are bucketed into power-of-two size classes:
    * class c holds keys with 2^(c-1) < rows ≤ 2^c (class 0 = singletons),
    * and each class reports its key count, row mass, share of the table,
    * and hottest key. A healthy key has all mass in low classes; a
    * high-class row with a large share IS the skewed-join warning.
    *
    * Class assignment is a chain of INTEGER comparisons (no float log2 —
    * exact powers of two would round differently per engine), so both
    * engines bucket identically; 41 classes cover 2^40 rows per key.
    *
    * Scale shape: one scan → key-grain agg (map-side combined) → class
    * agg over the key table (≤ distinct-keys rows, never the fact table)
    * → broadcast 1-row total. No windows, no sort; bounded output. */
  val SkewMaxClass = 40

  def qSkewReport(s: SparkSession, d: String): DataFrame =
    skewReport(events(s, d).select(col("user_id").as("k")))

  /** Smallest c with n ≤ 2^c — the integer-only size-class expression
    * shared by [[skewReport]] and the streaming monitor. */
  def sizeClass(n: Column): Column = (0 to SkewMaxClass)
    .map(c => (c, when(n <= lit(1L << c), lit(c))))
    .foldRight(lit(SkewMaxClass + 1): Column) { case ((_, w), acc) => w.otherwise(acc) }

  def skewReport(keyed: DataFrame): DataFrame = {
    val perKey = keyed.groupBy(col("k")).agg(count(lit(1)).as("n"))
    val byClass = perKey
      .groupBy(sizeClass(col("n")).as("size_class"))
      .agg(count(lit(1)).as("n_keys"), sum(col("n")).as("rows_in_class"),
        max(col("n")).as("max_key_rows"))
    val tot = perKey.agg(sum(col("n")).as("total_rows"))
    byClass.crossJoin(broadcast(tot))
      .select(col("size_class"),
        expr("shiftleft(CAST(1 AS BIGINT), size_class)").as("class_cap"),
        col("n_keys"), col("rows_in_class"), col("max_key_rows"),
        round(col("rows_in_class").cast("double") / col("total_rows").cast("double"), 6)
          .as("share"))
  }

  /** Streaming face of [[skewReport]]: hourly per-key counts over a
    * timestamped feed (watermarked streaming agg — state holds only open
    * (window, key) rows, append mode emits each window once on close),
    * with the class rollup applied BATCH-SIDE over the emitted counts
    * ([[skewClassesPerWindow]]) — the trendingTopK split: keep the
    * always-on state minimal, derive the report from the materialized
    * counts. StreamingWindowSpec pins stream == batch counts and an
    * identical class report per closed window. */
  def keyCountsStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("win"), col("k"))
      .agg(count(lit(1)).as("n"))
      .select(col("win.start").as("win_start"), col("k"), col("n"))

  /** Per-window skew classes over [[keyCountsStream]] output (also runs
    * on the batch twin — same frame shape). */
  def skewClassesPerWindow(counts: DataFrame): DataFrame =
    counts
      .groupBy(col("win_start"), sizeClass(col("n")).as("size_class"))
      .agg(count(lit(1)).as("n_keys"), sum(col("n")).as("rows_in_class"),
        max(col("n")).as("max_key_rows"))
}
