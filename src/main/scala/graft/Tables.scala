package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * Plain `spark.read.parquet` — Catalyst pushes filters and prunes columns
  * down to the scan, so callers just compose DataFrame ops and the physical
  * plan reads only what it needs (verify with `.explain("formatted")`:
  * `PushedFilters` / `ReadSchema`).
  */
object Tables {
  /** The `local[cpus]` session the driver mains (Bench, Verify, Profile)
    * run on: `cpus` shuffle partitions, UTC session time, nanos-as-long
    * parquet (see [[eventsWithTs]]), no UI, WARN logging. */
  def localSession(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** events.parquet has shipped `ts` both as parquet TIMESTAMP(NANOS)
    * (rounds ≤ 7) and as plain TIMESTAMP(MICROS) (driver regeneration,
    * round 8) — this loader adapts on the READ SCHEMA so either vintage
    * of the table works:
    *
    *  - nanos: Spark 4 rejects TIMESTAMP(NANOS) at analysis time, so the
    *    session must set `spark.sql.legacy.parquet.nanosAsLong=true`
    *    (Bench/Verify/Profile and the test fixture all do), the column
    *    arrives as a raw long, and we truncate to microseconds with
    *    INTEGER division (`div` — a double division would lose precision
    *    above 2^53 ns and drift vs the oracle).
    *  - micros: the column arrives as a timestamp (NTZ under the default
    *    inference) and is cast to the session-UTC TimestampType — the
    *    same wall-clock instants the nanos path produced.
    *
    * The DuckDB oracle side is width-agnostic already: every events oracle
    * goes through `epoch_ns(ts)//1000`, which yields identical micros for
    * TIMESTAMP_NS and TIMESTAMP inputs. Any query emitting `ts`-derived
    * values must keep truncating at or above microsecond granularity on
    * both sides. */
  private def eventsWithTs(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    val raw = table(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _        => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = eventsWithTs(s, d)
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
