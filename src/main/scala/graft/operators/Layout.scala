package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout operators: multi-dimensional clustering (Z-order) for scan
  * pruning — the 100 TB technique behind "don't read files the predicate
  * excludes". Parquet stores per-file/per-row-group min-max stats; a file
  * index (or the reader's footer check) skips a file when the predicate's
  * range is disjoint from the file's. A single-column sort makes files
  * prunable on THAT column only; interleaving the bits of two (or more)
  * bucketized columns gives every file a small hyper-rectangle in ALL of
  * them, so range predicates on any clustered dimension prune.
  *
  * Everything here is plain Catalyst arithmetic (shift/and/or chains —
  * whole-stage codegen'd, no UDFs), one tiny min/max agg for the bucket
  * scale, a range repartition on the z-value, and an in-partition sort:
  * exactly the shuffle a cluster-scale rewrite job would do, no driver
  * data path. Measured pruning on lineitem (LayoutSpec): a 10%-range
  * single-dimension predicate prunes ~0% of files under the
  * other-column sort but the MAJORITY of files under Z-order, on both
  * dimensions at once. */
object Layout {

  /** Spread the low 16 bits of `c` to the even bit positions of a 32-bit
    * lane (the classic Morton magic-mask cascade), as codegen'd long
    * arithmetic. */
  private def spread16(c: Column): Column = {
    val m = Seq(
      (8, 0x00FF00FFL),
      (4, 0x0F0F0F0FL),
      (2, 0x33333333L),
      (1, 0x55555555L))
    m.foldLeft(c.cast("long")) { case (x, (s, mask)) =>
      x.bitwiseOR(shiftleft(x, s)).bitwiseAND(lit(mask))
    }
  }

  /** 2-D Morton (Z-order) code of two 16-bit bucket ids. */
  def interleave16(a: Column, b: Column): Column =
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1))

  /** Min-max bucketize `c` into [0, 2^16) given its global bounds. */
  def bucket16(c: Column, lo: Double, hi: Double): Column = {
    val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
    least(greatest(
      floor((c.cast("double") - lit(lo)) / lit(span) * lit(65536.0)).cast("long"),
      lit(0L)), lit(65535L))
  }

  /** Integer-exact min-max bucketization: ((x − lo)·2^16) div (hi − lo + 1)
    * for integer `c` with integer column bounds — pure BIGINT arithmetic
    * (no doubles, so the result is engine-portable to the digit), onto
    * [0, 2^16) because x − lo ≤ hi − lo < hi − lo + 1. */
  def bucketInt16(c: Column, lo: Column, hi: Column): Column =
    call_function("div",
      (c.cast("long") - lo) * lit(65536L), hi - lo + lit(1L)).cast("long")

  /** Z-order clustering key over orders (zorder_key): the registered,
    * oracle-exact face of [[writeZOrdered]] — Morton-interleaves integer
    * min-max buckets of the customer key and the order date's epoch-day,
    * the two columns an orders fact is actually range-filtered on. A
    * rewrite job range-partitions on `zkey` (see [[writeZOrdered]]) and
    * every file then covers a compact rectangle of (customer, date) space,
    * so min-max footer stats prune scans on EITHER dimension; LayoutSpec
    * measures the pruning.
    *
    * Scale shape: the global min/max is a 1-row agg CROSS-JOINED back
    * broadcast-style — no driver collect in the plan — and the key itself
    * is a codegen'd shift/and/or chain ([[spread16]]); the whole query is
    * scan → 1-row agg broadcast → map. Exactness: [[bucketInt16]] is pure
    * integer math, `div`/`//` agree on non-negative operands. */
  def qZorderKey(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val o = graft.Tables.orders(s, d)
      .withColumn("d_day",
        datediff(to_date(col("o_orderdate")), to_date(lit("1992-01-01"))).cast("long"))
    val bounds = o.agg(
      min(col("o_custkey")).as("xlo"), max(col("o_custkey")).as("xhi"),
      min(col("d_day")).as("ylo"), max(col("d_day")).as("yhi"))
    val bx = bucketInt16(col("o_custkey"), col("xlo"), col("xhi"))
    val by = bucketInt16(col("d_day"), col("ylo"), col("yhi"))
    o.crossJoin(broadcast(bounds))
      .select(col("o_orderkey"), bx.as("bucket_x"), by.as("bucket_y"),
        interleave16(bx, by).as("zkey"))
  }

  /** Z-order `df` on two numeric columns and write `nFiles` parquet files,
    * each covering a compact rectangle of (colA, colB) space. The global
    * min/max agg is the only driver-visible data (4 doubles); the rewrite
    * itself is one range shuffle + local sort — the same job shape at any
    * scale. */
  def writeZOrdered(df: DataFrame, colA: String, colB: String,
      path: String, nFiles: Int): Unit = {
    val Array(row) = df.agg(
      min(col(colA)).cast("double"), max(col(colA)).cast("double"),
      min(col(colB)).cast("double"), max(col(colB)).cast("double")).collect()
    if (row.isNullAt(0)) {
      // Empty input (a filtered-out incremental batch is a plausible ops
      // ordering): there is nothing to order, but the caller still gets a
      // schema-preserving empty layout rather than an NPE on null bounds.
      df.write.mode("overwrite").parquet(path)
    } else {
      val z = interleave16(
        bucket16(col(colA), row.getDouble(0), row.getDouble(1)),
        bucket16(col(colB), row.getDouble(2), row.getDouble(3)))
      df.withColumn("_z", z)
        .repartitionByRange(nFiles, col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite").parquet(path)
    }
  }

  /** Comparison layout: single-column sort into `nFiles` files. */
  def writeSorted(df: DataFrame, sortCol: String, path: String, nFiles: Int): Unit =
    df.repartitionByRange(nFiles, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode("overwrite").parquet(path)

  /** Materialize a training set in its [[Sampling.globalShuffle]] order:
    * range-partition on shuffle_pos into `nFiles` files and sort within
    * each, so file k holds positions [k·N/nFiles, (k+1)·N/nFiles) in
    * order — the layout a sequential training reader wants (stream file
    * 0, 1, 2, … and the examples arrive exactly in the reproducible
    * shuffle order; resume = seek to a file + offset). One broadcast join
    * to attach positions, one range shuffle, zero driver data. */
  def writeShuffled(df: DataFrame, idCol: String, path: String, nFiles: Int): Unit =
    df.join(Sampling.globalShuffle(df, idCol), idCol)
      .repartitionByRange(nFiles, col("shuffle_pos"))
      .sortWithinPartitions("shuffle_pos")
      .write.mode("overwrite").parquet(path)

  /** Equi-depth-bucketed rewrite: hive-partition `df` into `nBuckets`
    * directories cut at the EXACT interpolated quantile boundaries of
    * `valueCol` ([[Relational.equidepthBounds]], the bounded quantile
    * refinement) — the layout that turns the optimizer-statistics
    * operator into what optimizer statistics are FOR. Unlike fixed-width
    * cuts, every bucket holds the same row count, so no directory is a
    * hot file under value skew, and a value-range predicate prunes
    * proportionally to its selectivity. The boundary table itself is
    * written alongside as `_bounds` (underscore-prefixed, so data reads
    * ignore it) for [[readValueRange]] to rewrite predicates with.
    *
    * Scale shape: boundary discovery is the bounded refinement (run once;
    * its nBuckets−1 doubles serve both the rewrite and `_bounds`); the
    * rewrite compares against those literals and does one partitioned
    * write — the same job shape as [[writeZOrdered]], no driver data path. */
  def writeEquidepthBucketed(df: DataFrame, valueCol: String, path: String,
      nBuckets: Int = 10): Unit = {
    val bucketCol = s"${valueCol}_bucket"
    val bounds = Relational.equidepthBounds(
      df.select(col(valueCol).cast("double").as("x")), nBuckets)
    val bs = bounds.collect().sortBy(_.getInt(0)).map(_.getDouble(1)) // local frame: no job
    val bucket = bs.map(b => when(col(valueCol).cast("double") >= lit(b), 1).otherwise(0))
      .foldLeft(lit(0))(_ + _)
    df.withColumn(bucketCol, bucket.cast("int"))
      .repartition(col(bucketCol)) // one shuffle → one writer task per bucket
      .write.partitionBy(bucketCol).mode("overwrite").parquet(path)
    bounds.coalesce(1).write.mode("overwrite").parquet(s"$path/_bounds")
  }

  /** Read a [[writeEquidepthBucketed]] layout under a value-range
    * predicate REWRITTEN onto the partition column: the stored `_bounds`
    * table (≤ nBuckets−1 rows — a bounded control-plane collect) maps
    * [lo, hi] to the bucket ids that can contain it, so the scan carries
    * a PartitionFilters entry and never lists the other directories; the
    * residual value predicate still applies inside surviving buckets.
    * This is the read half of the layout contract LayoutSpec asserts. */
  def readValueRange(spark: org.apache.spark.sql.SparkSession, path: String,
      valueCol: String, lo: Double, hi: Double): DataFrame = {
    val bucketCol = s"${valueCol}_bucket"
    val bs = spark.read.parquet(s"$path/_bounds")
      .orderBy("i").collect().map(_.getAs[Double]("bound"))
    val loB = bs.count(lo >= _) // bucket id = #boundaries the value passed
    val hiB = bs.count(hi >= _)
    spark.read.parquet(path)
      .filter(col(bucketCol) >= loB && col(bucketCol) <= hiB)
      .filter(col(valueCol) >= lo && col(valueCol) <= hi)
  }

  /** Small-file compaction: rewrite a parquet directory into
    * ~`targetBytes`-sized files — the maintenance job every streaming-
    * sink corpus needs (a 1-second trigger writing for a week leaves
    * millions of KB-files whose open/footer costs dominate scans).
    * With `orderCol` set, the rewrite range-partitions + sorts on it, so
    * an existing clustering (shuffle_pos, a Z-value) SURVIVES compaction;
    * without it, round-robin repartition balances bytes evenly.
    *
    * Returns (filesBefore, filesAfter). The target directory is fresh
    * output (`out`); swapping it over the source atomically is the
    * catalog/table-format layer's job, not the rewrite's. Driver sees
    * only file listings, never data. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String, out: String,
      targetBytes: Long, orderCol: Option[String] = None): (Int, Long) = {
    val df = spark.read.parquet(path)
    val files = df.inputFiles
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = files.map(f =>
      fs.getFileStatus(new org.apache.hadoop.fs.Path(new java.net.URI(f))).getLen).sum
    val nFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes)
    val shaped = orderCol match {
      case Some(c) => df.repartitionByRange(nFiles.toInt, col(c)).sortWithinPartitions(c)
      case None    => df.repartition(nFiles.toInt)
    }
    shaped.write.mode("overwrite").parquet(out)
    (files.length, nFiles)
  }

  /** File-level min/max stats of two columns for every parquet part-file
    * under `path` — what a file index (or the parquet reader's footer
    * check) prunes with. Computed distributedly via input_file_name: one
    * scan, one small agg, rows = files. */
  def fileStats(df: DataFrame, colA: String, colB: String): DataFrame =
    df.groupBy(input_file_name().as("file"))
      .agg(
        min(col(colA)).cast("double").as("min_a"),
        max(col(colA)).cast("double").as("max_a"),
        min(col(colB)).cast("double").as("min_b"),
        max(col(colB)).cast("double").as("max_b"))

  /** Fraction of files a range predicate `[lo, hi]` on the given dimension
    * can skip, judging by file-level stats alone. */
  def prunableFraction(stats: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    if (stats.isEmpty) return 0.0
    stats.count { case (mn, mx) => mx < lo || mn > hi }.toDouble / stats.size
  }
}
