package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Persisted serving-state directories: the filesystem-agnostic existence
  * probe, and the RTBF purge protocol of the non-linear sketch states
  * (HLL cells, KMV sources).
  *
  * At production scale the state dirs live on whatever Hadoop filesystem
  * the cluster mounts — HDFS, S3A, GCS, or local — and
  * `java.io.File.exists` answers a bare `false` for every non-local URI.
  * A serve path probing optional state that way would silently treat
  * EXISTING tombstones or purge epochs as absent and serve stale
  * (pre-purge) or empty results, with nothing thrown anywhere. Probes
  * therefore resolve the Path's own FileSystem from the session's Hadoop
  * configuration — the same resolution the `spark.read.parquet` call that
  * follows them uses, so probe and read can never disagree about what
  * filesystem they are looking at.
  *
  * Sketch state layout (`statePath`): each foreachBatch ingest writes its
  * per-key partials `(keys…, sk)` under `sk/batch=<id>`. A sketch that
  * cannot subtract a departed member is purged by re-sketching the
  * affected keys from their live rows: [[writePurgeEpoch]] writes the
  * rebuilt sketches under `purge/epoch=<id>` and a `(keys…, cutoff)`
  * tombstone under `ts/epoch=<id>`, where cutoff = max ingest batch + 1
  * (0 when no ingest batch exists yet: a purge may precede any ingest).
  * Epoch ids live in their own purge/ + ts/ namespaces, disjoint from the
  * foreachBatch allocator, so a caller-chosen id can never clobber a
  * micro-batch partial; replaying an epoch overwrites identical files.
  * [[foldSketches]] serves per key the live partials — for a tombstoned
  * key only those at or after the winning (max-epoch) cutoff — plus that
  * epoch's rebuilt sketch. The caller merges the folded rows with its own
  * sketch union. Caller contract: epoch ids strictly increase across purge
  * requests. */
object StatePath {
  def exists(s: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Max ingest batch id + 1, or 0 when `sk/` is absent or empty. */
  private def purgeCutoff(s: SparkSession, statePath: String): Long = {
    val skDir = s"$statePath/sk"
    if (!exists(s, skDir)) 0L
    else {
      val row = s.read.parquet(skDir)
        .agg(max(col("batch").cast("long"))).collect()(0)
      if (row.isNullAt(0)) 0L else row.getLong(0) + 1L
    }
  }

  /** Purge epoch `epochId`: `rebuilt` (keys…, sk) under `purge/` and a
    * tombstone of every `affected` key row under `ts/`. `affected` stays
    * separate from `rebuilt` so a key whose every member was purged still
    * gets its tombstone (it has no rebuilt sketch, and so vanishes from
    * the served state exactly as a rebuild would have it). */
  def writePurgeEpoch(s: SparkSession, statePath: String, epochId: Long)(
      rebuilt: DataFrame, affected: DataFrame): Unit = {
    val cutoff = purgeCutoff(s, statePath)
    rebuilt.write.mode("overwrite").parquet(s"$statePath/purge/epoch=$epochId")
    affected.withColumn("cutoff", lit(cutoff))
      .write.mode("overwrite").parquet(s"$statePath/ts/epoch=$epochId")
  }

  /** The `sk/` partials as (keys…, sk, batch) with `partial` = the
    * (keys…, sk) schema; empty when no ingest batch exists yet, so a
    * state dir holding only purge epochs serves the rebuilt sketches
    * alone. */
  private def partials(s: SparkSession, statePath: String, partial: StructType): DataFrame = {
    val skDir = s"$statePath/sk"
    if (exists(s, skDir))
      s.read.parquet(skDir)
        .select(partial.fieldNames.map(col) :+ col("batch").cast("long").as("batch"): _*)
    else
      s.createDataFrame(s.sparkContext.emptyRDD[Row],
        partial.add(StructField("batch", LongType)))
  }

  /** The (keys…, sk) rows to serve: every partial of an untombstoned key;
    * for a tombstoned key, its cutoff-or-later partials plus the rebuilt
    * sketch of its winning epoch. `partial` is the (keys…, sk) schema the
    * ingest sink writes; its leading fields other than `sk` are the keys.
    * Tombstone tables are key-sized → broadcast. */
  def foldSketches(s: SparkSession, statePath: String, partial: StructType): DataFrame = {
    val keys = partial.fieldNames.filterNot(_ == "sk").toSeq
    val keySk = keys.map(col) :+ col("sk")
    val parts = partials(s, statePath, partial)
    val tsDir = s"$statePath/ts"
    if (!exists(s, tsDir)) parts.select(keySk: _*)
    else {
      val win = s.read.parquet(tsDir)
        .groupBy(keys.map(col): _*)
        .agg(max(struct(col("epoch").cast("long").as("epoch"),
          col("cutoff").as("cutoff"))).as("w"))
        .select(keys.map(col) ++ Seq(col("w.epoch").as("win_epoch"),
          col("w.cutoff").as("cutoff")): _*)
      val liveParts = parts
        .join(broadcast(win), keys, "left")
        .filter(col("cutoff").isNull || col("batch") >= col("cutoff"))
        .select(keySk: _*)
      val rebuilt = s.read.parquet(s"$statePath/purge")
        .select(keySk :+ col("epoch").cast("long").as("epoch"): _*)
        .as("r")
        .join(broadcast(win.as("t")),
          keys.map(k => col(s"r.$k") === col(s"t.$k")).reduce(_ && _) &&
            col("r.epoch") === col("t.win_epoch"))
        .select(keys.map(k => col(s"r.$k").as(k)) :+ col("r.sk").as("sk"): _*)
      liveParts.unionByName(rebuilt)
    }
  }
}
