package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Drop-zone ingest as Structured Streaming (SURVEY §2.9 X1/X2; replaces
  * the reference's MinIO→Redis→Celery chain, ingestion/consumer.py:77-191).
  *
  * Files land under `dropzone/{org}/{catalog}/{collection}/<name>`; the
  * stream discovers them incrementally (file-source checkpointing = the
  * reference's IngestionLog), derives identity from the path + filename
  * timestamp patterns (time_extraction.py:8-98), and `foreachBatch`
  * upserts into a parquet target with content-hash idempotency:
  * a re-delivered identical granule is a no-op (skip), a granule whose
  * CONTENT changed replaces its old rows (overwrite), a new granule
  * appends (insert) — engine.Derivation's classification applied to the
  * ingest path.
  *
  * The target is partitioned by (collection, date) and every batch only
  * ever reads the partitions its granules land in (static partition
  * pruning from the batch's own key set) — per-batch cost is bounded by
  * batch size, not by target history. At scale the write side is a
  * Delta/Iceberg MERGE; on plain parquet the same semantics come from
  * the classification + dynamic partition overwrite below.
  */
object IngestStream {

  /** Filename → valid time; supports `*_YYYYMMDD[_HHMM]` and ISO stems,
    * plus the `GR--{reftime}--` forecast prefix (formats/geotiff.py:351-373). */
  def extractTime(fname: Column) = {
    // nullif guards ANSI mode: to_timestamp('') throws in Spark 4.
    val stem = regexp_replace(fname, "^GR--\\d{8}T\\d{6}--", "")
    def ext(re: String) = nullif(regexp_extract(stem, re, 1), lit(""))
    coalesce(
      to_timestamp(ext("(\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2})")),
      to_timestamp(ext("_(\\d{8}_\\d{4})"), "yyyyMMdd_HHmm"),
      to_timestamp(ext("_(\\d{4}-\\d{2}-\\d{2})"), "yyyy-MM-dd"),
      to_timestamp(ext("_(\\d{8})"), "yyyyMMdd"))
  }

  /** Forecast reference time from the `GR--YYYYMMDDTHHMMSS--` prefix. */
  def extractRefTime(fname: Column) =
    to_timestamp(nullif(regexp_extract(fname, "^GR--(\\d{8}T\\d{6})--", 1), lit("")),
      "yyyyMMdd'T'HHmmss")

  /** Open the dropzone as a stream of granule rows. Each dropped file is
    * a parquet of long-form pixels (t is overridden by the filename when
    * present — filename is authoritative, content is fallback).
    * `granule_key` is the granule's IDENTITY (collection + times,
    * null-safe); content enters the hash at upsert time. */
  def readDropzone(spark: SparkSession, dropzone: String): DataFrame = {
    val raw = spark.readStream
      .schema("y INT, x INT, v DOUBLE")
      .option("pathGlobFilter", "*.parquet")
      .option("recursiveFileLookup", "true")
      .parquet(dropzone)
      .withColumn("path", url_decode(input_file_name()))
    val fname = element_at(split(col("path"), "/"), -1)
    raw
      .withColumn("collection", element_at(split(col("path"), "/"), -2))
      .withColumn("time", extractTime(fname))
      .withColumn("reference_time", extractRefTime(fname))
      .withColumn("date",
        coalesce(date_format(col("time"), "yyyy-MM-dd"), lit("unknown")))
      .withColumn("granule_key",
        sha2(concat_ws("|", col("collection"), col("time"),
          coalesce(col("reference_time").cast("string"), lit(""))), 256))
  }

  /** Run the ingest with idempotent upsert into `target` (parquet dir).
    * Processes everything currently available, then stops. */
  def ingestAvailable(spark: SparkSession, dropzone: String, target: String,
                      checkpoint: String): StreamingQuery = {
    val q = readDropzone(spark, dropzone).writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertBatch(batch, target)
      }
      .start()
    q
  }

  /** The batch's target partitions, read with static partition pruning
    * (the predicate is built from the batch's own (collection, date)
    * set, so the scan's PartitionFilters keep per-batch read cost
    * proportional to the batch, not to target history). */
  def prunedTarget(spark: SparkSession, target: String,
                   parts: Seq[(String, String)]): DataFrame = {
    val pred = parts.map { case (c, d) =>
      (col("collection") === c) && (col("date") === d)
    }.reduce(_ || _)
    // filter BEFORE any cast so the predicate lands in PartitionFilters
    // (string literals coerce to the inferred partition type); then
    // normalize `date` back to its written STRING form for unions
    graft.Tables.open(spark, target)
      .filter(pred)
      .withColumn("date", col("date").cast("string"))
  }

  private val partitionCols = Seq("collection", "date")

  /** Content-hash idempotent upsert with Derivation-style classification:
    * skip identical re-deliveries, append new granules, and REPLACE the
    * rows of granules whose content changed (the reference's
    * overwrite-in-place, engine.py:344-352). Only path-not-found is
    * treated as an empty target — any other read failure propagates
    * rather than silently duplicating history. */
  def upsertBatch(batch: DataFrame, target: String): Unit = {
    val spark = batch.sparkSession
    val rows = batch.dropDuplicates("granule_key", "y", "x")
    // per-granule content digest: commutative XOR of row hashes — one
    // aggregation, order-independent, no pixel collect (RecipeHash shape)
    val digests = rows.groupBy("granule_key")
      .agg(bit_xor(xxhash64(col("y"), col("x"), col("v"))).cast("string").as("cd"))
    val incoming = rows.join(digests, "granule_key")
      .withColumn("granule_hash", sha2(concat_ws("|", col("granule_key"), col("cd")), 256))
      .drop("cd")
      .cache()
    try upsertClassified(spark, incoming, target)
    finally incoming.unpersist()
  }

  private def upsertClassified(spark: SparkSession, incoming: DataFrame,
                               target: String): Unit = {
    val targetPath = new org.apache.hadoop.fs.Path(target)
    val fs = targetPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val exists = fs.exists(targetPath) &&
      fs.listStatus(targetPath).exists(s => !s.getPath.getName.startsWith("_"))
    if (!exists) {
      incoming.write.mode("append").partitionBy(partitionCols: _*).parquet(target)
      return
    }

    val parts = incoming.select("collection", "date").distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val existing = prunedTarget(spark, target, parts)
    val cls = graft.engine.Derivation.idempotentMerge(
        existing.select(col("granule_key").as("unit_id"), col("granule_hash")).distinct(),
        incoming.select(col("granule_key").as("unit_id"), col("granule_hash")).distinct(),
        "unit_id", "granule_hash")
      .filter(col("action").isin("insert", "overwrite"))
      .select(col("unit_id").as("granule_key"), col("action"))
      // break lineage to the target path: we are about to overwrite it
      .localCheckpoint(true)

    val inserts = incoming.join(cls.filter(col("action") === "insert")
      .select("granule_key"), "granule_key")
    val overwrites = incoming.join(cls.filter(col("action") === "overwrite")
      .select("granule_key"), "granule_key")

    if (overwrites.isEmpty) {
      inserts.write.mode("append").partitionBy(partitionCols: _*).parquet(target)
      return
    }

    // rewrite ONLY the partitions holding replaced granules: keep their
    // unaffected rows + new content + any inserts landing there, then
    // dynamic-partition-overwrite; inserts elsewhere append as usual
    val owParts = overwrites.select("collection", "date").distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val owPred = owParts.toSeq.map { case (c, d) =>
      (col("collection") === c) && (col("date") === d)
    }.reduce(_ || _)
    val kept = prunedTarget(spark, target, owParts.toSeq)
      .join(cls.filter(col("action") === "overwrite").select("granule_key"),
        Seq("granule_key"), "left_anti")
      .localCheckpoint(true)
    val rewritten = kept
      .unionByName(overwrites.select(kept.columns.map(col).toIndexedSeq: _*))
      .unionByName(inserts.filter(owPred).select(kept.columns.map(col).toIndexedSeq: _*))
    // scoped to this write via the writer option (precedence over the
    // session conf) — the shared session is never mutated
    rewritten.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*).parquet(target)
    inserts.filter(!owPred).write.mode("append")
      .partitionBy(partitionCols: _*).parquet(target)
  }
}
