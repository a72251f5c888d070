package graft.grid

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Grid cube persistence — the 100 TB disk layout (SURVEY §1.3):
  * parquet partitioned by (collection, date(time)), rows sorted within
  * partitions by (tile_y, tile_x) or their Morton key. A predicate on
  * `p_date` prunes whole partitions (Timescale-hypertable-equivalent
  * chunk exclusion, item.py:55-73); a predicate on `t` does not, since
  * Spark writes `t` as INT96 and parquet keeps no usable statistics for
  * it. The spatial sort only pays where a file holds several row groups:
  * at parquet's default 128 MB block a date file is one row group
  * (~120 KB for a global 1° grid, ~12 MB at 0.1°), so its min/max
  * statistics cover the whole globe and a tile predicate prunes nothing
  * until files grow past a block (SCALE.md, "The store's row groups").
  */
object GridStore {

  /** Persist a long-form or tiled frame. `df` must carry `collection`
    * and `t`; a `p_date` partition column is derived from t. */
  def write(df: DataFrame, path: String): Unit =
    // the sort leads with the partition columns: FileFormatWriter
    // REQUIRES ordering by the partitionBy columns and would insert
    // its own SortExec above a tile-only sort — a sort that is not
    // contractually stable, so the tile clustering could silently
    // scramble on spill. Satisfying the requirement ourselves keeps
    // ONE sort and guarantees the within-file layout.
    df.withColumn("p_date", date_format(col("t"), "yyyy-MM-dd"))
      .repartition(col("collection"), col("p_date"))
      .sortWithinPartitions(
        col("collection"), col("p_date"), col("tile_y"), col("tile_x"))
      .write.mode("overwrite")
      .partitionBy("collection", "p_date")
      .parquet(path)

  /** Persist with Morton-interleaved (tile_y, tile_x) clustering, so
    * that once a file spans several row groups their min/max statistics
    * prune in BOTH spatial dimensions (see [[ZOrder]]; a file under one
    * parquet block is one row group). Same partition layout as [[write]];
    * only the within-partition sort differs. Range-partitioning on the
    * z key also distributes a skew-free write at any tile count —
    * no single task ever owns more than its key range. */
  def writeZOrdered(df: DataFrame, path: String,
                    maxRecordsPerFile: Long = 0L): Unit =
    // the z key is sorted as an EXPRESSION, never a projected-then-
    // dropped column: dropping a sort column after the sort erases the
    // plan's known ordering, so the file writer would insert its own
    // non-stable (collection, p_date) sort and silently scramble the
    // z-clustering (caught by SoakZorder — the spec's single-date
    // in-memory sort happened to be stable and hid it)
    df.withColumn("p_date", date_format(col("t"), "yyyy-MM-dd"))
      .repartitionByRange(col("collection"), col("p_date"),
        ZOrder.zkey(col("tile_y"), col("tile_x")))
      .sortWithinPartitions(col("collection"), col("p_date"),
        ZOrder.zkey(col("tile_y"), col("tile_x")))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("collection", "p_date")
      .parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    graft.Tables.open(spark, path)

  /** Compaction (the reference's debounced-rebuild X6 maps to an
    * OPTIMIZE cadence, SURVEY §2.9): rewrite each (collection, p_date)
    * partition into one sorted file so incremental appends don't
    * accumulate small files. Content-preserving; run off the hot path.
    * `zOrdered = true` re-clusters on the Morton key while compacting
    * (the OPTIMIZE ZORDER cadence) — incremental appends arrive in
    * ingest order, so this is where the 2-D layout is (re)established. */
  def compact(spark: SparkSession, path: String, zOrdered: Boolean = false): Unit = {
    val df = read(spark, path)
    val tmp = path + ".compact"
    // partition-column sort prefix for the same reason as [[write]]:
    // without it the writer's own (unstable) sort would undo the
    // clustering this compaction exists to establish
    val sortKeys = Seq(col("collection"), col("p_date")) ++
      (if (zOrdered) Seq(ZOrder.zkey(col("tile_y"), col("tile_x")))
       else Seq(col("tile_y"), col("tile_x")))
    df.repartition(col("collection"), col("p_date"))
      .sortWithinPartitions(sortKeys: _*)
      .write.mode("overwrite").partitionBy("collection", "p_date").parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(path)
    fs.delete(dst, true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), dst)
  }

  /** Time-range + tile-bbox scoped read: `p_date` prunes partitions;
    * the tile bounds prune row groups only in files of several. */
  def readRange(spark: SparkSession, path: String,
                from: String, to: String,
                tx0: Int, tx1: Int, ty0: Int, ty1: Int): DataFrame =
    read(spark, path)
      .filter(col("p_date") >= from && col("p_date") <= to)
      .filter(col("tile_x").between(tx0, tx1) && col("tile_y").between(ty0, ty1))
}
