package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * At cluster scale these would be partitioned/bucketed Delta or parquet
  * datasets; here each table is a single parquet file per scale factor.
  * All engine queries take the directory so the same code runs at any SF.
  */
object Tables {
  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "region")
  /** `events.ts` arrives in whatever parquet encoding the generator
    * used — seen in the wild as TIMESTAMP(NANOS) (arrives as epoch-nanos
    * LongType under spark.sql.legacy.parquet.nanosAsLong) and as
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (arrives as
    * TIMESTAMP_NTZ). Normalize both to a session-TZ TimestampType so
    * every downstream query sees ONE type: the session is pinned UTC
    * (Sessions.build), so the NTZ→TZ relabel shifts no wall-clock
    * instant, and ANSI casts (timestamp→long in the sessionize window)
    * stay legal. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = read(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")

  /** When enabled (Bench), tables are pinned in memory after first read
    * — the serving-layer setup where dimension/fact tables at this SF
    * fit executor storage and repeated queries skip file listing +
    * decode. Off by default so Verify demonstrates raw-scan pushdown. */
  @volatile var cacheEnabled = false
  private val cached = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    if (!cacheEnabled) open(spark, s"$dir/$name.parquet")
    else cached.computeIfAbsent(s"$dir/$name",
      _ => open(spark, s"$dir/$name.parquet").cache())

  /** Opens a parquet dataset (a file, or a directory of part files with
    * optional partition subdirectories) without running a Spark job,
    * listing the path once.
    *
    * `spark.read.parquet(path)` infers the schema through
    * `SchemaMergeUtils.mergeSchemasInParallel`, which launches a one-task
    * job even with schema merging off, to read the one footer that
    * inference touches. This reads that same footer on the driver. The
    * footer is the one Spark's own inference picks with `mergeSchema`
    * off: `_common_metadata`, else `_metadata`, else the first data file
    * by path, from the same kind of file index (so the same hidden-name
    * filter). The relation is then built on that index, as Spark's
    * `DataSource` builds it: partition columns come from the index's
    * directory names, and the data schema is the footer's, minus the
    * partition columns, made nullable. Handing the schema to
    * `spark.read.schema(..).parquet(path)` instead would build a second
    * index and list the whole path again.
    *
    * Every call lists the path once and reads one footer: nothing is
    * cached, so a rewritten dataset is seen on the next open. Schema
    * merging needs every footer and is refused rather than silently
    * skipped. A path with nothing to read (missing, or no parquet files)
    * goes to `spark.read.parquet` so it fails with Spark's own error. */
  def open(spark: SparkSession, path: String): DataFrame =
    openIfPresent(spark, path).getOrElse(spark.read.parquet(path))

  /** [[open]], or None when `path` is absent or holds no parquet file
    * to take a schema from. */
  def openIfPresent(spark: SparkSession, path: String): Option[DataFrame] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled)
      throw new UnsupportedOperationException(
        s"Tables.open reads one footer per dataset, so it cannot honour " +
          s"spark.sql.parquet.mergeSchema=true (opening $path)")
    val hadoopConf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(hadoopConf)
    if (!fs.exists(root)) return None
    val index = new InMemoryFileIndex(spark, Seq(fs.makeQualified(root)), Map.empty, None)
    val files = index.allFiles().sortBy(_.getPath.toString)
    val summaries = Seq("_common_metadata", "_metadata") // in preference order
    summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
      .map { f =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, hadoopConf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        val schema = ParquetFileFormat.readSchemaFromFooter(
          new Footer(f.getPath, footer), new ParquetToSparkSchemaConverter(conf))
        val partitions = index.partitionSchema
        val data = StructType(schema.filterNot(c => partitions.exists(p => conf.resolver(p.name, c.name))))
        spark.baseRelationToDataFrame(HadoopFsRelation(index, partitions,
          GraftShim.asNullable(data), None, new ParquetFileFormat, Map("path" -> path))(spark))
      }
  }

  /** Unpin one dataset's tables / everything (cache lifecycle hooks —
    * Bench/Verify call these between datasets so a long-lived session
    * never accumulates storage blocks per dataset touched). */
  def evictCache(dir: String): Unit = {
    val keys = cached.keySet().toArray(Array.empty[String]).filter(_.startsWith(dir + "/"))
    keys.foreach(k => Option(cached.remove(k)).foreach(_.unpersist(blocking = true)))
  }
  def clearCache(): Unit = {
    cached.values().forEach(df => { df.unpersist(blocking = true); () })
    cached.clear()
  }
}
