package graft

import graft.grid.GridStore
import graft.serve.OverviewServe
import graft.streaming.{IngestStream, StreamCuration}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** [[Tables.open]] must give exactly the schema Spark's own inference
  * gives, for every dataset shape the engine opens, without running a
  * job; and it must fail where and how `spark.read.parquet` fails. */
class TablesOpenSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String) = Files.createTempDirectory(s"graft-open-$name-").toString

  /** Same schema as inference, and the open itself runs no job. */
  private def assertOpensLikeSpark(path: String): Unit = {
    val (df, jobs) = jobsDuring(Tables.open(spark, path))
    assert(jobs == 0, s"opening $path ran $jobs job(s)")
    val inferred = spark.read.parquet(path).schema
    assert(df.schema == inferred, s"$path:\n open  ${df.schema.treeString}\n spark ${inferred.treeString}")
  }

  test("every test-data table opens with the inferred schema") {
    val names = Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
      "region", "events", "documents", "embeddings")
    names.foreach(n => assertOpensLikeSpark(s"$sf0001/$n.parquet"))
  }

  test("a TIMESTAMP(NANOS) events file opens as epoch-nanos under nanosAsLong") {
    // Spark cannot write NANOS, so write the file with parquet-mr
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val dir = tmp("nanos")
    val file = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, conf))
      .withType(schema).withConf(conf).build()
    val rows = new SimpleGroupFactory(schema)
    (0 until 3).foreach(i => w.write(rows.newGroup()
      .append("event_id", i.toLong).append("ts", 1700000000000000000L + i * 1000000000L)))
    w.close()
    assertOpensLikeSpark(file.toString)
    val ts = Tables.open(spark, file.toString).schema("ts").dataType
    assert(ts == org.apache.spark.sql.types.LongType, s"events.ts opened as $ts")
    val first = Tables.events(spark, dir).orderBy("event_id").head().getTimestamp(1)
    assert(first.toInstant == java.time.Instant.ofEpochSecond(1700000000L))
  }

  test("a z-ordered grid store and its overview levels open with the inferred schema") {
    val base = tmp("grid") + "/cube"
    val cube = (for (d <- 1 to 3; ty <- 0 until 8; tx <- 0 until 8)
      yield ("c", f"2024-01-$d%02d 00:00:00", ty, tx, (d * ty + tx).toDouble))
      .toDF("collection", "ts", "tile_y", "tile_x", "v")
      .withColumn("t", to_timestamp(col("ts"))).drop("ts")
    GridStore.writeZOrdered(cube, base)
    OverviewServe.writeOverviews(spark, base, Seq(2, 4))
    Seq(base, OverviewServe.ovPath(base, 2), OverviewServe.ovPath(base, 4))
      .foreach(assertOpensLikeSpark)
    // partition columns stay STRING (type inference is off by contract)
    val s = Tables.open(spark, base).schema
    assert(s("p_date").dataType == org.apache.spark.sql.types.StringType)
    assert(Tables.open(spark, base).count() == cube.count())
  }

  test("an open lists each directory of a partitioned store once") {
    val base = tmp("listing") + "/cube"
    GridStore.writeZOrdered((for (d <- 1 to 3; ty <- 0 until 4; tx <- 0 until 4)
      yield ("c", f"2024-01-$d%02d 00:00:00", ty, tx, (d * ty + tx).toDouble))
      .toDF("collection", "ts", "tile_y", "tile_x", "v")
      .withColumn("t", to_timestamp(col("ts"))).drop("ts"), base)
    // the directories a file index lists: the root and every partition
    // directory under it (hidden ones are skipped)
    val dirs = {
      val out = scala.collection.mutable.Buffer[String]()
      def walk(d: java.io.File): Unit = {
        out += d.getPath
        d.listFiles().filter(f => f.isDirectory && !f.getName.startsWith("_") &&
          !f.getName.startsWith(".")).foreach(walk)
      }
      walk(new java.io.File(base))
      out.toSet
    }
    assert(dirs.exists(_.contains("p_date=")), s"no partition directories under $base")
    spark.sparkContext.hadoopConfiguration.set("fs.countfs.impl", classOf[CountingFileSystem].getName)
    CountingFileSystem.listed.clear()
    val df = Tables.open(spark, s"countfs://$base")
    val listed = CountingFileSystem.listed.asScala.map { case (k, n) => k -> n.intValue }.toMap
    assert(listed == dirs.map(_ -> 1).toMap,
      s"listStatus calls per path (want each of ${dirs.size} directories once): $listed")
    assert(df.schema == Tables.open(spark, base).schema)
    assert(df.count() == 48L)
  }

  test("an ingest-stream partitioned target opens with the inferred schema") {
    val dz = tmp("dropzone"); val tgt = tmp("target")
    val staging = tmp("staging")
    Seq((0, 0, 1.5), (0, 1, 2.5), (1, 0, 3.5)).toDF("y", "x", "v")
      .coalesce(1).write.mode("overwrite").parquet(staging)
    val partFile = new java.io.File(staging).listFiles().find(_.getName.endsWith(".parquet")).get
    val dest = new java.io.File(s"$dz/org/cat/chirps/precip_20240101.parquet")
    dest.getParentFile.mkdirs()
    Files.move(partFile.toPath, dest.toPath)
    IngestStream.ingestAvailable(spark, dz, tgt, tmp("cp")).awaitTermination()
    assertOpensLikeSpark(tgt)
  }

  test("stream-curation state tables open with the inferred schema") {
    val dir = tmp("curation")
    val docs = Tables.documents(spark, sf0001).select("doc_id", "source", "text").limit(40)
    val (_, delta) = StreamCuration.processBatch(docs, StreamCuration.emptyState(spark))
    StreamCuration.saveDeltas(delta, dir)
    val opened = Seq("fps", "spans", "bands", "docs", "wm").map(n => s"$dir/$n")
      .filter(p => Option(new java.io.File(p).list()).exists(_.exists(_.endsWith(".parquet"))))
    assert(opened.nonEmpty, s"no state written under $dir")
    opened.foreach(assertOpensLikeSpark)
  }

  test("a summary file takes precedence over the data files, as in inference") {
    val dir = tmp("summary") + "/t"
    Seq((1, "a"), (2, "b")).toDF("id", "name").coalesce(1).write
      .option("parquet.summary.metadata.level", "ALL").parquet(dir)
    assert(new java.io.File(s"$dir/_common_metadata").exists(), "no summary file written")
    // a data file with another schema that sorts before every part file:
    // a footer pick that skipped the summary would take its schema
    val other = tmp("other") + "/z"
    Seq(3L).toDF("z").coalesce(1).write.parquet(other)
    val f = new java.io.File(other).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(f.toPath, java.nio.file.Paths.get(dir, "a-first.parquet"))
    assertOpensLikeSpark(dir)
    assert(Tables.open(spark, dir).schema.fieldNames.toSeq == Seq("id", "name"))
  }

  test("a missing path and a directory without data fail as spark.read.parquet does") {
    def condition(f: => Any) = intercept[AnalysisException](f).getCondition
    val missing = tmp("missing") + "/nothing-here"
    assert(condition(Tables.open(spark, missing)) == condition(spark.read.parquet(missing)))
    assert(condition(Tables.open(spark, missing)) == "PATH_NOT_FOUND")
    val empty = tmp("empty")
    Files.write(java.nio.file.Paths.get(empty, "_SUCCESS"), Array.emptyByteArray)
    assert(condition(Tables.open(spark, empty)) == condition(spark.read.parquet(empty)))
    assert(condition(Tables.open(spark, empty)) == "UNABLE_TO_INFER_SCHEMA")
    assert(Tables.openIfPresent(spark, missing).isEmpty)
    assert(Tables.openIfPresent(spark, empty).isEmpty)
  }

  test("schema merging is refused, not silently reduced to one footer") {
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      val e = intercept[UnsupportedOperationException](
        Tables.open(spark, s"$sf0001/nation.parquet"))
      assert(e.getMessage.contains("mergeSchema"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }
}

/** The local file system under the `countfs` scheme, counting
  * `listStatus` calls per path. */
class CountingFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("countfs:///")
  override def listStatus(f: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    CountingFileSystem.listed.merge(f.toUri.getPath, 1, (a: Integer, b: Integer) => a + b)
    super.listStatus(f)
  }
}

object CountingFileSystem {
  val listed = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
}
