package graft

import graft.grid.{Grid, Tile}
import graft.ops.Zonal
import graft.serve.Timeseries
import graft.llm.Dedup
import org.apache.spark.sql.functions._

/** Edge behavior: empty inputs, all-nodata tiles, degenerate documents —
  * the reference's all-NaN ⇒ None and empty-geometry ⇒ NULL contracts. */
class EdgeSpec extends SparkSpec {
  import spark.implicits._

  test("all-NULL tile: partials carry n=0 and NULL min/max (all-NaN ⇒ empty stats)") {
    val df = Seq(1).toDF("i")
      .select(expr("array(CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE))").as("tile"))
      .select(Tile.tilePartials(col("tile")).as("p"))
      .select("p.n", "p.sum", "p.mn", "p.mx")
    val r = df.collect()(0)
    assert(r.getLong(0) == 0L && r.getDouble(1) == 0.0 && r.isNullAt(2) && r.isNullAt(3))
  }

  test("empty pixel frame: climatology and zonal produce empty, not errors") {
    val empty = Grid.fromLineitem(spark, sf0001).filter(lit(false))
      .withColumn("lon", Grid.lonOf(col("x")))
      .withColumn("lat", Grid.latOf(col("y")))
    assert(empty.groupBy(month(col("t"))).agg(avg("v")).isEmpty)
    val b = Seq((0, "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))", 0.0, 0.0, 1.0, 1.0))
      .toDF("boundary_id", "geom_wkt", "bw", "bs", "be", "bn")
    assert(Zonal.zonalStats(empty, b).isEmpty) // no timesteps ⇒ empty frame
  }

  test("leveled zonal on empty pixels produces empty, not errors") {
    val empty = Grid.fromLineitem(spark, sf0001).filter(lit(false))
      .withColumn("lon", Grid.lonOf(col("x")))
      .withColumn("lat", Grid.latOf(col("y")))
    val lb = Seq((1, 0, "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))", 0.0, 0.0, 1.0, 1.0))
      .toDF("level", "boundary_id", "geom_wkt", "bw", "bs", "be", "bn")
    assert(Zonal.zonalStatsLeveled(empty, lb).isEmpty)
  }

  test("media frame decode rejects non-PNG payloads loudly") {
    intercept[IllegalArgumentException](
      graft.llm.MediaCodecs.decodeFrames(Array[Byte](1, 2, 3)))
  }

  test("k-means with more centroids than vectors still assigns every vector") {
    val emb = spark.range(3).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 7), i -> CAST(id * 8 + i AS FLOAT))").as("embedding"))
    val q = graft.llm.Similarity.quantized(emb)
    // k=8 > 3 vectors: init takes the 3 existing; clusters may empty out
    val cents = graft.llm.Similarity.ivfKmeansCentroids(q, 8, 2)
    val assigned = graft.llm.Similarity.assignNearest(q, cents)
    assert(assigned.count() == 3)
  }

  test("point timeseries clamps out-of-range coordinates to the grid edge") {
    val px = Grid.fromLineitem(spark, sf0001)
    val ts = Timeseries.point(px, lat = 999.0, lon = -999.0,
      west = -180.0, north = 90.0, pw = Grid.PX, ph = Grid.PY,
      gridW = Grid.W, gridH = Grid.H)
    // clamped to pixel (0,0) — returns whatever data that cell has, no error
    ts.collect()
  }

  test("point timeseries rejects a NaN coordinate, a pixel size <= 0 and an empty grid") {
    val px = Grid.fromLineitem(spark, sf0001)
    def at(lat: Double = 0.0, lon: Double = 0.0, pw: Double = Grid.PX, ph: Double = Grid.PY,
           gridW: Int = Grid.W, gridH: Int = Grid.H) =
      Timeseries.point(px, lat, lon, west = -180.0, north = 90.0, pw, ph, gridW, gridH)
    val bad = Seq[(String, () => Any)](
      "NaN lat" -> (() => at(lat = Double.NaN)), "NaN lon" -> (() => at(lon = Double.NaN)),
      "pw 0" -> (() => at(pw = 0.0)), "ph -1" -> (() => at(ph = -1.0)),
      "NaN pw" -> (() => at(pw = Double.NaN)),
      "gridW 0" -> (() => at(gridW = 0)), "gridH -2" -> (() => at(gridH = -2)))
    for ((name, call) <- bad) {
      // rejected before any scan: a NaN used to clamp to pixel (0, 0)
      val (_, jobs) = jobsDuring(intercept[IllegalArgumentException](call()))
      assert(jobs == 0, s"$name ran $jobs jobs")
    }
  }

  test("degenerate documents: shingles of short texts are empty, not errors") {
    val docs = Seq((1L, ""), (2L, "one two"), (3L, "a b c")).toDF("doc_id", "text")
    val sh = Dedup.shingles(docs, "doc_id", "text", 3)
    val byDoc = sh.groupBy("id").count().as[(Long, Long)].collect().toMap
    assert(!byDoc.contains(1L) && !byDoc.contains(2L) && byDoc(3L) == 1L)
  }

  test("canonicalize on an empty pair set returns empty") {
    val pairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.canonicalize(pairs).isEmpty)
  }

  test("canonicalize resolves a 3-chain to its minimum id") {
    val pairs = Seq((5L, 9L), (9L, 2L)).toDF("doc_a", "doc_b")
    val m = Dedup.canonicalize(pairs).as[(Long, Long)].collect().toMap
    assert(m == Map(5L -> 2L, 9L -> 2L, 2L -> 2L))
  }

  test("canonicalize under the cap fetches its edges in one job") {
    val pairs = spark.range(6).select(col("id").as("doc_a"), (col("id") % 3 + 10).as("doc_b"))
    val (labels, jobs) = jobsDuring(Dedup.canonicalize(pairs))
    assert(jobs == 1)
    assert(labels.as[(Long, Long)].collect().toMap ==
      Map(0L -> 0L, 3L -> 0L, 10L -> 0L, 1L -> 1L, 4L -> 1L, 11L -> 1L, 2L -> 2L, 5L -> 2L, 12L -> 2L))
  }
}
