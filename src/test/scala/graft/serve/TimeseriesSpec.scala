package graft.serve

import graft.SparkSpec
import graft.grid.GridStore
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Point and area series equal a plain-Scala series over the same
  * pixels, row for row and in time order, including NULL (NaN) pixels
  * and timesteps; and a served request costs a bounded number of jobs
  * (the store open runs none, and the ordering runs no sampling job).
  * The area series is checked on the driver and distributed paths. */
class TimeseriesSpec extends SparkSpec {
  import spark.implicits._

  // 8×6 grid of 1° pixels, west edge 0, north edge 6
  private val (gw, gh) = (8, 6)
  private val days = (1 to 4).map(d => f"2024-03-$d%02d")

  /** (day, x, y, v): NaN pixels are stored NULL; day 3 is all NULL and
    * one pixel has no row at all on day 2. */
  private val cells: Seq[(String, Int, Int, Option[Double])] =
    for {
      (day, i) <- days.zipWithIndex
      y <- 0 until gh; x <- 0 until gw
      if !(i == 1 && x == 2 && y == 1)
    } yield (day, x, y,
      if (i == 2 || (x * 3 + y + i) % 7 == 0) None else Some((x * 10 + y) * 0.25 + i * 1.5))

  private lazy val base: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ts").toString + "/cube"
    GridStore.writeZOrdered(cells.toDF("day", "tile_x", "tile_y", "v")
      .withColumn("collection", lit("c"))
      .withColumn("t", to_timestamp(concat(col("day"), lit(" 00:00:00")))).drop("day"), dir)
    dir
  }

  private def pixels: DataFrame = GridStore.read(spark, base)
    .select(col("t"), col("tile_x").as("x"), col("tile_y").as("y"), col("v"),
      (col("tile_x") + 0.5).as("lon"), (lit(gh) - col("tile_y") - 0.5).as("lat"))

  private def day(r: Row) = r.getTimestamp(0).toString.take(10)
  private def opt(r: Row, i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))

  private def point(x: Int, y: Int) =
    Timeseries.point(pixels, lat = gh - y - 0.5, lon = x + 0.5,
      west = 0.0, north = gh.toDouble, pw = 1.0, ph = 1.0, gridW = gw, gridH = gh)

  test("point series equals the brute-force pixel series, in time order") {
    for (x <- 0 until gw; y <- 0 until gh by 2) {
      val got = point(x, y).collect().map(r => (day(r), opt(r, 1))).toSeq
      val want = cells.collect { case (d, `x`, `y`, v) => (d, v) }.sortBy(_._1)
      assert(got == want, s"pixel ($x, $y)")
    }
    // the pixel with a missing row on day 2 has three rows
    assert(point(2, 1).count() == 3)
  }

  // a triangle whose edges pass through no pixel centre
  private val tri = Seq((0.2, 0.1), (7.9, 0.3), (3.1, 5.8))
  private val wkt = (tri :+ tri.head).map { case (a, b) => s"$a $b" }
    .mkString("POLYGON((", ", ", "))")
  private def inside(px: Double, py: Double): Boolean = {
    def side(i: Int) = {
      val ((ax, ay), (bx, by)) = (tri(i), tri((i + 1) % 3))
      math.signum((bx - ax) * (py - ay) - (by - ay) * (px - ax))
    }
    val s = (0 until 3).map(side)
    s.forall(_ >= 0) || s.forall(_ <= 0)
  }

  test("area series equals the brute-force masked reduce for every how") {
    val masked = cells.filter { case (_, x, y, _) => inside(x + 0.5, gh - y - 0.5) }
    assert(masked.nonEmpty && masked.size < cells.size)
    // driverCap = 0 forces the distributed aggregate
    for (how <- Seq("mean", "sum", "min", "max", "std"); cap <- Seq(graft.ops.Zonal.DriverRows, 0L)) {
      val df = Timeseries.area(pixels, wkt, (0.0, 0.0, gw.toDouble, gh.toDouble), how, cap)
      // the driver path's rows are in hand: collecting them runs no job
      val (rows, jobs) = jobsDuring(df.collect())
      assert((jobs == 0) == (cap > 0), s"how=$how cap=$cap: collect ran $jobs jobs")
      val got = rows.map(r => (day(r), opt(r, 1), r.getLong(2))).toSeq
      val want = masked.groupBy(_._1).toSeq.sortBy(_._1).map { case (d, rows) =>
        val vs = rows.flatMap(_._4)
        val n = vs.size.toDouble
        val mean = vs.sum / n
        (d, if (vs.isEmpty) None else Some(how match {
          case "mean" => mean; case "sum" => vs.sum
          case "min" => vs.min; case "max" => vs.max
          case "std" => math.sqrt(vs.map(v => (v - mean) * (v - mean)).sum / n)
        }), vs.size.toLong)
      }
      assert(got.map(g => (g._1, g._3)) == want.map(w => (w._1, w._3)), s"how=$how cap=$cap")
      got.zip(want).foreach { case ((d, a, _), (_, b, _)) =>
        assert(a.isDefined == b.isDefined && a.zip(b).forall { case (p, q) =>
          math.abs(p - q) <= 1e-9 * math.max(1.0, math.abs(q)) }, s"how=$how cap=$cap $d: $a vs $b")
      }
    }
  }

  test("an integral v sums exactly while partial sums stay within 2^53") {
    // the reducer sums in double: integers up to 2^53 are exact doubles
    val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val big = (1L << 52) + 1
    def px(vs: Seq[Long]) = vs.zipWithIndex.map { case (v, i) => (t, 0, i, v, i + 0.5, 0.5) }
      .toDF("t", "y", "x", "v", "lon", "lat")
    val box = "POLYGON((0 0, 4 0, 4 1, 0 1, 0 0))"
    for (cap <- Seq(graft.ops.Zonal.DriverRows, 0L)) {
      val s = Timeseries.area(px(Seq(big, (1L << 51) + 3, -7L)), box, (0.0, 0.0, 4.0, 1.0), "sum", cap)
      assert(s.schema("value").dataType == org.apache.spark.sql.types.LongType)
      assert(s.collect().map(_.getLong(1)).toSeq == Seq(big + (1L << 51) + 3 - 7), s"cap=$cap")
    }
    // past 2^53 the sum rounds to the nearest double
    val past = Timeseries.area(px(Seq(1L << 53, 1L)), box, (0.0, 0.0, 4.0, 1.0), "sum")
    assert(past.collect().map(_.getLong(1)).toSeq == Seq(1L << 53))
  }

  test("served requests run a bounded number of jobs") {
    point(0, 0).collect() // warm codegen and the store listing
    // the point job runs inside the call: count the whole call
    val (_, pointJobs) = jobsDuring(point(3, 2).collect())
    assert(pointJobs == 1, s"point series ran $pointJobs jobs")
    // the area job runs inside the call: count the whole call
    val (_, areaJobs) = jobsDuring(Timeseries.area(pixels, wkt,
      (0.0, 0.0, gw.toDouble, gh.toDouble), "mean").collect())
    assert(areaJobs == 1, s"area series ran $areaJobs jobs")
    val (_, ovJobs) = jobsDuring(OverviewServe.readBbox(spark, base, Seq(1),
      1.0, 1.0, days.head, days.last, 0, 3, 0, 3).collect())
    assert(ovJobs == 1, s"overview read ran $ovJobs jobs")
  }
}
