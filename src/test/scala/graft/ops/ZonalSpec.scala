package graft.ops

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.grid.GridStore
import graft.serve.Timeseries
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
import org.locationtech.jts.io.WKTReader

/** Zonal stats equal plain-Scala stats over the same pixels, per
  * (boundary, timestep), including NULL pixels, a missing row and an
  * all-NULL timestep; `zcount` is NULL where a boundary covers no pixel
  * row and 0 where every covered pixel is NULL. A request reads the
  * pixels once: one file scan, no nested-loop or cartesian join, one
  * Spark job. */
class ZonalSpec extends SparkSpec with AdaptiveSparkPlanHelper {
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
    val dir = java.nio.file.Files.createTempDirectory("graft-zonal").toString + "/cube"
    GridStore.writeZOrdered(cells.toDF("day", "tile_x", "tile_y", "v")
      .withColumn("collection", lit("c"))
      .withColumn("t", to_timestamp(concat(col("day"), lit(" 00:00:00")))).drop("day"), dir)
    dir
  }

  private def pixels: DataFrame = GridStore.read(spark, base)
    .select(col("t"), col("tile_x").as("x"), col("tile_y").as("y"), col("v"),
      (col("tile_x") + 0.5).as("lon"), (lit(gh) - col("tile_y") - 0.5).as("lat"))

  /** (level, boundary_id, wkt, bbox): a triangle, a square whose edges
    * pass through pixel centres, a box with a hole, a box off the grid,
    * a NULL and an unparseable WKT. Ids repeat across levels. */
  private val shapes: Seq[(Int, Long, String, (Double, Double, Double, Double))] = Seq(
    (0, 1L, "POLYGON((0.2 0.1, 7.9 0.3, 3.1 5.8, 0.2 0.1))", (0.2, 0.1, 7.9, 5.8)),
    (0, 2L, "POLYGON((0.5 0.5, 2.5 0.5, 2.5 2.5, 0.5 2.5, 0.5 0.5))", (0.5, 0.5, 2.5, 2.5)),
    (1, 1L, "POLYGON((3 0, 8 0, 8 6, 3 6, 3 0), (4.2 1.2, 6.8 1.2, 6.8 4.8, 4.2 4.8, 4.2 1.2))",
      (3.0, 0.0, 8.0, 6.0)),
    (1, 2L, "POLYGON((100 10, 110 10, 110 20, 100 20, 100 10))", (100.0, 10.0, 110.0, 20.0)),
    (1, 3L, null, (0.0, 0.0, 8.0, 6.0)),
    (1, 4L, "not valid wkt", (0.0, 0.0, 8.0, 6.0)))

  private def frame(leveled: Boolean): DataFrame = {
    val df = shapes.map { case (l, id, wkt, (w, s, e, n)) =>
      (l, if (leveled) id else l * 10 + id, wkt, w, s, e, n)
    }.toDF("level", "boundary_id", "geom_wkt", "bw", "bs", "be", "bn")
    if (leveled) df else df.drop("level")
  }

  /** Plain-Scala zonal stats: (level or 0, id, day) → (mean, min, max,
    * sum, std, count). */
  private def reference(leveled: Boolean): Map[(Int, Long, String), Seq[Option[Double]]] = {
    val factory = new GeometryFactory()
    for {
      (l, id, wkt, _) <- shapes
      geom = try Option(wkt).map(new WKTReader(factory).read) catch { case _: Exception => None }
      day <- days
    } yield {
      val covered = cells.filter { case (d, x, y, _) =>
        d == day && geom.exists(_.covers(factory.createPoint(new Coordinate(x + 0.5, gh - y - 0.5))))
      }
      val vs = covered.flatMap(_._4)
      val n = vs.size.toDouble
      val mean = vs.sum / n
      val stats =
        if (covered.isEmpty) Seq.fill(6)(None)
        else if (vs.isEmpty) Seq.fill(5)(None) :+ Some(0.0)
        else Seq(Some(mean), Some(vs.min), Some(vs.max), Some(vs.sum),
          Some(math.sqrt(vs.map(v => (v - mean) * (v - mean)).sum / n)), Some(n))
      (if (leveled) (l, id, day) else (0, l * 10 + id, day)) -> stats
    }
  }.toMap

  private def zonal(leveled: Boolean, px: DataFrame = pixels): DataFrame =
    if (leveled) Zonal.zonalStatsLeveled(px, frame(leveled = true))
    else Zonal.zonalStats(px, frame(leveled = false))

  test("zonal stats equal the plain-Scala stats per (boundary, timestep)") {
    // spread over 7 tasks, each timestep's partial aggregates are merged
    for (leveled <- Seq(false, true); px <- Seq(pixels, pixels.repartition(7))) {
      val df = zonal(leveled, px)
      val keys = if (leveled) Seq("level", "boundary_id") else Seq("boundary_id")
      assert(df.columns.toSeq == keys ++
        Seq("t", "zmean", "zmin", "zmax", "zsum", "zstd", "zcount"))
      assert(df.schema.fields.drop(keys.size).map(_.dataType.simpleString).toSeq ==
        Seq("timestamp") ++ Seq.fill(5)("double") :+ "bigint")
      val got = df.collect().map { r =>
        val level = if (leveled) r.getInt(0) else 0
        val id = r.getLong(keys.size - 1)
        val day = r.getTimestamp(keys.size).toString.take(10)
        (level, id, day) -> (keys.size + 1 until keys.size + 7).map(i =>
          if (r.isNullAt(i)) None else Some(r.get(i).asInstanceOf[Number].doubleValue))
      }.toMap
      val want = reference(leveled)
      assert(got.size == shapes.size * days.size, s"leveled=$leveled")
      assert(got.keySet == want.keySet, s"leveled=$leveled")
      for ((k, w) <- want; (a, b) <- got(k).zip(w))
        assert(a.isDefined == b.isDefined && a.zip(b).forall { case (p, q) =>
          math.abs(p - q) <= 1e-9 * math.max(1.0, math.abs(q)) }, s"leveled=$leveled $k: ${got(k)} vs $w")
    }
  }

  test("a zonal request scans the pixels once in one Spark job") {
    for (leveled <- Seq(false, true)) {
      zonal(leveled).collect() // warm codegen and the store listing
      // the job runs inside the call, so the plans come from the SQL
      // executions it ran, not from the returned (local) frame
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
      val listener = new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          plans.add(qe.executedPlan)
        override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      val (_, jobs) =
        try jobsDuring(zonal(leveled).collect())
        finally spark.listenerManager.unregister(listener)
      assert(jobs == 1, s"leveled=$leveled: zonal ran $jobs jobs")
      val all = plans.asScala.toSeq
      assert(all.flatMap(collect(_) { case s: FileSourceScanExec => s }).size == 1, all.mkString("\n"))
      assert(all.flatMap(collect(_) {
        case j: BroadcastNestedLoopJoinExec => j
        case j: CartesianProductExec => j
      }).isEmpty, all.mkString("\n"))
    }
  }

  test("edges through pixel centres are covered, in zonal and area alike") {
    // a 5×5 grid of 1° pixels, all valid; the square covers centres
    // 0.5, 1.5 and 2.5 on both axes
    val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val px = (for (x <- 0 until 5; y <- 0 until 5) yield (t, y, x, 1.0 + x + y, x + 0.5, 4.5 - y))
      .toDF("t", "y", "x", "v", "lon", "lat")
    val wkt = "POLYGON((0.5 0.5, 2.5 0.5, 2.5 2.5, 0.5 2.5, 0.5 0.5))"
    val b = Seq((7L, wkt, 0.5, 0.5, 2.5, 2.5)).toDF("boundary_id", "geom_wkt", "bw", "bs", "be", "bn")
    val z = Zonal.zonalStats(px, b).collect()
    assert(z.map(_.getAs[Long]("zcount")).toSeq == Seq(9L))
    val a = Timeseries.area(px, wkt, (0.5, 0.5, 2.5, 2.5), "sum").collect()
    assert(a.map(r => (r.getLong(2), r.getDouble(1))).toSeq == Seq((9L, 45.0)))
  }
}
