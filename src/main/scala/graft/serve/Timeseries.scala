package graft.serve

import graft.ops.{Zonal, ZonalIndex}
import org.apache.spark.sql.{DataFrame, GraftShim, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, InterpretedOrdering,
  SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Read-side analysis entry points (reference
  * analysis/timeseries/service.py, §3.3): point and area time-series
  * over the long-form pixel cube.
  *
  * A series holds at most one row per timestep, so it is never ordered
  * with a global `orderBy`: a global sort runs a range-partitioner
  * sampling job that re-executes the whole scan just to order a handful
  * of rows. Both series run their one scan job when called and come
  * back as a local frame ordered on the driver: a point series through
  * `graft.model.collectUnderCap`, an area series through the zonal
  * reducer. Past its cap, each returns a frame sorted inside one
  * partition instead.
  */
object Timeseries {

  /** Nearest-pixel time series at (lat, lon): `t` and `v` of the pixel
    * holding the point, one row per stored timestep, in `t` order. Out-of-range and
    * infinite coordinates clamp to the grid edge; a NaN coordinate, a
    * pixel size ≤ 0 or a grid dimension ≤ 0 throws
    * IllegalArgumentException. The call runs its one Spark job when
    * made: up to `graft.model.DriverCap` rows come back as a local
    * frame, ordered on the driver; past it the frame is sorted inside
    * one partition. */
  def point(pixels: DataFrame, lat: Double, lon: Double,
            west: Double, north: Double, pw: Double, ph: Double,
            gridW: Int, gridH: Int): DataFrame =
    point(pixels, lat, lon, west, north, pw, ph, gridW, gridH, graft.model.DriverCap)

  /** [[point]] with its driver cap; `driverCap = 0` forces the
    * distributed sort for any non-empty series. */
  private[graft] def point(pixels: DataFrame, lat: Double, lon: Double,
                           west: Double, north: Double, pw: Double, ph: Double,
                           gridW: Int, gridH: Int, driverCap: Long): DataFrame = {
    require(!lat.isNaN && !lon.isNaN, s"point series at a NaN coordinate (lat=$lat, lon=$lon)")
    require(pw > 0 && ph > 0, s"pixel size must be positive (pw=$pw, ph=$ph)")
    require(gridW > 0 && gridH > 0, s"grid must be non-empty (gridW=$gridW, gridH=$gridH)")
    val cx = math.min(gridW - 1, math.max(0, math.floor((lon - west) / pw))).toInt
    val cy = math.min(gridH - 1, math.max(0, math.floor((north - lat) / ph))).toInt
    val series = pixels.filter(col("x") === cx && col("y") === cy).select(col("t"), col("v"))
    graft.model.collectUnderCap(series, driverCap) match {
      case Some(rows) =>
        // sortWithinPartitions' order: ascending, NULLs first (the sort is stable)
        val schema = series.schema
        val byT = new InterpretedOrdering(Seq(SortOrder(
          BoundReference(0, schema("t").dataType, nullable = true), Ascending)))
        val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
        val out = rows.toSeq.map(r => toInternal(r).asInstanceOf[InternalRow]).sorted(byT)
        GraftShim.ofRows(pixels.sparkSession, LocalRelation(DataTypeUtils.toAttributes(schema), out))
      case None =>
        // repartition, not coalesce: the scan stays parallel and only the
        // matching rows cross the one-partition exchange
        series.repartition(1).sortWithinPartitions(col("t"))
    }
  }

  /** Area time-series over a WKT polygon with an aggregation `how` ∈
    * {mean, sum, min, max, std}: the one-boundary case of the zonal
    * reducer (`Zonal.reduce`, whose [[ZonalIndex]] applies the closed
    * `bbox` before the pixel-centre `covers`). One row per timestep in
    * which the polygon covers a pixel, in time order: `value` is that
    * boundary's `zmean`/`zsum`/`zmin`/`zmax`/`zstd` (skipna semantics:
    * NULL pixels absent) and `n_pixels` its `zcount`. Like
    * `Zonal.zonalStats` it runs its Spark job when called, and an
    * integral `v` sums exactly while every partial sum stays within
    * ±2^53. */
  def area(pixels: DataFrame, wkt: String, bbox: (Double, Double, Double, Double),
           how: String): DataFrame =
    area(pixels, wkt, bbox, how, Zonal.DriverRows)

  /** [[area]] with the zonal reducer's cap; `driverCap = 0` forces the
    * distributed path. */
  private[graft] def area(pixels: DataFrame, wkt: String, bbox: (Double, Double, Double, Double),
                          how: String, driverCap: Long): DataFrame = {
    val stat = how match {
      case "mean" => "zmean"
      case "sum" => "zsum"
      case "min" => "zmin"
      case "max" => "zmax"
      case "std" => "zstd"
      case other => throw new IllegalArgumentException(s"how=$other")
    }
    val z = Zonal.reduce(pixels, ZonalIndex(Seq((wkt, bbox))), new StructType(), Seq(Row.empty),
      driverCap)
    val series = z.filter(col("zcount").isNotNull)
      .select(col("t"), col(stat).as("value"), col("zcount").as("n_pixels"))
    // the driver path's rows come in `t` order; the distributed path's
    // are ordered inside one partition
    if (z.isLocal) series else series.coalesce(1).sortWithinPartitions(col("t"))
  }
}
