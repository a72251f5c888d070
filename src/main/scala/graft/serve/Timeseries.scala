package graft.serve

import graft.ops.{Zonal, ZonalIndex}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Read-side analysis entry points (reference
  * analysis/timeseries/service.py, §3.3): point and area time-series
  * over the long-form pixel cube.
  *
  * A series holds at most one row per timestep, so it is never ordered
  * with a global `orderBy`: a global sort runs a range-partitioner
  * sampling job that re-executes the whole scan just to order a handful
  * of rows. A point series sorts inside one partition; an area series
  * comes sorted from the zonal reducer's driver path, and past its cap
  * sorts inside one partition too.
  */
object Timeseries {

  /** Nearest-pixel time series at (lat, lon). */
  def point(pixels: DataFrame, lat: Double, lon: Double,
            west: Double, north: Double, pw: Double, ph: Double,
            gridW: Int, gridH: Int): DataFrame = {
    val cx = math.min(gridW - 1, math.max(0, math.floor((lon - west) / pw))).toInt
    val cy = math.min(gridH - 1, math.max(0, math.floor((north - lat) / ph))).toInt
    // repartition, not coalesce: the scan stays parallel and only the
    // matching rows cross the one-partition exchange
    pixels.filter(col("x") === cx && col("y") === cy)
      .select(col("t"), col("v"))
      .repartition(1).sortWithinPartitions(col("t"))
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
