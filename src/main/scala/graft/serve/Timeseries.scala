package graft.serve

import graft.ops.ZonalIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Read-side analysis entry points (reference
  * analysis/timeseries/service.py, §3.3): point and area time-series
  * over the long-form pixel cube. Predicates go bbox-first so they
  * reach the storage layer as sargable filters before any mask work.
  *
  * A series holds at most one row per timestep, so it is ordered inside
  * one partition rather than with a global `orderBy`: a global sort
  * runs a range-partitioner sampling job that re-executes the whole
  * scan just to order a handful of rows.
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
    * {mean, sum, min, max, std}: closed bbox prefilter → pixel-centre
    * `covers` (the zonal operator's [[ZonalIndex]]) → per-timestep reduce
    * (skipna semantics: NULL pixels absent). */
  def area(pixels: DataFrame, wkt: String,
           bbox: (Double, Double, Double, Double), how: String): DataFrame = {
    val (w, s, e, n) = bbox
    val masked = pixels
      .filter(col("lon") >= w && col("lon") <= e && col("lat") >= s && col("lat") <= n)
      .filter(size(ZonalIndex(Seq((wkt, bbox))).slotsOf(col("lon"), col("lat"))) > 0)
    val agg = how match {
      case "mean" => avg(col("v"))
      case "sum" => sum(col("v"))
      case "min" => min(col("v"))
      case "max" => max(col("v"))
      case "std" => stddev_pop(col("v"))
      case other => throw new IllegalArgumentException(s"how=$other")
    }
    masked.groupBy("t").agg(agg.as("value"), count(col("v")).as("n_pixels"))
      .coalesce(1).sortWithinPartitions(col("t"))
  }
}
