package graft.ops

import graft.functions.SlotStats
import org.apache.spark.sql.{Column, DataFrame, GraftShim, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructType}

/** Zonal statistics over arbitrary geometries (SURVEY J1/A2; reference
  * geoprocessing/zonal.py:41-134).
  *
  * Plan shape: one pixel scan, one exchange, two Spark jobs.
  *  1. the boundary frame is collected (a local frame collects
  *     without a job) into a [[ZonalIndex]]: one slot per
  *     boundary, a closed envelope and a lazily parsed prepared geometry;
  *  2. each pixel gets the slots whose geometry covers its centre,
  *     boundary-inclusive — a per-pixel index lookup, not a join;
  *  3. one [[SlotStats]] aggregate grouped by `t` reduces every slot at
  *     once (map-side partials, one exchange keyed by `t`), so each
  *     timestep present yields every boundary's row, all NULL where the
  *     boundary covers no pixel (the reference's outer-join-like
  *     contract);
  *  4. the per-`t` slot array is exploded and the boundary keys are
  *     attached from a literal array — no join.
  */
object Zonal {

  /** boundaries: (boundary_id, geom_wkt, bw, bs, be, bn). Pixels:
    * (t, y, x, v, lon, lat). Returns per (boundary_id, t) stats with
    * all-NULL rows for empty intersections. */
  def zonalStats(pixels: DataFrame, boundaries: DataFrame): DataFrame =
    zonalStatsKeyed(pixels, boundaries, Seq("boundary_id"))

  /** Multi-level variant (core/models/collection.py:41
    * `boundary_stats_levels`, analysis/zonal_stats/service.py:158-175):
    * the boundary table carries a `level` column (admin level 0/1/2…)
    * and one granule fans out into per-(level, boundary, t) gold rows.
    * Every level's boundaries are slots of one index — the level is just
    * part of the key, so the pixel scan is paid once, not per level. */
  def zonalStatsLeveled(pixels: DataFrame, leveledBoundaries: DataFrame): DataFrame =
    zonalStatsKeyed(pixels, leveledBoundaries, Seq("level", "boundary_id"))

  private def zonalStatsKeyed(pixels: DataFrame, boundaries: DataFrame,
                              keys: Seq[String]): DataFrame = {
    val local = boundaries.select((keys ++ Seq("geom_wkt", "bw", "bs", "be", "bn")).map(col): _*)
    val rows = local.collect().toSeq
    val k = keys.size
    def coord(r: Row, i: Int) =
      if (r.isNullAt(k + i)) Double.NaN else r.getAs[Number](k + i).doubleValue
    val index = ZonalIndex(rows.map(r =>
      (r.getString(k), (coord(r, 1), coord(r, 2), coord(r, 3), coord(r, 4)))))
    val keyArray = GraftShim.column(Literal.create(
      rows.map(r => Row.fromSeq(r.toSeq.take(k))), ArrayType(StructType(local.schema.take(k)))))
    // the stats keep the types avg/min/max/sum/stddev_pop give over `v`
    val vType = pixels.schema("v").dataType
    val sumType = pixels.select(sum(col("v"))).schema.head.dataType
    pixels
      .groupBy("t")
      .agg(SlotStats.slotStats(index.slotsOf(col("lon"), col("lat")),
        col("v").cast("double"), index.size).as("z"))
      .select(col("t"), posexplode(col("z")).as(Seq("slot", "z")))
      .select(keys.map(key => element_at(keyArray, col("slot") + 1).getField(key).as(key)) ++
        Seq(col("t"), col("z.zmean"), col("z.zmin").cast(vType).as("zmin"),
          col("z.zmax").cast(vType).as("zmax"), col("z.zsum").cast(sumType).as("zsum"),
          col("z.zstd"), col("z.zcount")): _*)
  }

  /** Pixel-centre `covers` against one literal WKT geometry (invalid
    * WKT ⇒ false, as the reference skips invalid geometries,
    * zonal.py:108-117). */
  def containsPoint(wkt: Column, x: Column, y: Column): Column =
    GraftShim.literalValue(wkt) match {
      case Some(w: String) =>
        val inf = Double.PositiveInfinity
        size(ZonalIndex(Seq((w, (-inf, -inf, inf, inf)))).slotsOf(x, y)) > 0
      case _ =>
        throw new IllegalArgumentException(
          s"containsPoint takes a literal WKT, not $wkt; use zonalStats for a boundary frame")
    }
}
