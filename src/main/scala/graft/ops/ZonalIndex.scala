package graft.ops

import java.util.concurrent.atomic.AtomicReferenceArray

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.udf
import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}
import org.locationtech.jts.io.WKTReader

/** The engine's one point-in-polygon path: which boundaries cover a
  * pixel centre (JTS `covers`, so boundary-inclusive like the
  * reference's rasterize mask, geoprocessing/zonal.py:30-38).
  *
  * Each boundary is a slot holding its WKT and a closed envelope
  * (w, s, e, n): a point covers only if it lies inside the envelope,
  * edges included, and the geometry covers it. The envelope is the
  * caller's bbox, so it must enclose the geometry for the answer to be
  * exact. A NULL or unparseable WKT, or a NULL/NaN envelope, covers
  * nothing.
  *
  * Candidates come from a uniform bucket grid over the union of the
  * envelopes, built before any task runs (CSR arrays: `cellStart`
  * offsets into `cellSlots`, each cell's slots ascending), so a lookup
  * tests only the slots whose envelope shares the point's cell, not every
  * boundary. [[foreachSlot]] is that lookup: it allocates no array, so
  * the zonal reducer calls it inside its task loop, once per pixel;
  * [[slots]] and the [[slotsOf]] column collect its visits. Geometries
  * are parsed into JTS prepared geometries lazily, per slot, the first
  * time a point falls inside that slot's envelope; the index is
  * broadcast (by the reducer, or by [[slotsOf]]), so an executor parses
  * each geometry once, not once per task.
  */
final class ZonalIndex private (
    wkts: Array[String],
    west: Array[Double], south: Array[Double], east: Array[Double], north: Array[Double],
    x0: Double, y0: Double, x1: Double, y1: Double, nx: Int, ny: Int,
    cellStart: Array[Int], cellSlots: Array[Int]) extends Serializable {

  def size: Int = wkts.length

  /** Per slot: null until first needed, then the parsed geometry, or
    * None when the WKT is NULL or does not parse. */
  @transient private lazy val prepared = new AtomicReferenceArray[Option[PreparedGeometry]](size)
  @transient private lazy val factory = new GeometryFactory()

  /** Two threads may parse the same slot once each; both results are equal. */
  private def geometry(slot: Int): Option[PreparedGeometry] = {
    val g = prepared.get(slot)
    if (g != null) g
    else {
      val parsed =
        try Some(PreparedGeometryFactory.prepare(new WKTReader(factory).read(wkts(slot))))
        catch { case _: Exception => None }
      prepared.set(slot, parsed)
      parsed
    }
  }

  private def coversAt(slot: Int, x: Double, y: Double): Boolean =
    x >= west(slot) && x <= east(slot) && y >= south(slot) && y <= north(slot) &&
      geometry(slot).exists { g =>
        try g.covers(factory.createPoint(new Coordinate(x, y)))
        catch { case _: Exception => false }
      }

  /** Calls `f` with each slot covering (x, y), in ascending order. Off
    * the grid (NaN included) it calls nothing. */
  def foreachSlot(x: Double, y: Double)(f: Int => Unit): Unit =
    if (x >= x0 && x <= x1 && y >= y0 && y <= y1) {
      val c = ZonalIndex.cell(y, y0, y1, ny) * nx + ZonalIndex.cell(x, x0, x1, nx)
      var i = cellStart(c)
      val until = cellStart(c + 1)
      while (i < until) {
        val slot = cellSlots(i)
        if (coversAt(slot, x, y)) f(slot)
        i += 1
      }
    }

  /** Slots covering (x, y), ascending. */
  def slots(x: Double, y: Double): Array[Int] = {
    val out = Array.newBuilder[Int]
    foreachSlot(x, y)(out += _)
    out.result()
  }

  /** `array<int>` column: the slots covering each (lon, lat). */
  def slotsOf(lon: Column, lat: Column): Column = {
    val bc = SparkSession.active.sparkContext.broadcast(this)
    udf((x: Double, y: Double) => bc.value.slots(x, y)).apply(lon, lat)
  }
}

object ZonalIndex {
  /** The bucket grid has at most this many cells per axis. */
  private val MaxCells = 256

  /** Cell of `v` on the axis [lo, hi] cut into `n` equal cells; `v` is
    * within the axis. Monotone in `v`, so an envelope's cells span every
    * cell a point inside it can fall in. */
  private def cell(v: Double, lo: Double, hi: Double, n: Int): Int =
    if (n == 1) 0 else math.min(n - 1, ((v - lo) / (hi - lo) * n).toInt)

  /** One slot per (WKT, closed envelope (w, s, e, n)), in order. */
  def apply(boundaries: Seq[(String, (Double, Double, Double, Double))]): ZonalIndex = {
    val wkts = boundaries.map(_._1).toArray
    val west = boundaries.map(_._2._1).toArray; val south = boundaries.map(_._2._2).toArray
    val east = boundaries.map(_._2._3).toArray; val north = boundaries.map(_._2._4).toArray
    // NaN fails every comparison, so a NULL (NaN) envelope is not live
    val live = wkts.indices.filter(i => wkts(i) != null && west(i) <= east(i) && south(i) <= north(i))
    def build(x0: Double, y0: Double, x1: Double, y1: Double, nx: Int, ny: Int,
              cells: Array[Array[Int]]) =
      new ZonalIndex(wkts, west, south, east, north, x0, y0, x1, y1, nx, ny,
        cells.scanLeft(0)(_ + _.length), cells.flatten)
    if (live.isEmpty) return build(0, 0, 0, 0, 1, 1, Array(Array.emptyIntArray))
    val (x0, x1) = (live.map(west).min, live.map(east).max)
    val (y0, y1) = (live.map(south).min, live.map(north).max)
    // about one envelope per cell for a tiling of boundaries; an infinite
    // or empty extent gets a single cell
    def axis(span: Double) =
      if (span > 0 && !span.isInfinite)
        math.min(MaxCells, math.ceil(math.sqrt(live.size.toDouble)).toInt) else 1
    val (nx, ny) = (axis(x1 - x0), axis(y1 - y0))
    val per = Array.fill(nx * ny)(Array.newBuilder[Int])
    for (i <- live; cy <- cell(south(i), y0, y1, ny) to cell(north(i), y0, y1, ny);
         cx <- cell(west(i), x0, x1, nx) to cell(east(i), x0, x1, nx))
      per(cy * nx + cx) += i
    build(x0, y0, x1, y1, nx, ny, per.map(_.result()))
  }
}
