package graft.ops

import scala.collection.mutable

import graft.functions.SlotStats
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, GraftShim, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, JoinedRow, Literal,
  RowOrdering, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Zonal statistics over arbitrary geometries (SURVEY J1/A2; reference
  * geoprocessing/zonal.py:41-134).
  *
  * Plan shape: one pixel scan, one Spark job, reduced on the driver.
  *  1. the boundary frame is collected (a local frame collects
  *     without a job) into a [[ZonalIndex]]: one slot per
  *     boundary, a closed envelope and a lazily parsed prepared geometry;
  *  2. the index is broadcast once, and each task of the scan job folds
  *     every pixel into the slots whose geometry covers its centre,
  *     boundary-inclusive ([[ZonalIndex.foreachSlot]] inside the task's
  *     loop: no UDF, no per-row slot array, no join), building a partial
  *     timestep → slot → [[SlotStats.Acc]] map (every timestep it saw
  *     gets an entry, even one that reached no slot);
  *  3. the driver merges the partials in partition order, so the doubles
  *     repeat bit for bit from run to run;
  *  4. the driver emits every (boundary, timestep) row of the timesteps
  *     present, all NULL where the boundary covers no pixel (the
  *     reference's outer-join-like contract), as a local frame ordered
  *     by timestep, then slot.
  *
  * The driver path holds one accumulator per result row, at most
  * [[DriverRows]]. Each task gets its share of that cap
  * ([[graft.model.perPartition]]), so the scan job ships at most about
  * twice the cap in accumulators however many partitions it has. A task
  * whose partial would pass its share ships a marker instead; if a
  * marker arrives or the merged map passes the cap, the driver drops
  * what it holds and returns the distributed path: one [[SlotStats]]
  * aggregate grouped by `t` (map-side partials, one exchange keyed by
  * `t`) over the slot array of [[ZonalIndex.slotsOf]], whose per-`t`
  * result is exploded, keys attached from a literal array. The scan job
  * is then wasted, though each task stops reading at its marker. More
  * boundaries than the cap go there directly, without the scan job.
  *
  * The call is eager: the scan job runs when `zonalStats` is called, not
  * when its result is collected.
  */
object Zonal {

  /** Most result rows, one (timestep, boundary) accumulator each, that
    * the driver path merges and returns. Measured on 1,200 boundaries ×
    * 1–40 timesteps (SCALE.md, "Zonal and area requests: one Spark
    * job"): it beats the distributed aggregate up to ~12K rows and loses
    * past ~24K, because the merge and the local frame's rows are built
    * on one driver thread; that frame retains ~150 bytes per row, so
    * ~2.5 MB at this cap. */
  val DriverRows: Long = 1L << 14

  /** boundaries: (boundary_id, geom_wkt, bw, bs, be, bn). Pixels:
    * (t, y, x, v, lon, lat). Returns per (boundary_id, t) stats with
    * all-NULL rows for empty intersections. Runs its Spark job now. */
  def zonalStats(pixels: DataFrame, boundaries: DataFrame): DataFrame =
    zonalStatsKeyed(pixels, boundaries, Seq("boundary_id"), DriverRows)

  /** Multi-level variant (core/models/collection.py:41
    * `boundary_stats_levels`, analysis/zonal_stats/service.py:158-175):
    * the boundary table carries a `level` column (admin level 0/1/2…)
    * and one granule fans out into per-(level, boundary, t) gold rows.
    * Every level's boundaries are slots of one index — the level is just
    * part of the key, so the pixel scan is paid once, not per level. */
  def zonalStatsLeveled(pixels: DataFrame, leveledBoundaries: DataFrame): DataFrame =
    zonalStatsKeyed(pixels, leveledBoundaries, Seq("level", "boundary_id"), DriverRows)

  /** Stats per (`keys`, t) through [[reduce]]; `driverCap = 0` forces the
    * distributed path. */
  private[graft] def zonalStatsKeyed(pixels: DataFrame, boundaries: DataFrame,
                                     keys: Seq[String], driverCap: Long): DataFrame = {
    val local = boundaries.select((keys ++ Seq("geom_wkt", "bw", "bs", "be", "bn")).map(col): _*)
    val rows = local.collect().toSeq
    val k = keys.size
    def coord(r: Row, i: Int) =
      if (r.isNullAt(k + i)) Double.NaN else r.getAs[Number](k + i).doubleValue
    val index = ZonalIndex(rows.map(r =>
      (r.getString(k), (coord(r, 1), coord(r, 2), coord(r, 3), coord(r, 4)))))
    reduce(pixels, index, StructType(local.schema.take(k)),
      rows.map(r => Row.fromSeq(r.toSeq.take(k))), driverCap)
  }

  /** Per (slot, timestep) stats of `pixels` over the slots of `index`:
    * the slot's `keys` row, `t`, then `zmean`, `zmin`/`zmax` in `v`'s
    * type, `zsum` in `sum(v)`'s type, `zstd` and `zcount`. Sums and
    * moments run in double, so an integral `v` sums exactly while every
    * partial sum stays within ±2^53. The driver path returns a local
    * frame (`isLocal`) whose rows are ordered by `t`, then slot. */
  private[graft] def reduce(pixels: DataFrame, index: ZonalIndex, keySchema: StructType,
                            keys: Seq[Row], driverCap: Long): DataFrame = {
    val tField = pixels.schema("t")
    val vType = pixels.schema("v").dataType
    val sumType = pixels.select(sum(col("v"))).schema.head.dataType
    val v = col("v").cast("double")
    val onDriver =
      if (driverCap > 0 && index.size <= driverCap)
        merged(pixels.select(col("t"), col("lon").cast("double"), col("lat").cast("double"), v),
          index, driverCap)
      else None
    onDriver match {
      case Some(byT) =>
        val schema = StructType(keySchema.fields ++ Seq(tField,
          StructField("zmean", DoubleType), StructField("zmin", vType),
          StructField("zmax", vType), StructField("zsum", sumType),
          StructField("zstd", DoubleType), StructField("zcount", LongType)))
        // input (keys, t, SlotStats.stats) → output, casting as the
        // distributed path's select does
        val k = keySchema.size
        val inTypes = keySchema.map(_.dataType) ++ (tField.dataType +: SlotStats.schema.map(_.dataType))
        def in(i: Int) = BoundReference(i, inTypes(i), nullable = true)
        val tz = Some(SQLConf.get.sessionLocalTimeZone)
        val project = UnsafeProjection.create((0 to k + 1).map(in) ++ Seq(
          Cast(in(k + 2), vType, tz), Cast(in(k + 3), vType, tz), Cast(in(k + 4), sumType, tz),
          in(k + 5), in(k + 6)))
        val toInternal = CatalystTypeConverters.createToCatalystConverter(keySchema)
        val keyRows = keys.map(r => toInternal(r).asInstanceOf[InternalRow])
        val ts = byT.keys.toSeq.sorted(RowOrdering.createNaturalAscendingOrdering(Seq(tField.dataType)))
        val out = for (t <- ts; accs = byT(t); slot <- 0 until index.size) yield
          project(new JoinedRow(new JoinedRow(keyRows(slot), t),
            SlotStats.stats(accs.getOrNull(slot.toLong)))).copy()
        GraftShim.ofRows(pixels.sparkSession,
          LocalRelation(DataTypeUtils.toAttributes(schema), out))
      case None =>
        val slots = index.slotsOf(col("lon"), col("lat"))
        val keyArray = GraftShim.column(Literal.create(keys, ArrayType(keySchema)))
        pixels
          .groupBy("t")
          .agg(SlotStats.slotStats(slots, v, index.size).as("z"))
          .select(col("t"), posexplode(col("z")).as(Seq("slot", "z")))
          .select(keySchema.fieldNames.toSeq.map(key =>
              element_at(keyArray, col("slot") + 1).getField(key).as(key)) ++
            Seq(col("t"), col("z.zmean"), col("z.zmin").cast(vType).as("zmin"),
              col("z.zmax").cast(vType).as("zmax"), col("z.zsum").cast(sumType).as("zsum"),
              col("z.zstd"), col("z.zcount")): _*)
    }
  }

  private type Partial = mutable.LongMap[SlotStats.Acc]

  /** Runs `scan` (t, lon, lat, v, all but t as double) as one job that
    * broadcasts `index` once, destroyed when the job ends, and merges
    * the task partials on the driver, in partition order: t (a
    * one-field row) → slot → accumulator. None once a task's timesteps × slots pass its share of
    * `cap`, or the merged ones pass `cap`. */
  private def merged(scan: DataFrame, index: ZonalIndex,
                     cap: Long): Option[mutable.HashMap[UnsafeRow, Partial]] = {
    val tType = scan.schema.head.dataType
    val bc = scan.sparkSession.sparkContext.broadcast(index)
    val parts =
      try graft.model.perPartition(scan, "zonal", cap)(partial(tType, bc))
      finally bc.destroy()
    if (parts.exists(_.isEmpty)) None
    else {
      val byT = mutable.HashMap.empty[UnsafeRow, Partial]
      for (part <- parts; (t, bytes) <- part.get) {
        val accs = SlotStats.decode(bytes)
        byT.get(t) match {
          case Some(mine) => SlotStats.mergeInto(mine, accs)
          case None => byT.update(t, accs)
        }
      }
      if (byT.size.toLong * index.size > cap) None else Some(byT)
    }
  }

  /** Adds one pixel's value to each slot it is called with, in the
    * current timestep's accumulators: the task loop's slot visitor, one
    * per task, so a pixel allocates nothing. */
  private final class Fold extends (Int => Unit) {
    var accs: Partial = _
    var hasV = false
    var v = 0.0
    def apply(slot: Int): Unit = {
      val acc = accs.getOrElseUpdate(slot.toLong, new SlotStats.Acc)
      if (hasV) acc.add(v)
    }
  }

  /** One task's partial, each timestep's accumulators encoded as
    * [[SlotStats.encode]] does; None (the marker) once its timesteps ×
    * slots pass `share`. Each pixel is folded into the slots covering
    * its centre by [[ZonalIndex.foreachSlot]], inside this loop. Rows of
    * one timestep mostly come together, so `t`'s projection is compared
    * with the last one and copied only when it changes. */
  private def partial(tType: DataType, index: Broadcast[ZonalIndex])(share: Long,
      rows: Iterator[InternalRow]): Option[Array[(UnsafeRow, Array[Byte])]] = {
    val idx = index.value
    val nSlots = idx.size
    val tOf = UnsafeProjection.create(Seq(BoundReference(0, tType, nullable = true)))
    val byT = mutable.LinkedHashMap.empty[UnsafeRow, Partial]
    val fold = new Fold
    var lastT: UnsafeRow = null
    while (rows.hasNext) {
      val r = rows.next()
      val t = tOf(r)
      if (lastT == null || t != lastT) {
        lastT = t.copy()
        fold.accs = byT.getOrElse(lastT, null)
        if (fold.accs == null) {
          if ((byT.size + 1L) * nSlots > share) return None
          fold.accs = mutable.LongMap.empty
          byT.update(lastT, fold.accs)
        }
      }
      if (!r.isNullAt(1) && !r.isNullAt(2)) {
        fold.hasV = !r.isNullAt(3)
        fold.v = if (fold.hasV) r.getDouble(3) else 0.0
        idx.foreachSlot(r.getDouble(1), r.getDouble(2))(fold)
      }
    }
    Some(byT.iterator.map { case (t, m) => (t, SlotStats.encode(m)) }.toArray)
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
