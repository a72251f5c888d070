package graft.grid

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Regridding library (SURVEY F14, reference geoprocessing/regrid.py:
  * 23-70 — resampling ∈ {nearest, bilinear, cubic, average}, NaN in/out).
  *
  * Bilinear and cubic share ONE plan shape: a small probe table
  * (target pixel → source pixel + integer kernel weight) built from
  * range()s, broadcast against the pixel table, then a single groupBy —
  * so the full grid is shuffled exactly once (for its own aggregation),
  * never per-corner. Missing source pixels simply don't match, which IS
  * the NaN-aware weight renormalization; an all-missing (or
  * cancelled-weight) neighbourhood yields den=0 and is dropped.
  *
  * Weights are quantized to integers (floor(w·2^20)) before the sum:
  * num and den are then exact BIGINT sums — distribution-order
  * independent and bit-identical in any engine — and the single final
  * num/den divide is one IEEE instruction on exactly-representable
  * operands. That is what lets a 16-term cubic convolution hash-match a
  * single-node oracle (ops/Exact.scala discipline).
  */
object Regrid {

  /** Weight quantum: 2^20 ≈ 1e-6 relative kernel precision. */
  val WQ = 1048576L

  /** Keys cubic kernel w(d), a=−0.5, as a SQL expression over `d` ≥ 0.
    * Shared verbatim between Spark (expr) and the DuckDB oracle. */
  def kernelSql(d: String): String =
    s"""(CASE WHEN $d < 1.0 THEN ((1.5 * $d - 2.5) * $d) * $d + 1.0
       |      WHEN $d < 2.0 THEN ((-0.5 * $d + 2.5) * $d - 4.0) * $d + 2.0
       |      ELSE 0.0 END)""".stripMargin.replace("\n", " ")

  private def targets(spark: SparkSession, srcW: Int, srcH: Int,
                      tgtW: Int, tgtH: Int): DataFrame = {
    val rx = srcW.toDouble / tgtW; val ry = srcH.toDouble / tgtH
    // one range + div/mod (not a crossJoin of two ranges) keeps even the
    // probe construction free of cartesian operators
    spark.range(tgtH.toLong * tgtW)
      .select(expr(s"CAST(id DIV $tgtW AS INT)").as("yt"),
        (col("id") % tgtW).cast("int").as("xt"))
      .withColumn("fx", (col("xt") + 0.5) * rx - 0.5)
      .withColumn("fy", (col("yt") + 0.5) * ry - 0.5)
  }

  /** Bilinear probe table: 4 (corner, weight) rows per target. Corners
    * are edge-clamped; a clamped pair collapses onto one source pixel
    * and the groupBy in [[probeResample]] adds their weights. */
  def bilinearProbes(spark: SparkSession, srcW: Int, srcH: Int,
                     tgtW: Int, tgtH: Int): DataFrame =
    bilinearFromF(targets(spark, srcW, srcH, tgtW, tgtH), srcW, srcH)

  /** Bilinear corners + quantized weights from any (yt, xt, fx, fy)
    * frame — shared by same-extent resampling and CRS reprojection. */
  private def bilinearFromF(tg: DataFrame, srcW: Int, srcH: Int): DataFrame = {
    val tc = tg
      .withColumn("x0", greatest(lit(0), floor(col("fx")).cast("int")))
      .withColumn("y0", greatest(lit(0), floor(col("fy")).cast("int")))
      .withColumn("x1", least(lit(srcW - 1), col("x0") + 1))
      .withColumn("y1", least(lit(srcH - 1), col("y0") + 1))
      .withColumn("wx", col("fx") - floor(col("fx")))
      .withColumn("wy", col("fy") - floor(col("fy")))
    def p(sx: Column, sy: Column, w: Column) =
      struct(sx.as("sx"), sy.as("sy"), floor(w * WQ).cast("long").as("wq"))
    tc.select(col("yt"), col("xt"), explode(array(
        p(col("x0"), col("y0"), (lit(1.0) - col("wx")) * (lit(1.0) - col("wy"))),
        p(col("x1"), col("y0"), col("wx") * (lit(1.0) - col("wy"))),
        p(col("x0"), col("y1"), (lit(1.0) - col("wx")) * col("wy")),
        p(col("x1"), col("y1"), col("wx") * col("wy")))).as("pr"))
      .select(col("yt"), col("xt"), col("pr.sx").as("sx"),
        col("pr.sy").as("sy"), col("pr.wq").as("wq"))
  }

  /** Quantize a fractional source coordinate to 2^-16 pixel so the
    * transcendental steps of an inverse projection (exp/atan) cannot
    * leak cross-engine ULP drift into kernel weights. floor(x·2^16+0.5)
    * (not round(): Spark's decimal-string rounding differs). */
  private def quantF(c: Column): Column = floor(c * 65536.0 + 0.5) / 65536.0

  /** Arbitrary-CRS regrid probe table (reference geoprocessing/
    * regrid.py:23-70 reprojects between any CRS pair): the target grid
    * lives in Web-Mercator meters (mw/mn origin, pxm/pym pixel size);
    * each target pixel CENTER inverse-projects into the 4326 source
    * frame (ops/Geo.scala mercator math) and gathers its bilinear
    * neighbourhood there. Same single-probe-join plan as every other
    * resampling — the projection only changes how probes are BUILT, and
    * the probe table stays tiny/broadcastable at any scale. */
  def reprojectProbes(spark: SparkSession, srcW: Int, srcH: Int,
                      srcWest: Double, srcNorth: Double,
                      pxDeg: Double, pyDeg: Double,
                      tgtW: Int, tgtH: Int,
                      mw: Double, mn: Double, pxm: Double, pym: Double): DataFrame = {
    val R = graft.ops.Geo.EarthR
    val tg = spark.range(tgtH.toLong * tgtW)
      .select(expr(s"CAST(id DIV $tgtW AS INT)").as("yt"),
        (col("id") % tgtW).cast("int").as("xt"))
      .withColumn("mx", lit(mw) + (col("xt") + 0.5) * pxm)
      .withColumn("my", lit(mn) - (col("yt") + 0.5) * pym)
      // inverse Web-Mercator (Geo.mercXToLon / mercYToLat inlined with
      // explicit degree arithmetic mirrored verbatim in the oracle SQL)
      .withColumn("lon", col("mx") / (R * math.Pi / 180.0))
      .withColumn("lat",
        (atan(exp(col("my") / R)) * 2 - math.Pi / 2) * (180.0 / math.Pi))
      .withColumn("fx", quantF((col("lon") - srcWest) / pxDeg - 0.5))
      .withColumn("fy", quantF((lit(srcNorth) - col("lat")) / pyDeg - 0.5))
    bilinearFromF(tg, srcW, srcH)
  }

  /** Fully general CRS probe builder: `inv` maps target projected
    * coordinates → (lon, lat) in the source frame — ANY projection with
    * an inverse plugs in (regrid.py:23-70 warps between any CRS pair).
    * The inverse runs as a deterministic UDF over the distributed
    * target-pixel range, so a continent-sized target grid builds its
    * probes in parallel; the probe table remains tiny relative to the
    * pixel data and broadcasts into the same single-join resample. */
  def reprojectProbesGeneric(spark: SparkSession, srcW: Int, srcH: Int,
                             srcWest: Double, srcNorth: Double,
                             pxDeg: Double, pyDeg: Double,
                             tgtW: Int, tgtH: Int,
                             mw: Double, mn: Double, pxm: Double, pym: Double,
                             inv: (Double, Double) => (Double, Double)): DataFrame = {
    val invUdf = udf { (mx: Double, my: Double) =>
      val (lon, lat) = inv(mx, my); Array(lon, lat)
    }
    val tg = spark.range(tgtH.toLong * tgtW)
      .select(expr(s"CAST(id DIV $tgtW AS INT)").as("yt"),
        (col("id") % tgtW).cast("int").as("xt"))
      .withColumn("mx", lit(mw) + (col("xt") + 0.5) * pxm)
      .withColumn("my", lit(mn) - (col("yt") + 0.5) * pym)
      .withColumn("ll", invUdf(col("mx"), col("my")))
      .withColumn("fx", quantF((col("ll").getItem(0) - srcWest) / pxDeg - 0.5))
      .withColumn("fy", quantF((lit(srcNorth) - col("ll").getItem(1)) / pyDeg - 0.5))
    bilinearFromF(tg, srcW, srcH)
  }

  /** Driver-side twin of [[reprojectProbesGeneric]] for oracle
    * generation at test scale: the same arithmetic over the same
    * doubles (same JVM), yielding literal (yt, xt, sy, sx, wq) rows a
    * SQL oracle can consume as VALUES. */
  def reprojectProbesLocal(srcW: Int, srcH: Int,
                           srcWest: Double, srcNorth: Double,
                           pxDeg: Double, pyDeg: Double,
                           tgtW: Int, tgtH: Int,
                           mw: Double, mn: Double, pxm: Double, pym: Double,
                           inv: (Double, Double) => (Double, Double)): Seq[(Int, Int, Int, Int, Long)] = {
    def quant(x: Double) = math.floor(x * 65536.0 + 0.5) / 65536.0
    for {
      yt <- 0 until tgtH
      xt <- 0 until tgtW
      (lon, lat) = inv(mw + (xt + 0.5) * pxm, mn - (yt + 0.5) * pym)
      fx = quant((lon - srcWest) / pxDeg - 0.5)
      fy = quant((srcNorth - lat) / pyDeg - 0.5)
      x0 = math.max(0, math.floor(fx).toInt)
      y0 = math.max(0, math.floor(fy).toInt)
      x1 = math.min(srcW - 1, x0 + 1)
      y1 = math.min(srcH - 1, y0 + 1)
      wx = fx - math.floor(fx); wy = fy - math.floor(fy)
      (sx, sy, w) <- Seq(
        (x0, y0, (1.0 - wx) * (1.0 - wy)), (x1, y0, wx * (1.0 - wy)),
        (x0, y1, (1.0 - wx) * wy), (x1, y1, wx * wy))
    } yield (yt, xt, sy, sx, math.floor(w * WQ).toLong)
  }

  /** Cubic probe table: up to 16 (source pixel, weight) rows per target
    * (Keys kernel per axis, product quantized); out-of-bounds support
    * pixels are dropped, which renormalizes at the edges. */
  def cubicProbes(spark: SparkSession, srcW: Int, srcH: Int,
                  tgtW: Int, tgtH: Int): DataFrame = {
    targets(spark, srcW, srcH, tgtW, tgtH)
      .withColumn("dy", explode(sequence(lit(-1), lit(2))))
      .withColumn("dx", explode(sequence(lit(-1), lit(2))))
      .withColumn("sx", floor(col("fx")).cast("int") + col("dx"))
      .withColumn("sy", floor(col("fy")).cast("int") + col("dy"))
      .filter(col("sx") >= 0 && col("sx") < srcW && col("sy") >= 0 && col("sy") < srcH)
      .withColumn("wx", expr(kernelSql("abs(fx - sx)")))
      .withColumn("wy", expr(kernelSql("abs(fy - sy)")))
      .withColumn("wq", floor(col("wx") * col("wy") * WQ).cast("long"))
      .select("yt", "xt", "sy", "sx", "wq")
  }

  /** Resample a long-form grid (t, y, x, v) with a probe table
    * (yt, xt, sy, sx, wq): ONE equi-join + ONE aggregation. v must be
    * integer-valued (the cube's contract) so num is an exact BIGINT
    * sum. Returns (t, yt, xt, v).
    *
    * No broadcast hint: the join strategy is a SIZE decision, not a
    * shape invariant. Config-scale probe tables (small targets,
    * literal-backed) broadcast on their own statistics; a continental
    * target (7200×3600 ≈ 26M targets, ×4–16 rows/pixel) must NOT be
    * forced into a grid-sized broadcast — the planner sort-merges or
    * shuffle-hashes on the (sy, sx) pixel key instead, which is also
    * the tile key's refinement, so a tiled source layout co-locates.
    * SCALE.md records the large-target path's plan at a 7200×3600 target. */
  def probeResample(grid: DataFrame, probes: DataFrame): DataFrame =
    grid.join(probes, col("y") === col("sy") && col("x") === col("sx"))
      .groupBy("t", "yt", "xt")
      .agg(sum(col("wq") * col("v").cast("long")).as("num"),
        sum(col("wq")).as("den"))
      .filter(col("den") =!= 0L)
      .select(col("t"), col("yt"), col("xt"),
        (col("num").cast("double") / col("den").cast("double")).as("v"))

  /** Bilinear-resample srcW×srcH → tgtW×tgtH (same extent). */
  def bilinear(spark: SparkSession, grid: DataFrame,
               srcW: Int, srcH: Int, tgtW: Int, tgtH: Int): DataFrame =
    probeResample(grid, bilinearProbes(spark, srcW, srcH, tgtW, tgtH))

  /** Cubic-resample srcW×srcH → tgtW×tgtH (same extent). */
  def cubic(spark: SparkSession, grid: DataFrame,
            srcW: Int, srcH: Int, tgtW: Int, tgtH: Int): DataFrame =
    probeResample(grid, cubicProbes(spark, srcW, srcH, tgtW, tgtH))
}
