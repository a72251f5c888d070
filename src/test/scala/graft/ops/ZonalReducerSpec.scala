package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, date_add, date_format, lit}
import org.apache.spark.sql.types.{DateType, StringType}
import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory}
import org.locationtech.jts.io.WKTReader
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The zonal reducer against brute force: over random pixels (NULL
  * values, missing rows, empty input, timesteps no boundary reaches),
  * random boundary sets (off-grid, NULL and unparseable WKT, NULL
  * envelopes, levels whose ids repeat) and random task splits, the
  * driver path, the distributed path (`driverCap = 0`) and a plain-Scala
  * reference give the same rows. */
class ZonalReducerSpec extends SparkSpec {
  import spark.implicits._

  // 6×5 grid of 1° pixels, west edge 0, north edge 5
  private val (gw, gh) = (6, 5)
  private val factory = new GeometryFactory()
  private def parse(wkt: String): Option[Geometry] =
    try Option(wkt).map(new WKTReader(factory).read) catch { case _: Exception => None }

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(801L + i)))

  /** (t, x, y, v, lon, lat). Timestep 3 is all NULL; timestep 7 has only
    * stray pixels far off every boundary. */
  private type Pixel = (Int, Int, Int, Option[Double], Double, Double)
  private val pixelsGen: Gen[Seq[Pixel]] = Gen.frequency(1 -> Gen.const(Nil), 6 -> (for {
    ts <- Gen.someOf(0 to 3)
    keep <- Gen.listOfN(ts.size * gw * gh, Gen.frequency(5 -> true, 1 -> false))
    vs <- Gen.listOfN(ts.size * gw * gh,
      Gen.frequency(1 -> Gen.const(None), 4 -> Gen.choose(-200, 200).map(i => Some(i * 0.25))))
    stray <- Gen.choose(0, 2)
  } yield {
    val grid = for (t <- ts.toSeq.sorted; y <- 0 until gh; x <- 0 until gw) yield (t, x, y)
    grid.zip(keep.zip(vs)).collect { case ((t, x, y), (true, v)) =>
      (t, x, y, if (t == 3) None else v, x + 0.5, gh - y - 0.5)
    } ++ (0 until stray).map(i => (7, -100, i, Some(1.0), -100.5, -50.0 - i))
  }))

  private val coord: Gen[Double] = Gen.choose(-2, 2 * gw + 2).map(_ * 0.5)
  private def ring(pts: Seq[(Double, Double)]) =
    (pts :+ pts.head).map { case (x, y) => s"$x $y" }.mkString("((", ", ", "))")

  /** (WKT, envelope or None for a NULL one). */
  private val boundaryGen: Gen[(String, Option[(Double, Double, Double, Double)])] = {
    val box = for { x <- coord; y <- coord; w <- Gen.choose(1, 8); h <- Gen.choose(1, 8) }
      yield "POLYGON" + ring(Seq((x, y), (x + w * 0.5, y), (x + w * 0.5, y + h * 0.5), (x, y + h * 0.5)))
    val triangle = Gen.listOfN(3, Gen.zip(coord, coord)).map(p => "POLYGON" + ring(p))
      .retryUntil(parse(_).exists(_.isValid))
    val offGrid = Gen.choose(100, 120).map(x => s"POLYGON((${x} 10, ${x + 5} 10, ${x + 5} 15, ${x} 10))")
    for {
      wkt <- Gen.frequency(4 -> box, 3 -> triangle, 1 -> offGrid,
        1 -> Gen.oneOf(null, "not valid wkt", "POLYGON((0 0, 4 0"))
      nullEnvelope <- Gen.frequency(8 -> false, 1 -> true)
    } yield (wkt, if (nullEnvelope) None else Some(parse(wkt).map(_.getEnvelopeInternal)
      .map(e => (e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)).getOrElse((0.0, 0.0, gw.toDouble, gh.toDouble))))
  }

  private val caseGen = for {
    px <- pixelsGen
    bs <- Gen.choose(0, 5).flatMap(Gen.listOfN(_, boundaryGen))
    split <- Gen.choose(1, 5)
  } yield (px, bs, split)

  private val day0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private def ts(t: Int) = new java.sql.Timestamp(day0 + t * 86400000L)

  private val date0 = java.time.LocalDate.of(2024, 1, 1)

  /** The pixels with `t` as a TIMESTAMP, or as a DATE or a STRING where
    * `tKind` says so. */
  private def pixelFrame(px: Seq[Pixel], tKind: String = "timestamp"): DataFrame =
    if (tKind == "timestamp")
      px.map { case (t, x, y, v, lon, lat) => (ts(t), y, x, v, lon, lat) }
        .toDF("t", "y", "x", "v", "lon", "lat")
    else {
      val day = date_add(lit(java.sql.Date.valueOf(date0)), col("t"))
      px.toDF("t", "x", "y", "v", "lon", "lat").select(
        (if (tKind == "date") day else date_format(day, "yyyy-MM-dd")).as("t"),
        col("y"), col("x"), col("v"), col("lon"), col("lat"))
    }

  private def timestep(r: Row, i: Int): Int = r.get(i) match {
    case t: java.sql.Timestamp => ((t.getTime - day0) / 86400000L).toInt
    case d: java.sql.Date => (d.toLocalDate.toEpochDay - date0.toEpochDay).toInt
    case s: String => (java.time.LocalDate.parse(s).toEpochDay - date0.toEpochDay).toInt
  }

  /** Boundary i's key: (i % 2, i / 2) when leveled, so ids repeat across
    * levels; (0, i) otherwise. */
  private def key(i: Int, leveled: Boolean): (Int, Long) =
    if (leveled) (i % 2, (i / 2).toLong) else (0, i.toLong)

  private def boundaryFrame(bs: Seq[(String, Option[(Double, Double, Double, Double)])],
                            leveled: Boolean): DataFrame = {
    val df = bs.zipWithIndex.map { case ((wkt, env), i) =>
      val (level, id) = key(i, leveled)
      (level, id, wkt, env.map(_._1), env.map(_._2), env.map(_._3), env.map(_._4))
    }.toDF("level", "boundary_id", "geom_wkt", "bw", "bs", "be", "bn")
    if (leveled) df else df.drop("level")
  }

  /** (mean, min, max, sum, std, count) and the number of pixel rows
    * covered, per (level, id, t). */
  private type Stats = Seq[Option[Double]]

  private def reference(px: Seq[Pixel], bs: Seq[(String, Option[(Double, Double, Double, Double)])],
                        leveled: Boolean): Map[(Int, Long, Int), (Stats, Seq[Pixel])] = {
    val times = px.map(_._1).distinct
    (for {
      ((wkt, env), i) <- bs.zipWithIndex
      geom = parse(wkt)
      t <- times
    } yield {
      val covered = px.filter { case (pt, _, _, _, lon, lat) =>
        pt == t && env.exists { case (w, s, e, n) => lon >= w && lon <= e && lat >= s && lat <= n } &&
          geom.exists(_.covers(factory.createPoint(new Coordinate(lon, lat))))
      }
      val vs = covered.flatMap(_._4)
      val n = vs.size.toDouble
      val mean = vs.sum / n
      val stats: Stats =
        if (covered.isEmpty) Seq.fill(6)(None)
        else if (vs.isEmpty) Seq.fill(5)(None) :+ Some(0.0)
        else Seq(Some(mean), Some(vs.min), Some(vs.max), Some(vs.sum),
          Some(math.sqrt(vs.map(v => (v - mean) * (v - mean)).sum / n)), Some(n))
      val (level, id) = key(i, leveled)
      (level, id, t) -> (stats, covered)
    }).toMap
  }

  private def rows(df: DataFrame, leveled: Boolean): Seq[((Int, Long, Int), Stats)] = {
    val k = if (leveled) 2 else 1
    df.collect().toSeq.map { r =>
      val level = if (leveled) r.getInt(0) else 0
      (level, r.getLong(k - 1), timestep(r, k)) -> (k + 1 until k + 7).map(i =>
        if (r.isNullAt(i)) None else Some(r.get(i).asInstanceOf[Number].doubleValue))
    }.sortBy(_._1)
  }

  private def close(a: Stats, b: Stats) = a.zip(b).forall {
    case (Some(p), Some(q)) => math.abs(p - q) <= 1e-9 * math.max(1.0, math.abs(q))
    case (p, q) => p == q
  }

  test("driver path == distributed path == plain-Scala reference, row for row") {
    var (nullRows, zeroRows) = (0, 0)
    for (((px, bs, split), sample) <- samples(caseGen, 14).zipWithIndex;
         leveled <- Seq(false, true)) {
      val bframe = boundaryFrame(bs, leveled)
      val pixels = pixelFrame(px).repartition(split)
      def run(cap: Long) = Zonal.zonalStatsKeyed(pixels, bframe,
        if (leveled) Seq("level", "boundary_id") else Seq("boundary_id"), cap)
      val onDriver = run(Zonal.DriverRows)
      val distributed = run(0L)
      // one accumulator short of the timesteps × boundaries the driver
      // would hold: the merged map passes the cap
      val accs = px.map(_._1).distinct.size.toLong * bs.size
      val pastCap = run(math.max(accs - 1, 0L))
      val ctx = s"sample $sample leveled=$leveled"
      assert(onDriver.isLocal && !distributed.isLocal && !pastCap.isLocal, ctx)
      assert(onDriver.schema.map(f => (f.name, f.dataType)) ==
        distributed.schema.map(f => (f.name, f.dataType)), ctx)
      val want = reference(px, bs, leveled).toSeq.sortBy(_._1)
      val (a, b) = (rows(onDriver, leveled), rows(distributed, leveled))
      assert(a.map(_._1) == want.map(_._1), ctx)
      assert(b.map(_._1) == want.map(_._1), ctx)
      val c = rows(pastCap, leveled)
      assert(c.map(_._1) == want.map(_._1) && c.zip(want).forall { case ((_, x), (_, (w, _))) =>
        close(x, w) }, ctx)
      for (((k, (w, covered)), (x, y)) <- want.zip(a.map(_._2).zip(b.map(_._2)))) {
        assert(close(x, w) && close(y, w), s"$ctx $k: driver $x, distributed $y, reference $w")
        // zcount is NULL where the boundary covers no pixel row of t, and
        // 0 (other stats NULL) where every covered pixel is NULL
        for (z <- Seq(x, y)) {
          assert(z.last.isEmpty == covered.isEmpty, s"$ctx $k")
          assert(z.last.contains(0.0) == (covered.nonEmpty && covered.forall(_._4.isEmpty)), s"$ctx $k")
          if (z.last.forall(_ == 0.0)) assert(z.init.forall(_.isEmpty), s"$ctx $k")
        }
        if (covered.isEmpty) nullRows += 1
        if (x.last.contains(0.0)) zeroRows += 1
      }
    }
    // the samples reach both kinds of empty row
    assert(nullRows > 0 && zeroRows > 0, (nullRows, zeroRows))
  }

  test("DATE and STRING timesteps: driver path == distributed path == plain Scala, row for row") {
    for (((px, bs, split), sample) <- samples(caseGen, 8).zipWithIndex;
         (tKind, tType) <- Seq("date" -> DateType, "string" -> StringType)) {
      val ctx = s"sample $sample t $tKind"
      val bframe = boundaryFrame(bs, leveled = false)
      val pixels = pixelFrame(px, tKind).repartition(split)
      def run(cap: Long) = Zonal.zonalStatsKeyed(pixels, bframe, Seq("boundary_id"), cap)
      val (onDriver, distributed) = (run(Zonal.DriverRows), run(0L))
      assert(onDriver.isLocal && !distributed.isLocal, ctx)
      assert(onDriver.schema("t").dataType == tType && distributed.schema("t").dataType == tType, ctx)
      // the driver path's rows come in timestep order
      val order = onDriver.collect().map(timestep(_, 1)).toSeq
      assert(order == order.sorted, ctx)
      val want = reference(px, bs, leveled = false).toSeq.sortBy(_._1)
      val (a, b) = (rows(onDriver, leveled = false), rows(distributed, leveled = false))
      assert(a.map(_._1) == want.map(_._1) && b.map(_._1) == want.map(_._1), ctx)
      for (((k, (w, _)), (x, y)) <- want.zip(a.map(_._2).zip(b.map(_._2))))
        assert(close(x, w) && close(y, w), s"$ctx $k: driver $x, distributed $y, reference $w")
    }
  }

  test("the driver path repeats its doubles bit for bit") {
    val (px, bs, _) = samples(caseGen.suchThat(c => c._1.nonEmpty && c._2.nonEmpty), 1).head
    // a local input splits into fixed partitions with no shuffle in between
    val pixels = pixelFrame(px)
    val bframe = boundaryFrame(bs, leveled = true)
    def bits(r: Row) = r.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case other => other
    }
    val first = Zonal.zonalStatsLeveled(pixels, bframe).collect().map(bits)
    for (_ <- 1 to 3)
      assert(Zonal.zonalStatsLeveled(pixels, bframe).collect().map(bits).sameElements(first))
  }
}
