package graft.ops

import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory}
import org.locationtech.jts.io.WKTReader
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The containment index equals brute-force JTS `Geometry.covers` over
  * fuzzed boundary sets: boxes, triangles, star polygons, boxes with
  * holes, multipolygons, boxes east of 180°, and NULL or unparseable
  * WKT. Coordinates sit on a 0.5° lattice and so do the query points, so
  * vertices and edges fall exactly on pixel centres (k + 0.5) and on
  * pixel corners alike. */
class ZonalIndexSpec extends AnyFunSuite {

  private val factory = new GeometryFactory()
  private def parse(wkt: String): Option[Geometry] =
    try Option(wkt).map(new WKTReader(factory).read) catch { case _: Exception => None }

  private def samples[T](g: Gen[T], n: Int, seed: Long = 7L): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed + i)))

  private val half: Gen[Double] = Gen.choose(-30, 30).map(_ * 0.5)
  private def ring(pts: Seq[(Double, Double)]) =
    (pts :+ pts.head).map { case (x, y) => s"$x $y" }.mkString("(", ", ", ")")
  private def boxRing(x: Double, y: Double, w: Double, h: Double) =
    ring(Seq((x, y), (x + w, y), (x + w, y + h), (x, y + h)))

  private val box: Gen[String] = for {
    x <- half; y <- half; w <- Gen.choose(1, 12); h <- Gen.choose(1, 12)
  } yield s"POLYGON(${boxRing(x, y, w * 0.5, h * 0.5)})"
  private val triangle: Gen[String] =
    Gen.listOfN(3, Gen.zip(half, half)).map(p => s"POLYGON(${ring(p)})")
  private val star: Gen[String] = for {
    cx <- half; cy <- half; k <- Gen.choose(3, 9)
    radii <- Gen.listOfN(k, Gen.choose(2, 10))
  } yield {
    val pts = radii.zipWithIndex.map { case (r, i) =>
      val a = 2 * math.Pi * i / k
      (cx + math.rint(r * math.cos(a)) * 0.5, cy + math.rint(r * math.sin(a)) * 0.5)
    }
    s"POLYGON(${ring(pts)})"
  }
  private val holed: Gen[String] = for {
    x <- half; y <- half; w <- Gen.choose(4, 14); h <- Gen.choose(4, 14)
    hx <- Gen.choose(1, w - 3); hy <- Gen.choose(1, h - 3)
  } yield s"POLYGON(${boxRing(x, y, w * 0.5, h * 0.5)}, " +
    s"${boxRing(x + hx * 0.5, y + hy * 0.5, (w - hx - 1) * 0.5, (h - hy - 1) * 0.5)})"
  private val multi: Gen[String] = Gen.zip(Gen.oneOf(box, triangle, holed), Gen.oneOf(box, star))
    .map { case (a, b) => s"MULTIPOLYGON((${a.stripPrefix("POLYGON(")}, (${b.stripPrefix("POLYGON(")})" }
  private val east: Gen[String] = for {
    x <- Gen.choose(360, 380); y <- half; w <- Gen.choose(1, 12)
  } yield s"POLYGON(${boxRing(x * 0.5, y, w * 0.5, w * 0.5)})"
  private val broken: Gen[String] =
    Gen.oneOf(null, "not valid wkt", "POLYGON((0 0, 4 0, 4 4", "")

  /** A boundary: WKT, envelope (JTS's, or a random one when the WKT does
    * not parse). Only JTS-valid geometries: `covers` is specified for them. */
  private val boundary: Gen[(String, (Double, Double, Double, Double))] = for {
    wkt <- Gen.frequency(3 -> box, 2 -> triangle, 3 -> star, 2 -> holed,
      2 -> multi, 1 -> east, 1 -> broken).retryUntil(parse(_).forall(_.isValid))
    x <- half; y <- half
  } yield (wkt, parse(wkt).map(_.getEnvelopeInternal)
    .map(e => (e.getMinX, e.getMinY, e.getMaxX, e.getMaxY))
    .getOrElse((x, y, x + 5, y + 5)))

  test("index slots equal brute-force JTS covers over fuzzed boundary sets") {
    var covered = 0
    for ((set, k) <- samples(Gen.choose(0, 24).flatMap(Gen.listOfN(_, boundary)), 40).zipWithIndex) {
      val index = ZonalIndex(set)
      val geoms = set.map(b => parse(b._1))
      // every lattice point around each envelope, random points, plus
      // off-grid, infinite and NaN probes
      val random = samples(Gen.zip(Gen.choose(-20.0, 200.0), Gen.choose(-20.0, 20.0)), 200, 1000L * k)
      val pts = (set.flatMap { case (_, (w, s, e, n)) =>
        for {
          i <- math.floor(w * 2).toInt - 2 to math.ceil(e * 2).toInt + 2
          j <- math.floor(s * 2).toInt - 2 to math.ceil(n * 2).toInt + 2
        } yield (i * 0.5, j * 0.5)
      } ++ random ++ Seq((Double.NaN, 0.0), (0.0, Double.NaN), (Double.NaN, Double.NaN),
        (Double.PositiveInfinity, 0.0), (1000.0, 1000.0), (-0.25, 0.75))).distinct
      for ((x, y) <- pts) {
        val p = factory.createPoint(new Coordinate(x, y))
        val want = geoms.indices.filter(i => !x.isNaN && !y.isNaN && geoms(i).exists(_.covers(p)))
        val got = index.slots(x, y).toSeq
        assert(got == want, s"($x, $y) in ${set.map(_._1)}")
        covered += want.size
      }
    }
    assert(covered > 1000, s"only $covered covering pairs: the fuzz misses the polygons")
  }

  test("NULL or unparseable WKT and NULL envelopes never cover") {
    val nan = Double.NaN
    val index = ZonalIndex(Seq(
      (null, (0.0, 0.0, 4.0, 4.0)), ("not valid wkt", (0.0, 0.0, 4.0, 4.0)),
      ("POLYGON((0 0, 4 0, 4 4, 0 4, 0 0))", (nan, nan, nan, nan))))
    for (x <- 0 to 8; y <- 0 to 8) {
      assert(index.slots(x * 0.5, y * 0.5).isEmpty)
      index.foreachSlot(x * 0.5, y * 0.5)(s => fail(s"slot $s visited at ($x, $y)"))
    }
  }
}
