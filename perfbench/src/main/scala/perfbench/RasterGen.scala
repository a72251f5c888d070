package perfbench

import graft.sources.{GeoTiff, Grib2, Hdf5, NetCdf}
import java.nio.file.{Files, Path}
import java.time.LocalDate

/** Seeded global 1° granules written with the codecs' own writers, and
  * plain-Scala reference answers computed from the generated values
  * (never from the engine). Values are tenths in [0, 60) so every
  * codec's packing holds them to within 1e-4; about 1% of pixels are
  * nodata. */
object RasterGen {
  val W = 360
  val H = 180
  val West = -180.0
  val North = 90.0
  val Px = 1.0
  val Codecs: Seq[String] = Seq("grib2", "nc3", "nc4", "tif")

  /** One granule: its valid date, codec, and values (NaN = nodata). */
  final case class Granule(date: LocalDate, fmt: String, data: Array[Float]) {
    def t: String = date.toString
    def slot: Int = date.getMonthValue
  }

  def lonOf(x: Int): Double = West + (x + 0.5) * Px
  def latOf(y: Int): Double = North - (y + 0.5) * Px

  private def mix(a: Long): Long = {
    var z = a + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Values of granule `k` (`variant` > 0 makes a corrected copy). */
  def field(seed: Long, k: Int, month: Int, variant: Int = 0): Array[Float] =
    Array.tabulate(W * H) { i =>
      val y = i / W
      val h = mix(seed * 1000003L + k * 7919L + variant * 104729L + i)
      if ((h & 127) == 0) Float.NaN
      else {
        val lat = math.toRadians(latOf(y))
        val noise = ((h >>> 8) % 101) - 50
        val iv = 300 + 200 * math.cos(lat) + 50 * math.sin(2 * math.Pi * month / 12) +
          noise + 7 * variant
        math.max(0, math.min(599, iv.toInt)) / 10f
      }
    }

  /** Monthly feed of `n` granules from 2001-01, codecs in a seeded
    * order that uses each codec equally. */
  def feed(seed: Long, n: Int): Seq[Granule] = {
    val rnd = new scala.util.Random(seed)
    val fmts = rnd.shuffle(Seq.tabulate(n)(i => Codecs(i % Codecs.size)))
    (0 until n).map { k =>
      val d = LocalDate.of(2001, 1, 1).plusMonths(k)
      Granule(d, fmts(k), field(seed, k, d.getMonthValue))
    }
  }

  /** Directory a codec's granules land in (one drop zone per producer). */
  def zoneOf(fmt: String): String = fmt match {
    case "grib2" => "grib2"
    case "nc3" | "nc4" => "netcdf"
    case "tif" => "geotiff"
  }

  /** Encode with the codec's writer; returns the written path. */
  def write(dropzone: Path, g: Granule): Path = {
    val stem = s"t2m_${g.date.toString.replace("-", "")}"
    val (ext, bytes) = g.fmt match {
      case "grib2" =>
        val m = Grib2.Message(GeoTiff.Raster(W, H, g.data, West, North, Px, Px),
          0, 0, 0, g.date.atStartOfDay(), 0)
        "grib2" -> Grib2.write(m, decimals = 1)
      case "nc3" =>
        // packed short: raw tenths, scale 0.1, fill -32767
        val raw = g.data.map(v => if (v.isNaN) -32767f else math.round(v * 10).toFloat)
        "nc" -> NetCdf.write(Seq("lat" -> H, "lon" -> W), coords :+
          NetCdf.Variable("t2m", Seq("lat", "lon"), raw, Some(-32767f),
            numAttrs = Map("scale_factor" -> 0.1, "add_offset" -> 0.0), ncType = 3))
      case "nc4" =>
        "nc" -> Hdf5.write(Seq("lat" -> H, "lon" -> W), coords :+
          NetCdf.Variable("t2m", Seq("lat", "lon"),
            g.data.map(v => if (v.isNaN) -9999f else v), Some(-9999f)))
      case "tif" =>
        "tif" -> GeoTiff.writeCog(Seq(g.data), W, H, West, North, Px, Px, tileSize = 64)
    }
    val dir = dropzone.resolve(zoneOf(g.fmt))
    Files.createDirectories(dir)
    val p = dir.resolve(s"$stem.$ext")
    Files.write(p, bytes)
    p
  }

  private lazy val coords = Seq(
    NetCdf.Variable("lat", Seq("lat"), Array.tabulate(H)(y => latOf(y).toFloat), None),
    NetCdf.Variable("lon", Seq("lon"), Array.tabulate(W)(x => lonOf(x).toFloat), None))

  // ---- reference geometry -----------------------------------------

  /** A simple polygon with vertices on odd quarter degrees (x.25 or
    * x.75): every orientation test below is exact in double arithmetic,
    * and no bounding-box edge falls on a pixel centre (x.5). */
  final case class Poly(id: Long, pts: Seq[(Double, Double)]) {
    val (w, e) = (pts.map(_._1).min, pts.map(_._1).max)
    val (s, n) = (pts.map(_._2).min, pts.map(_._2).max)
    def wkt: String =
      (pts :+ pts.head).map { case (x, y) => s"$x $y" }.mkString("POLYGON ((", ", ", "))")

    /** Covers: inside or on the boundary (pixel-centre semantics). */
    def covers(px: Double, py: Double): Boolean = {
      val ring = pts :+ pts.head
      val onEdge = ring.sliding(2).exists { case Seq((x1, y1), (x2, y2)) =>
        (x2 - x1) * (py - y1) == (y2 - y1) * (px - x1) &&
          px >= math.min(x1, x2) && px <= math.max(x1, x2) &&
          py >= math.min(y1, y2) && py <= math.max(y1, y2)
      }
      onEdge || ring.sliding(2).count { case Seq((x1, y1), (x2, y2)) =>
        ((y1 > py) != (y2 > py)) &&
          px < x1 + (py - y1) * (x2 - x1) / (y2 - y1)
      } % 2 == 1
    }

    /** Pixel indices whose centres this polygon covers. */
    lazy val pixels: Array[Int] = (for {
      y <- 0 until H; lat = latOf(y) if lat >= s && lat <= n
      x <- 0 until W; lon = lonOf(x) if lon >= w && lon <= e && covers(lon, lat)
    } yield y * W + x).toArray
  }

  /** Random convex polygon (3 to 6 vertices) of about `size` degrees. */
  def poly(rnd: scala.util.Random, id: Long, size: Double): Poly = {
    def q(v: Double) = math.floor(v) + (if (v - math.floor(v) < 0.5) 0.25 else 0.75)
    val cx = -170 + rnd.nextDouble() * (340 - size)
    val cy = -80 + rnd.nextDouble() * (160 - size)
    val k = 3 + rnd.nextInt(4)
    val angles = Seq.fill(k)(rnd.nextDouble() * 2 * math.Pi).sorted
    val pts = angles.map(a => (q(cx + size / 2 * (1 + math.cos(a))),
      q(cy + size / 2 * (1 + math.sin(a))))).distinct
    if (pts.size < 3) poly(rnd, id, size) else Poly(id, pts)
  }

  final case class Summary(n: Long, sum: Double, min: Double, max: Double) {
    def mean: Double = sum / n
  }

  def summarize(vals: Iterator[Float]): Option[Summary] = {
    var n = 0L; var s = 0.0; var mn = Double.MaxValue; var mx = Double.MinValue
    vals.foreach { v =>
      if (!v.isNaN) { n += 1; s += v; mn = math.min(mn, v); mx = math.max(mx, v) }
    }
    if (n == 0) None else Some(Summary(n, s, mn, mx))
  }

  def close(a: Double, b: Double, rel: Double = 1e-6, abs: Double = 1e-3): Boolean =
    math.abs(a - b) <= math.max(abs, rel * math.max(math.abs(a), math.abs(b)))
}
