package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Corruption tolerance for the GRIB decode stack — the dead-letter
  * contract at feed scale: a damaged granule must either decode or
  * THROW (any exception is fine; ingestDirQuarantine records it), and
  * must do so promptly without pathological allocation. Covers every
  * packing (bit, complex, J2K, PNG, CCSDS) and every grid family the
  * reader supports, under both random byte flips and truncation. A
  * hang or an OOM here would take an executor down with the granule;
  * an exception costs one dead-letter row. */
class GribFuzzSpec extends AnyFunSuite {

  private def baseMessages: Seq[(String, Array[Byte])] = {
    val w = 24; val h = 16
    val data = Array.tabulate(w * h)(i =>
      if (i % 19 == 0) Float.NaN else (250.0f + (i % 40) * 0.5f))
    val latlon = Grib2.Message(
      GeoTiff.Raster(w, h, data, -180.0, 90.0, 15.0, 11.25),
      0, 0, 0, java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0), 0)
    val lcc = latlon.copy(proj = Some(Grib2.LccProj(6371229.0, -97.5, 38.5, 38.5, 38.5)),
      raster = GeoTiff.Raster(w, h, data, 0.0, h * 3000.0, 3000.0, 3000.0))
    val gauss = latlon.copy(proj = Some(Grib2.GaussianGrid(h / 2)),
      raster = GeoTiff.Raster(w, h, data, 0.0, 90.0, 360.0 / w, 0.0))
    val merc = latlon.copy(proj = Some(Grib2.MercProj(6371229.0, -75.0, 20.0)),
      raster = GeoTiff.Raster(w, h, data, 0.0, h * 10000.0, 10000.0, 10000.0))
    Seq(
      "simple" -> Grib2.write(latlon, packing = 0),
      "merc+simple" -> Grib2.write(merc, packing = 0),
      "complex" -> Grib2.write(latlon, packing = 3),
      "complex+mvm" -> Grib2.write(latlon, packing = 3, missingMgmt = 1),
      "jpeg2000" -> Grib2.write(latlon, packing = 40),
      "jpeg2000-lossy97" -> Grib2.write(latlon, packing = 40, j2kQuantShift = Some(2)),
      "png" -> Grib2.write(latlon, packing = 41),
      "ccsds" -> Grib2.write(latlon, packing = 42),
      "runlength" -> Grib2.write(latlon, packing = 200),
      "rotated" -> Grib2.write(latlon.copy(
        proj = Some(Grib2.RotatedLatLonProj(-39.25, -162.0)),
        raster = GeoTiff.Raster(w, h, data, -6.0, 4.0, 0.5, 0.5))),
      "spaceview" -> Grib2.write(latlon.copy(
        proj = Some(Grib2.SpaceViewProj(6367470.0, 6367470.0, 0.0, 6.621936)),
        raster = {
          val rx = 2.0 * math.asin(1.0 / 6.621936) / (w - 2)
          GeoTiff.Raster(w, h, data.map(v => if (v.isNaN) 0f else v),
            -(w / 2.0) * rx, (h / 2.0) * rx, rx, rx)
        })),
      "lcc+j2k" -> Grib2.write(lcc, packing = 40),
      "gauss+ccsds" -> Grib2.write(gauss, packing = 42),
      "prob-4.9" -> Grib2.write(latlon, productTemplate = 9),
      "ens-4.1" -> Grib2.write(latlon, productTemplate = 1, ensMember = 7),
      "pct-4.10" -> Grib2.write(latlon, productTemplate = 10),
      // 5.200 over few integer levels: long runs, multi-digit run lengths
      "runlength-levels" -> Grib2.write(latlon.copy(raster = latlon.raster.copy(
        data = data.map(v => if (v.isNaN) v else (v % 8).floor))), packing = 200))
  }

  test("byte-flipped granules decode or throw — never hang, never huge allocs") {
    val rnd = new Random(41)
    for ((label, good) <- baseMessages) {
      // sanity: the pristine stream decodes
      Grib2.read(good)
      var decoded = 0; var threw = 0
      for (trial <- 0 until 120) {
        val bad = good.clone()
        val flips = 1 + rnd.nextInt(4)
        for (_ <- 0 until flips)
          bad(rnd.nextInt(bad.length)) = rnd.nextInt(256).toByte
        val t0 = System.nanoTime()
        try { Grib2.read(bad); decoded += 1 }
        catch { case _: Exception => threw += 1 }
        val dt = (System.nanoTime() - t0) / 1e9
        assert(dt < 60.0, s"$label trial $trial took ${dt}s — decode must terminate (bound is generous: full-suite CPU contention, not algorithmic cost)")
      }
      info(s"$label: $decoded decoded, $threw dead-lettered of 120 corruptions")
      assert(decoded + threw == 120)
    }
  }

  test("truncated granules throw promptly at every cut point class") {
    val rnd = new Random(43)
    for ((label, good) <- baseMessages; trial <- 0 until 40) {
      val cut = 1 + rnd.nextInt(good.length - 1)
      val t0 = System.nanoTime()
      try { Grib2.read(java.util.Arrays.copyOfRange(good, 0, cut)); () }
      catch { case _: Exception => () }
      assert((System.nanoTime() - t0) / 1e9 < 60.0,
        s"$label truncated at $cut must fail promptly")
    }
  }

  test("corrupt 3.40 with a huge self-consistent N dead-letters promptly") {
    // gaussianLatitudes is O(N^2): a granule whose N and Nj octets are
    // both corrupted to a large consistent pair must be rejected BEFORE
    // the latitude table is built (N=100000 would be ~10^10+ ops)
    val good = baseMessages.collectFirst { case ("gauss+ccsds", b) => b }.get
    val bad = good.clone()
    def u32(b: Array[Byte], o: Int): Int =
      ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) | ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
    def pu32(b: Array[Byte], o: Int, v: Int): Unit = {
      b(o) = (v >>> 24).toByte; b(o + 1) = (v >>> 16).toByte
      b(o + 2) = (v >>> 8).toByte; b(o + 3) = v.toByte
    }
    var pos = 16; var patched = false
    while (pos < bad.length - 4 && !patched) {
      val len = u32(bad, pos); val num = bad(pos + 4) & 0xff
      if (num == 3) {
        pu32(bad, pos + 34, 200000) // Nj (octets 35-38)
        pu32(bad, pos + 67, 100000) // N  (octets 68-71)
        patched = true
      } else pos += len
    }
    assert(patched)
    val t0 = System.nanoTime()
    val e = intercept[IllegalArgumentException](Grib2.read(bad))
    assert((System.nanoTime() - t0) / 1e9 < 5.0, "must reject before the O(N^2) table")
    assert(e.getMessage.contains("implausible Gaussian grid N"), e.getMessage)
  }
}
