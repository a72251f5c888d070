package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** The GribFuzzSpec contract extended to the OTHER raster decoders:
  * GeoTIFF (stripped and tiled+deflate COG) and NetCDF classic. A
  * corrupt granule must decode or throw promptly — never hang on a
  * cyclic/zero offset walk, never attempt a corrupt-dimension-sized
  * allocation — so the quarantine path can dead-letter it. */
class RasterFuzzSpec extends AnyFunSuite {

  private def baseFiles: Seq[(String, Array[Byte])] = {
    val w = 24; val h = 16
    val data = Array.tabulate(w * h)(i =>
      if (i % 19 == 0) Float.NaN else (20.0f + (i % 31) * 0.5f))
    val strip = GeoTiff.write(GeoTiff.Raster(w, h, data, -180.0, 90.0, 15.0, 11.25))
    val cog = GeoTiff.writeCog(Seq(data), w, h, -180.0, 90.0, 15.0, 11.25)
    val lat = Array.tabulate(h)(j => 90f - j * 11.25f)
    val lon = Array.tabulate(w)(i => -180f + i * 15f)
    val nc = NetCdf.write(
      Seq("lat" -> h, "lon" -> w),
      Seq(NetCdf.Variable("lat", Seq("lat"), lat, None),
        NetCdf.Variable("lon", Seq("lon"), lon, None),
        NetCdf.Variable("t2m", Seq("lat", "lon"), data, None)))
    val lat5 = Array(40f, 30f, 20f, 10f, 0f)
    val lon7 = Array(-30f, -20f, -10f, 0f, 10f, 20f, 30f)
    val d57 = Array.tabulate(5 * 7)(i => if (i % 11 == 0) -9999f else i * 0.25f)
    val h5 = Hdf5.write(
      Seq("lat" -> 5, "lon" -> 7),
      Seq(NetCdf.Variable("lat", Seq("lat"), lat5, None),
        NetCdf.Variable("lon", Seq("lon"), lon7, None),
        NetCdf.Variable("precip", Seq("lat", "lon"), d57, Some(-9999f))))
    // the round-8 format surface: 64-bit classic variants, CF-packed
    // typed data, float64 COGs with 8-deep predictor planes
    val nc5 = NetCdf.write(
      Seq("lat" -> h, "lon" -> w),
      Seq(NetCdf.Variable("lat", Seq("lat"), lat, None),
        NetCdf.Variable("lon", Seq("lon"), lon, None),
        NetCdf.Variable("t2m", Seq("lat", "lon"), data, None)), version = 5)
    val raw = Array.tabulate(w * h)(i => if (i % 19 == 0) -32767f else (i * 10 - 1000).toFloat)
    val ncPacked = NetCdf.write(
      Seq("lat" -> h, "lon" -> w),
      Seq(NetCdf.Variable("lat", Seq("lat"), lat, None),
        NetCdf.Variable("lon", Seq("lon"), lon, None),
        NetCdf.Variable("t2m", Seq("lat", "lon"), raw, Some(-32767f),
          numAttrs = Map("scale_factor" -> 0.01, "add_offset" -> 270.0),
          ncType = 3)), version = 2)
    val cog64 = GeoTiff.writeCog(Seq(data), w, h, -180.0, 90.0, 15.0, 11.25,
      dtype = "float64")
    // the round-9 surface: PackBits compression, NC_CHAR label
    // variables, tiny/huge fractal-heap link IDs
    val cogPb = GeoTiff.writeCog(Seq(data), w, h, -180.0, 90.0, 15.0, 11.25,
      compression = 32773)
    val dataU8 = Array.tabulate(w * h)(i => ((i * 7) % 256).toFloat)
    val cogJpeg = GeoTiff.writeCog(Seq(dataU8), w, h, -180.0, 90.0, 15.0, 11.25,
      tileSize = 16, dtype = "uint8", compression = 7)
    val ncChar = NetCdf.write(
      Seq("lat" -> h, "lon" -> w, "station" -> 2, "strlen" -> 8),
      Seq(NetCdf.Variable("lat", Seq("lat"), lat, None),
        NetCdf.Variable("lon", Seq("lon"), lon, None),
        NetCdf.Variable("station_name", Seq("station", "strlen"),
          ("HalleyVI" + "Vostok  ").map(_.toFloat).toArray, None, ncType = 2),
        NetCdf.Variable("t2m", Seq("lat", "lon"), data, None)))
    val h5TinyHuge = Hdf5.write(
      Seq("lat" -> 5, "lon" -> 7),
      Seq(NetCdf.Variable("lat", Seq("lat"), lat5, None),
        NetCdf.Variable("lon", Seq("lon"), lon7, None)) ++
        (1 to 8).map(i => NetCdf.Variable(s"v$i", Seq("lat", "lon"),
          d57.map(_ + i), None)) :+
        NetCdf.Variable("var_managed_mid", Seq("lat", "lon"), d57, None) :+
        NetCdf.Variable("huge_" + "q" * 140, Seq("lat", "lon"), d57, None),
      denseRoot = true, denseIdStyle = "tinyhuge")
    val h5HugeBt = Hdf5.write(
      Seq("lat" -> 5, "lon" -> 7),
      Seq(NetCdf.Variable("lat", Seq("lat"), lat5, None),
        NetCdf.Variable("lon", Seq("lon"), lon7, None)) ++
        (1 to 9).map(i => NetCdf.Variable(s"var$i", Seq("lat", "lon"),
          d57.map(_ + i), None)) :+
        NetCdf.Variable("huge_" + "r" * 160, Seq("lat", "lon"), d57, None),
      denseRoot = true, denseIdStyle = "hugebtree")
    // the late-round-9 surface: szip-filtered int16 chunks through the
    // extended-Rice coder
    val h5Szip = Hdf5.write(
      Seq("lat" -> 5, "lon" -> 7),
      Seq(NetCdf.Variable("lat", Seq("lat"), lat5, None),
        NetCdf.Variable("lon", Seq("lon"), lon7, None),
        NetCdf.Variable("precip", Seq("lat", "lon"),
          Array.tabulate(5 * 7)(i => (i * 13 % 512).toFloat), None)),
      szip = true)
    // virtual-dataset stacking (layout class 3): mapping blob + GCOL +
    // per-slice sources all get their own corruption exposure
    val h5Vds = Hdf5.write(
      Seq("time" -> 2, "lat" -> 5, "lon" -> 7),
      Seq(NetCdf.Variable("lat", Seq("lat"), lat5, None),
        NetCdf.Variable("lon", Seq("lon"), lon7, None),
        NetCdf.Variable("precip", Seq("time", "lat", "lon"),
          Array.tabulate(2 * 5 * 7)(i => i * 0.5f), Some(-9999f))),
      virtualStack = true)
    // sparse COG (GDAL SPARSE_OK): tile (0,0) all-NaN -> offset 0
    val cogSparse = GeoTiff.writeCog(
      Seq(Array.tabulate(32 * 32)(i =>
        if (i / 32 < 16 && i % 32 < 16) Float.NaN else i.toFloat)),
      32, 32, -180.0, 90.0, 1.0, 1.0, tileSize = 16, sparse = true)
    // NC_ENUM classification raster (cloud-mask shape)
    val h5Enum = Hdf5.write(
      Seq("lat" -> 5, "lon" -> 7),
      Seq(NetCdf.Variable("lat", Seq("lat"), lat5, None),
        NetCdf.Variable("lon", Seq("lon"), lon7, None),
        NetCdf.Variable("mask", Seq("lat", "lon"),
          Array.tabulate(5 * 7)(i => (i % 3).toFloat), Some(3f))),
      enumVars = Map("mask" -> Seq("clear", "cloudy", "snow", "missing")))
    // round-10 surface: the packed-bit filters (nbit id 5, scaleoffset
    // id 6) — header bytes, minbits, and the bitstream all get flipped
    val h5Nbit = Hdf5.write(
      Seq("lat" -> 5, "lon" -> 7),
      Seq(NetCdf.Variable("lat", Seq("lat"), lat5, None),
        NetCdf.Variable("lon", Seq("lon"), lon7, None),
        NetCdf.Variable("t2m", Seq("lat", "lon"),
          Array.tabulate(5 * 7)(i => (i * 37 % 2000 - 1000).toFloat), None)),
      nbitPrecision = Some(12))
    val h5So = Hdf5.write(
      Seq("lat" -> 5, "lon" -> 7),
      Seq(NetCdf.Variable("lat", Seq("lat"), lat5, None),
        NetCdf.Variable("lon", Seq("lon"), lon7, None),
        NetCdf.Variable("t2m", Seq("lat", "lon"),
          Array.tabulate(5 * 7)(i =>
            if (i % 11 == 0) -9999f else (i * 17 % 700 - 350).toFloat),
          Some(-9999f))),
      scaleOffsetInt = true)
    // GRIB2 spectral (3.50/5.50): coefficient stream + synthesis
    val g2Spectral = {
      val j = 6
      val coefs = scala.collection.mutable.ArrayBuffer[Double]()
      for (mm <- 0 to j; nn <- mm to j) {
        coefs += (if (nn == 0) 275.0 else 1.0 / (nn + mm + 1))
        coefs += (if (mm == 0) 0.0 else 0.05 * mm)
      }
      Grib2.writeSpectral(coefs.toArray, j, j, 0, 0, 11,
        java.time.LocalDateTime.of(2001, 7, 1, 12, 0), 6)
    }
    // GRIB2 spectral complex (5.51): IEEE subset + Laplacian-scaled pack
    val g2Spectral51 = {
      val j = 6
      val coefs = scala.collection.mutable.ArrayBuffer[Double]()
      for (mm <- 0 to j; nn <- mm to j) {
        coefs += (if (nn == 0) 275.0 else 1.0 / (nn + mm + 1))
        coefs += (if (mm == 0) 0.0 else 0.05 * mm)
      }
      Grib2.writeSpectral(coefs.toArray, j, j, 0, 0, 11,
        java.time.LocalDateTime.of(2001, 7, 1, 12, 0), 6,
        complexSubJ = 2, laplacianP = 0.5)
    }
    // GRIB1 spherical harmonics: type-50 GDS + SH-flagged simple BDS
    val g1Spectral = {
      val j = 5
      val coefs = scala.collection.mutable.ArrayBuffer[Double]()
      for (mm <- 0 to j; nn <- mm to j) {
        coefs += (if (nn == 0) 252.0 else 0.8 / (nn + 1))
        coefs += 0.04 * mm
      }
      Grib1.writeSpectral(coefs.toArray, j, j, 128, 11,
        java.time.LocalDateTime.of(1994, 3, 1, 0, 0), 6)
    }
    // thinned (quasi-regular) GRIB1: PL list, bitmap, NN row expansion
    val g1Thinned = Grib1.writeThinned(
      Seq(Array.tabulate(8)(k => 250f + k), Array.tabulate(5)(k => 260f + k),
        Array.tabulate(8)(k => if (k == 3) Float.NaN else 270f + k)),
      west = -180.0, north = 90.0, px = 45.0, py = 60.0, table = 128,
      param = 11, refTime = java.time.LocalDateTime.of(1992, 3, 1, 0, 0),
      forecastHours = 6)
    // GRIB1 simple, second-order, predefined-grid and spectral-complex
    // packings, and an HDF5 layout-v4 extensible-array index
    val g1msg = Grib2.Message(GeoTiff.Raster(w, h, data, -180.0, 90.0, 15.0, 11.25),
      discipline = 255, category = 128, parameter = 11,
      refTime = java.time.LocalDateTime.of(2000, 1, 1, 0, 0), forecastHours = 12)
    val g1Predefined = {
      val d = 2.5; val gw = 144; val gh = 73
      Grib1.write(g1msg.copy(raster = GeoTiff.Raster(gw, gh,
        Array.tabulate(gw * gh)(i => 220f + (i % 101) * 0.25f),
        -d / 2, 90 + d / 2, d, d)), predefinedGrid = Some(2))
    }
    val g1SpectralComplex = {
      val j = 8
      val coefs = scala.collection.mutable.ArrayBuffer[Double]()
      for (mm <- 0 to j; nn <- mm to j) {
        coefs += (if (nn == 0 && mm == 0) 250.0 else 1.0 / ((nn + 1) * (nn + 1)))
        coefs += 0.2 / (nn + mm + 2)
      }
      Grib1.writeSpectralComplex(coefs.toArray, j, j, subJ = 3, p = 0.5, 128, 130,
        java.time.LocalDateTime.of(1989, 7, 15, 0, 0), 0)
    }
    val h5LayoutV4 = Hdf5.write(
      Seq("time" -> 3, "lat" -> 5, "lon" -> 7),
      Seq(NetCdf.Variable("lat", Seq("lat"), lat5, None),
        NetCdf.Variable("lon", Seq("lon"), lon7, None),
        NetCdf.Variable("precip", Seq("time", "lat", "lon"),
          Array.tabulate(3 * 5 * 7)(i => i * 0.25f), Some(-9999f))),
      layoutV4 = Some(4))
    Seq("tiff-strip" -> strip, "tiff-cog" -> cog, "tiff-cog-f64" -> cog64,
      "tiff-cog-packbits" -> cogPb, "tiff-cog-jpeg" -> cogJpeg,
      "tiff-cog-sparse" -> cogSparse,
      "netcdf" -> nc, "netcdf-cdf5" -> nc5, "netcdf-cdf2-packed" -> ncPacked,
      "netcdf-charvar" -> ncChar,
      "hdf5" -> h5, "hdf5-tinyhuge" -> h5TinyHuge, "hdf5-hugebtree" -> h5HugeBt,
      "hdf5-szip" -> h5Szip, "hdf5-vds" -> h5Vds, "hdf5-enum" -> h5Enum,
      "hdf5-nbit" -> h5Nbit, "hdf5-scaleoffset" -> h5So,
      "grib1-thinned" -> g1Thinned, "grib1-spectral" -> g1Spectral,
      "grib2-spectral" -> g2Spectral,
      "grib2-spectral-complex" -> g2Spectral51,
      "grib1-simple" -> Grib1.write(g1msg),
      "grib1-secondorder" -> Grib1.writeSecondOrder(g1msg),
      "grib1-predefined" -> g1Predefined,
      "grib1-spectral-complex" -> g1SpectralComplex,
      "hdf5-layoutv4-ea" -> h5LayoutV4)
  }

  private def decodeAny(label: String, bytes: Array[Byte]): Unit = label match {
    case l if l.startsWith("tiff") => GeoTiff.read(bytes); ()
    case l if l.startsWith("grib1") => Grib1.readAll(bytes); ()
    case l if l.startsWith("grib2") => Grib2.readAll(bytes); ()
    case _ =>
      val f = NetCdf.readAny(bytes)
      f.gridVars.headOption.foreach(v => f.rasters(v.name))
  }

  test("byte-flipped rasters decode or throw — never hang, never huge allocs") {
    val rnd = new Random(47)
    for ((label, good) <- baseFiles) {
      decodeAny(label, good) // pristine must decode
      var decoded = 0; var threw = 0
      for (trial <- 0 until 120) {
        val bad = good.clone()
        for (_ <- 0 to rnd.nextInt(4))
          bad(rnd.nextInt(bad.length)) = rnd.nextInt(256).toByte
        val t0 = System.nanoTime()
        try { decodeAny(label, bad); decoded += 1 }
        catch { case _: Exception => threw += 1 }
        val dt = (System.nanoTime() - t0) / 1e9
        assert(dt < 60.0, s"$label trial $trial took ${dt}s — decode must terminate (bound is generous: full-suite CPU contention, not algorithmic cost)")
      }
      info(s"$label: $decoded decoded, $threw dead-lettered of 120 corruptions")
      assert(decoded + threw == 120)
    }
  }

  test("truncated rasters throw promptly") {
    val rnd = new Random(53)
    for ((label, good) <- baseFiles; _ <- 0 until 40) {
      val cut = 1 + rnd.nextInt(good.length - 1)
      val t0 = System.nanoTime()
      try { decodeAny(label, java.util.Arrays.copyOfRange(good, 0, cut)) }
      catch { case _: Exception => () }
      assert((System.nanoTime() - t0) / 1e9 < 60.0,
        s"$label truncated at $cut must fail promptly")
    }
  }
}
