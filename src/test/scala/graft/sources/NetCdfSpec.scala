package graft.sources

import graft.SparkSpec

class NetCdfSpec extends SparkSpec {

  private def sampleFile = {
    val w = 6; val h = 4; val nT = 3
    val lat = Array(75f, 45f, 15f, -15f) // descending = north-up
    val lon = Array(-150f, -90f, -30f, 30f, 90f, 150f)
    val data = Array.tabulate(nT * h * w) { i =>
      if (i % 17 == 0) -9999f else i * 0.5f
    }
    NetCdf.write(
      Seq("time" -> nT, "lat" -> h, "lon" -> w),
      Seq(
        NetCdf.Variable("lat", Seq("lat"), lat, None),
        NetCdf.Variable("lon", Seq("lon"), lon, None),
        NetCdf.Variable("precip", Seq("time", "lat", "lon"), data, Some(-9999f))))
  }

  test("write → read round-trips dims, variables, and _FillValue") {
    val bytes = sampleFile
    assert(NetCdf.canHandle(bytes))
    assert(Formats.sniff(bytes).map(_.name).contains("netcdf"))
    val f = NetCdf.read(bytes)
    assert(f.dims == Seq("time" -> 3, "lat" -> 4, "lon" -> 6))
    assert(f.vars.map(_.name) == Seq("lat", "lon", "precip"))
    assert(f.vars.last.fill.contains(-9999f))
  }

  test("NC_CHAR data variables decode as label strings, never rasters") {
    val names = Seq("Halley", "Vostok VI", "Eureka")
    val width = 12
    val chars = names.flatMap(n =>
      n.padTo(width, '\u0000').map(c => c.toFloat)).toArray
    val grid = Array.tabulate(2 * 6)(_.toFloat)
    val bytes = NetCdf.write(
      Seq("station" -> 3, "name_strlen" -> width, "lat" -> 2, "lon" -> 6),
      Seq(
        NetCdf.Variable("lat", Seq("lat"), Array(10f, -10f), None),
        NetCdf.Variable("lon", Seq("lon"), Array(-150f, -90f, -30f, 30f, 90f, 150f), None),
        NetCdf.Variable("station_name", Seq("station", "name_strlen"),
          chars, None, ncType = 2),
        NetCdf.Variable("t2m", Seq("lat", "lon"), grid, None)))
    val f = NetCdf.read(bytes)
    // the char variable is data, not a raster; the numeric grid still is
    assert(f.gridVars.map(_.name) == Seq("t2m"))
    assert(f.charValues("station_name") == names)
    // trailing-space padding (the other classic convention) trims too
    val padded = NetCdf.read(NetCdf.write(
      Seq("station" -> 1, "name_strlen" -> 8),
      Seq(NetCdf.Variable("station_name", Seq("station", "name_strlen"),
        "Cape Town".take(8).padTo(8, ' ').map(_.toFloat).toArray, None, ncType = 2))))
    assert(padded.charValues("station_name") == Seq("Cape Tow"))
    // write∘read closure holds for the char variable
    val again = NetCdf.read(NetCdf.write(f.dims, f.vars))
    assert(again.charValues("station_name") == names)
    // non-char variables refuse the string accessor loudly
    val e = intercept[IllegalArgumentException](f.charValues("t2m"))
    assert(e.getMessage.contains("not a character variable"))
  }

  test("typed variables + CF packing: ERA5-shaped shorts unscale, fill NaNs, other types decode") {
    val w = 5; val h = 3
    // ERA5-style packed short: t2m = raw·scale + offset, fill −32767
    val scale = 0.0016653; val offset = 266.53
    val raw = Array.tabulate(h * w)(i => if (i == 7) -32767f else (i * 1000 - 5000).toFloat)
    val lat = Array(60f, 30f, 0f); val lon = Array(0f, 10f, 20f, 30f, 40f)
    val bytes = NetCdf.write(
      Seq("lat" -> h, "lon" -> w),
      Seq(
        NetCdf.Variable("lat", Seq("lat"), lat, None),
        NetCdf.Variable("lon", Seq("lon"), lon, None),
        NetCdf.Variable("t2m", Seq("lat", "lon"), raw, Some(-32767f),
          numAttrs = Map("scale_factor" -> scale, "add_offset" -> offset),
          ncType = 3)))
    val f = NetCdf.read(bytes)
    val t2m = f.vars.find(_.name == "t2m").get
    assert(t2m.fill.isEmpty,
      "packed fill must be consumed by the reader (the scaled sentinel would leak)")
    // closure under write∘read: the unpacked Variable is FLOAT data
    // with the packing attrs dropped — re-exporting must not truncate
    // back to shorts or double-apply the scaling
    assert(t2m.ncType == 5 && !t2m.numAttrs.contains("scale_factor"))
    val reread = NetCdf.read(NetCdf.write(f.dims, f.vars))
      .vars.find(_.name == "t2m").get
    t2m.data.zip(reread.data).foreach { case (a, b) =>
      assert((a.isNaN && b.isNaN) || a == b, s"re-export drift: $a vs $b")
    }
    raw.zipWithIndex.foreach { case (r, i) =>
      if (i == 7) assert(t2m.data(i).isNaN, "fill sentinel must NaN before scaling")
      else assert(math.abs(t2m.data(i) - (r * scale + offset)) < 1e-4,
        s"unscaled value at $i: ${t2m.data(i)} vs ${r * scale + offset}")
    }
    // rasters() sees already-masked data — no double-masking surprises
    val (_, rast) = f.rasters("t2m").head
    assert(rast.data(7).isNaN && !rast.data(0).isNaN)

    // unpacked INT / DOUBLE / BYTE round-trip raw with typed fills
    for ((t, vals, fill) <- Seq(
        (4, Array(1f, -2f, 70000f, 4f, 5f, 6f, 7f, 8f, 9f, 10f, 11f, 12f, 13f, 14f, -999f), Some(-999f)),
        (6, Array.tabulate(15)(i => i * 0.25f), None),
        (1, Array.tabulate(15)(i => (i - 7).toFloat), Some(-128f)))) {
      val b = NetCdf.write(Seq("lat" -> h, "lon" -> w),
        Seq(NetCdf.Variable("lat", Seq("lat"), lat, None),
          NetCdf.Variable("lon", Seq("lon"), lon, None),
          NetCdf.Variable("v", Seq("lat", "lon"), vals, fill, ncType = t)))
      val vr = NetCdf.read(b).vars.find(_.name == "v").get
      assert(vr.ncType == t && vr.fill == fill, s"type $t metadata")
      assert(vr.data.sameElements(vals), s"type $t values")
    }
  }

  test("CDF-2 and CDF-5 variants round-trip identically to CDF-1") {
    val w = 6; val h = 4; val nT = 3
    val lat = Array(75f, 45f, 15f, -15f)
    val lon = Array(-150f, -90f, -30f, 30f, 90f, 150f)
    val data = Array.tabulate(nT * h * w)(i => if (i % 17 == 0) -9999f else i * 0.5f)
    def build(version: Int) = NetCdf.write(
      Seq("time" -> nT, "lat" -> h, "lon" -> w),
      Seq(
        NetCdf.Variable("lat", Seq("lat"), lat, None),
        NetCdf.Variable("lon", Seq("lon"), lon, None),
        NetCdf.Variable("precip", Seq("time", "lat", "lon"), data, Some(-9999f),
          Map("units" -> "mm"))),
      gattrs = Seq("crs" -> "EPSG:4326"), version = version)
    val ref = NetCdf.read(build(1))
    for (v <- Seq(2, 5)) {
      val bytes = build(v)
      assert((bytes(3) & 0xff) == v, s"magic version byte must be $v")
      assert(NetCdf.canHandle(bytes) && Formats.sniff(bytes).map(_.name).contains("netcdf"))
      // header widths actually differ (the variant is real, not a relabel)
      assert(bytes.length > build(1).length, s"CDF-$v header must be wider than CDF-1")
      val f = NetCdf.read(bytes)
      assert(f.dims == ref.dims, s"CDF-$v dims")
      assert(f.gattrs == ref.gattrs, s"CDF-$v global attrs")
      f.vars.zip(ref.vars).foreach { case (a, b) =>
        assert(a.name == b.name && a.dims == b.dims && a.fill == b.fill &&
          a.attrs == b.attrs && a.data.sameElements(b.data), s"CDF-$v var ${b.name}")
      }
      // the full pipeline (raster assembly) agrees too
      val ra = f.rasters("precip"); val rb = ref.rasters("precip")
      ra.zip(rb).foreach { case ((ta, a), (tb, b)) =>
        assert(ta == tb && a.data.zip(b.data).forall(p =>
          (p._1.isNaN && p._2.isNaN) || p._1 == p._2))
      }
    }
  }

  test("netcdf files ingest through the chipper with step-offset times") {
    val dir = java.nio.file.Files.createTempDirectory("graft-nc-").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/precip_20240101.nc"), sampleFile)
    val df = Formats.ingestDir(spark, dir)
    assert(df.select("time").distinct().count() == 3) // 3 timesteps
    val t2 = df.filter(org.apache.spark.sql.functions.col("step") === 2)
      .select("time").distinct().collect()(0).getTimestamp(0)
    assert(t2.toString == "2024-01-01 02:00:00.0")
  }

  test("record-dimension files ingest through the chipper like fixed ones") {
    // the SAME data as sampleFile but laid out as records (unlimited
    // time): the production ingest path must see identical pixels
    val w = 6; val h = 4; val nT = 3
    val lat = Array(75f, 45f, 15f, -15f)
    val lon = Array(-150f, -90f, -30f, 30f, 90f, 150f)
    val data = Array.tabulate(nT * h * w)(i => if (i % 17 == 0) -9999f else i * 0.5f)
    val rec = NetCdf.write(
      Seq("time" -> nT, "lat" -> h, "lon" -> w),
      Seq(
        NetCdf.Variable("lat", Seq("lat"), lat, None),
        NetCdf.Variable("lon", Seq("lon"), lon, None),
        NetCdf.Variable("precip", Seq("time", "lat", "lon"), data, Some(-9999f))),
      unlimited = Some("time"))
    val dir = java.nio.file.Files.createTempDirectory("graft-ncrec-").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/precip_20240101.nc"), rec)
    val df = Formats.ingestDir(spark, dir)
    val dirFixed = java.nio.file.Files.createTempDirectory("graft-ncfix-").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dirFixed/precip_20240101.nc"), sampleFile)
    val fixed = Formats.ingestDir(spark, dirFixed)
    assert(df.count() == fixed.count())
    val a = df.select("step", "y", "x", "v").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSet
    val b = fixed.select("step", "y", "x", "v").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSet
    assert(a == b, "record and fixed layouts must ingest identical pixels")
  }

  test("multi-timestep variable explodes to north-up rasters with NaN fill") {
    val f = NetCdf.read(sampleFile)
    val rs = f.rasters("precip")
    assert(rs.size == 3)
    val (t0, r0) = rs.head
    assert(t0 == 0 && r0.width == 6 && r0.height == 4)
    // georeferencing from coordinate variables: px=60, py=30, centers
    assert(r0.px == 60.0 && r0.py == 30.0)
    assert(r0.west == -180.0 && r0.north == 90.0)
    // fill → NaN; index 0 was a fill cell
    assert(r0.data(0).isNaN)
    assert(r0.data(1) == 0.5f)
    // timestep 2 values offset by t*h*w
    assert(rs(2)._2.data(1) == (2 * 24 + 1) * 0.5f)
  }

  test("single-element coordinate axes decode (1×N and N×1 grids)") {
    // h=1: the lat axis has one value, so there are no diffs to take —
    // medianRes's default (1.0) must apply instead of an
    // IndexOutOfBounds on the truncated sliding(2) window.
    val row = NetCdf.write(
      Seq("lat" -> 1, "lon" -> 4),
      Seq(
        NetCdf.Variable("lat", Seq("lat"), Array(10f), None),
        NetCdf.Variable("lon", Seq("lon"), Array(0f, 1f, 2f, 3f), None),
        NetCdf.Variable("v", Seq("lat", "lon"), Array(1f, 2f, 3f, 4f), None)))
    val r = NetCdf.read(row).rasters("v").head._2
    assert(r.width == 4 && r.height == 1)
    assert(r.px == 1.0 && r.py == 1.0) // lon diffs real, lat defaulted
    assert(r.data.toSeq == Seq(1f, 2f, 3f, 4f))

    val colF = NetCdf.write(
      Seq("lat" -> 3, "lon" -> 1),
      Seq(
        NetCdf.Variable("lat", Seq("lat"), Array(30f, 20f, 10f), None),
        NetCdf.Variable("lon", Seq("lon"), Array(5f), None),
        NetCdf.Variable("v", Seq("lat", "lon"), Array(7f, 8f, 9f), None)))
    val rc = NetCdf.read(colF).rasters("v").head._2
    assert(rc.width == 1 && rc.height == 3)
    assert(rc.py == 10.0 && rc.px == 1.0)
    assert(rc.data.toSeq == Seq(7f, 8f, 9f))
  }

  test("curvilinear 2-D lat/lon coordinates: per-pixel coords, approximate affine, CRS") {
    val h = 3; val w = 4
    val lat2 = Array.tabulate(h * w)(i => 50f - (i / w) * 10f + (i % w) * 0.5f)
    val lon2 = Array.tabulate(h * w)(i => 10f + (i % w) * 5f + (i / w) * 0.25f)
    val data = Array.tabulate(h * w)(_.toFloat)
    val bytes = NetCdf.write(
      Seq("y" -> h, "x" -> w),
      Seq(
        NetCdf.Variable("lat", Seq("y", "x"), lat2, None),
        NetCdf.Variable("lon", Seq("y", "x"), lon2, None),
        NetCdf.Variable("spatial_ref", Nil, Array(0f), None,
          Map("crs_wkt" -> "EPSG:32633")),
        NetCdf.Variable("temp", Seq("y", "x"), data, Some(-1f))))
    val f = NetCdf.read(bytes)
    assert(f.crs == "EPSG:32633") // spatial_ref crs_wkt (netcdf.py:344-350)
    assert(f.gridVars.map(_.name) == Seq("temp")) // aux coords are not data vars
    val (lons, lats) = f.pixelLonLat("temp").get
    assert(lons(1) == 15.0 && lats(w) == 40.0)
    val r = f.rasters("temp").head._2
    assert(r.width == w && r.height == h)
    assert(r.data(0).isNaN == false && r.data(1) == 1f) // storage order kept
    assert(r.px == 5.0 && r.py == 10.0) // median |Δ| per axis
    assert(r.west == 7.5 && r.north == 56.5) // min/max ± res/2
  }

  test("CRS detection: global crs attr wins; default EPSG:4326; 0..360 lons wrap") {
    val lat = NetCdf.Variable("latitude", Seq("latitude"), Array(20f, 10f), None)
    val lon = NetCdf.Variable("longitude", Seq("longitude"), Array(350f, 355f), None)
    val v = NetCdf.Variable("temp", Seq("latitude", "longitude"),
      Array(1f, 2f, 3f, 4f), None)
    val bytes = NetCdf.write(Seq("latitude" -> 2, "longitude" -> 2),
      Seq(lat, lon, v), gattrs = Seq("crs" -> "EPSG:3857"))
    val f = NetCdf.read(bytes)
    assert(f.crs == "EPSG:3857")
    assert(NetCdf.read(sampleFile).crs == "EPSG:4326")
    // alias dim names (latitude/longitude) are recognized as spatial
    assert(f.gridVars.map(_.name) == Seq("temp"))
    val r = f.rasters("temp").head._2
    // 350/355 wrap to -10/-5: px=5, west=-12.5
    assert(r.px == 5.0 && r.west == -12.5)
  }

  test("curvilinear file ingests with exact per-pixel coordinates") {
    val h = 3; val w = 4
    val lat2 = Array.tabulate(h * w)(i => 50f - (i / w) * 10f + (i % w) * 0.5f)
    val lon2 = Array.tabulate(h * w)(i => 10f + (i % w) * 5f + (i / w) * 0.25f)
    val data = Array.tabulate(h * w)(_.toFloat)
    val bytes = NetCdf.write(
      Seq("y" -> h, "x" -> w),
      Seq(
        NetCdf.Variable("lat", Seq("y", "x"), lat2, None),
        NetCdf.Variable("lon", Seq("y", "x"), lon2, None),
        NetCdf.Variable("temp", Seq("y", "x"), data, None)))
    val dir = java.nio.file.Files.createTempDirectory("graft-curv-").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/temp_20240501.nc"), bytes)
    val df = Formats.ingestDir(spark, dir)
    import org.apache.spark.sql.functions.col
    val rows = df.select("y", "x", "lon", "lat").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(rows.size == h * w)
    // pixel (1, 2): lon = 10 + 2*5 + 1*0.25; lat = 50 - 10 + 2*0.5
    assert(rows((1, 2)) == (20.25, 41.0))
    val _ = col("y")
  }
  test("record (unlimited time) dimension: interleaved records round-trip") {
    // the dominant CF time-series shape: time is UNLIMITED, the data
    // variable's records interleave with a second record variable so
    // the per-record padding + recsize stride both matter
    val w = 6; val h = 4; val nT = 5
    val lat = Array(75f, 45f, 15f, -15f)
    val lon = Array(-150f, -90f, -30f, 30f, 90f, 150f)
    val times = Array.tabulate(nT)(_ * 24f)
    val data = Array.tabulate(nT * h * w)(i => if (i % 17 == 0) -9999f else i * 0.5f)
    for (version <- Seq(1, 2, 5)) {
      val bytes = NetCdf.write(
        Seq("time" -> nT, "lat" -> h, "lon" -> w),
        Seq(
          NetCdf.Variable("lat", Seq("lat"), lat, None),
          NetCdf.Variable("lon", Seq("lon"), lon, None),
          NetCdf.Variable("time", Seq("time"), times, None), // record var #2
          NetCdf.Variable("precip", Seq("time", "lat", "lon"), data, Some(-9999f))),
        version = version, unlimited = Some("time"))
      val f = NetCdf.read(bytes)
      assert(f.dims == Seq("time" -> nT, "lat" -> h, "lon" -> w), s"v$version dims")
      assert(f.vars.find(_.name == "time").get.data.sameElements(times), s"v$version time")
      assert(f.vars.find(_.name == "precip").get.data.sameElements(data), s"v$version data")
      // and the rasters explode per record exactly like the fixed form
      assert(f.rasters("precip").size == nT)
    }
  }

  test("record dimension: the lone-record-variable unpadded special case") {
    // with exactly ONE record variable the spec stores records
    // contiguously UNPADDED; a 1-byte element type with a non-multiple
    // -of-4 record size catches any wrong padding immediately
    val w = 3; val nT = 4
    val xs = Array(0f, 10f, 20f)
    val data = Array.tabulate(nT * w)(i => (i % 120).toFloat)
    val bytes = NetCdf.write(
      Seq("time" -> nT, "x" -> w),
      Seq(
        NetCdf.Variable("x", Seq("x"), xs, None),
        NetCdf.Variable("v", Seq("time", "x"), data, None, ncType = 1)), // NC_BYTE
      unlimited = Some("time"))
    val f = NetCdf.read(bytes)
    assert(f.vars.find(_.name == "v").get.data.sameElements(data))
  }

  test("record variables with the unlimited dim not first fail loudly") {
    val e = intercept[IllegalArgumentException] {
      NetCdf.write(
        Seq("time" -> 2, "x" -> 3),
        Seq(NetCdf.Variable("v", Seq("x", "time"), new Array[Float](6), None)),
        unlimited = Some("time"))
    }
    assert(e.getMessage.contains("only be first"))
  }

  test("a 0x7FFFFFF0 header name length fails as a named exception and quarantines") {
    // CDF-1: magic, numrecs, NC_DIMENSION tag, dim count, then the first
    // dimension's name length at byte 16
    val bad = sampleFile
    val bb = java.nio.ByteBuffer.wrap(bad)
    assert(bb.getInt(8) == 0x0A && bb.getInt(16) == "time".length)
    bb.putInt(16, 0x7FFFFFF0)
    val e = intercept[IllegalArgumentException](NetCdf.read(bad))
    assert(e.getMessage.contains("name length 2147483632"), e.getMessage)
    val dir = java.nio.file.Files.createTempDirectory("graft-nc-quarantine-")
    java.nio.file.Files.write(dir.resolve("precip_20240101.nc"), sampleFile)
    java.nio.file.Files.write(dir.resolve("precip_20240102.nc"), bad)
    val (pixels, dead) = Formats.ingestDirQuarantine(spark, dir.toString)
    assert(pixels.count() > 0)
    val dl = dead.collect()
    assert(dl.map(_.getString(0)).toSeq == Seq("precip_20240102.nc"))
    assert(dl(0).getString(1).startsWith("IllegalArgumentException"), dl(0).getString(1))
  }
}
