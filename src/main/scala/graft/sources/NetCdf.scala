package graft.sources

import java.nio.ByteBuffer

/** Minimal NetCDF classic codec (CDF-1, CDF-2/64-bit-offset,
  * CDF-5/64-bit-data): float variables on
  * (time?, y, x) dimensions with coordinate variables and a
  * `_FillValue` attribute mapped to NaN — the reference's NetCDF
  * surface (formats/netcdf.py:33-366: variable list, time-dim
  * detection, rectilinear AND curvilinear grids, CRS detection,
  * _FillValue→NaN). Written from the public NetCDF classic format
  * specification (magic `CDF\x01|\x02|\x05`, big-endian headers + contiguous
  * aligned data). Record (unlimited) dimensions decode: numrecs-long
  * first dims with per-record slabs interleaved at the recsize stride,
  * including the lone-record-variable unpadded special case — the
  * dominant CF time-series layout.
  *
  * Spatial dimensions are recognized by the reference's name sets
  * (netcdf.py:276-277): y ∈ {latitude, lat, y}, x ∈ {longitude, lon, x},
  * case-insensitive. Coordinates may be 1-D (rectilinear) or 2-D
  * auxiliary lat/lon over (y, x) (curvilinear, netcdf.py:289-343):
  * curvilinear grids expose exact per-pixel coordinates and an
  * approximate affine (min/max bounds + median resolution) exactly like
  * the reference. CRS detection mirrors netcdf.py:344-350: a global
  * `crs` attribute, else a `spatial_ref` variable's `crs_wkt`, else
  * EPSG:4326.
  *
  * Multi-timestep files explode to one grid per timestep at ingest,
  * matching SURVEY S3.
  */
object NetCdf {

  /** The reference's spatial dimension/coordinate name sets
    * (formats/netcdf.py:276-277), lowercased membership. */
  val YNames = Set("latitude", "lat", "y")
  val XNames = Set("longitude", "lon", "x")

  /** `ncType` is the ON-DISK type (NC_FLOAT default; BYTE/SHORT/INT/
    * DOUBLE accepted): `data` always holds the decoded values as
    * floats, with CF packing (scale_factor/add_offset — the ERA5-style
    * packed-short layout) already applied and packed fill values
    * already NaN'd by the reader (in which case `fill` is None, since
    * the stored sentinel no longer appears in `data`). `numAttrs`
    * carries scalar numeric attributes (the writer emits them as
    * NC_DOUBLE for fixture round-trips). */
  case class Variable(name: String, dims: Seq[String], data: Array[Float],
                      fill: Option[Float], attrs: Map[String, String] = Map.empty,
                      numAttrs: Map[String, Double] = Map.empty,
                      ncType: Int = 5)
  case class File(dims: Seq[(String, Int)], vars: Seq[Variable],
                  gattrs: Map[String, String] = Map.empty) {
    def dimSize(n: String): Int = dims.find(_._1 == n).get._2

    /** Trailing (ydim, xdim) when both match the spatial name sets. */
    def spatialDimsOf(v: Variable): Option[(String, String)] =
      if (v.dims.size < 2) None
      else {
        val yd = v.dims(v.dims.size - 2); val xd = v.dims.last
        if (YNames(yd.toLowerCase) && XNames(xd.toLowerCase)) Some((yd, xd)) else None
      }

    /** Data variables on a (…, y, x) grid. Character variables are
      * label arrays, never rasters. */
    def gridVars: Seq[Variable] =
      vars.filter(v => spatialDimsOf(v).isDefined && v.ncType != 2 &&
        !YNames(v.name.toLowerCase) && !XNames(v.name.toLowerCase))

    /** NC_CHAR data variable decoded to row strings — the classic-model
      * string convention (station names, label axes): the LAST
      * dimension is the string width, every outer index yields one
      * string, NUL- and trailing-space-trimmed. A dimensionless or 1-D
      * char variable yields a single string. */
    def charValues(varName: String): Seq[String] = {
      val v = vars.find(_.name == varName).getOrElse(
        throw new IllegalArgumentException(s"no variable $varName"))
      require(v.ncType == 2, s"'$varName' is not a character variable")
      val width = v.dims.lastOption.map(dimSize).getOrElse(1) max 1
      v.data.grouped(width).map { cs =>
        val s = new String(cs.map(c => (c.toInt & 0xff).toByte), "ISO-8859-1")
        val nul = s.indexOf('\u0000')
        (if (nul >= 0) s.substring(0, nul) else s)
          .reverse.dropWhile(_ == ' ').reverse
      }.toSeq
    }

    /** CRS detection (netcdf.py:344-350): global `crs` attribute, else
      * `spatial_ref` variable's `crs_wkt`, else EPSG:4326. */
    def crs: String =
      gattrs.getOrElse("crs",
        vars.find(_.name == "spatial_ref").flatMap(_.attrs.get("crs_wkt"))
          .getOrElse("EPSG:4326"))

    private def coordVar(names: Set[String], wantDims: Seq[String]): Option[Variable] =
      vars.find(c => names(c.name.toLowerCase) && c.dims == wantDims)

    /** Wrap 0..360 longitudes into −180..180 (netcdf.py:300-302). */
    private def wrapLon(l: Float): Double = if (l > 180f) l - 360.0 else l.toDouble

    /** Median |Δ| resolution (netcdf.py:333-343). */
    private def medianRes(diffs: Seq[Double]): Double =
      if (diffs.isEmpty) 1.0
      else {
        val s = diffs.map(math.abs).sorted
        s(s.size / 2)
      }

    /** Exact per-pixel (lon, lat), row-major h×w — Some only for
      * curvilinear grids (2-D auxiliary coordinates). */
    def pixelLonLat(varName: String): Option[(Array[Double], Array[Double])] = {
      val v = vars.find(_.name == varName).getOrElse(
        throw new IllegalArgumentException(s"no variable $varName"))
      val (yd, xd) = spatialDimsOf(v).getOrElse(return None)
      for {
        lat2 <- coordVar(YNames, Seq(yd, xd))
        lon2 <- coordVar(XNames, Seq(yd, xd))
      } yield (lon2.data.map(wrapLon), lat2.data.map(_.toDouble))
    }

    /** Decode one variable to rasters (one per timestep). Rectilinear
      * grids use the 1-D coordinate variables (descending lat = north-up
      * rows; ascending is flipped north-up). Curvilinear grids keep
      * storage order and georeference by min/max bounds + median
      * resolution — the reference's approximate affine (netcdf.py:
      * 289-314); exact coords come from [[pixelLonLat]]. */
    def rasters(varName: String): Seq[(Int, GeoTiff.Raster)] = {
      val v = vars.find(_.name == varName).getOrElse(
        throw new IllegalArgumentException(s"no variable $varName"))
      val (yd, xd) = spatialDimsOf(v).getOrElse(
        throw new IllegalArgumentException(s"$varName has no (…, y, x) dims"))
      val h = dimSize(yd); val w = dimSize(xd)
      val lat1 = coordVar(YNames, Seq(yd)); val lon1 = coordVar(XNames, Seq(xd))
      val lat2 = coordVar(YNames, Seq(yd, xd)); val lon2 = coordVar(XNames, Seq(yd, xd))

      // (west, north, px, py, northUp)
      val (west, north, px, py, northUp) = (lat1, lon1, lat2, lon2) match {
        case (Some(la), Some(lo), _, _) => // rectilinear
          val lats = la.data.map(_.toDouble)
          val lons = lo.data.map(wrapLon)
          // sliding(2) on a 1-element axis yields one truncated window —
          // guard so medianRes's empty-diff default (1.0) applies
          def diffs(xs: Array[Double]): Seq[Double] =
            if (xs.length < 2) Nil else xs.sliding(2).map(p => p(1) - p(0)).toSeq
          val py = medianRes(diffs(lats))
          val px = medianRes(diffs(lons))
          (lons.min - px / 2, lats.max + py / 2, px, py, lats.length < 2 || lats(0) > lats(1))
        case (_, _, Some(la), Some(lo)) => // curvilinear: approximate affine
          val lats = la.data.map(_.toDouble)
          val lons = lo.data.map(wrapLon)
          // median |Δ| along each axis (rows for lat, columns for lon)
          val py = medianRes((0 until h - 1).flatMap(y =>
            (0 until w).map(x => lats((y + 1) * w + x) - lats(y * w + x))))
          val px = medianRes((0 until h).flatMap(y =>
            (0 until w - 1).map(x => lons(y * w + x + 1) - lons(y * w + x))))
          // storage order preserved (no 1-D y coord ⇒ no flip, netcdf.py:143-148)
          (lons.min - px / 2, lats.max + py / 2, px, py, true)
        case _ => // no coordinates: unit georeference (netcdf.py:296-297)
          (0.0, h.toDouble, 1.0, 1.0, true)
      }

      val nT = if (v.dims.size == 3) dimSize(v.dims.head) else 1
      (0 until nT).map { t =>
        val slice = new Array[Float](w * h)
        for (y <- 0 until h; x <- 0 until w) {
          val srcY = if (northUp) y else h - 1 - y
          val raw = v.data(t * w * h + srcY * w + x)
          slice(y * w + x) =
            if (v.fill.exists(f => f == raw)) Float.NaN else raw
        }
        t -> GeoTiff.Raster(w, h, slice, west, north, px, py)
      }
    }
  }

  def canHandle(b: Array[Byte]): Boolean =
    b.length >= 4 && b(0) == 'C' && b(1) == 'D' && b(2) == 'F' &&
      (b(3) == 1 || b(3) == 2 || b(3) == 5)

  /** Dispatch on magic: classic CDF-1 or NetCDF-4 (HDF5 container,
    * decoded natively by Hdf5 and assembled through the dimension-scale
    * conventions into the same model). */
  def readAny(bytes: Array[Byte]): File = readAny(bytes, None)

  /** `siblings`: directory context for HDF5 cross-file virtual
    * datasets (see [[Hdf5.Siblings]]); classic CDF ignores it. */
  def readAny(bytes: Array[Byte], siblings: Option[Hdf5.Siblings]): File =
    if (Hdf5.canHandle(bytes)) Hdf5.toNetCdf(ByteIn(bytes), siblings) else read(bytes)

  private val NC_DIMENSION = 10
  private val NC_VARIABLE = 11
  private val NC_ATTRIBUTE = 12
  private val NC_CHAR = 2
  private val NC_FLOAT = 5

  // ---- encode ------------------------------------------------------

  /** Write dims + float variables (row-major, time-major), optional
    * global NC_CHAR attributes and per-variable NC_CHAR attributes.
    * `version`: 1 (CDF-1), 2 (CDF-2, 64-bit begin offsets) or 5
    * (CDF-5, 64-bit counts/sizes too) — same field-width rules as the
    * reader, so specs round-trip every classic variant. */
  /** `unlimited`: name of the record dimension (its size in `dims` is
    * the record COUNT; the header stores 0 and numrecs carries the
    * count). Record variables — those whose first dim is `unlimited` —
    * store per-record slabs interleaved record-by-record, padded to 4
    * bytes unless there is exactly one record variable (the spec's
    * special case). */
  def write(dims: Seq[(String, Int)], variables: Seq[Variable],
            gattrs: Seq[(String, String)] = Nil,
            version: Int = 1, unlimited: Option[String] = None): Array[Byte] = {
    require(version == 1 || version == 2 || version == 5, s"bad CDF version $version")
    val nRecs = unlimited.map(u => dims.find(_._1 == u)
      .getOrElse(sys.error(s"unlimited dim '$u' not in dims"))._2).getOrElse(0)
    def isRecV(v: Variable): Boolean = unlimited.exists(v.dims.headOption.contains(_))
    variables.foreach(v => require(!unlimited.exists(v.dims.drop(1).contains(_)),
      s"variable '${v.name}': the unlimited dimension may only be first"))
    val recVars = variables.filter(isRecV)
    val singleRec = recVars.size == 1
    recVars.foreach(v => require(nRecs > 0 && v.data.length % nRecs == 0,
      s"variable '${v.name}': data length not a multiple of $nRecs records"))
    val nnW = if (version == 5) 8 else 4   // NON_NEG width
    val offW = if (version == 1) 4 else 8  // OFFSET width
    val out = new java.io.ByteArrayOutputStream()
    def u32(v: Int): Unit = {
      out.write(v >> 24); out.write((v >> 16) & 0xff)
      out.write((v >> 8) & 0xff); out.write(v & 0xff)
    }
    def nonNeg(v: Long): Unit = {
      if (nnW == 8) u32((v >>> 32).toInt)
      u32(v.toInt)
    }
    def offsetF(v: Long): Unit = {
      if (offW == 8) u32((v >>> 32).toInt)
      u32(v.toInt)
    }
    def name(s: String): Unit = {
      nonNeg(s.length.toLong); out.write(s.getBytes)
      val pad = (4 - s.length % 4) % 4
      (0 until pad).foreach(_ => out.write(0))
    }
    def charAttr(n: String, v: String): Unit = {
      name(n); u32(NC_CHAR); nonNeg(v.length.toLong)
      out.write(v.getBytes)
      val pad = (4 - v.length % 4) % 4
      (0 until pad).foreach(_ => out.write(0))
    }
    // ABSENT = 4-byte zero tag + NON_NEG-width zero count (the spec's
    // ZERO ZERO / ZERO ZERO64 — NOT two NON_NEG zeros)
    def absent(): Unit = { u32(0); nonNeg(0L) }
    out.write("CDF".getBytes); out.write(version) // magic + version
    nonNeg(nRecs.toLong) // numrecs
    // dim_list (the unlimited dim stores size 0)
    u32(NC_DIMENSION); nonNeg(dims.size.toLong)
    dims.foreach { case (n, sz) =>
      name(n); nonNeg(if (unlimited.contains(n)) 0L else sz.toLong) }
    // global attributes
    if (gattrs.isEmpty) absent()
    else {
      u32(NC_ATTRIBUTE); nonNeg(gattrs.size.toLong)
      gattrs.foreach { case (n, v) => charAttr(n, v) }
    }
    // var_list — compute header size first to lay out offsets
    def esOf(t: Int): Int = t match {
      case 1 | NC_CHAR => 1; case 3 => 2; case 4 | NC_FLOAT => 4; case 6 => 8
      case t => throw new IllegalArgumentException(s"unsupported write type $t")
    }
    def pad4(n: Int) = (4 - n % 4) % 4
    def nameSz(s: String) = nnW + s.length + pad4(s.length)
    def charAttrSz(n: String, v: String) =
      nameSz(n) + 4 + nnW + v.length + pad4(v.length)
    def fillSz(v: Variable) = {
      val es = esOf(v.ncType)
      nameSz("_FillValue") + 4 + nnW + es + pad4(es)
    }
    def vsizeOf(v: Variable) = {
      val raw =
        if (isRecV(v)) (v.data.length / nRecs) * esOf(v.ncType) // ONE record
        else v.data.length * esOf(v.ncType)
      // slabs pad to 4-byte alignment — except a lone record variable,
      // whose records are contiguous and unpadded (spec special case)
      if (isRecV(v) && singleRec) raw else raw + pad4(raw)
    }
    def varHeaderSize(v: Variable): Int = {
      nameSz(v.name) + nnW + nnW * v.dims.size +
        4 + nnW + // attr list tag + count (identical width when ABSENT)
        (if (v.fill.isDefined) fillSz(v) else 0) +
        v.attrs.map { case (n, s) => charAttrSz(n, s) }.sum +
        v.numAttrs.keys.toSeq.map(n => nameSz(n) + 4 + nnW + 8).sum + // NC_DOUBLE scalars
        4 + nnW + offW // type, vsize, begin
    }
    /** One value in the variable's external type (+alignment padding
      * is handled at slab level). */
    def typedValue(t: Int, f: Double): Unit = t match {
      case 1 => out.write(f.toByte.toInt)
      case NC_CHAR => out.write(f.toInt & 0xff)
      case 3 => out.write((f.toShort >> 8) & 0xff); out.write(f.toShort & 0xff)
      case 4 => u32(f.toInt)
      case NC_FLOAT => u32(java.lang.Float.floatToIntBits(f.toFloat))
      case 6 =>
        val bits = java.lang.Double.doubleToLongBits(f)
        u32((bits >>> 32).toInt); u32(bits.toInt)
    }
    val fixed = out.size() + 4 + nnW + variables.map(varHeaderSize).sum
    // fixed variables lay out first; record variables' begins point at
    // their slot inside record 0, after which records repeat every
    // recsize = sum of record vsizes
    var begin = fixed
    val beginByName = scala.collection.mutable.Map[String, Long]()
    variables.filterNot(isRecV).foreach { v =>
      beginByName(v.name) = begin.toLong; begin += vsizeOf(v)
    }
    recVars.foreach { v =>
      beginByName(v.name) = begin.toLong; begin += vsizeOf(v)
    }
    val begins = variables.map(v => beginByName(v.name))
    u32(NC_VARIABLE); nonNeg(variables.size.toLong)
    for ((v, b) <- variables.zip(begins)) {
      name(v.name)
      nonNeg(v.dims.size.toLong)
      v.dims.foreach(d => nonNeg(dims.indexWhere(_._1 == d).toLong))
      val nAtts = (if (v.fill.isDefined) 1 else 0) + v.attrs.size + v.numAttrs.size
      if (nAtts == 0) absent()
      else {
        u32(NC_ATTRIBUTE); nonNeg(nAtts.toLong)
        v.fill.foreach { f =>
          name("_FillValue"); u32(v.ncType); nonNeg(1L)
          typedValue(v.ncType, f.toDouble)
          (0 until pad4(esOf(v.ncType))).foreach(_ => out.write(0))
        }
        v.numAttrs.toSeq.sortBy(_._1).foreach { case (n, d) =>
          name(n); u32(6); nonNeg(1L); typedValue(6, d)
        }
        v.attrs.foreach { case (n, s) => charAttr(n, s) }
      }
      u32(v.ncType)
      nonNeg(vsizeOf(v).toLong) // vsize (padded; one record for record vars)
      offsetF(b) // begin
    }
    require(out.size() == fixed, s"header layout mismatch ${out.size()} vs $fixed")
    variables.filterNot(isRecV).foreach { v =>
      v.data.foreach(f => typedValue(v.ncType, f.toDouble))
      (0 until pad4(v.data.length * esOf(v.ncType))).foreach(_ => out.write(0))
    }
    // records interleave: record r = every record variable's r-th slab
    for (r <- 0 until nRecs; v <- recVars) {
      val perRec = v.data.length / nRecs
      (r * perRec until (r + 1) * perRec).foreach(i => typedValue(v.ncType, v.data(i).toDouble))
      if (!singleRec) (0 until pad4(perRec * esOf(v.ncType))).foreach(_ => out.write(0))
    }
    out.toByteArray
  }

  // ---- decode ------------------------------------------------------

  def read(bytes: Array[Byte]): File = {
    require(canHandle(bytes), "not NetCDF classic")
    // Version byte widens fields per the classic-format BNF: CDF-2
    // (NC_64BIT_OFFSET, the default for >2 GiB model output) keeps
    // 4-byte counts but 8-byte `begin` offsets; CDF-5 (NC_64BIT_DATA,
    // pnetcdf) widens every NON_NEG — counts, name/dim lengths,
    // attribute nelems, vsize — to 8 bytes as well.
    val version = bytes(3).toInt
    val bb = ByteBuffer.wrap(bytes) // big-endian by default
    bb.position(4)
    def nonNeg(): Long = if (version == 5) bb.getLong else bb.getInt.toLong
    def offsetF(): Long = if (version == 1) bb.getInt.toLong else bb.getLong
    val numrecs = nonNeg()
    require(numrecs >= 0, "STREAMING numrecs not supported")
    /** A header-declared count of `unit`-byte items, checked against the
      * bytes left BEFORE anything is allocated or skipped for it: a
      * flipped length byte would otherwise ask for up to 2 GiB, and the
      * OutOfMemoryError escapes the quarantine's `catch Exception`. */
    def sized(n: Long, unit: Int, what: String): Int = {
      require(n >= 0 && n <= bb.remaining().toLong / unit,
        s"corrupt header: $what $n overruns the ${bb.remaining()} bytes left")
      n.toInt
    }
    def name(): String = {
      val len = sized(nonNeg(), 1, "name length")
      val s = new Array[Byte](len); bb.get(s)
      bb.position(bb.position() + (4 - len % 4) % 4)
      new String(s)
    }
    /** Tag + count of one list. The tag is ALWAYS 4 bytes; the count
      * is NON_NEG-width — and ABSENT (ZERO ZERO / ZERO ZERO64 per the
      * spec BNF) is exactly a zero tag + zero count in those same
      * widths, so present and absent lists parse uniformly (12 bytes
      * absent in CDF-5, 8 in CDF-1/2). */
    def listCount(expected: Int): Int = {
      val tag = bb.getInt
      // every list entry takes at least a 4-byte name length
      val n = sized(nonNeg(), 4, "list count")
      if (tag == 0) require(n == 0, s"ABSENT list with nonzero count $n")
      else require(tag == expected, s"bad list tag $tag (expected $expected or ABSENT)")
      n
    }
    /** Size in bytes of one element of a numeric external type. */
    def elemSize(t: Int): Int = t match {
      case 1 | 2 => 1 // NC_BYTE, NC_CHAR
      case 3 => 2     // NC_SHORT
      case 4 | NC_FLOAT => 4
      case 6 => 8     // NC_DOUBLE
      case t => throw new IllegalArgumentException(s"unknown external type $t")
    }
    /** One value of type `t` at the current position. NC_CHAR reads as
      * the unsigned code unit — character data variables (station
      * names, label axes) carry their bytes through the float array
      * and decode to strings via [[File.charValues]]. */
    def numValue(t: Int): Double = t match {
      case 1 => bb.get().toDouble
      case 2 => (bb.get() & 0xff).toDouble
      case 3 => bb.getShort.toDouble
      case 4 => bb.getInt.toDouble
      case NC_FLOAT => java.lang.Float.intBitsToFloat(bb.getInt).toDouble
      case 6 => bb.getDouble
      case t => throw new IllegalArgumentException(s"non-numeric type $t")
    }
    /** One attribute list; returns (raw fill, string attrs, scalar
      * numeric attrs). The fill is kept RAW (pre-scaling) — packing
      * sentinels are compared in the stored domain. */
    def attrList(): (Option[Double], Map[String, String], Map[String, Double]) = {
      val nAtts = listCount(NC_ATTRIBUTE)
      var fill: Option[Double] = None
      val strs = scala.collection.mutable.Map[String, String]()
      val nums = scala.collection.mutable.Map[String, Double]()
      for (_ <- 0 until nAtts) {
        val an = name(); val at = bb.getInt
        val ac = sized(nonNeg(), elemSize(at), s"attribute '$an' length")
        if (at == NC_CHAR) {
          val s = new Array[Byte](ac); bb.get(s)
          bb.position(bb.position() + (4 - ac % 4) % 4)
          strs(an) = new String(s)
        } else if (ac == 1) {
          val v = numValue(at)
          bb.position(bb.position() + (4 - elemSize(at) % 4) % 4)
          if (an == "_FillValue") fill = Some(v) else nums(an) = v
        } else {
          val sz = elemSize(at) * ac
          bb.position(bb.position() + sz + (4 - sz % 4) % 4)
        }
      }
      (fill, strs.toMap, nums.toMap)
    }
    // dims
    val nDims = listCount(NC_DIMENSION)
    val dims = (0 until nDims).map(_ => (name(), nonNeg().toInt))
    // global atts
    val (_, gattrs, _) = attrList()
    // vars
    val nVars = listCount(NC_VARIABLE)
    val metas = (0 until nVars).map { _ =>
      val vn = name()
      val nd = sized(nonNeg(), 4, s"variable '$vn' dimension count")
      val vdims = (0 until nd).map(_ => dims(nonNeg().toInt)._1)
      val (fill, strAttrs, numAttrs) = attrList()
      val typ = bb.getInt
      elemSize(typ) // rejects unknown types loudly
      val vsize = nonNeg()
      val begin = offsetF()
      (vn, vdims, typ, fill, strAttrs, numAttrs, vsize, begin)
    }
    // Record (unlimited-dimension) layout: the unlimited dim is stored
    // with size 0 and its effective length is numrecs; variables whose
    // FIRST dim is unlimited store one per-record slab of `vsize`
    // bytes each, all record variables interleaved per record —
    // record r of a variable lives at begin + r·recsize where recsize
    // is the sum of every record variable's vsize (with exactly one
    // record variable, its declared vsize is already the unpadded
    // record, per the spec's special case — the header value is
    // authoritative either way).
    def sizeOf(d: String): Int = dims.find(_._1 == d).get._2
    def isRecordVar(vdims: Seq[String]): Boolean =
      vdims.headOption.exists(sizeOf(_) == 0)
    require(numrecs <= Int.MaxValue, s"implausible record count $numrecs")
    val nRecs = numrecs.toInt
    val recSize = metas.collect {
      case m if isRecordVar(m._2) =>
        require(m._7 != 0xffffffffL,
          s"variable '${m._1}': vsize overflow marker (>4 GiB records) not supported")
        m._7
    }.sum
    val variables = metas.map { case (vn, vdims, typ, fillRaw, strAttrs, numAttrs, vsize, begin) =>
      val es = elemSize(typ)
      val isRec = isRecordVar(vdims)
      require(vdims.drop(if (isRec) 1 else 0).forall(sizeOf(_) > 0),
        s"variable '$vn': the unlimited (record) dimension may only be the first")
      // overflow-safe bounds: the last byte this variable can touch
      // (the diagnostic, not a raw BufferUnderflow downstream, is the
      // dead-letter reason)
      val span = if (isRec && nRecs > 0) (nRecs - 1).toLong * recSize + vsize
                 else if (isRec) 0L else vsize
      require(begin >= 0 && vsize >= 0 && recSize >= 0 && span >= 0 &&
          begin <= bytes.length && span <= bytes.length - begin,
        s"variable '$vn' data [$begin, +$span) outside the file " +
          s"(${bytes.length} bytes; offsets beyond 2 GiB need a chunked reader)")
      val shape = vdims.map(d => { val sz = sizeOf(d); if (sz == 0) nRecs else sz })
      // dim sizes are positive ints (the record dim, first, may be 0), so
      // the product saturates past Int.MaxValue instead of wrapping
      def product(ds: Seq[Int]) = ds.foldLeft(1L)((a, d) => if (a > Int.MaxValue) a else a * d)
      val nElL = product(shape)
      // validate the Long product BEFORE narrowing and allocating: the
      // data of a classic file is stored uncompressed, so it must fit the
      // file; a corrupt header must dead-letter, not allocate for it
      require(nElL >= 0 && nElL <= bytes.length / es,
        s"variable '$vn': implausible element count $nElL (corrupt dims?)")
      val nEl = nElL.toInt
      // elements that must fit one contiguous slab: a whole record for
      // record variables, the whole variable otherwise
      val perSlab = if (isRec) math.min(product(shape.drop(1)), Int.MaxValue.toLong).toInt else nEl
      require(perSlab.toLong * es <= (if (isRec) vsize else vsize),
        s"variable '$vn': $perSlab elements of $es bytes exceed vsize $vsize")
      // CF packing (the ERA5-style layout): values = raw·scale + offset
      // with the fill sentinel compared RAW and NaN'd BEFORE scaling.
      // Without packing attrs this is the identity and the raw fill is
      // kept on the Variable for the caller's masking (the historical
      // behavior); with packing, masking must happen here — the scaled
      // sentinel would otherwise leak as a plausible number — so fill
      // is consumed and cleared.
      val scale = numAttrs.getOrElse("scale_factor", 1.0)
      val offs = numAttrs.getOrElse("add_offset", 0.0)
      val packed = scale != 1.0 || offs != 0.0
      val data = new Array[Float](nEl)
      val nSlabs = if (isRec) nRecs else 1
      var slab = 0
      var di = 0
      while (slab < nSlabs) {
        val b0 = (begin + slab.toLong * (if (isRec) recSize else 0L)).toInt
        if (typ == NC_FLOAT && !packed) {
          // the dominant ingest case keeps its tight loop — no
          // per-element type dispatch or Double round-trip
          var i = 0
          while (i < perSlab) { data(di) = bb.getFloat(b0 + i * 4); i += 1; di += 1 }
        } else {
          bb.position(b0)
          val fillD = fillRaw.getOrElse(Double.NaN)
          val hasFill = fillRaw.isDefined
          var i = 0
          while (i < perSlab) {
            val raw = numValue(typ)
            data(di) =
              if (packed) {
                if (hasFill && fillD == raw) Float.NaN
                else (raw * scale + offs).toFloat
              } else raw.toFloat
            i += 1; di += 1
          }
        }
        slab += 1
      }
      // Closure under write∘read: once unpacked, the Variable IS float
      // data — drop the packing attrs and declare NC_FLOAT, or a
      // re-export would truncate unscaled values back into the short
      // type and double-apply the scaling on the next read.
      Variable(vn, vdims, data,
        if (packed) None else fillRaw.map(_.toFloat),
        strAttrs,
        if (packed) numAttrs - "scale_factor" - "add_offset" else numAttrs,
        ncType = if (packed) NC_FLOAT else typ)
    }
    // present the unlimited dimension at its EFFECTIVE length — every
    // consumer (and a write∘read round trip, which re-emits it as a
    // fixed dim of identical data) sees real shapes, never the stored 0
    File(dims.map { case (n, sz) => (n, if (sz == 0) nRecs else sz) },
      variables, gattrs)
  }
}
