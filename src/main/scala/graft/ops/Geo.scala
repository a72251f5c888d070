package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Geometry operators (SURVEY F12/F13, P4):
  *
  *  - bbox intersection / containment as plain column arithmetic (exact,
  *    pushdown-friendly — these run against tile min/max metadata first);
  *  - exact point-in-polygon lives in [[ZonalIndex]] (the reference's
  *    rasterize-mask path, geoprocessing/zonal.py:30-38,
  *    ingestion/clipper.py:125-163);
  *  - clip-window arithmetic: geo bbox → integer pixel window with
  *    clamping and exact re-derived bounds (ingestion/clipper.py:51-123).
  */
object Geo {

  /** Sign of the cross product (P−A)×(B−A): which side of edge AB the
    * point lies on. Exact IEEE arithmetic, engine-portable. */
  def edgeSide(px: Column, py: Column, ax: Double, ay: Double, bx: Double, by: Double): Column =
    (lit(bx) - ax) * (py - ay) - (lit(by) - ay) * (px - ax)

  /** Point-in-triangle via three same-sign half-plane tests (CCW ring). */
  def inTriangle(px: Column, py: Column,
                 a: (Double, Double), b: (Double, Double), c: (Double, Double)): Column =
    edgeSide(px, py, a._1, a._2, b._1, b._2) >= 0 &&
      edgeSide(px, py, b._1, b._2, c._1, c._2) >= 0 &&
      edgeSide(px, py, c._1, c._2, a._1, a._2) >= 0

  /** CRS transforms (reference F12 `transform_geom`): WGS84 lon/lat ↔
    * Web-Mercator EPSG:3857 meters, the pair the serving layer needs
    * (tile endpoints speak 3857, the cube is 4326). Pure column math. */
  val EarthR = 6378137.0
  def lonToMercX(lon: Column): Column = lon * (EarthR * math.Pi / 180.0)
  def latToMercY(lat: Column): Column =
    log(tan(lit(math.Pi / 4) + radians(lat) / 2)) * EarthR
  def mercXToLon(x: Column): Column = x / (EarthR * math.Pi / 180.0)
  def mercYToLat(y: Column): Column =
    degrees(atan(exp(y / EarthR)) * 2 - lit(math.Pi / 2))

  /** Inverse spherical transverse Mercator (public USGS formulas;
    * central meridian `lon0Deg`): projected meters → (lon, lat) degrees.
    * The driver-side twin of the engine's pluggable inverse-projection
    * seam (grid/Regrid.reprojectProbesGeneric) — any CRS with an
    * inverse lands a probe table the same way. */
  def invTransverseMercator(lon0Deg: Double)(x: Double, y: Double): (Double, Double) = {
    val d = y / EarthR
    val xr = x / EarthR
    val lon = lon0Deg + math.toDegrees(math.atan(math.sinh(xr) / math.cos(d)))
    val lat = math.toDegrees(math.asin(math.sin(d) / math.cosh(xr)))
    (lon, lat)
  }

  /** Inverse spherical Lambert conformal conic, two standard parallels
    * (Snyder 1987 eq. 15-1..15-5 inverted; the reference warps through
    * any rasterio CRS pair, geoprocessing/regrid.py:23-70 — conic
    * projections are the continental-forecast staple, e.g. NCEP NAM).
    * All angles in degrees at the interface. */
  def invLambertConformalConic(lat1Deg: Double, lat2Deg: Double,
                               lat0Deg: Double, lon0Deg: Double)
                              (x: Double, y: Double): (Double, Double) =
    invLambertConformalConicSph(EarthR, lat1Deg, lat2Deg, lat0Deg, lon0Deg)(x, y)

  /** Radius-parameterized spherical LCC inverse — GRIB section-3
    * Lambert grids declare their own sphere (NCEP uses 6371229 m), so
    * the projected-grid decode path cannot hard-code the web-mercator
    * radius the serving layer uses. */
  def invLambertConformalConicSph(radius: Double,
                                  lat1Deg: Double, lat2Deg: Double,
                                  lat0Deg: Double, lon0Deg: Double)
                                 (x: Double, y: Double): (Double, Double) = {
    val phi1 = math.toRadians(lat1Deg); val phi2 = math.toRadians(lat2Deg)
    val phi0 = math.toRadians(lat0Deg)
    def t(phi: Double) = math.tan(math.Pi / 4 + phi / 2)
    val n =
      if (lat1Deg == lat2Deg) math.sin(phi1)
      else math.log(math.cos(phi1) / math.cos(phi2)) / math.log(t(phi2) / t(phi1))
    // symmetric parallels (lat1 = -lat2) give n = 0: the cone degenerates
    // to a cylinder (plain Mercator), which this conic inverse cannot take
    require(n != 0.0,
      s"LCC standard parallels must not be symmetric about the equator: $lat1Deg, $lat2Deg")
    val bigF = math.cos(phi1) * math.pow(t(phi1), n) / n
    val rho0 = radius * bigF / math.pow(t(phi0), n)
    val rho = math.signum(n) * math.sqrt(x * x + (rho0 - y) * (rho0 - y))
    // for n < 0 (south-parallel cones) the atan2 arguments flip sign
    // (Snyder 1987 p.107: reverse the signs of x, y, rho0 when n < 0)
    val theta =
      if (n >= 0) math.atan2(x, rho0 - y)
      else math.atan2(-x, y - rho0)
    val lon = wrapLon(lon0Deg + math.toDegrees(theta / n))
    val lat = math.toDegrees(
      2 * math.atan(math.pow(radius * bigF / rho, 1.0 / n)) - math.Pi / 2)
    (lon, lat)
  }

  /** Forward of [[invLambertConformalConicSph]] (Snyder eq. 15-1..15-4
    * on the declared sphere) — the GRIB 3.30 reader anchors the grid by
    * forward-projecting the first-point (La1, Lo1). */
  def fwdLambertConformalConicSph(radius: Double,
                                  lat1Deg: Double, lat2Deg: Double,
                                  lat0Deg: Double, lon0Deg: Double)
                                 (lonDeg: Double, latDeg: Double): (Double, Double) = {
    val phi1 = math.toRadians(lat1Deg); val phi2 = math.toRadians(lat2Deg)
    def t(phi: Double) = math.tan(math.Pi / 4 + phi / 2)
    val n =
      if (lat1Deg == lat2Deg) math.sin(phi1)
      else math.log(math.cos(phi1) / math.cos(phi2)) / math.log(t(phi2) / t(phi1))
    require(n != 0.0,
      s"LCC standard parallels must not be symmetric about the equator: $lat1Deg, $lat2Deg")
    val bigF = math.cos(phi1) * math.pow(t(phi1), n) / n
    val rho0 = radius * bigF / math.pow(t(math.toRadians(lat0Deg)), n)
    val rho = radius * bigF / math.pow(t(math.toRadians(latDeg)), n)
    // shortest angular difference keeps theta finite across the
    // antimeridian (GRIB longitudes arrive 0..360)
    val dLon = { val d = (lonDeg - lon0Deg) % 360.0
                 if (d > 180) d - 360 else if (d < -180) d + 360 else d }
    val theta = math.toRadians(n * dLon)
    (rho * math.sin(theta), rho0 - rho * math.cos(theta))
  }

  /** WGS84 first eccentricity (e² = f(2−f), f = 1/298.257223563). */
  val WGS84E = math.sqrt(0.0066943799901413165)

  /** Inverse ELLIPSOIDAL (WGS84) Mercator — the datum-true variant of
    * the spherical web-mercator above (EPSG:3395 vs 3857; Snyder
    * eq. 7-9/7-10). The latitude series has no closed form; the
    * fixed-point iteration converges quadratically — 8 iterations is
    * exact to the last double ULP, and a FIXED count keeps the
    * function bit-deterministic. */
  def invEllipsoidalMercator(lon0Deg: Double)(x: Double, y: Double): (Double, Double) = {
    val e = WGS84E
    val ts = math.exp(-y / EarthR)
    var phi = math.Pi / 2 - 2 * math.atan(ts)
    var i = 0
    while (i < 8) {
      val con = e * math.sin(phi)
      phi = math.Pi / 2 - 2 * math.atan(ts * math.pow((1 - con) / (1 + con), e / 2))
      i += 1
    }
    (lon0Deg + math.toDegrees(x / EarthR), math.toDegrees(phi))
  }

  /** Normalize a longitude into [-180, 180) — polar/conic inverses can
    * emit up to lon0 ± 180 past the antimeridian. */
  private def wrapLon(lonDeg: Double): Double = {
    val w = ((lonDeg + 180.0) % 360.0 + 360.0) % 360.0 - 180.0
    w
  }

  /** Inverse spherical polar stereographic, north aspect, true scale at
    * `latTsDeg` (Snyder 1987 eq. 20-14..20-17 with 21-15; the NSIDC
    * sea-ice grid family, e.g. EPSG:3413's spherical cousin). Down-axis
    * points along `lon0Deg`; at the pole (rho = 0) longitude is pinned
    * to lon0 so the function stays total and deterministic. */
  def invPolarStereographic(lon0Deg: Double, latTsDeg: Double)
                           (x: Double, y: Double): (Double, Double) =
    invPolarStereographicSph(EarthR, lon0Deg, latTsDeg)(x, y)

  /** Radius-parameterized spherical polar stereographic inverse — the
    * GRIB 3.20 grids declare their own sphere, like the Lambert ones. */
  def invPolarStereographicSph(radius: Double, lon0Deg: Double, latTsDeg: Double)
                              (x: Double, y: Double): (Double, Double) = {
    val k0 = (1.0 + math.sin(math.toRadians(latTsDeg))) / 2.0
    val rho = math.sqrt(x * x + y * y)
    val lat = math.toDegrees(
      math.Pi / 2 - 2 * math.atan(rho / (2 * radius * k0)))
    val lon =
      if (rho == 0.0) lon0Deg
      else wrapLon(lon0Deg + math.toDegrees(math.atan2(x, -y)))
    (lon, lat)
  }

  /** Rotated lat/lon (GRIB2 grid 3.1 — the COSMO/ICON/CORDEX regional
    * grid family): the grid lives in a coordinate system whose NORTH
    * pole sits at true (−spLat, spLon+180) — an unrotated grid
    * declares its south pole of projection at (−90, 0). Built from
    * explicit basis vectors so no trig-identity sign convention can
    * drift: ẑ' is the rotated pole's true unit vector, x̂' the rotated
    * (0°, 0°) direction, ŷ' = ẑ'×x̂'; a rotated point's true vector is
    * the basis combination, then φ = asin(v_z), λ = atan2(v_y, v_x).
    * Returns (trueLon, trueLat) from rotated degrees. */
  def invRotatedPole(spLatDeg: Double, spLonDeg: Double)
                    (lonRDeg: Double, latRDeg: Double): (Double, Double) = {
    val (xh, yh, zh) = rotatedBasis(spLatDeg, spLonDeg)
    val lr = math.toRadians(lonRDeg); val pr = math.toRadians(latRDeg)
    val a = math.cos(pr) * math.cos(lr)
    val b = math.cos(pr) * math.sin(lr)
    val c = math.sin(pr)
    val vx = a * xh._1 + b * yh._1 + c * zh._1
    val vy = a * xh._2 + b * yh._2 + c * zh._2
    val vz = a * xh._3 + b * yh._3 + c * zh._3
    (wrapLon(math.toDegrees(math.atan2(vy, vx))),
      math.toDegrees(math.asin(math.max(-1.0, math.min(1.0, vz)))))
  }

  /** Forward of [[invRotatedPole]]: true (lon, lat) → rotated degrees
    * (the basis transpose). */
  def fwdRotatedPole(spLatDeg: Double, spLonDeg: Double)
                    (lonDeg: Double, latDeg: Double): (Double, Double) = {
    val (xh, yh, zh) = rotatedBasis(spLatDeg, spLonDeg)
    val l = math.toRadians(lonDeg); val p = math.toRadians(latDeg)
    val vx = math.cos(p) * math.cos(l)
    val vy = math.cos(p) * math.sin(l)
    val vz = math.sin(p)
    val a = vx * xh._1 + vy * xh._2 + vz * xh._3
    val b = vx * yh._1 + vy * yh._2 + vz * yh._3
    val c = vx * zh._1 + vy * zh._2 + vz * zh._3
    (wrapLon(math.toDegrees(math.atan2(b, a))),
      math.toDegrees(math.asin(math.max(-1.0, math.min(1.0, c)))))
  }

  private def rotatedBasis(spLatDeg: Double, spLonDeg: Double)
      : ((Double, Double, Double), (Double, Double, Double), (Double, Double, Double)) = {
    // rotated NORTH pole at true (−spLat, spLon+180)
    val pp = math.toRadians(-spLatDeg)
    val lp = math.toRadians(spLonDeg + 180.0)
    val zh = (math.cos(pp) * math.cos(lp), math.cos(pp) * math.sin(lp), math.sin(pp))
    // x̂' = the rotated (0°, 0°) direction: the pole vector tilted 90°
    // down its own meridian (the northward tangent there). Identity
    // check: spLat=−90, spLon=0 → pp=π/2, lp=π gives
    // (−sin(π/2)cos(π), −sin(π/2)sin(π), cos(π/2)) = (1, 0, 0) ✓
    val xh = (-math.sin(pp) * math.cos(lp), -math.sin(pp) * math.sin(lp), math.cos(pp))
    val yh = (zh._2 * xh._3 - zh._3 * xh._2,
      zh._3 * xh._1 - zh._1 * xh._3,
      zh._1 * xh._2 - zh._2 * xh._1) // ẑ' × x̂'
    (xh, yh, zh)
  }

  /** Inverse geostationary / space-view perspective (GRIB2 grid 3.90,
    * the Meteosat/GOES/Himawari full-disc family; CGMS LRIT/HRIT
    * normalized geostationary geometry, also eccodes'
    * grib_iterator_class_space_view.c). The satellite sits `h` meters
    * from the EARTH CENTER above (0°N, `lopDeg`); inputs are the two
    * scan angles in radians — x positive east, y positive north, both
    * zero at the sub-satellite point. The view ray S + t·d intersects
    * the (re, rp) ellipsoid at the near root of
    *   t²(cos²y + u·sin²y) − 2·h·cosx·cosy·t + (h² − re²) = 0,
    * u = re²/rp²; a negative discriminant means the ray misses the
    * disc (a space pixel) → (NaN, NaN). Geodetic latitude converts
    * from the geocentric intersection via tanφ = u·tanφc. */
  def invGeostationary(re: Double, rp: Double, lopDeg: Double, h: Double)
                      (x: Double, y: Double): (Double, Double) = {
    val u = (re * re) / (rp * rp)
    val cx = math.cos(x); val sx = math.sin(x)
    val cy = math.cos(y); val sy = math.sin(y)
    val a = cy * cy + u * sy * sy
    val bHalf = h * cx * cy
    val disc = bHalf * bHalf - a * (h * h - re * re)
    if (disc < 0) return (Double.NaN, Double.NaN)
    val t = (bHalf - math.sqrt(disc)) / a
    val pX = h - t * cx * cy
    val pY = t * sx * cy
    val pZ = t * sy
    val lon = wrapLon(lopDeg + math.toDegrees(math.atan2(pY, pX)))
    val lat = math.toDegrees(math.atan(u * pZ / math.sqrt(pX * pX + pY * pY)))
    (lon, lat)
  }

  /** Forward of [[invGeostationary]]: (lon, lat) → the two scan angles
    * in radians, for anchoring tests and sector math. */
  def fwdGeostationary(re: Double, rp: Double, lopDeg: Double, h: Double)
                      (lonDeg: Double, latDeg: Double): (Double, Double) = {
    val u = (re * re) / (rp * rp)
    val phiC = math.atan(math.tan(math.toRadians(latDeg)) / u) // geocentric
    // local ellipsoid radius at geocentric latitude
    val cc = math.cos(phiC); val sc = math.sin(phiC)
    val rl = rp / math.sqrt(1.0 - (1.0 - (rp * rp) / (re * re)) * cc * cc)
    val dl = math.toRadians(lonDeg - lopDeg)
    val pX = rl * cc * math.cos(dl)
    val pY = rl * cc * math.sin(dl)
    val pZ = rl * sc
    val x = math.atan2(pY, h - pX)
    val y = math.atan2(pZ, math.sqrt((h - pX) * (h - pX) + pY * pY))
    (x, y)
  }

  /** Inverse spherical Mercator on a declared sphere, true scale at
    * `latTsDeg` (Snyder 1987 eq. 7-4/7-5 with the cos φ₁ scale factor)
    * — the GRIB template 3.10 frame (tropical-band products). `lon0Deg`
    * is the frame's zero-x meridian. */
  def invMercatorSph(radius: Double, lon0Deg: Double, latTsDeg: Double)
                    (x: Double, y: Double): (Double, Double) = {
    val rc = radius * math.cos(math.toRadians(latTsDeg))
    val lon = wrapLon(lon0Deg + math.toDegrees(x / rc))
    val lat = math.toDegrees(2 * math.atan(math.exp(y / rc)) - math.Pi / 2)
    (lon, lat)
  }

  /** Forward of [[invMercatorSph]] (Snyder eq. 7-1/7-2 scaled to the
    * `latTsDeg` true-scale parallel) — anchors GRIB 3.10 grids by
    * their first point. */
  def fwdMercatorSph(radius: Double, lon0Deg: Double, latTsDeg: Double)
                    (lonDeg: Double, latDeg: Double): (Double, Double) = {
    val rc = radius * math.cos(math.toRadians(latTsDeg))
    val dLon = { val d = (lonDeg - lon0Deg) % 360.0
                 if (d > 180) d - 360 else if (d < -180) d + 360 else d }
    (rc * math.toRadians(dLon),
      rc * math.log(math.tan(math.Pi / 4 + math.toRadians(latDeg) / 2)))
  }

  /** Forward of [[invPolarStereographicSph]] (Snyder eq. 21-5..21-8
    * north aspect on the declared sphere) — anchors GRIB 3.20 grids by
    * their first point. */
  def fwdPolarStereographicSph(radius: Double, lon0Deg: Double, latTsDeg: Double)
                              (lonDeg: Double, latDeg: Double): (Double, Double) = {
    val k0 = (1.0 + math.sin(math.toRadians(latTsDeg))) / 2.0
    val rho = 2 * radius * k0 * math.tan(math.Pi / 4 - math.toRadians(latDeg) / 2)
    val dLon = { val d = (lonDeg - lon0Deg) % 360.0
                 if (d > 180) d - 360 else if (d < -180) d + 360 else d }
    val theta = math.toRadians(dLon)
    (rho * math.sin(theta), -rho * math.cos(theta))
  }

  /** Spherical azimuthal equidistant forward, oblique aspect centered
    * on the tangency point (latCDeg, lonCDeg) — Snyder 1987 eq.
    * 25-1..25-4: straight lines through the center are great circles
    * with TRUE distance (rho = R·c). GRIB2 grid template 3.110 declares
    * this projection for radar-centric products. At the center (c = 0)
    * the scale factor k' = c/sin c is taken at its limit 1. */
  def fwdAzimuthalEquidistantSph(radius: Double, latCDeg: Double, lonCDeg: Double)
                                (lonDeg: Double, latDeg: Double): (Double, Double) = {
    val phi1 = math.toRadians(latCDeg); val phi = math.toRadians(latDeg)
    val dLon = { val d = (lonDeg - lonCDeg) % 360.0
                 if (d > 180) d - 360 else if (d < -180) d + 360 else d }
    val lam = math.toRadians(dLon)
    val cosC = math.sin(phi1) * math.sin(phi) +
      math.cos(phi1) * math.cos(phi) * math.cos(lam)
    val c = math.acos(math.max(-1.0, math.min(1.0, cosC)))
    val kp = if (c < 1e-12) 1.0 else c / math.sin(c)
    (radius * kp * math.cos(phi) * math.sin(lam),
      radius * kp * (math.cos(phi1) * math.sin(phi) -
        math.sin(phi1) * math.cos(phi) * math.cos(lam)))
  }

  /** Inverse of [[fwdAzimuthalEquidistantSph]] (Snyder eq. 20-14..20-18
    * with c = rho/R, eq. 25-15): recovers (lon, lat) from projected
    * meters about the tangency point. rho = 0 pins to the center so the
    * function stays total. */
  def invAzimuthalEquidistantSph(radius: Double, latCDeg: Double, lonCDeg: Double)
                                (x: Double, y: Double): (Double, Double) = {
    val rho = math.sqrt(x * x + y * y)
    if (rho == 0.0) (lonCDeg, latCDeg)
    else {
      val phi1 = math.toRadians(latCDeg)
      val c = rho / radius
      val sinC = math.sin(c); val cosC = math.cos(c)
      val lat = math.asin(math.max(-1.0, math.min(1.0,
        cosC * math.sin(phi1) + y * sinC * math.cos(phi1) / rho)))
      val lon = lonCDeg + math.toDegrees(math.atan2(
        x * sinC, rho * math.cos(phi1) * cosC - y * math.sin(phi1) * sinC))
      (wrapLon(lon), math.toDegrees(lat))
    }
  }

  /** Inverse ELLIPSOIDAL (WGS84) polar stereographic, north aspect,
    * true scale at `latTsDeg` — the datum-true form of the spherical
    * inverse above and the actual EPSG:3413 (NSIDC sea-ice) datum the
    * reference warps through rasterio/PROJ (geoprocessing/
    * regrid.py:23-70). Snyder 1987 eq. 21-15/21-16 define t and m at
    * the true-scale parallel; the latitude recovers from t via the
    * same fixed-point iteration as [[invEllipsoidalMercator]] (eq.
    * 7-9), fixed at 8 rounds for bit-determinism. The pole (rho = 0)
    * pins longitude to lon0. */
  def invPolarStereographicEll(lon0Deg: Double, latTsDeg: Double)
                              (x: Double, y: Double): (Double, Double) = {
    val e = WGS84E
    val phiC = math.toRadians(latTsDeg)
    val sinC = math.sin(phiC)
    val tC = math.tan(math.Pi / 4 - phiC / 2) /
      math.pow((1 - e * sinC) / (1 + e * sinC), e / 2)
    val mC = math.cos(phiC) / math.sqrt(1 - e * e * sinC * sinC)
    val rho = math.sqrt(x * x + y * y)
    val ts = rho * tC / (EarthR * mC)
    var phi = math.Pi / 2 - 2 * math.atan(ts)
    var i = 0
    while (i < 8) {
      val con = e * math.sin(phi)
      phi = math.Pi / 2 - 2 * math.atan(ts * math.pow((1 - con) / (1 + con), e / 2))
      i += 1
    }
    val lon =
      if (rho == 0.0) lon0Deg
      else wrapLon(lon0Deg + math.toDegrees(math.atan2(x, -y)))
    (lon, math.toDegrees(phi))
  }

  /** Inverse ELLIPSOIDAL (WGS84) Lambert conformal conic — the
    * datum-true form of [[invLambertConformalConic]] and the actual
    * projection behind the NCEP CONUS grids (e.g. grid 227 / the HRRR
    * family), which the reference warps through rasterio/PROJ
    * (geoprocessing/regrid.py:23-70). Snyder 1987 eq. 15-1..15-11:
    * t(φ) (eq. 15-9) and m(φ) (eq. 14-15) build the cone constant n
    * (eq. 15-8), F (eq. 15-10) and rho0 (eq. 15-7a); the inverse
    * recovers t from rho (eq. 15-11) and iterates eq. 7-9 to the
    * geodetic latitude, fixed at 8 rounds for bit-determinism (the
    * same iteration as [[invEllipsoidalMercator]] /
    * [[invPolarStereographicEll]]). South-parallel cones (n < 0) flip
    * the atan2 arguments like the spherical form. */
  def invLambertConformalConicEll(lat1Deg: Double, lat2Deg: Double,
                                  lat0Deg: Double, lon0Deg: Double)
                                 (x: Double, y: Double): (Double, Double) = {
    val e = WGS84E
    def tOf(phi: Double) = {
      val s = e * math.sin(phi)
      math.tan(math.Pi / 4 - phi / 2) / math.pow((1 - s) / (1 + s), e / 2)
    }
    def mOf(phi: Double) = {
      val s = math.sin(phi)
      math.cos(phi) / math.sqrt(1 - e * e * s * s)
    }
    val phi1 = math.toRadians(lat1Deg); val phi2 = math.toRadians(lat2Deg)
    val n =
      if (lat1Deg == lat2Deg) math.sin(phi1)
      else math.log(mOf(phi1) / mOf(phi2)) / math.log(tOf(phi1) / tOf(phi2))
    // symmetric parallels degenerate the cone to a cylinder (ellipsoidal
    // Mercator) — a different projection, not a limit this inverse takes
    require(n != 0.0,
      s"LCC standard parallels must not be symmetric about the equator: $lat1Deg, $lat2Deg")
    val bigF = mOf(phi1) / (n * math.pow(tOf(phi1), n))
    val rho0 = EarthR * bigF * math.pow(tOf(math.toRadians(lat0Deg)), n)
    val rho = math.signum(n) * math.sqrt(x * x + (rho0 - y) * (rho0 - y))
    val theta =
      if (n >= 0) math.atan2(x, rho0 - y)
      else math.atan2(-x, y - rho0)
    val ts = math.pow(rho / (EarthR * bigF), 1.0 / n)
    var phi = math.Pi / 2 - 2 * math.atan(ts)
    var i = 0
    while (i < 8) {
      val con = e * math.sin(phi)
      phi = math.Pi / 2 - 2 * math.atan(ts * math.pow((1 - con) / (1 + con), e / 2))
      i += 1
    }
    (wrapLon(lon0Deg + math.toDegrees(theta / n)), math.toDegrees(phi))
  }

  /** Inverse ELLIPSOIDAL (WGS84) transverse Mercator — the UTM-family
    * datum-true form of [[invTransverseMercator]] (Snyder 1987 eq.
    * 8-9..8-25, the series inverse every UTM zone uses; reference warp
    * path geoprocessing/regrid.py:23-70). `k0` defaults to UTM's
    * 0.9996; x is the easting from the central meridian (no false
    * easting), y the northing from the equator. The footpoint latitude
    * comes from the rectifying-latitude series (eq. 3-26/7-19) — a
    * closed series, no iteration, bit-deterministic by construction. */
  def invTransverseMercatorEll(lon0Deg: Double, k0: Double = 0.9996)
                              (x: Double, y: Double): (Double, Double) = {
    val e2 = WGS84E * WGS84E
    val e4 = e2 * e2; val e6 = e4 * e2
    val ep2 = e2 / (1 - e2) // second eccentricity squared
    // rectifying latitude mu from the meridional arc M = y / k0 (eq. 7-19)
    val m = y / k0
    val mu = m / (EarthR * (1 - e2 / 4 - 3 * e4 / 64 - 5 * e6 / 256))
    val e1 = (1 - math.sqrt(1 - e2)) / (1 + math.sqrt(1 - e2))
    // footpoint latitude phi1 (eq. 3-26)
    val phi1 = mu +
      (3 * e1 / 2 - 27 * math.pow(e1, 3) / 32) * math.sin(2 * mu) +
      (21 * e1 * e1 / 16 - 55 * math.pow(e1, 4) / 32) * math.sin(4 * mu) +
      (151 * math.pow(e1, 3) / 96) * math.sin(6 * mu) +
      (1097 * math.pow(e1, 4) / 512) * math.sin(8 * mu)
    val sin1 = math.sin(phi1); val cos1 = math.cos(phi1); val tan1 = math.tan(phi1)
    val c1 = ep2 * cos1 * cos1
    val t1 = tan1 * tan1
    val n1 = EarthR / math.sqrt(1 - e2 * sin1 * sin1)
    val r1 = EarthR * (1 - e2) / math.pow(1 - e2 * sin1 * sin1, 1.5)
    val d = x / (n1 * k0)
    val d2 = d * d
    // eq. 8-17 / 8-18
    val lat = phi1 - (n1 * tan1 / r1) * (d2 / 2 -
      (5 + 3 * t1 + 10 * c1 - 4 * c1 * c1 - 9 * ep2) * d2 * d2 / 24 +
      (61 + 90 * t1 + 298 * c1 + 45 * t1 * t1 - 252 * ep2 - 3 * c1 * c1) *
        d2 * d2 * d2 / 720)
    val lon = math.toRadians(lon0Deg) + (d -
      (1 + 2 * t1 + c1) * d2 * d / 6 +
      (5 - 2 * c1 + 28 * t1 - 3 * c1 * c1 + 8 * ep2 + 24 * t1 * t1) *
        d2 * d2 * d / 120) / cos1
    (wrapLon(math.toDegrees(lon)), math.toDegrees(lat))
  }

  /** Inverse ELLIPSOIDAL (WGS84) Albers equal-area conic — datum-true
    * CONUS analysis grids (EPSG:5070's family). Snyder 1987: q (eq.
    * 3-12) and m (eq. 14-15) build the cone constant n (eq. 14-14),
    * C (eq. 14-13) and rho0 (eq. 14-12a); the inverse recovers q from
    * rho (eq. 14-19) and iterates eq. 3-16 to the geodetic latitude,
    * seeded with the authalic-sphere estimate. A FIXED 10 iterations
    * keeps the function bit-deterministic; |q| ≥ q_pole short-circuits
    * to ±90° exactly (eq. 14-20's polar case), which also keeps the
    * 1/cos(phi) term in eq. 3-16 finite. South-parallel cones (n < 0)
    * flip the atan2 arguments like the spherical form. */
  def invAlbersEqualAreaEll(lat1Deg: Double, lat2Deg: Double,
                            lat0Deg: Double, lon0Deg: Double)
                           (x: Double, y: Double): (Double, Double) = {
    val e = WGS84E; val e2 = e * e
    def qOf(phi: Double) = {
      val s = math.sin(phi)
      (1 - e2) * (s / (1 - e2 * s * s) -
        (1 / (2 * e)) * math.log((1 - e * s) / (1 + e * s)))
    }
    def mOf(phi: Double) = {
      val s = math.sin(phi)
      math.cos(phi) / math.sqrt(1 - e2 * s * s)
    }
    val phi1 = math.toRadians(lat1Deg); val phi2 = math.toRadians(lat2Deg)
    val m1 = mOf(phi1); val m2 = mOf(phi2)
    val q1 = qOf(phi1); val q2 = qOf(phi2)
    val n = if (lat1Deg == lat2Deg) math.sin(phi1) else (m1 * m1 - m2 * m2) / (q2 - q1)
    require(n != 0.0,
      s"Albers standard parallels must not be symmetric about the equator: $lat1Deg, $lat2Deg")
    val cBig = m1 * m1 + n * q1
    val rho0 = EarthR * math.sqrt(cBig - n * qOf(math.toRadians(lat0Deg))) / n
    val rho = math.sqrt(x * x + (rho0 - y) * (rho0 - y))
    val theta =
      if (n >= 0) math.atan2(x, rho0 - y)
      else math.atan2(-x, y - rho0)
    val q = (cBig - (rho * n / EarthR) * (rho * n / EarthR)) / n
    val qPole = qOf(math.Pi / 2)
    val lat =
      if (math.abs(q) >= qPole) math.signum(q) * 90.0
      else {
        var phi = math.asin(math.max(-1.0, math.min(1.0, q / 2)))
        var i = 0
        while (i < 10) {
          val s = math.sin(phi); val den = 1 - e2 * s * s
          phi += den * den / (2 * math.cos(phi)) *
            (q / (1 - e2) - s / den + (1 / (2 * e)) * math.log((1 - e * s) / (1 + e * s)))
          i += 1
        }
        math.toDegrees(phi)
      }
    (wrapLon(lon0Deg + math.toDegrees(theta / n)), lat)
  }

  /** Inverse spherical Albers equal-area conic, two standard parallels
    * (Snyder 1987 eq. 14-3..14-11 inverted; the CONUS analysis-grid
    * staple). Equal-area complements the conformal LCC above — the two
    * conic families cover the continental products the reference warps
    * through rasterio (geoprocessing/regrid.py:23-70). */
  def invAlbersEqualArea(lat1Deg: Double, lat2Deg: Double,
                         lat0Deg: Double, lon0Deg: Double)
                        (x: Double, y: Double): (Double, Double) = {
    val phi1 = math.toRadians(lat1Deg); val phi2 = math.toRadians(lat2Deg)
    val phi0 = math.toRadians(lat0Deg)
    val n = (math.sin(phi1) + math.sin(phi2)) / 2.0
    // symmetric parallels (lat1 = -lat2) degenerate the cone to a
    // cylinder; that's a different projection (cylindrical equal-area),
    // not a limit this inverse can take
    require(n != 0.0,
      s"Albers standard parallels must not be symmetric about the equator: $lat1Deg, $lat2Deg")
    val c = math.cos(phi1) * math.cos(phi1) + 2 * n * math.sin(phi1)
    val rho0 = EarthR * math.sqrt(c - 2 * n * math.sin(phi0)) / n
    val rho = math.sqrt(x * x + (rho0 - y) * (rho0 - y))
    // for n < 0 (south-parallel cones) the atan2 arguments flip sign
    val theta =
      if (n >= 0) math.atan2(x, rho0 - y)
      else math.atan2(-x, y - rho0)
    val sinPhi = (c - (rho * n / EarthR) * (rho * n / EarthR)) / (2 * n)
    val lat = math.toDegrees(math.asin(math.max(-1.0, math.min(1.0, sinPhi))))
    (wrapLon(lon0Deg + math.toDegrees(theta / n)), lat)
  }

  /** Latitudes of the global regular Gaussian grid with `n` parallels
    * (n even): the Gauss–Legendre abscissae x_i (roots of P_n) mapped
    * through lat = asin(x), descending north→south. Newton iteration
    * with the standard cos seed converges quadratically; a FIXED 20
    * rounds reaches the double floor for any n in operational use
    * (ECMWF F1280 = n 2560) and keeps the table bit-deterministic. */
  def gaussianLatitudes(n: Int): Array[Double] = {
    require(n >= 2 && n % 2 == 0, s"Gaussian grid needs an even parallel count, got $n")
    val lats = new Array[Double](n)
    var i = 1
    while (i <= n / 2) {
      var x = math.cos(math.Pi * (i - 0.25) / (n + 0.5))
      var it = 0
      while (it < 20) {
        // Legendre recurrence: P_k(x) and derivative via (1-x^2)P' = n(P_{n-1} - x P_n)
        var p0 = 1.0; var p1 = x
        var k = 2
        while (k <= n) {
          val p2 = ((2 * k - 1) * x * p1 - (k - 1) * p0) / k
          p0 = p1; p1 = p2
          k += 1
        }
        val dp = n * (p0 - x * p1) / (1 - x * x)
        x -= p1 / dp
        it += 1
      }
      val lat = math.toDegrees(math.asin(x))
      lats(i - 1) = lat          // northern hemisphere, descending
      lats(n - i) = -lat         // mirror
      i += 1
    }
    lats
  }

  /** Pixel window of a geo bbox in a north-up grid frame
    * (west,north origin; pw/ph = pixel sizes in degrees). Returns
    * (col_off, row_off, width, height) clamped to the grid, matching the
    * reference's floor/ceil/clamp window math. */
  def clipWindow(bw: Column, bs: Column, be: Column, bn: Column,
                 gridW: Int, gridH: Int,
                 west: Double, north: Double, pw: Double, ph: Double)
      : Seq[Column] = {
    // offsets clamped into the grid on BOTH ends — a box entirely past
    // the east/south edge must not report an out-of-grid offset
    val colOff = least(lit(gridW), greatest(lit(0), floor((bw - west) / pw).cast("int")))
    val colEnd = least(lit(gridW), greatest(lit(0), ceil((be - west) / pw).cast("int")))
    val rowOff = least(lit(gridH), greatest(lit(0), floor((lit(north) - bn) / ph).cast("int")))
    val rowEnd = least(lit(gridH), greatest(lit(0), ceil((lit(north) - bs) / ph).cast("int")))
    val w = greatest(lit(0), colEnd - colOff)
    val h = greatest(lit(0), rowEnd - rowOff)
    // an empty intersection on either axis empties the whole window
    val empty = w === 0 || h === 0
    Seq(colOff.as("col_off"), rowOff.as("row_off"),
      when(empty, 0).otherwise(w).as("width"),
      when(empty, 0).otherwise(h).as("height"))
  }
}
