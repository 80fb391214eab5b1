package graft.ops

/** 7-parameter Helmert datum transformations (EPSG method 9606,
  * position-vector rotation convention) — the datum-shift step the
  * reference gets from `rasterio.warp.transform(src.crs, 'EPSG:4326',
  * …)` (fix_transparency.py:72) whenever the source CRS is not
  * WGS84-based. Without it a legacy-datum grid (OSGB36/Airy 1830 is the
  * registered case) lands up to ~125 m from its true WGS84 position —
  * enough to misplace every cell of a 30 m raster in a geotagged join.
  *
  * Pipeline: geodetic (φ, λ, h=0) on the source ellipsoid → geocentric
  * cartesian XYZ → Helmert 7-parameter similarity → geodetic on WGS84
  * (fixed-point latitude recovery). Published closed forms (e.g. OS
  * "A guide to coordinate systems in Great Britain", Annex B; Snyder's
  * geodetic↔geocentric identities).
  *
  * Oracle conventions shared with the Krüger/conic cores: derived
  * constants (rotations in radians, the scale factor) are exposed vals
  * pasted into the SQL as exact doubles; the latitude fixed point
  * freezes on |Δφ| < 1e-14 with a hard 10-step cap, mirrored
  * step-for-step by the oracle's unrolled CTE chain.
  */
object Datum {

  /** Position-vector 7-parameter Helmert: translations in metres,
    * rotations in ARC-SECONDS (sign convention of EPSG method 9606 —
    * coordinate frames negate them), scale in parts-per-million. */
  final case class Helmert7(txM: Double, tyM: Double, tzM: Double,
                            rxAs: Double, ryAs: Double, rzAs: Double,
                            sPpm: Double) {
    /** Rotations in radians and the scale multiplier — the exact
      * doubles the SQL oracle pastes. */
    val rx: Double = rxAs / 3600.0 * (math.Pi / 180.0)
    val ry: Double = ryAs / 3600.0 * (math.Pi / 180.0)
    val rz: Double = rzAs / 3600.0 * (math.Pi / 180.0)
    val m: Double = 1.0 + sPpm * 1e-6

    /** Apply to a geocentric position (small-angle linearized rotation
      * matrix, as the EPSG method defines — NOT a trig rotation). */
    def apply(x: Double, y: Double, z: Double): (Double, Double, Double) =
      (txM + m * (x - rz * y + ry * z),
       tyM + m * (rz * x + y - rx * z),
       tzM + m * (-ry * x + rx * y + z))

    /** EPSG reversal: negate all seven parameters. Exact only to first
      * order (the method is a linearization); the residual is dominated
      * by the cross terms of scale/rotation with the ~500 m translation
      * (|s|·|t| ≈ 2·10⁻⁵ · 500 m ≈ 1 cm for the registered shifts) —
      * far below their stated accuracy (meters). */
    def reversed: Helmert7 =
      Helmert7(-txM, -tyM, -tzM, -rxAs, -ryAs, -rzAs, -sPpm)
  }

  /** EPSG:1314 "OSGB36 to WGS 84 (6)" — the Ordnance Survey's single
    * set of national Helmert parameters (±3.5 m vs the OSTN grid, the
    * documented accuracy of any single-Helmert fit to the UK's
    * distorted 1936 triangulation). */
  val Osgb36ToWgs84: Helmert7 =
    Helmert7(446.448, -125.157, 542.060, 0.1502, 0.2470, 0.8421, -20.4894)

  /** Geodetic (φ°, λ°, h = 0) → geocentric XYZ on `ell`. */
  def toGeocentric(ell: Ellipsoid, latDeg: Double, lonDeg: Double)
  : (Double, Double, Double) = {
    val phi = math.toRadians(latDeg)
    val lam = math.toRadians(lonDeg)
    val sinPhi = math.sin(phi)
    val nu = ell.a / math.sqrt(1 - ell.e2 * sinPhi * sinPhi)
    (nu * math.cos(phi) * math.cos(lam),
     nu * math.cos(phi) * math.sin(lam),
     nu * (1 - ell.e2) * sinPhi)
  }

  /** Geocentric XYZ → geodetic (φ°, λ°) on `ell`, ellipsoid-surface
    * convention (h discarded). Fixed point φ ← atan2(z + e²ν sin φ, p)
    * from φ₀ = atan2(z, p(1−e²)); |Δ| < 1e-14 freeze, 10-step cap —
    * the engine-wide iteration contract the oracle unrolls. */
  def toGeodeticDeg(ell: Ellipsoid, x: Double, y: Double, z: Double)
  : (Double, Double) = {
    val p = math.sqrt(x * x + y * y)
    var phi = math.atan2(z, p * (1 - ell.e2))
    var done = false
    var k = 0
    while (k < 10) {
      if (!done) {
        val s = math.sin(phi)
        val nu = ell.a / math.sqrt(1 - ell.e2 * s * s)
        val next = math.atan2(z + ell.e2 * nu * s, p)
        done = math.abs(next - phi) < 1e-14
        phi = next
      }
      k += 1
    }
    (math.toDegrees(phi), math.toDegrees(math.atan2(y, x)))
  }

  /** Full datum shift: (φ°, λ°) on `src` → (φ°, λ°) on WGS84 via `h`
    * (which must be a src→WGS84 parameter set). */
  def shiftToWgs84(src: Ellipsoid, h: Helmert7,
                   latDeg: Double, lonDeg: Double): (Double, Double) = {
    val (x, y, z) = toGeocentric(src, latDeg, lonDeg)
    val (x2, y2, z2) = h(x, y, z)
    toGeodeticDeg(Ellipsoid.WGS84, x2, y2, z2)
  }

  /** Inverse shift: WGS84 (φ°, λ°) → `dst` datum, `h` still the
    * dst→WGS84 set (reversed internally, the EPSG convention). */
  def shiftFromWgs84(dst: Ellipsoid, h: Helmert7,
                     latDeg: Double, lonDeg: Double): (Double, Double) = {
    val (x, y, z) = toGeocentric(Ellipsoid.WGS84, latDeg, lonDeg)
    val (x2, y2, z2) = h.reversed(x, y, z)
    toGeodeticDeg(dst, x2, y2, z2)
  }
}
