package graft.ops

import org.apache.spark.sql.functions.udf

/** Reference ellipsoids for the conic projection family. The UTM core
  * (graft.ops.Utm) hard-codes WGS84 because every EPSG:326xx/327xx code is
  * WGS84 by definition; the conic codes span ETRS89/NAD83 (GRS80) and
  * legacy Clarke 1866 products, so the ellipsoid is a parameter here. */
final case class Ellipsoid(a: Double, invF: Double) {
  val f: Double = 1.0 / invF
  val e2: Double = f * (2.0 - f)
  val e: Double = math.sqrt(e2)
}

object Ellipsoid {
  val WGS84: Ellipsoid = Ellipsoid(6378137.0, 298.257223563)
  val GRS80: Ellipsoid = Ellipsoid(6378137.0, 298.257222101)
  /** Defined by (a, b), not (a, 1/f): 1/f = a / (a - b). */
  val Clarke1866: Ellipsoid = Ellipsoid(6378206.4, 6378206.4 / (6378206.4 - 6356583.8))
  /** EPSG:7001 — the OSGB36 / British National Grid ellipsoid. */
  val Airy1830: Ellipsoid = Ellipsoid(6377563.396, 299.3249646)
}

/** Conic projections on the ellipsoid — Lambert conformal conic (1- and
  * 2-standard-parallel) and Albers equal-area conic — closing the CRS
  * families the reference accepts via `rasterio.warp.transform(src.crs,
  * 'EPSG:4326', …)` (fix_transparency.py:72) beyond the cylindrical
  * cores already in the registry. Formulas are the published USGS
  * closed forms (Snyder, "Map Projections — A Working Manual", USGS
  * PP 1395: LCC pp. 104-110, Albers pp. 98-103), implemented exactly as
  * written there.
  *
  * Implementation conventions shared with the Krüger/UTM core:
  *  - every power `b^x` is composed as `exp(x·ln(b))` so the DuckDB
  *    oracle can replay the SAME floating-point operation sequence
  *    (DuckDB's `power()` need not be bit-compatible with JVM
  *    `Math.pow`, but its `exp`/`ln` match to well under the round-9
  *    comparison grain — proven by the UTM oracle since round 4);
  *  - the latitude fixed-point iteration freezes on |Δφ| < 1e-14 with a
  *    hard cap, mirrored step-for-step by the oracle's CTE chain;
  *  - derived projection constants are exposed for the oracle so both
  *    sides compute from bit-identical doubles.
  *
  * Geodetic output is in the projection's native datum; the registered
  * EPSG codes are ETRS89/NAD83-family, whose offset from WGS84 (≤ ~1-2 m)
  * is below raster resolution for every reference export — same
  * treatment rasterio applies when no datum shift is requested. For
  * genuinely offset legacy datums (OSGB36's ~125 m), compose with the
  * 7-parameter Helmert in [[Datum]] — `Crs.toWgs84LonLat` routes it.
  */
object Conic {

  /** exp/ln-composed power — the oracle-mirrorable `b^x` (b > 0). */
  @inline private def powEL(base: Double, ex: Double): Double =
    math.exp(ex * math.log(base))

  /** Snyder 15-9: isometric-latitude auxiliary t(φ). */
  @inline private def tOf(e: Double, phi: Double): Double =
    math.tan(math.Pi / 4 - phi / 2) /
      powEL((1 - e * math.sin(phi)) / (1 + e * math.sin(phi)), e / 2)

  /** Snyder 14-15: parallel-circle radius factor m(φ). */
  @inline private def mOf(e2: Double, phi: Double): Double =
    math.cos(phi) / math.sqrt(1 - e2 * math.sin(phi) * math.sin(phi))

  /** Snyder 3-12: Albers equal-area auxiliary q(φ). */
  @inline private def qOf(ell: Ellipsoid, phi: Double): Double = {
    val s = math.sin(phi)
    (1 - ell.e2) * (s / (1 - ell.e2 * s * s) -
      (1 / (2 * ell.e)) * math.log((1 - ell.e * s) / (1 + ell.e * s)))
  }

  /** Lambert conformal conic. 2SP when phi1Deg != phi2Deg (k0 must be 1);
    * 1SP when they coincide (n = sin φ1, k0 scales the cone). All derived
    * constants are vals so the oracle reads the identical doubles. */
  final case class Lcc(ell: Ellipsoid, phi1Deg: Double, phi2Deg: Double,
                       phi0Deg: Double, lam0Deg: Double, k0: Double = 1.0,
                       falseE: Double = 0.0, falseN: Double = 0.0) {
    private val phi1 = math.toRadians(phi1Deg)
    private val phi2 = math.toRadians(phi2Deg)
    private val phi0 = math.toRadians(phi0Deg)
    val lam0: Double = math.toRadians(lam0Deg)
    val e: Double = ell.e

    /** Cone constant (Snyder 15-8 / 15-8a). */
    val n: Double =
      if (phi1Deg == phi2Deg) math.sin(phi1)
      else (math.log(mOf(ell.e2, phi1)) - math.log(mOf(ell.e2, phi2))) /
        (math.log(tOf(e, phi1)) - math.log(tOf(e, phi2)))
    private val bigF = mOf(ell.e2, phi1) / (n * powEL(tOf(e, phi1), n))
    /** a·F·k0 — the scaled cone radius factor (ρ = aFk0 · t^n). */
    val aFk0: Double = ell.a * bigF * k0
    val rho0: Double = aFk0 * powEL(tOf(e, phi0), n)

    /** Forward (Snyder 15-1..15-4): (lat°, lon°) → (x, y). */
    def forward(latDeg: Double, lonDeg: Double): (Double, Double) = {
      val rho = aFk0 * powEL(tOf(e, math.toRadians(latDeg)), n)
      val theta = n * (math.toRadians(lonDeg) - lam0)
      (falseE + rho * math.sin(theta),
       falseN + rho0 - rho * math.cos(theta))
    }

    /** Inverse (Snyder 15-10..15-11 + 7-9 fixed point): (x, y) → (lon°,
      * lat°). The sign(n) folds handle south-apex cones uniformly. */
    def inverse(x: Double, y: Double): (Double, Double) = {
      val sg = if (n < 0) -1.0 else 1.0
      val xp = x - falseE
      val yp = rho0 - (y - falseN)
      val rho = sg * math.sqrt(xp * xp + yp * yp)
      val theta = math.atan2(sg * xp, sg * yp)
      val tp = powEL(rho / aFk0, 1 / n)
      val lon = math.toDegrees(lam0 + theta / n)
      var phi = math.Pi / 2 - 2 * math.atan(tp)
      var i = 0
      while (i < 10) {
        val s = e * math.sin(phi)
        val next = math.Pi / 2 -
          2 * math.atan(tp * powEL((1 - s) / (1 + s), e / 2))
        if (math.abs(next - phi) < 1e-14) { phi = next; i = 10 }
        else { phi = next; i += 1 }
      }
      (lon, math.toDegrees(phi))
    }
  }

  /** Albers equal-area conic (Snyder 14-1..14-21). 2SP; degenerates to
    * the 1SP form when the parallels coincide (n = sin φ1 by the limit of
    * 14-14, handled explicitly to avoid 0/0). */
  final case class Albers(ell: Ellipsoid, phi1Deg: Double, phi2Deg: Double,
                          phi0Deg: Double, lam0Deg: Double,
                          falseE: Double = 0.0, falseN: Double = 0.0) {
    private val phi1 = math.toRadians(phi1Deg)
    private val phi2 = math.toRadians(phi2Deg)
    private val phi0 = math.toRadians(phi0Deg)
    val lam0: Double = math.toRadians(lam0Deg)
    private val m1 = mOf(ell.e2, phi1)
    private val q1 = qOf(ell, phi1)

    /** Cone constant (Snyder 14-14). */
    val n: Double =
      if (phi1Deg == phi2Deg) math.sin(phi1)
      else {
        val m2 = mOf(ell.e2, phi2)
        (m1 * m1 - m2 * m2) / (qOf(ell, phi2) - q1)
      }
    val c: Double = m1 * m1 + n * q1
    val rho0: Double = ell.a * math.sqrt(c - n * qOf(ell, phi0)) / n

    def forward(latDeg: Double, lonDeg: Double): (Double, Double) = {
      val rho = ell.a * math.sqrt(c - n * qOf(ell, math.toRadians(latDeg))) / n
      val theta = n * (math.toRadians(lonDeg) - lam0)
      (falseE + rho * math.sin(theta),
       falseN + rho0 - rho * math.cos(theta))
    }

    /** Inverse: closed form for λ, fixed-point (Snyder 3-16) for φ. */
    def inverse(x: Double, y: Double): (Double, Double) = {
      val sg = if (n < 0) -1.0 else 1.0
      val xp = x - falseE
      val yp = rho0 - (y - falseN)
      val rho = sg * math.sqrt(xp * xp + yp * yp)
      val theta = math.atan2(sg * xp, sg * yp)
      val qp = (c - (rho * n / ell.a) * (rho * n / ell.a)) / n
      val lon = math.toDegrees(lam0 + theta / n)
      var phi = math.asin(qp / 2)
      var i = 0
      while (i < 15) {
        val s = math.sin(phi)
        val oneMe2s2 = 1 - ell.e2 * s * s
        val next = phi + oneMe2s2 * oneMe2s2 / (2 * math.cos(phi)) *
          (qp / (1 - ell.e2) - s / oneMe2s2 +
            (1 / (2 * ell.e)) *
              math.log((1 - ell.e * s) / (1 + ell.e * s)))
        if (math.abs(next - phi) < 1e-14) { phi = next; i = 15 }
        else { phi = next; i += 1 }
      }
      (lon, math.toDegrees(phi))
    }
  }

  /** Lambert AZIMUTHAL equal-area, oblique aspect, on the ellipsoid
    * (Snyder 24-2..24-31 via the authalic sphere) — not a conic, but it
    * shares the q(φ) machinery and completes the equal-area pair: this is
    * the ETRS89-LAEA (EPSG:3035) grid EU environmental rasters ship in. */
  final case class Laea(ell: Ellipsoid, phi0Deg: Double, lam0Deg: Double,
                        falseE: Double = 0.0, falseN: Double = 0.0) {
    private val phi0 = math.toRadians(phi0Deg)
    val lam0: Double = math.toRadians(lam0Deg)
    val qp: Double = qOf(ell, math.Pi / 2)
    private val q0 = qOf(ell, phi0)
    private val beta0 = math.asin(q0 / qp)
    // cached so the oracle pastes the EXACT doubles the engine multiplies
    // with, instead of re-deriving sin/cos of a pasted beta0 in another
    // engine's libm
    val sinB0: Double = math.sin(beta0)
    val cosB0: Double = math.cos(beta0)
    val rq: Double = ell.a * math.sqrt(qp / 2)
    val d: Double = ell.a * mOf(ell.e2, phi0) / (rq * cosB0)

    def forward(latDeg: Double, lonDeg: Double): (Double, Double) = {
      val beta = math.asin(qOf(ell, math.toRadians(latDeg)) / qp)
      val dl = math.toRadians(lonDeg) - lam0
      val b = rq * math.sqrt(2 / (1 + sinB0 * math.sin(beta) +
        cosB0 * math.cos(beta) * math.cos(dl)))
      (falseE + b * d * math.cos(beta) * math.sin(dl),
       falseN + (b / d) * (cosB0 * math.sin(beta) -
         sinB0 * math.cos(beta) * math.cos(dl)))
    }

    def inverse(x: Double, y: Double): (Double, Double) = {
      val xp = (x - falseE) / d
      val yp = (y - falseN) * d
      val rho = math.sqrt(xp * xp + yp * yp)
      if (rho == 0) return (math.toDegrees(lam0), math.toDegrees(phi0))
      val ce = 2 * math.asin(rho / (2 * rq))
      val qp2 = qp * (math.cos(ce) * sinB0 +
        yp * math.sin(ce) * cosB0 / rho)
      val lon = lam0 + math.atan2(xp * math.sin(ce),
        rho * cosB0 * math.cos(ce) -
          yp * sinB0 * math.sin(ce))
      // same fixed-point from q as the Albers inverse
      var phi = math.asin(qp2 / 2)
      var i = 0
      while (i < 15) {
        val s = math.sin(phi)
        val oneMe2s2 = 1 - ell.e2 * s * s
        val next = phi + oneMe2s2 * oneMe2s2 / (2 * math.cos(phi)) *
          (qp2 / (1 - ell.e2) - s / oneMe2s2 +
            (1 / (2 * ell.e)) *
              math.log((1 - ell.e * s) / (1 + ell.e * s)))
        if (math.abs(next - phi) < 1e-14) { phi = next; i = 15 }
        else { phi = next; i += 1 }
      }
      (math.toDegrees(lon), math.toDegrees(phi))
    }
  }

  /** Polar stereographic, standard-parallel form, on the ellipsoid
    * (Snyder PP 1395 pp. 160-163: forward 21-33/21-34, t 15-9, m 14-15,
    * inverse 21-39/21-40 + the 7-9 fixed point — the same latitude
    * iteration the LCC inverse uses, so the oracle CTE chain is shared
    * machinery). North (latTs > 0) and south polar aspects fold through
    * one sign: Snyder's south-aspect rule "reverse the signs of x, y,
    * λ0, λ, φc, φ" reduces to
    *
    *   ρ = (a·mc/tc) · t(s·φ),  x = FE + ρ sin(λ−λ0),
    *   y = FN − s·ρ cos(λ−λ0),  λ = λ0 + atan2(x−FE, −s·(y−FN))
    *
    * with s = ±1. These are the polar raster products the reference
    * would otherwise refuse: NSIDC sea-ice grids (EPSG:3413) and
    * Antarctic mosaics (EPSG:3031). */
  final case class PolarStereo(ell: Ellipsoid, latTsDeg: Double,
                               lam0Deg: Double, falseE: Double = 0.0,
                               falseN: Double = 0.0) {
    require(math.abs(latTsDeg) > 0.0 && math.abs(latTsDeg) <= 90.0,
      s"standard parallel $latTsDeg must be polar-signed and nonzero")
    val north: Boolean = latTsDeg > 0
    private val s = if (north) 1.0 else -1.0
    val lam0: Double = math.toRadians(lam0Deg)
    val e: Double = ell.e
    private val phiC = math.toRadians(latTsDeg * s)
    /** a·m(φc)/t(φc) — ρ per unit t (21-34); exposed for the oracle. */
    val aMcOverTc: Double =
      ell.a * mOf(ell.e2, phiC) / tOf(e, phiC)

    def forward(latDeg: Double, lonDeg: Double): (Double, Double) = {
      val rho = aMcOverTc * tOf(e, s * math.toRadians(latDeg))
      val dl = math.toRadians(lonDeg) - lam0
      (falseE + rho * math.sin(dl), falseN - s * rho * math.cos(dl))
    }

    def inverse(x: Double, y: Double): (Double, Double) = {
      val xp = x - falseE
      val yp = y - falseN
      val rho = math.sqrt(xp * xp + yp * yp)
      val tp = rho / aMcOverTc
      // λ0 + θ can leave (−180°, 180°] (the azimuthal θ spans the full
      // circle); normalize with the floor identity the oracle replays
      val lonRaw = math.toDegrees(lam0 + math.atan2(xp, -s * yp))
      val lon = lonRaw - 360.0 * math.floor((lonRaw + 180.0) / 360.0)
      var phi = math.Pi / 2 - 2 * math.atan(tp)
      var i = 0
      while (i < 10) {
        val sn = e * math.sin(phi)
        val next = math.Pi / 2 -
          2 * math.atan(tp * powEL((1 - sn) / (1 + sn), e / 2))
        if (math.abs(next - phi) < 1e-14) { phi = next; i = 10 }
        else { phi = next; i += 1 }
      }
      (lon, s * math.toDegrees(phi))
    }
  }

  /** Spherical sinusoidal — the MODIS land-grid projection family
    * (HDF-EOS/GCTP projection 16 runs it on the R = 6,371,007.181 m
    * authalic sphere; ESRI's Sphere_Sinusoidal/World_Sinusoidal run the
    * same spherical equations on other radii). Snyder PP 1395 pp.
    * 243-248, sphere forms 30-1/30-2:
    *
    *   x = R·(λ−λ0)·cos φ,   y = R·φ
    *   φ = y/R,              λ = λ0 + x/(R·cos φ)
    *
    * Equal-area, pseudocylindrical, exactly two multiplies per
    * direction — and at the poles (cos φ = 0) λ is indeterminate, so
    * the inverse returns λ0 there (Snyder's convention). */
  final case class Sinusoidal(r: Double, lam0Deg: Double = 0.0,
                              falseE: Double = 0.0, falseN: Double = 0.0) {
    require(r > 0, s"sphere radius must be positive, got $r")
    val lam0: Double = math.toRadians(lam0Deg)

    def forward(latDeg: Double, lonDeg: Double): (Double, Double) = {
      val phi = math.toRadians(latDeg)
      (falseE + r * (math.toRadians(lonDeg) - lam0) * math.cos(phi),
       falseN + r * phi)
    }

    def inverse(x: Double, y: Double): (Double, Double) = {
      val phi = (y - falseN) / r
      val c = math.cos(phi)
      val lam = if (c == 0.0) lam0 else lam0 + (x - falseE) / (r * c)
      (math.toDegrees(lam), math.toDegrees(phi))
    }
  }

  /** Column UDFs returning struct(lon, lat) from projected model (x, y) —
    * same shape as Utm.utmToLatLonUdf; branch-heavy scalar math, one JVM
    * call per row, fully distributed. */
  def lccToLonLatUdf(p: Lcc) = udf((x: Double, y: Double) => p.inverse(x, y))
  def laeaToLonLatUdf(p: Laea) = udf((x: Double, y: Double) => p.inverse(x, y))
  def psToLonLatUdf(p: PolarStereo) = udf((x: Double, y: Double) => p.inverse(x, y))
  def sinuToLonLatUdf(p: Sinusoidal) = udf((x: Double, y: Double) => p.inverse(x, y))
}
