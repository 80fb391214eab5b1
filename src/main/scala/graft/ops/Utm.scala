package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** SURVEY §7.3 hard item 1 — the export CRS → EPSG:4326 reprojection the
  * reference delegates to rasterio/GDAL (`rasterio.warp.transform(src.crs,
  * 'EPSG:4326', …)`, fix_transparency.py:72), scoped to the UTM family the
  * raster exports actually use (north India = zones 42-44N).
  *
  * Pure-Scala transverse Mercator on the WGS84 ellipsoid via the Krüger
  * series (6th-order in the third flattening n) — the same series GDAL/
  * PROJ use for accuracy class <1 mm inside a zone. Exposed as UDFs: the
  * math is branch-heavy scalar code, a poor fit for Column algebra, and a
  * perfect fit for one JVM method call per row (still fully distributed;
  * no per-partition state).
  */
object Utm {

  private val A = 6378137.0               // WGS84 semi-major
  private val F = 1.0 / 298.257223563     // flattening
  private val K0 = 0.9996                 // UTM scale at central meridian
  private val E0 = 500000.0               // false easting
  private val N0_SOUTH = 10000000.0       // false northing, southern zones

  private val n = F / (2.0 - F)
  private val n2 = n * n; private val n3 = n2 * n
  private val n4 = n3 * n; private val n5 = n4 * n; private val n6 = n5 * n
  // rectifying radius
  private val A1 = A / (1 + n) * (1 + n2 / 4 + n4 / 64 + n6 / 256)
  // Krüger α (forward) and β (inverse) coefficients, 6th order
  private val alpha = Array(
    n / 2 - 2 * n2 / 3 + 5 * n3 / 16 + 41 * n4 / 180 - 127 * n5 / 288 + 7891 * n6 / 37800,
    13 * n2 / 48 - 3 * n3 / 5 + 557 * n4 / 1440 + 281 * n5 / 630 - 1983433 * n6 / 1935360,
    61 * n3 / 240 - 103 * n4 / 140 + 15061 * n5 / 26880 + 167603 * n6 / 181440,
    49561 * n4 / 161280 - 179 * n5 / 168 + 6601661 * n6 / 7257600,
    34729 * n5 / 80640 - 3418889 * n6 / 1995840,
    212378941 * n6 / 319334400)
  private val beta = Array(
    n / 2 - 2 * n2 / 3 + 37 * n3 / 96 - n4 / 360 - 81 * n5 / 512 + 96199 * n6 / 604800,
    n2 / 48 + n3 / 15 - 437 * n4 / 1440 + 46 * n5 / 105 - 1118711 * n6 / 3870720,
    17 * n3 / 480 - 37 * n4 / 840 - 209 * n5 / 4480 + 5569 * n6 / 90720,
    4397 * n4 / 161280 - 11 * n5 / 504 - 830251 * n6 / 7257600,
    4583 * n5 / 161280 - 108847 * n6 / 3991680,
    20648693 * n6 / 638668800)
  private val e = math.sqrt(F * (2 - F)) // first eccentricity

  def zoneCentralMeridian(zone: Int): Double = (zone - 1) * 6.0 - 180.0 + 3.0

  /** Forward: (lat°, lon°) → (easting, northing) in `zone`. */
  def toUtm(latDeg: Double, lonDeg: Double, zone: Int,
            north: Boolean = true): (Double, Double) = {
    val phi = math.toRadians(latDeg)
    val lam = math.toRadians(lonDeg - zoneCentralMeridian(zone))
    // conformal latitude
    val t = math.sinh(atanh(math.sin(phi)) - e * atanh(e * math.sin(phi)))
    val xiP = math.atan2(t, math.cos(lam))
    val etaP = atanh(math.sin(lam) / math.sqrt(1 + t * t))
    var xi = xiP; var eta = etaP
    var j = 1
    while (j <= 6) {
      xi += alpha(j - 1) * math.sin(2 * j * xiP) * math.cosh(2 * j * etaP)
      eta += alpha(j - 1) * math.cos(2 * j * xiP) * math.sinh(2 * j * etaP)
      j += 1
    }
    val easting = E0 + K0 * A1 * eta
    val northing = (if (north) 0.0 else N0_SOUTH) + K0 * A1 * xi
    (easting, northing)
  }

  /** Inverse: (easting, northing, zone) → (lat°, lon°). */
  def toLatLon(easting: Double, northing: Double, zone: Int,
               north: Boolean = true): (Double, Double) = {
    val xi = (northing - (if (north) 0.0 else N0_SOUTH)) / (K0 * A1)
    val eta = (easting - E0) / (K0 * A1)
    var xiP = xi; var etaP = eta
    var j = 1
    while (j <= 6) {
      xiP -= beta(j - 1) * math.sin(2 * j * xi) * math.cosh(2 * j * eta)
      etaP -= beta(j - 1) * math.cos(2 * j * xi) * math.sinh(2 * j * eta)
      j += 1
    }
    val chi = math.asin(math.sin(xiP) / math.cosh(etaP)) // conformal lat
    // Newton iteration from conformal to geodetic latitude
    var phi = chi
    var i = 0
    while (i < 8) {
      val s = math.sinh(e * atanh(e * math.sin(phi)))
      val phiNew = math.atan(math.tan(chi) * math.sqrt(1 + s * s) +
        s * math.sqrt(1 + math.tan(chi) * math.tan(chi)))
      if (math.abs(phiNew - phi) < 1e-14) { phi = phiNew; i = 8 }
      else { phi = phiNew; i += 1 }
    }
    val lam = math.atan2(math.sinh(etaP), math.cos(xiP))
    (math.toDegrees(phi), zoneCentralMeridian(zone) + math.toDegrees(lam))
  }

  private def atanh(x: Double): Double = 0.5 * math.log((1 + x) / (1 - x))

  /** Exact-constant accessors for the DuckDB oracle mirror of [[toLatLon]]
    * (SparkEntry builds the SQL from these so both sides use bit-identical
    * doubles). */
  def oracleConstants: (Double, Array[Double], Double, Double) =
    (K0 * A1, beta, e, E0)

  /** Column UDF returning struct(lat, lon). */
  def utmToLatLonUdf(zone: Int, north: Boolean = true) =
    udf((e: Double, n: Double) => toLatLon(e, n, zone, north))

  /** Fully parameterized transverse Mercator — the Krüger core above
    * generalized over (ellipsoid, k₀, φ₀, λ₀, FE, FN), which is what
    * national grids that are NOT UTM zones need: the British National
    * Grid (EPSG:27700, Airy 1830, k₀ = 0.9996012717, origin 49°N 2°W,
    * FN −100000) and NZTM2000 (EPSG:2193, GRS80, λ₀ = 173°E,
    * FE 1,600,000 / FN 10,000,000). The UTM object stays the
    * specialized WGS84/zone fast path; this class re-derives the same
    * 6th-order series from the ellipsoid's third flattening.
    *
    * A non-zero latitude of origin enters as the rectified-latitude
    * offset ξ₀ (the forward ξ of (φ₀, λ₀) — a driver-side constant),
    * so the inverse is `ξ = (N − FN)/(k₀A₁) + ξ₀` and the rest is the
    * unchanged Krüger inverse; ξ₀ is pasted into the oracle as the
    * exact double, the [[oracleConstants]] convention. */
  final case class Tmerc(ell: Ellipsoid, k0: Double, lat0Deg: Double,
                         lon0Deg: Double, falseE: Double, falseN: Double) {
    private val f = ell.f
    private val n = f / (2.0 - f)
    private val n2 = n * n; private val n3 = n2 * n
    private val n4 = n3 * n; private val n5 = n4 * n; private val n6 = n5 * n
    private val a1 = ell.a / (1 + n) * (1 + n2 / 4 + n4 / 64 + n6 / 256)
    private val alphaT = Array(
      n / 2 - 2 * n2 / 3 + 5 * n3 / 16 + 41 * n4 / 180 - 127 * n5 / 288 + 7891 * n6 / 37800,
      13 * n2 / 48 - 3 * n3 / 5 + 557 * n4 / 1440 + 281 * n5 / 630 - 1983433 * n6 / 1935360,
      61 * n3 / 240 - 103 * n4 / 140 + 15061 * n5 / 26880 + 167603 * n6 / 181440,
      49561 * n4 / 161280 - 179 * n5 / 168 + 6601661 * n6 / 7257600,
      34729 * n5 / 80640 - 3418889 * n6 / 1995840,
      212378941 * n6 / 319334400)
    private val betaT = Array(
      n / 2 - 2 * n2 / 3 + 37 * n3 / 96 - n4 / 360 - 81 * n5 / 512 + 96199 * n6 / 604800,
      n2 / 48 + n3 / 15 - 437 * n4 / 1440 + 46 * n5 / 105 - 1118711 * n6 / 3870720,
      17 * n3 / 480 - 37 * n4 / 840 - 209 * n5 / 4480 + 5569 * n6 / 90720,
      4397 * n4 / 161280 - 11 * n5 / 504 - 830251 * n6 / 7257600,
      4583 * n5 / 161280 - 108847 * n6 / 3991680,
      20648693 * n6 / 638668800)
    private val eT = ell.e
    private val k0A1 = k0 * a1

    /** Forward ξ at latitude φ on the central meridian (η ≡ 0, every
      * cosh term 1) — the rectified origin offset. */
    private def meridianXi(latDeg: Double): Double = {
      val phi = math.toRadians(latDeg)
      val t = math.sinh(atanh(math.sin(phi)) - eT * atanh(eT * math.sin(phi)))
      val xiP = math.atan2(t, 1.0)
      (1 to 6).foldLeft(xiP)((acc, j) =>
        acc + alphaT(j - 1) * math.sin(2 * j * xiP))
    }

    val xi0: Double = if (lat0Deg == 0.0) 0.0 else meridianXi(lat0Deg)

    /** Inverse: (easting, northing) → (lat°, lon°). */
    def inverse(easting: Double, northing: Double): (Double, Double) = {
      val xi = (northing - falseN) / k0A1 + xi0
      val eta = (easting - falseE) / k0A1
      var xiP = xi; var etaP = eta
      var j = 1
      while (j <= 6) {
        xiP -= betaT(j - 1) * math.sin(2 * j * xi) * math.cosh(2 * j * eta)
        etaP -= betaT(j - 1) * math.cos(2 * j * xi) * math.sinh(2 * j * eta)
        j += 1
      }
      val chi = math.asin(math.sin(xiP) / math.cosh(etaP))
      var phi = chi
      var i = 0
      while (i < 8) {
        val s = math.sinh(eT * atanh(eT * math.sin(phi)))
        val phiNew = math.atan(math.tan(chi) * math.sqrt(1 + s * s) +
          s * math.sqrt(1 + math.tan(chi) * math.tan(chi)))
        if (math.abs(phiNew - phi) < 1e-14) { phi = phiNew; i = 8 }
        else { phi = phiNew; i += 1 }
      }
      val lam = math.atan2(math.sinh(etaP), math.cos(xiP))
      (math.toDegrees(phi), lon0Deg + math.toDegrees(lam))
    }

    /** Forward: (lat°, lon°) → (easting, northing). */
    def forward(latDeg: Double, lonDeg: Double): (Double, Double) = {
      val phi = math.toRadians(latDeg)
      val lam = math.toRadians(lonDeg - lon0Deg)
      val t = math.sinh(atanh(math.sin(phi)) - eT * atanh(eT * math.sin(phi)))
      val xiP = math.atan2(t, math.cos(lam))
      val etaP = atanh(math.sin(lam) / math.sqrt(1 + t * t))
      var xi = xiP; var eta = etaP
      var j = 1
      while (j <= 6) {
        xi += alphaT(j - 1) * math.sin(2 * j * xiP) * math.cosh(2 * j * etaP)
        eta += alphaT(j - 1) * math.cos(2 * j * xiP) * math.sinh(2 * j * etaP)
        j += 1
      }
      (falseE + k0A1 * eta, falseN + k0A1 * (xi - xi0))
    }

    /** Exact constants for the SQL oracle mirror:
      * (k₀A₁, β, e, FE, FN, ξ₀, λ₀°). */
    def oracleConstants: (Double, Array[Double], Double, Double, Double,
      Double, Double) = (k0A1, betaT, eT, falseE, falseN, xi0, lon0Deg)

    /** FORWARD-series constants for the SQL oracle mirror:
      * (k₀A₁, α, e, FE, FN, ξ₀, λ₀°) — α, not β. */
    def forwardOracleConstants: (Double, Array[Double], Double, Double,
      Double, Double, Double) =
      (k0A1, alphaT, eT, falseE, falseN, xi0, lon0Deg)
  }

  object Tmerc {
    /** EPSG:27700 — OSGB36 / British National Grid (Airy 1830). */
    val BritishNationalGrid: Tmerc = Tmerc(Ellipsoid.Airy1830,
      k0 = 0.9996012717, lat0Deg = 49.0, lon0Deg = -2.0,
      falseE = 400000.0, falseN = -100000.0)
    /** EPSG:2193 — NZGD2000 / New Zealand Transverse Mercator (GRS80). */
    val Nztm2000: Tmerc = Tmerc(Ellipsoid.GRS80,
      k0 = 0.9996, lat0Deg = 0.0, lon0Deg = 173.0,
      falseE = 1600000.0, falseN = 10000000.0)

    def toLatLonUdf(p: Tmerc) =
      udf((e: Double, n: Double) => p.inverse(e, n))
  }
}
