package graft.operators

import Projection.{atan2, exp, ge, greatest, gt, least, log, pow}

/** The closed-form projections beyond UTM and web mercator, one
  * [[Projection]] per family: polar stereographic (NSIDC sea-ice grids
  * EPSG:3413/3031/3976, UPS), Lambert azimuthal equal-area (EPSG:3035,
  * the EASE-Grid 2.0 polar pair EPSG:6931/6932), MODIS sinusoidal, LCC,
  * Albers, rotated pole, geostationary, EASE-Grid 2.0 global, orthographic,
  * Mollweide, Equal Earth, Hotine oblique Mercator, oblique stereographic,
  * ellipsoidal Mercator, equidistant cylindrical and general transverse
  * Mercator (the reference accepts ANY pyproj CRS,
  * xcube/core/gridmapping/base.py:94, resampling/reproject.py:27-500).
  *
  * Forward and inverse are the standard closed forms (Snyder, "Map
  * Projections — A Working Manual", USGS PP 1395, and EPSG Guidance Note
  * 7-2), the formulations proj uses. Each family's parameters are a case
  * class whose derived constants are plain Scala doubles computed once,
  * so SQL oracles mirror them bit for bit; its kernels keep Spark's
  * function semantics ([[Projection]]), the operations the query path has
  * always run.
  */
object PolarOps {

  // WGS84 ellipsoid (the UTM zones use the same constants)
  val A: Double = 6378137.0
  val F: Double = 1.0 / 298.257223563
  val E2: Double = F * (2 - F)
  val E: Double = math.sqrt(E2)
  val E4: Double = E2 * E2
  val E6: Double = E4 * E2
  val E8: Double = E4 * E4

  // conformal-latitude inverse series (Snyder 3-5): φ = χ + C2 sin2χ + …
  val C2: Double = E2 / 2 + 5 * E4 / 24 + E6 / 12 + 13 * E8 / 360
  val C4: Double = 7 * E4 / 48 + 29 * E6 / 240 + 811 * E8 / 11520
  val C6: Double = 7 * E6 / 120 + 81 * E8 / 1120
  val C8: Double = 4279 * E8 / 161280

  // authalic-latitude inverse series (Snyder 3-18): φ = β + B2 sin2β + …
  val B2: Double = E2 / 3 + 31 * E4 / 180 + 517 * E6 / 5040
  val B4: Double = 23 * E4 / 360 + 251 * E6 / 3780
  val B6: Double = 761 * E6 / 45360

  /** q(90°) — the authalic pole constant (Snyder 3-12 at φ = π/2). */
  val Qp: Double =
    (1 - E2) * (1.0 / (1 - E2) - (1.0 / (2 * E)) * math.log((1 - E) / (1 + E)))

  // ------------------------------------------------- shared kernel parts

  /** Snyder 15-9: t(φ) = tan(π/4 − φ/2) · [(1+e sinφ)/(1−e sinφ)]^(e/2). */
  private def isoT(phi: Double, e: Double): Double = {
    val es = e * math.sin(phi)
    math.tan(math.Pi / 4 - phi / 2) * pow((1.0 + es) / (1.0 - es), e / 2)
  }

  /** Snyder 3-12: the WGS84 authalic q over s = sinφ. The log argument is
    * positive for |s| ≤ 1. */
  private def authalicQ(s: Double): Double =
    (1 - E2) * (s / (1.0 - E2 * s * s) -
      (1.0 / (2 * E)) * log((1.0 - E * s) / (1.0 + E * s)))

  /** The conformal-latitude inverse for an ellipsoid of eccentricity `e`:
    * series seed (Snyder 3-5, coefficients c2..c8) plus one pass of the
    * exact fixed-point iteration (Snyder 7-9) — closes forward∘inverse to
    * ≲1e-12°; the series seed alone truncates at ~e¹⁰. */
  private def conformalPhi(t: Double, e: Double, c2: Double,
      c4: Double, c6: Double, c8: Double): Double = {
    val chi = math.Pi / 2 - 2.0 * math.atan(t)
    val phi0 = chi + c2 * math.sin(2.0 * chi) + c4 * math.sin(4.0 * chi) +
      c6 * math.sin(6.0 * chi) + c8 * math.sin(8.0 * chi)
    val es = e * math.sin(phi0)
    math.Pi / 2 - 2.0 * math.atan(t * pow((1.0 - es) / (1.0 + es), e / 2))
  }

  /** [[conformalPhi]] on WGS84. */
  private def conformalPhi(t: Double): Double =
    conformalPhi(t, E, C2, C4, C6, C8)

  /** The authalic-latitude inverse: series seed (Snyder 3-18) plus one
    * Newton step (Snyder 3-16) — the e⁶-truncated series alone leaves
    * ~6e-10 rad, above a 1e-9° round-trip budget. Pole-guarded (the
    * series is exact at β = ±π/2, where Newton's 1/cosφ blows up). */
  private def authalicPhi(beta: Double, q: Double): Double = {
    val phi0 = beta + B2 * math.sin(2.0 * beta) +
      B4 * math.sin(4.0 * beta) + B6 * math.sin(6.0 * beta)
    val s = math.sin(phi0)
    val om = 1.0 - E2 * s * s
    val corr = om * om / (2.0 * math.cos(phi0)) *
      (q / (1 - E2) - s / om + (1.0 / (2 * E)) *
        log((1.0 - E * s) / (1.0 + E * s)))
    if (gt(math.abs(math.cos(phi0)), 1e-8)) phi0 + corr else phi0
  }

  // Plan-time constants of the case classes below (Scala math, computed
  // once per CRS; the kernels run Spark's semantics per point).

  /** Snyder 15-9 at plan time. */
  private def tFn(phi: Double): Double = {
    val es = E * math.sin(phi)
    math.tan(math.Pi / 4 - phi / 2) *
      math.pow((1 + es) / (1 - es), E / 2)
  }

  /** Snyder 14-15: m(φ) = cosφ / sqrt(1 − e² sin²φ). */
  private def mFn(phi: Double): Double = {
    val s = math.sin(phi)
    math.cos(phi) / math.sqrt(1 - E2 * s * s)
  }

  /** Snyder 3-12: the authalic q. */
  private def qFn(phi: Double): Double = {
    val s = math.sin(phi)
    (1 - E2) * (s / (1 - E2 * s * s) -
      (1.0 / (2 * E)) * math.log((1 - E * s) / (1 + E * s)))
  }

  // ------------------------------------------------ polar stereographic

  /** A polar stereographic CRS: hemisphere, standard parallel (lat_ts,
    * degrees, signed), central meridian, false easting/northing. A
    * non-NaN `k0` switches to the variant-A parameterization (scale
    * factor at the pole, EPSG method 9810 — the UPS family). */
  final case class PolarStereo(north: Boolean, latTs: Double, lon0: Double,
                               x0: Double, y0: Double,
                               k0: Double = Double.NaN) extends Projection {
    /** tc, mc at the standard parallel (north-aspect magnitudes). */
    val tsAbs: Double = math.abs(latTs)
    val tc: Double = tFn(math.toRadians(tsAbs))
    val mc: Double = mFn(math.toRadians(tsAbs))
    /** ρ = RhoK · t(φn) with φn the north-aspect latitude. Variant B
      * (standard parallel, EPSG 9829): a·mc/tc. Variant A (scale factor
      * at the pole, 9810): 2·a·k0/√((1+e)^(1+e)·(1−e)^(1−e)) — EPSG
      * GN7-2 §1.3.6.1; the UPS worked example (73N 44E →
      * 3320416.75 / 632668.43) pins it in PolarOpsSpec. */
    val rhoK: Double =
      if (k0.isNaN) A * mc / tc
      else 2.0 * A * k0 / math.sqrt(
        math.pow(1 + E, 1 + E) * math.pow(1 - E, 1 - E))

    /** South aspect runs the north equations on the mirrored
      * (−φ, −(λ−λ0)) and negates both outputs (Snyder p. 161). */
    private val sgn = if (north) 1.0 else -1.0

    def forward(lon: Double, lat: Double, out: Array[Double]): Int = {
      val phi = math.toRadians(lat * sgn)
      val lam = math.toRadians((lon - lon0) * sgn)
      val rho = rhoK * isoT(phi, E)
      out(0) = rho * math.sin(lam) * sgn + x0
      out(1) = -(rho * math.cos(lam)) * sgn + y0
      0
    }

    /** Via the conformal latitude (Snyder 21-39/40 + [[conformalPhi]]). */
    def inverse(x: Double, y: Double, out: Array[Double]): Int = {
      val xn = (x - x0) * sgn
      val yn = (y - y0) * sgn
      val rho = math.sqrt(xn * xn + yn * yn)
      val phi = conformalPhi(rho / rhoK)
      out(0) = math.toDegrees(atan2(xn, -yn)) * sgn + lon0
      out(1) = math.toDegrees(phi) * sgn
      0
    }
  }

  def stereoForCrs(crs: String): Option[PolarStereo] = crs match {
    case "EPSG:3413" => Some(PolarStereo(north = true, 70.0, -45.0, 0.0, 0.0))
    case "EPSG:3976" => Some(PolarStereo(north = false, -70.0, 0.0, 0.0, 0.0))
    case "EPSG:3031" => Some(PolarStereo(north = false, -71.0, 0.0, 0.0, 0.0))
    // Universal Polar Stereographic (variant A, k0 = 0.994 at the pole)
    case "EPSG:5041" =>
      Some(PolarStereo(north = true, 90.0, 0.0, 2000000.0, 2000000.0,
        k0 = 0.994))
    case "EPSG:5042" =>
      Some(PolarStereo(north = false, -90.0, 0.0, 2000000.0, 2000000.0,
        k0 = 0.994))
    // generic WGS84 variant-A form `PSA:<+-90>:<k0>:<lon0>:<fe>:<fn>`
    case s if s.startsWith("PSA:") =>
      s.stripPrefix("PSA:").split(':').map(_.toDoubleOption) match {
        case Array(Some(l0), Some(k), Some(lo), Some(fe), Some(fn))
            if math.abs(l0) == 90.0 && k > 0 && k <= 1.0 =>
          Some(PolarStereo(l0 > 0, l0, lo, fe, fn, k0 = k))
        case _ => None
      }
    // generic WGS84 variant-B form `PS:<latTs>:<lon0>[:<fe>:<fn>]` —
    // hemisphere from the standard parallel's sign; |lat_ts| -> 90
    // degenerates (tc -> 0; that pole case is the variant-A k0
    // parameterization above)
    case s if s.startsWith("PS:") =>
      s.stripPrefix("PS:").split(':').map(_.toDoubleOption) match {
        case Array(Some(ts), Some(lo))
            if math.abs(ts) < 89.999 =>
          Some(PolarStereo(ts >= 0, ts, lo, 0.0, 0.0))
        case Array(Some(ts), Some(lo), Some(fe), Some(fn))
            if math.abs(ts) < 89.999 =>
          Some(PolarStereo(ts >= 0, ts, lo, fe, fn))
        case _ => None
      }
    case _ => None
  }

  // ------------------------------------------ Lambert azimuthal equal-area

  /** A Lambert azimuthal equal-area CRS: center, false origin. Polar
    * aspects (|lat0| = 90) use the simpler polar equations. */
  final case class Laea(lat0: Double, lon0: Double, x0: Double, y0: Double) extends Projection {
    val polarNorth: Boolean = lat0 >= 89.999999
    val polarSouth: Boolean = lat0 <= -89.999999
    val phi0: Double = math.toRadians(lat0)
    val beta1: Double = math.asin(qFn(phi0) / Qp)
    val rq: Double = A * math.sqrt(Qp / 2)
    val m1: Double = mFn(phi0)
    val d: Double = if (polarNorth || polarSouth) 1.0
      else A * m1 / (rq * math.cos(beta1))
    private val sinB1 = math.sin(beta1)
    private val cosB1 = math.cos(beta1)

    /** Polar aspects use Snyder 24-23/24 (ρ = a·sqrt(qp ∓ q)); the oblique
      * aspect uses 24-17..24-19 with the D stretch. */
    def forward(lon: Double, lat: Double, out: Array[Double]): Int = {
      val q = authalicQ(math.sin(math.toRadians(lat)))
      val lam = math.toRadians(lon - lon0)
      if (polarNorth || polarSouth) {
        val sgn = if (polarNorth) 1.0 else -1.0
        val rho = A * math.sqrt(Qp - q * sgn)
        out(0) = rho * math.sin(lam) + x0
        out(1) = -(rho * math.cos(lam)) * sgn + y0
      } else {
        val beta = math.asin(q / Qp)
        val b = rq * math.sqrt(2.0 / (1.0 + sinB1 * math.sin(beta) +
          cosB1 * math.cos(beta) * math.cos(lam)))
        out(0) = b * d * math.cos(beta) * math.sin(lam) + x0
        out(1) = (b / d) * (cosB1 * math.sin(beta) -
          sinB1 * math.cos(beta) * math.cos(lam)) + y0
      }
      0
    }

    /** Via the authalic latitude (Snyder 25-16..25-18 + [[authalicPhi]]).
      * The exact center point (ρ = 0) returns (lon0, lat0). */
    def inverse(x: Double, y: Double, out: Array[Double]): Int = {
      val xr = x - x0
      val yr = y - y0
      var rho = 0.0
      var lam = 0.0
      var phi = 0.0
      if (polarNorth || polarSouth) {
        val sgn = if (polarNorth) 1.0 else -1.0
        rho = math.sqrt(xr * xr + yr * yr)
        val q = (Qp - (rho / A) * (rho / A)) * sgn
        phi = authalicPhi(math.asin(q / Qp), q)
        lam = atan2(xr, -yr * sgn)
      } else {
        val xd = xr / d
        val yd = yr * d
        rho = math.sqrt(xd * xd + yd * yd)
        val ce = 2.0 * math.asin(rho / (2 * rq))
        val beta = math.asin(math.cos(ce) * sinB1 +
          yd * math.sin(ce) * cosB1 / rho)
        phi = authalicPhi(beta, Qp * math.sin(beta))
        lam = atan2(xd * math.sin(ce),
          rho * cosB1 * math.cos(ce) - yd * sinB1 * math.sin(ce))
      }
      if (rho == 0.0) { out(0) = lon0; out(1) = lat0 }
      else { out(0) = math.toDegrees(lam) + lon0; out(1) = math.toDegrees(phi) }
      0
    }
  }

  def laeaForCrs(crs: String): Option[Laea] = crs match {
    case "EPSG:3035" => Some(Laea(52.0, 10.0, 4321000.0, 3210000.0))
    case "EPSG:6931" => Some(Laea(90.0, 0.0, 0.0, 0.0))
    case "EPSG:6932" => Some(Laea(-90.0, 0.0, 0.0, 0.0))
    // generic WGS84 form `LAEA:<lat0>:<lon0>[:<fe>:<fn>]` (the math is
    // already parameterized; polar aspects dispatch inside Laea)
    case s if s.startsWith("LAEA:") =>
      s.stripPrefix("LAEA:").split(':').map(_.toDoubleOption) match {
        case Array(Some(la), Some(lo)) if math.abs(la) <= 90 =>
          Some(Laea(la, lo, 0.0, 0.0))
        case Array(Some(la), Some(lo), Some(fe), Some(fn))
            if math.abs(la) <= 90 =>
          Some(Laea(la, lo, fe, fn))
        case _ => None
      }
    case _ => None
  }

  // ------------------------------------------------- MODIS sinusoidal

  /** The MODIS land grid's authalic sphere radius (meters) — the NASA
    * MODIS sinusoidal projection (SR-ORG:6974), public product spec. */
  val ModisSphereR: Double = 6371007.181

  /** Spherical sinusoidal (Snyder eq. 30-1/30-2): the MODIS land grid.
    * Equal-area, trivially invertible, central meridian 0. */
  def isSinusoidal(crs: String): Boolean =
    crs == "SR-ORG:6974" || crs == "MODIS:SIN"

  case object Sinusoidal extends Projection {
    def forward(lon: Double, lat: Double, out: Array[Double]): Int = {
      val phi = math.toRadians(lat)
      out(0) = ModisSphereR * math.toRadians(lon) * math.cos(phi)
      out(1) = ModisSphereR * phi
      0
    }

    def inverse(x: Double, y: Double, out: Array[Double]): Int = {
      val phi = y / ModisSphereR
      out(0) = math.toDegrees(x / (ModisSphereR * math.cos(phi)))
      out(1) = math.toDegrees(phi)
      0
    }
  }

  // ------------------------------------ Lambert conformal conic (2SP)

  /** An LCC 2SP CRS (Snyder 15-1..15-11). Both registered instances
    * have n > 0 (northern standard parallels); the derived constants
    * are shared Scala doubles so SQL oracles mirror them bit-for-bit. */
  final case class Lcc(lat1: Double, lat2: Double, lat0: Double,
                       lon0: Double, x0: Double, y0: Double) extends Projection {
    private val m1 = mFn(math.toRadians(lat1))
    private val m2 = mFn(math.toRadians(lat2))
    private val t1 = tFn(math.toRadians(lat1))
    private val t2 = tFn(math.toRadians(lat2))
    val n: Double = (math.log(m1) - math.log(m2)) /
      (math.log(t1) - math.log(t2))
    val f: Double = m1 / (n * math.pow(t1, n))
    val rho0: Double = A * f * math.pow(tFn(math.toRadians(lat0)), n)
    require(n > 0, s"southern-aspect LCC unsupported (n = $n)")
    private val af = A * f

    def forward(lon: Double, lat: Double, out: Array[Double]): Int = {
      val rho = af * pow(isoT(math.toRadians(lat), E), n)
      val th = n * math.toRadians(lon - lon0)
      out(0) = rho * math.sin(th) + x0
      out(1) = rho0 - rho * math.cos(th) + y0
      0
    }

    def inverse(x: Double, y: Double, out: Array[Double]): Int = {
      val xr = x - x0
      val yr = rho0 - (y - y0)
      val rho = math.sqrt(xr * xr + yr * yr)
      val t = pow(rho / af, 1.0 / n)
      out(0) = math.toDegrees(atan2(xr, yr) / n) + lon0
      out(1) = math.toDegrees(conformalPhi(t))
      0
    }
  }

  /** Registered LCC instances — EPSG:2154 (RGF93 / Lambert-93, the
    * French national grid) and EPSG:3978 (NAD83 / Canada Atlas
    * Lambert). Both datums use the GRS80 ellipsoid, whose flattening
    * differs from WGS84's in the 12th digit (~0.1 mm) — below every
    * tolerance here, so the shared WGS84 constants serve both. */
  def lccForCrs(crs: String): Option[Lcc] = crs match {
    case "EPSG:2154" => Some(Lcc(49.0, 44.0, 46.5, 3.0, 700000.0, 6600000.0))
    case "EPSG:3978" => Some(Lcc(49.0, 77.0, 49.0, -95.0, 0.0, 0.0))
    // generic WGS84/GRS80 2SP form
    // `LCC:<lat1>:<lat2>:<lat0>:<lon0>:<fe>:<fn>` (a southern-aspect
    // parallel pair still throws the case class's loud n > 0 require)
    case s if s.startsWith("LCC:") =>
      s.stripPrefix("LCC:").split(':').map(_.toDoubleOption) match {
        case Array(Some(l1), Some(l2), Some(l0), Some(lo), Some(fe),
            Some(fn)) if l1 != l2 =>
          Some(Lcc(l1, l2, l0, lo, fe, fn))
        case _ => None
      }
    case _ => None
  }

  // ------------------------------------------ Albers equal-area conic

  /** An Albers 2SP CRS (Snyder 14-1..14-11, ellipsoidal via the
    * authalic q). */
  final case class Albers(lat1: Double, lat2: Double, lat0: Double,
                          lon0: Double, x0: Double, y0: Double) extends Projection {
    private val m1 = mFn(math.toRadians(lat1))
    private val m2 = mFn(math.toRadians(lat2))
    private val q1 = qFn(math.toRadians(lat1))
    private val q2 = qFn(math.toRadians(lat2))
    val n: Double = (m1 * m1 - m2 * m2) / (q2 - q1)
    val c: Double = m1 * m1 + n * q1
    val rho0: Double = A * math.sqrt(c - n * qFn(math.toRadians(lat0))) / n
    require(n > 0, s"southern-aspect Albers unsupported (n = $n)")

    def forward(lon: Double, lat: Double, out: Array[Double]): Int = {
      val q = authalicQ(math.sin(math.toRadians(lat)))
      val rho = A * math.sqrt(c - n * q) / n
      val th = n * math.toRadians(lon - lon0)
      out(0) = rho * math.sin(th) + x0
      out(1) = rho0 - rho * math.cos(th) + y0
      0
    }

    def inverse(x: Double, y: Double, out: Array[Double]): Int = {
      val xr = x - x0
      val yr = rho0 - (y - y0)
      val rho = math.sqrt(xr * xr + yr * yr)
      val q = (c - (rho * n / A) * (rho * n / A)) / n
      out(0) = math.toDegrees(atan2(xr, yr) / n) + lon0
      out(1) = math.toDegrees(authalicPhi(math.asin(q / Qp), q))
      0
    }
  }

  /** EPSG:5070 — NAD83 / Conus Albers, the US national equal-area grid
    * (NLCD and friends). GRS80 ≈ WGS84 as above. */
  def albersForCrs(crs: String): Option[Albers] = crs match {
    case "EPSG:5070" => Some(Albers(29.5, 45.5, 23.0, -96.0, 0.0, 0.0))
    // generic WGS84/GRS80 2SP form
    // `ALBERS:<lat1>:<lat2>:<lat0>:<lon0>:<fe>:<fn>`
    case s if s.startsWith("ALBERS:") =>
      s.stripPrefix("ALBERS:").split(':').map(_.toDoubleOption) match {
        case Array(Some(l1), Some(l2), Some(l0), Some(lo), Some(fe),
            Some(fn)) if l1 != l2 =>
          Some(Albers(l1, l2, l0, lo, fe, fn))
        case _ => None
      }
    case _ => None
  }

  // --------------------------------------------------- rotated pole

  /** A rotated-pole geographic CRS — the COSMO/HIRLAM regional-weather
    * grid family: coordinates are lon/lat DEGREES in a frame whose
    * north pole sits at (`poleLatDeg`, `poleLonDeg`) in TRUE geographic
    * coordinates (the GRIB southern-pole convention negated). Spherical
    * by construction (the rotation is exact; these grids are defined on
    * a sphere). Named "ROTPOLE:<poleLat>:<poleLon>" to stay free of the
    * proj ob_tran parameter-convention ambiguity. */
  final case class RotPole(poleLatDeg: Double, poleLonDeg: Double) extends Projection {
    // v' = Rz(π) · Ry(φp − π/2) · Rz(−λp) · v maps the pole to +z with
    // the COSMO zero-meridian convention: the true meridian λp ± 180°
    // (the grid center's meridian) reads as rotated lon 0
    val sinT: Double = math.sin(math.toRadians(poleLatDeg) - math.Pi / 2)
    val cosT: Double = math.cos(math.toRadians(poleLatDeg) - math.Pi / 2)

    /** TRUE (lon, lat) → ROTATED (lon', lat') in degrees. */
    def forward(lon: Double, lat: Double, out: Array[Double]): Int = {
      val phi = math.toRadians(lat)
      val lam = math.toRadians(lon - poleLonDeg) // Rz(−λp) folded in
      // v1 = Rz-rotated unit vector; v' = Ry(θ)·v1 with θ = φp − π/2
      val x1 = math.cos(phi) * math.cos(lam)
      val y1 = math.cos(phi) * math.sin(lam)
      val z1 = math.sin(phi)
      val x2 = x1 * cosT + z1 * sinT
      val z2 = -(x1 * sinT) + z1 * cosT
      out(0) = math.toDegrees(atan2(-y1, -x2))
      out(1) = math.toDegrees(math.asin(z2))
      0
    }

    /** ROTATED (lon', lat') → TRUE (lon, lat): the transposed rotations. */
    def inverse(lonR: Double, latR: Double, out: Array[Double]): Int = {
      val phi = math.toRadians(latR)
      val lam = math.toRadians(lonR)
      // undo Rz(π) first: (x, y) → (−x, −y)
      val x1 = -(math.cos(phi) * math.cos(lam))
      val y1 = -(math.cos(phi) * math.sin(lam))
      val z1 = math.sin(phi)
      val x2 = x1 * cosT - z1 * sinT
      val z2 = x1 * sinT + z1 * cosT
      val lonT = math.toDegrees(atan2(y1, x2)) + poleLonDeg
      // normalize to (−180, 180] (atan2 + pole lon can leave the range)
      out(0) = lonT - 360.0 * Projection.ceil((lonT - 180.0) / 360.0)
      out(1) = math.toDegrees(math.asin(z2))
      0
    }

    /** The frame is in degrees. */
    override def unitsPerDegree: Double = 1.0
  }

  def rotPoleForCrs(crs: String): Option[RotPole] =
    if (!crs.startsWith("ROTPOLE:")) None
    else crs.stripPrefix("ROTPOLE:").split(':') match {
      case Array(a, b) =>
        for (la <- a.toDoubleOption; lo <- b.toDoubleOption
             if la > -90 && la <= 90)
          yield RotPole(la, lo)
      case _ => None
    }

  // ------------------------------------ EASE-Grid 2.0 (EPSG:6933)

  /** EASE-Grid 2.0 global (EPSG:6933) — the SMAP/SMOS/AMSR soil-moisture
    * grid family: normal cylindrical equal-area on WGS84 with standard
    * parallels ±30° (Snyder eq. 10-1/10-2 ellipsoidal form; the inverse
    * rides the same authalic-latitude series as LAEA). Derived scale
    * sanity: A·π·k0 = 17 367 530.45 m, the grid's published global
    * half-width. */
  val Ease2LatTs: Double = 30.0
  /** k0 = cos φs / sqrt(1 − e² sin² φs) at the ±30° standard parallels. */
  val Ease2K0: Double = {
    val phi = math.toRadians(Ease2LatTs)
    val s = math.sin(phi)
    math.cos(phi) / math.sqrt(1 - E2 * s * s)
  }

  def isEase2(crs: String): Boolean = crs == "EPSG:6933"

  case object Ease2 extends Projection {
    def forward(lon: Double, lat: Double, out: Array[Double]): Int = {
      val q = authalicQ(math.sin(math.toRadians(lat)))
      out(0) = A * Ease2K0 * math.toRadians(lon)
      out(1) = A / (2.0 * Ease2K0) * q
      0
    }

    def inverse(x: Double, y: Double, out: Array[Double]): Int = {
      val q = y * (2.0 * Ease2K0 / A)
      val beta = math.asin(q / Qp) // |q| > Qp (off-grid) → NaN
      out(0) = math.toDegrees(x / (A * Ease2K0))
      out(1) = math.toDegrees(authalicPhi(beta, q))
      0
    }
  }

  // -------------------------------------------------- orthographic

  /** Spherical orthographic (Snyder eq. 20-3..20-17) — the satellite-
    * view projection, parameterized by its tangent point:
    * "ORTHO:<lat0>:<lon0>". Spherical by convention like the sinusoidal
    * and rotated-pole families (the MODIS authalic sphere radius);
    * points beyond the visible hemisphere read NaN. */
  final case class Ortho(lat0Deg: Double, lon0Deg: Double) extends Projection {
    val sin0: Double = math.sin(math.toRadians(lat0Deg))
    val cos0: Double = math.cos(math.toRadians(lat0Deg))
    private val phi0 = math.toRadians(lat0Deg)

    def forward(lon: Double, lat: Double, out: Array[Double]): Int = {
      val phi = math.toRadians(lat)
      val dl = math.toRadians(lon - lon0Deg)
      // hemisphere test: cos(c) = sinφ0 sinφ + cosφ0 cosφ cosΔλ ≥ 0
      val cosc = sin0 * math.sin(phi) + cos0 * math.cos(phi) * math.cos(dl)
      val vis = if (ge(cosc, 0.0)) 1.0 else Double.NaN
      out(0) = vis * ModisSphereR * math.cos(phi) * math.sin(dl)
      out(1) = vis * ModisSphereR *
        (cos0 * math.sin(phi) - sin0 * math.cos(phi) * math.cos(dl))
      0
    }

    def inverse(x: Double, y: Double, out: Array[Double]): Int = {
      val rho = math.sqrt(x * x + y * y)
      val c = math.asin(rho / ModisSphereR) // ρ > R (off-disk) → NaN
      // ρ = 0 (the tangent point) makes y·sin(c)/ρ a 0/0 — guard to center
      if (rho == 0.0) {
        out(0) = math.toDegrees(0.0) + lon0Deg
        out(1) = math.toDegrees(phi0)
      } else {
        out(0) = math.toDegrees(atan2(x * math.sin(c),
          rho * cos0 * math.cos(c) - y * sin0 * math.sin(c))) + lon0Deg
        out(1) = math.toDegrees(
          math.asin(math.cos(c) * sin0 + y * math.sin(c) * cos0 / rho))
      }
      0
    }
  }

  def orthoForCrs(crs: String): Option[Ortho] =
    if (!crs.startsWith("ORTHO:")) None
    else crs.stripPrefix("ORTHO:").split(':') match {
      case Array(a, b) =>
        for (la <- a.toDoubleOption; lo <- b.toDoubleOption
             if la >= -90 && la <= 90)
          yield Ortho(la, lo)
      case _ => None
    }

  // ---------------------------------------------------- Mollweide

  /** Spherical Mollweide (Snyder eq. 31-1..31-8) — the classic equal-
    * area world-map projection ("MOLL:<lon0>"), on the same authalic
    * sphere as the sinusoidal/orthographic families. The auxiliary
    * angle satisfies 2θ + sin 2θ = π sin φ; the kernel and the SQL oracle
    * twin run the SAME fixed-count pole-guarded Newton iteration
    * ([[mollTheta]]), so results are bit-identical — a converged loop
    * would be engine-order-dependent. */
  final case class Mollweide(lon0Deg: Double) extends Projection {
    def forward(lon: Double, lat: Double, out: Array[Double]): Int = {
      val theta = mollTheta(math.toRadians(lat))
      out(0) = ModisSphereR * MollXScale * math.toRadians(lon - lon0Deg) *
        math.cos(theta)
      out(1) = ModisSphereR * MollSqrt2 * math.sin(theta)
      0
    }

    def inverse(x: Double, y: Double, out: Array[Double]): Int = {
      val theta = math.asin(y / (ModisSphereR * MollSqrt2)) // off-map → NaN
      val phi = math.asin((2.0 * theta + math.sin(2.0 * theta)) / math.Pi)
      val lam = // the poles collapse to the central meridian
        if (gt(math.abs(math.cos(theta)), 1e-14))
          x / (ModisSphereR * MollXScale * math.cos(theta))
        else 0.0
      out(0) = math.toDegrees(lam) + lon0Deg
      out(1) = math.toDegrees(phi)
      0
    }
  }

  /** Newton steps of [[mollTheta]]: quadratic convergence from the θ = φ
    * seed lands past machine precision everywhere the guarded
    * denominator admits a step; the poles are exact at the seed. */
  private val MollSteps: Int = 8

  /** The Mollweide auxiliary angle θ(φ) solving 2θ + sin 2θ = π sin φ
    * (Snyder eq. 31-2..31-4): a FIXED-COUNT pole-guarded Newton iteration
    * from the θ = φ seed. */
  private def mollTheta(phi: Double): Double = {
    val target = math.Pi * math.sin(phi)
    var theta = phi
    var k = 0
    while (k < MollSteps) {
      val dn = 2.0 + 2.0 * math.cos(2.0 * theta)
      if (dn > 1e-14)
        theta = theta - (2.0 * theta + math.sin(2.0 * theta) - target) / dn
      k += 1
    }
    theta
  }

  val MollSqrt2: Double = math.sqrt(2.0)
  val MollXScale: Double = 2.0 * math.sqrt(2.0) / math.Pi

  def mollForCrs(crs: String): Option[Mollweide] =
    if (!crs.startsWith("MOLL:")) None
    else crs.stripPrefix("MOLL:").toDoubleOption.map(Mollweide(_))

  // --------------------------------------------------- geostationary

  /** The geostationary perspective projection ("geos") — the MSG/GOES
    * full-disk product family, the largest real-world CRS family the
    * reference reaches through pyproj that had no closed form here
    * (reference resampling/spatial.py:28-261 accepts any CRS; CF
    * grid_mapping_name "geostationary"). GRS80 ellipsoid; projection
    * coordinates are scan angles × perspective height (metres), the
    * PROJ +proj=geos convention. `sweepX` = the GOES-R scan geometry
    * (sweep_angle_axis "x"); MSG/SEVIRI uses sweep "y". Named
    * "GEOS:<lon0>" (standard 35,786,023 m height, sweep x) or fully
    * "GEOS:<lon0>:<h>:<x|y>". Forward/inverse verified against the
    * published GOES-R Product Definition and Users' Guide worked
    * example (lon −84.690932, lat 33.846162 ↔ scan angles −0.024052,
    * 0.095340 rad at lon0 −75, sweep x). */
  final case class Geos(lon0Deg: Double, h: Double, sweepX: Boolean) extends Projection {
    val rEq: Double = 6378137.0
    val rPol: Double = 6356752.31414
    val bigH: Double = h + rEq
    val e2: Double = (rEq * rEq - rPol * rPol) / (rEq * rEq)
    val invFlat2: Double = (rEq * rEq) / (rPol * rPol)
    private val cq = bigH * bigH - rEq * rEq

    /** (lon, lat) → geostationary (x, y) metres. Points not visible from
      * the satellite (behind the limb) read NaN — the quadratic the
      * inverse solves has no real root there, and the forward's own
      * geometry produces angles only for the near hemisphere. */
    def forward(lon: Double, lat: Double, out: Array[Double]): Int = {
      val latc = math.atan((1.0 / invFlat2) * math.tan(math.toRadians(lat)))
      val rc = rPol / math.sqrt(1.0 - e2 * math.cos(latc) * math.cos(latc))
      val dlon = math.toRadians(lon - lon0Deg)
      val sx0 = bigH - rc * math.cos(latc) * math.cos(dlon)
      val sy = -(rc * math.cos(latc) * math.sin(dlon))
      val sz = rc * math.sin(latc)
      // limb visibility: the satellite sees the point iff the view ray is
      // outside the local horizon — the PUG test sx·(sx − H) + sy² + sz²·
      // (rEq/rPol)² < 0 (violations → NaN, the masked-cell convention)
      val vis = sx0 * (sx0 - bigH) + sy * sy + invFlat2 * sz * sz < 0.0
      val sx = if (vis) sx0 else Double.NaN
      val r = math.sqrt(sx * sx + sy * sy + sz * sz)
      if (sweepX) {
        out(0) = h * math.asin(-sy / r)
        out(1) = h * math.atan(sz / sx)
      } else {
        out(0) = h * math.atan(-sy / sx)
        out(1) = h * math.asin(sz / r)
      }
      0
    }

    /** Geostationary (x, y) metres → (lon, lat); off-disk points (no
      * ellipsoid intersection) read NaN via the negative discriminant. */
    def inverse(x: Double, y: Double, out: Array[Double]): Int = {
      val xa = x / h
      val ya = y / h
      // unit view ray u from the satellite, by sweep geometry
      val u1 = if (sweepX) math.cos(xa) * math.cos(ya)
        else math.cos(ya) * math.cos(xa)
      val u2 = if (sweepX) -math.sin(xa) else -(math.cos(ya) * math.sin(xa))
      val u3 = if (sweepX) math.cos(xa) * math.sin(ya) else math.sin(ya)
      val aq = u1 * u1 + u2 * u2 + invFlat2 * u3 * u3
      val bq = -2.0 * bigH * u1
      val rs = (-bq - math.sqrt(bq * bq - 4.0 * aq * cq)) / (2.0 * aq)
      val sx = rs * u1
      val sy = rs * u2
      val sz = rs * u3
      val lat = math.atan(invFlat2 * sz /
        math.sqrt((bigH - sx) * (bigH - sx) + sy * sy))
      out(0) = lon0Deg - math.toDegrees(math.atan(sy / (bigH - sx)))
      out(1) = math.toDegrees(lat)
      0
    }
  }

  def geosForCrs(crs: String): Option[Geos] =
    if (!crs.startsWith("GEOS:")) None
    else crs.stripPrefix("GEOS:").split(':') match {
      case Array(l) =>
        l.toDoubleOption.map(Geos(_, 35786023.0, sweepX = true))
      case Array(l, hh, sw) if sw == "x" || sw == "y" =>
        for (lo <- l.toDoubleOption; hv <- hh.toDoubleOption if hv > 0)
          yield Geos(lo, hv, sweepX = sw == "x")
      case _ => None
    }

  // ----------------------------------------------------- Equal Earth

  /** Equal Earth (Šavrič, Patterson & Jenny 2019; EPSG:8857 "WGS 84 /
    * Equal Earth Greenwich", +proj=eqearth): the equal-area pseudo-
    * cylindrical world projection. On the ellipsoid the projection runs
    * through the AUTHALIC latitude and authalic radius (the proj
    * formulation) — the same Snyder 3-12/3-18 machinery as LAEA/EASE —
    * so areas are exact on WGS84. θ solves the published polynomial by
    * Newton ([[eqEarthTheta]]). */
  final case class EqualEarth(lon0Deg: Double) extends Projection {
    def forward(lon: Double, lat: Double, out: Array[Double]): Int = {
      val beta = math.asin(authalicQ(math.sin(math.toRadians(lat))) / Qp)
      val theta = math.asin(EqEarthM * math.sin(beta))
      val t2 = theta * theta
      val t6 = t2 * t2 * t2
      val dp = EqEarthA1 + 3.0 * EqEarthA2 * t2 +
        t6 * (7.0 * EqEarthA3 + 9.0 * EqEarthA4 * t2)
      out(0) = AuthalicR * math.toRadians(lon - lon0Deg) * math.cos(theta) /
        (EqEarthM * dp)
      out(1) = AuthalicR * theta * (EqEarthA1 + EqEarthA2 * t2 +
        t6 * (EqEarthA3 + EqEarthA4 * t2))
      0
    }

    def inverse(x: Double, y: Double, out: Array[Double]): Int = {
      val theta = eqEarthTheta(y / AuthalicR)
      val t2 = theta * theta
      val t6 = t2 * t2 * t2
      val dp = EqEarthA1 + 3.0 * EqEarthA2 * t2 +
        t6 * (7.0 * EqEarthA3 + 9.0 * EqEarthA4 * t2)
      val beta = math.asin(math.sin(theta) / EqEarthM) // |sinθ|>M → NaN
      // series seed + one exact Snyder 3-16 refinement (authalicPhi) —
      // the bare series truncates at ~1e-8 degrees
      val phi = authalicPhi(beta, Qp * math.sin(beta))
      // an off-map northing reads NaN in both coordinates, like the other
      // bounded families (the bare quotient keeps a finite longitude)
      out(0) = if (beta.isNaN) Double.NaN
        else math.toDegrees(x * EqEarthM * dp /
          (AuthalicR * math.cos(theta))) + lon0Deg
      out(1) = math.toDegrees(phi)
      0
    }
  }

  /** Published polynomial coefficients (Šavrič et al. 2019, eq. 1-3). */
  val EqEarthA1: Double = 1.340264
  val EqEarthA2: Double = -0.081106
  val EqEarthA3: Double = 0.000893
  val EqEarthA4: Double = 0.003796

  /** Newton steps of [[eqEarthTheta]] from the y/(R·A1) seed: quadratic
    * convergence, well past machine precision on-map in far fewer. */
  private val EqEarthSteps: Int = 8

  /** The parametric angle θ solving θ·(A1 + A2θ² + θ⁶(A3 + A4θ²)) = yn
    * for the NORMALIZED northing yn = y/R_q. The on-map denominator
    * A1 + 3A2θ² + θ⁶(7A3 + 9A4θ²) stays ≥ ~1.13, so the guard only
    * shields pathological off-map inputs. */
  private def eqEarthTheta(yn: Double): Double = {
    var theta = yn / EqEarthA1
    var k = 0
    while (k < EqEarthSteps) {
      val t2 = theta * theta
      val t6 = t2 * t2 * t2
      val f = theta * (EqEarthA1 + EqEarthA2 * t2 +
        t6 * (EqEarthA3 + EqEarthA4 * t2)) - yn
      val df = EqEarthA1 + 3.0 * EqEarthA2 * t2 +
        t6 * (7.0 * EqEarthA3 + 9.0 * EqEarthA4 * t2)
      if (math.abs(df) > 1e-14) theta = theta - f / df
      k += 1
    }
    theta
  }

  /** √3/2 — the parametric-latitude scale (eq. 2). */
  val EqEarthM: Double = math.sqrt(3.0) / 2.0
  /** Authalic radius R_q = a·sqrt(Qp/2) (Snyder 3-13). */
  val AuthalicR: Double = A * math.sqrt(Qp / 2.0)

  def eqEarthForCrs(crs: String): Option[EqualEarth] = crs match {
    case "EPSG:8857" => Some(EqualEarth(0.0))
    case s if s.startsWith("EQEARTH:") =>
      s.stripPrefix("EQEARTH:").toDoubleOption.map(EqualEarth(_))
    case _ => None
  }

  // ------------------- Hotine oblique Mercator (EPSG methods 9812/9815)

  /** Hotine oblique Mercator — the rotated-aspect Mercator behind the
    * Borneo RSO grids (EPSG:29873, Everest 1830), Swiss LV95
    * (EPSG:2056, Bessel 1841) and Alaska zone 1. EPSG Guidance Note
    * 7-2 §1.3.6 formulation; `variantB` = method 9815 (false origin at
    * the projection CENTER, the u_c shift) vs 9812 (variant A, natural
    * origin / +no_uoff). Constants derive PER CRS from its own
    * ellipsoid like [[ObliqueStereo]]. */
  final case class HotineOm(latcDeg: Double, loncDeg: Double,
                            alphaDeg: Double, gammaDeg: Double,
                            k0: Double, x0: Double, y0: Double,
                            a: Double = A,
                            invF: Double = 298.257223563,
                            variantB: Boolean = true) extends Projection {
    val fE: Double = 1.0 / invF
    val e2: Double = fE * (2 - fE)
    val e: Double = math.sqrt(e2)
    private val latc = math.toRadians(latcDeg)
    private val sc = math.sin(latc)
    val bB: Double = math.sqrt(1 + e2 * math.pow(math.cos(latc), 4) / (1 - e2))
    val bA: Double = a * bB * k0 * math.sqrt(1 - e2) / (1 - e2 * sc * sc)
    private val t0c = math.tan(math.Pi / 4 - latc / 2) /
      math.pow((1 - e * sc) / (1 + e * sc), e / 2)
    private val dD = bB * math.sqrt(1 - e2) /
      (math.cos(latc) * math.sqrt(1 - e2 * sc * sc))
    private val d2 = math.max(dD * dD, 1.0)
    private val fF = dD + math.sqrt(d2 - 1.0) * math.signum(latc)
    val hH: Double = fF * math.pow(t0c, bB)
    private val gG = (fF - 1.0 / fF) / 2.0
    val gamma0: Double = math.asin(math.sin(math.toRadians(alphaDeg)) / dD)
    val lam0: Double = math.toRadians(loncDeg) -
      math.asin(gG * math.tan(gamma0)) / bB
    val sinG0: Double = math.sin(gamma0)
    val cosG0: Double = math.cos(gamma0)
    /** u at the projection center (the variant-B shift) — evaluated as
      * the forward's OWN u at (φc, λc), where Q collapses to F: equal
      * to GN7-2's (A/B)·atan(√(D²−1)/cos αc) wherever that form is
      * defined, and the exact center→false-origin value at αc = 90°
      * (the Swiss case, where the atan form is only a limit). */
    val uC: Double =
      if (!variantB) 0.0
      else {
        val dl0 = bB * (math.toRadians(loncDeg) - lam0)
        (bA / bB) * math.atan2(gG * cosG0 + math.sin(dl0) * sinG0,
          math.cos(dl0))
      }
    val sinGc: Double = math.sin(math.toRadians(gammaDeg))
    val cosGc: Double = math.cos(math.toRadians(gammaDeg))
    // per-ellipsoid conformal inverse series (Snyder 3-5)
    private val e4 = e2 * e2
    private val e6 = e4 * e2
    private val e8 = e4 * e4
    val c2: Double = e2 / 2 + 5 * e4 / 24 + e6 / 12 + 13 * e8 / 360
    val c4: Double = 7 * e4 / 48 + 29 * e6 / 240 + 811 * e8 / 11520
    val c6: Double = 7 * e6 / 120 + 81 * e8 / 1120
    val c8: Double = 4279 * e8 / 161280

    def forward(lon: Double, lat: Double, out: Array[Double]): Int = {
      val phi = least(greatest(math.toRadians(lat), -HotinePoleClamp),
        HotinePoleClamp)
      val dl = bB * (math.toRadians(lon) - lam0) // B(λ−λ0)
      val es = e * math.sin(phi)
      val t = math.tan(math.Pi / 4 - phi / 2) /
        pow((1.0 - es) / (1.0 + es), e / 2)
      val q = hH / pow(t, bB)
      val sQ = (q - 1.0 / q) / 2.0
      val tQ = (q + 1.0 / q) / 2.0
      val vS = math.sin(dl)
      val uU = (-vS * cosG0 + sQ * sinG0) / tQ
      val l = (1.0 - uU) / (1.0 + uU)
      if (l <= 0.0) return Projection.BothNull
      val v = bA * log(l) / (2.0 * bB)
      val u = bA * atan2(sQ * cosG0 + vS * sinG0, math.cos(dl)) / bB - uC
      out(0) = v * cosGc + u * sinGc + x0
      out(1) = u * cosGc - v * sinGc + y0
      0
    }

    def inverse(x: Double, y: Double, out: Array[Double]): Int = {
      val vp = (x - x0) * cosGc - (y - y0) * sinGc
      val up = (y - y0) * cosGc + (x - x0) * sinGc + uC
      val q = exp(-(bB * vp / bA))
      val sQ = (q - 1.0 / q) / 2.0
      val tQ = (q + 1.0 / q) / 2.0
      val vS = math.sin(bB * up / bA)
      val uU = (vS * cosG0 + sQ * sinG0) / tQ
      val t = pow(hH / math.sqrt((1.0 + uU) / (1.0 - uU)), 1.0 / bB)
      val lam = lam0 -
        atan2(sQ * cosG0 - vS * sinG0, math.cos(bB * up / bA)) / bB
      out(0) = math.toDegrees(lam)
      out(1) = math.toDegrees(conformalPhi(t, e, c2, c4, c6, c8))
      0
    }
  }

  /** Registered: the two real-world variant-B grids with published
    * anchors plus the generic
    * `HOM:<latc>:<lonc>:<alpha>:<gamma>:<k0>:<fe>:<fn>[:A]` WGS84
    * form (`:A` = variant A / +no_uoff). */
  def hotineForCrs(crs: String): Option[HotineOm] = crs match {
    case "EPSG:29873" => Some(HotineOm( // Timbalai 1948 / RSO Borneo (m)
      4.0, 115.0, 53.31582047222222, 53.13010236111111, 0.99984,
      590476.87, 442857.65, a = 6377298.556, invF = 300.8017))
    case "EPSG:2056" => Some(HotineOm( // CH1903+ / LV95 (swiss oblique)
      46.952405555555565, 7.439583333333333, 90.0, 90.0, 1.0,
      2600000.0, 1200000.0, a = 6377397.155, invF = 299.1528128))
    case s if s.startsWith("HOM:") =>
      val parts = s.stripPrefix("HOM:").split(':')
      if (parts.length < 7 || parts.length > 8) None
      else {
        val ds = parts.take(7).map(_.toDoubleOption)
        if (ds.exists(_.isEmpty)) None
        else {
          val v = ds.map(_.get)
          val vb = parts.length < 8 || parts(7) != "A"
          Some(HotineOm(v(0), v(1), v(2), v(3), v(4), v(5), v(6),
            variantB = vb))
        }
      }
    case _ => None
  }

  /** Forward clamp: t(φ) → 0 at the poles makes Q = H/t^B overflow to
    * ∞ and U to NaN; one ulp inside keeps the (off-grid) pole images
    * finite. A NaN latitude clamps to the north limit (Spark's ordering:
    * NaN is the largest value). */
  private val HotinePoleClamp = math.Pi / 2 - 1e-12

  // ---------------------------- oblique stereographic (EPSG method 9809)

  /** Oblique ("double") stereographic — EPSG method 9809, the RD New /
    * Amersfoort family (+proj=sterea): ellipsoid → conformal sphere →
    * spherical stereographic, per EPSG Guidance Note 7-2 §1.3.7.1. All
    * constants derive PER CRS from its own ellipsoid, so non-WGS84
    * datums (Bessel 1841 for EPSG:28992) are exact — the only family
    * here that isn't WGS84-pinned. */
  final case class ObliqueStereo(lat0Deg: Double, lon0Deg: Double,
                                 k0: Double, x0: Double, y0: Double,
                                 a: Double = A,
                                 invF: Double = 298.257223563) extends Projection {
    val fE: Double = 1.0 / invF
    val e2: Double = fE * (2 - fE)
    val e: Double = math.sqrt(e2)
    private val phi0 = math.toRadians(lat0Deg)
    private val s0 = math.sin(phi0)
    val lam0: Double = math.toRadians(lon0Deg)
    val bigR: Double = math.sqrt(
      (a * (1 - e2) / math.pow(1 - e2 * s0 * s0, 1.5)) *
        (a / math.sqrt(1 - e2 * s0 * s0)))
    val n: Double =
      math.sqrt(1 + e2 * math.pow(math.cos(phi0), 4) / (1 - e2))
    private val w1 = math.pow(((1 + s0) / (1 - s0)) *
      math.pow((1 - e * s0) / (1 + e * s0), e), n)
    val c: Double = {
      val sinChi00 = (w1 - 1) / (w1 + 1)
      (n + s0) * (1 - sinChi00) / ((n - s0) * (1 + sinChi00))
    }
    val chi0: Double = { val w2 = c * w1; math.asin((w2 - 1) / (w2 + 1)) }
    val sinChi0: Double = math.sin(chi0)
    val cosChi0: Double = math.cos(chi0)
    val twoRk: Double = 2 * bigR * k0
    /** inverse constants g, h (GN7-2 names). */
    val gC: Double = twoRk * math.tan(math.Pi / 4 - chi0 / 2)
    val hC: Double = 2 * twoRk * math.tan(chi0) + gC
    // conformal-latitude inverse series for THIS ellipsoid (Snyder 3-5)
    private val e4 = e2 * e2
    private val e6 = e4 * e2
    private val e8 = e4 * e4
    val c2: Double = e2 / 2 + 5 * e4 / 24 + e6 / 12 + 13 * e8 / 360
    val c4: Double = 7 * e4 / 48 + 29 * e6 / 240 + 811 * e8 / 11520
    val c6: Double = 7 * e6 / 120 + 81 * e8 / 1120
    val c8: Double = 4279 * e8 / 161280

    def forward(lon: Double, lat: Double, out: Array[Double]): Int = {
      val phi = math.toRadians(lat)
      val dLam = n * (math.toRadians(lon) - lam0) // Λ − Λ0
      val sp = least(greatest(math.sin(phi), -ObliqueStereoPoleClamp),
        ObliqueStereoPoleClamp)
      val es = e * sp
      val w = c * pow(((1.0 + sp) / (1.0 - sp)) *
        pow((1.0 - es) / (1.0 + es), e), n)
      val sinChi = (w - 1.0) / (w + 1.0)
      val cosChi = math.sqrt(1.0 - sinChi * sinChi)
      val b = 1.0 + sinChi * sinChi0 + cosChi * cosChi0 * math.cos(dLam)
      out(0) = x0 + twoRk * cosChi * math.sin(dLam) / b
      out(1) = y0 + twoRk * (sinChi * cosChi0 -
        cosChi * sinChi0 * math.cos(dLam)) / b
      0
    }

    def inverse(x: Double, y: Double, out: Array[Double]): Int = {
      val xp = x - x0
      val yp = y - y0
      val iC = atan2(xp, hC + yp)
      val jC = atan2(xp, gC - yp) - iC
      val chi = chi0 + 2.0 * math.atan((yp - xp * math.tan(jC / 2)) / twoRk)
      out(0) = math.toDegrees((jC + 2.0 * iC) / n + lam0)
      // isometric latitude ψ off the conformal sphere, then the
      // per-ellipsoid conformal inverse via t = e^{−ψ}
      val sinChi = math.sin(chi)
      val l = (1.0 + sinChi) / (c * (1.0 - sinChi))
      if (l <= 0.0) return Projection.YNull
      val psi = 0.5 * log(l) / n
      out(1) = math.toDegrees(conformalPhi(exp(-psi), e, c2, c4, c6, c8))
      0
    }
  }

  /** EPSG:28992 (Amersfoort / RD New, Bessel 1841) + the generic
    * `STEREO:<lat0>:<lon0>[:<k0>[:<fe>:<fn>]]` WGS84 form. */
  def obliqueStereoForCrs(crs: String): Option[ObliqueStereo] = crs match {
    case "EPSG:28992" => Some(ObliqueStereo(
      52.15616055555556, 5.38763888888889, 0.9999079,
      155000.0, 463000.0, a = 6377397.155, invF = 299.1528128))
    case s if s.startsWith("STEREO:") =>
      s.stripPrefix("STEREO:").split(':') match {
        case Array(la, lo) =>
          for (a1 <- la.toDoubleOption; b1 <- lo.toDoubleOption)
            yield ObliqueStereo(a1, b1, 1.0, 0.0, 0.0)
        case Array(la, lo, k) =>
          for (a1 <- la.toDoubleOption; b1 <- lo.toDoubleOption;
               k1 <- k.toDoubleOption)
            yield ObliqueStereo(a1, b1, k1, 0.0, 0.0)
        case Array(la, lo, k, fe, fn) =>
          for (a1 <- la.toDoubleOption; b1 <- lo.toDoubleOption;
               k1 <- k.toDoubleOption; f1 <- fe.toDoubleOption;
               f2 <- fn.toDoubleOption)
            yield ObliqueStereo(a1, b1, k1, f1, f2)
        case _ => None
      }
    case _ => None
  }

  /** |sinφ| clamp for the pole rows: (1+sinφ)/(1−sinφ) is ∞ at φ=±90°,
    * which would turn the (on-map) pole image into NaN; clamped one ulp
    * inside, w stays finite (~1e15^n) and sinχ lands within 1e-15 of
    * ±1 — identical bits everywhere else. */
  val ObliqueStereoPoleClamp: Double = 1.0 - 1e-15

  // ----------------------- general (ellipsoidal) Mercator, EPSG 9804/9805

  /** Ellipsoidal Mercator — EPSG method 9804 (variant A, scale factor at
    * the equator) and 9805 (variant B, standard parallel), per EPSG
    * Guidance Note 7-2 §1.3.3: the EPSG:3395 / nautical-chart family the
    * CF `mercator` name reaches with standard_parallel or
    * scale_factor_at_projection_origin (reference route:
    * `pyproj.CRS.from_cf`, xcube/core/gridmapping/cfconv.py). Variant B
    * derives k0 = cosφ1/√(1−e²sin²φ1) from the standard parallel; the
    * closed forms are the iso(metric)-latitude pair already used by the
    * polar-stereographic family, with per-CRS ellipsoid constants like
    * [[ObliqueStereo]]. */
  final case class Merc(lon0Deg: Double, k0In: Double, lat1Deg: Double,
                        x0: Double, y0: Double,
                        a: Double = A,
                        invF: Double = 298.257223563,
                        variantB: Boolean = false) extends Projection {
    val fE: Double = 1.0 / invF
    val e2: Double = fE * (2 - fE)
    val e: Double = math.sqrt(e2)
    /** GN7-2 §1.3.3.2: variant B's scale factor at the standard parallel. */
    val k0: Double =
      if (variantB) {
        val s1 = math.sin(math.toRadians(lat1Deg))
        math.cos(math.toRadians(lat1Deg)) / math.sqrt(1 - e2 * s1 * s1)
      } else k0In
    val aK: Double = a * k0
    val lam0: Double = math.toRadians(lon0Deg)
    // per-ellipsoid conformal inverse series (Snyder 3-5)
    private val e4 = e2 * e2
    private val e6 = e4 * e2
    private val e8 = e4 * e4
    val c2: Double = e2 / 2 + 5 * e4 / 24 + e6 / 12 + 13 * e8 / 360
    val c4: Double = 7 * e4 / 48 + 29 * e6 / 240 + 811 * e8 / 11520
    val c6: Double = 7 * e6 / 120 + 81 * e8 / 1120
    val c8: Double = 4279 * e8 / 161280

    def forward(lon: Double, lat: Double, out: Array[Double]): Int = {
      val phi = least(greatest(math.toRadians(lat), -MercPoleClamp),
        MercPoleClamp)
      val t = isoT(phi, e)
      out(0) = x0 + aK * (math.toRadians(lon) - lam0)
      if (t <= 0.0) return Projection.YNull
      out(1) = y0 - aK * log(t)
      0
    }

    def inverse(x: Double, y: Double, out: Array[Double]): Int = {
      val t = exp(-((y - y0) / aK))
      out(0) = math.toDegrees(lam0 + (x - x0) / aK)
      out(1) = math.toDegrees(conformalPhi(t, e, c2, c4, c6, c8))
      0
    }
  }

  /** Registered: EPSG:3395 (WGS 84 / World Mercator, variant A k0=1),
    * EPSG:3002 (Makassar / NEIEZ, variant A on Bessel 1841 — the GN7-2
    * worked example), EPSG:3388 (Pulkovo 1942 / Caspian Sea Mercator,
    * variant B on Krassowsky 1940 — the GN7-2 variant-B worked example),
    * plus generic WGS84 forms `MERC:<lon0>:<k0>[:<fe>:<fn>]` (variant A)
    * and `MERCSP:<lon0>:<lat1>[:<fe>:<fn>]` (variant B). */
  def mercForCrs(crs: String): Option[Merc] = crs match {
    case "EPSG:3395" => Some(Merc(0.0, 1.0, 0.0, 0.0, 0.0))
    case "EPSG:3002" => Some(Merc(110.0, 0.997, 0.0, 3900000.0, 900000.0,
      a = 6377397.155, invF = 299.1528128))
    case "EPSG:3388" => Some(Merc(51.0, 1.0, 42.0, 0.0, 0.0,
      a = 6378245.0, invF = 298.3, variantB = true))
    case s if s.startsWith("MERCSP:") =>
      s.stripPrefix("MERCSP:").split(':') match {
        case Array(lo, sp) =>
          for (l <- lo.toDoubleOption; p <- sp.toDoubleOption)
            yield Merc(l, 1.0, p, 0.0, 0.0, variantB = true)
        case Array(lo, sp, fe, fn) =>
          for (l <- lo.toDoubleOption; p <- sp.toDoubleOption;
               f1 <- fe.toDoubleOption; f2 <- fn.toDoubleOption)
            yield Merc(l, 1.0, p, f1, f2, variantB = true)
        case _ => None
      }
    case s if s.startsWith("MERC:") =>
      s.stripPrefix("MERC:").split(':') match {
        case Array(lo, k) =>
          for (l <- lo.toDoubleOption; k1 <- k.toDoubleOption)
            yield Merc(l, k1, 0.0, 0.0, 0.0)
        case Array(lo, k, fe, fn) =>
          for (l <- lo.toDoubleOption; k1 <- k.toDoubleOption;
               f1 <- fe.toDoubleOption; f2 <- fn.toDoubleOption)
            yield Merc(l, k1, 0.0, f1, f2)
        case _ => None
      }
    case _ => None
  }

  /** Pole clamp: t(φ) → 0 at φ = 90° makes y → ∞; one ulp inside keeps
    * the (off-chart) pole rows finite, identical bits elsewhere. */
  private val MercPoleClamp = math.Pi / 2 - 1e-12

  // ------------------------------ equidistant cylindrical, EPSG 1028

  /** Equidistant cylindrical (plate carrée in meters) — EPSG method 1028
    * (ellipsoidal: easting from the normal-section radius at the standard
    * parallel, northing the meridional arc; GN7-2 §1.3.14), the
    * EPSG:4087/32662 family some model outputs ship. The meridian-arc and
    * footpoint-latitude series are Snyder 3-21/3-26 with per-CRS
    * ellipsoid constants (the [[UtmOps]] series, generalized). */
  final case class Eqc(lat1Deg: Double, lon0Deg: Double,
                       x0: Double, y0: Double,
                       a: Double = A,
                       invF: Double = 298.257223563) extends Projection {
    val fE: Double = 1.0 / invF
    val e2: Double = fE * (2 - fE)
    private val e4 = e2 * e2
    private val e6 = e4 * e2
    // meridian-arc series (Snyder 3-21)
    val m0: Double = 1 - e2 / 4 - 3 * e4 / 64 - 5 * e6 / 256
    val m2: Double = 3 * e2 / 8 + 3 * e4 / 32 + 45 * e6 / 1024
    val m4: Double = 15 * e4 / 256 + 45 * e6 / 1024
    val m6: Double = 35 * e6 / 3072
    // footpoint-latitude series (Snyder 3-26)
    private val e1 = (1 - math.sqrt(1 - e2)) / (1 + math.sqrt(1 - e2))
    val p2: Double = 3 * e1 / 2 - 27 * e1 * e1 * e1 / 32
    val p4: Double = 21 * e1 * e1 / 16 - 55 * math.pow(e1, 4) / 32
    val p6: Double = 151 * e1 * e1 * e1 / 96
    val p8: Double = 1097 * math.pow(e1, 4) / 512
    private val phi1 = math.toRadians(lat1Deg)
    private val s1 = math.sin(phi1)
    /** ν1·cosφ1 — the easting scale (GN7-2 1028 forward). */
    val nu1Cos: Double = a * math.cos(phi1) / math.sqrt(1 - e2 * s1 * s1)
    val lam0: Double = math.toRadians(lon0Deg)

    def forward(lon: Double, lat: Double, out: Array[Double]): Int = {
      val phi = math.toRadians(lat)
      out(0) = x0 + nu1Cos * (math.toRadians(lon) - lam0)
      out(1) = y0 + a * (m0 * phi - m2 * math.sin(2.0 * phi) +
        m4 * math.sin(4.0 * phi) - m6 * math.sin(6.0 * phi))
      0
    }

    def inverse(x: Double, y: Double, out: Array[Double]): Int = {
      val mTgt = (y - y0) / a
      val mu = mTgt / m0
      val seed = mu + p2 * math.sin(2.0 * mu) + p4 * math.sin(4.0 * mu) +
        p6 * math.sin(6.0 * mu) + p8 * math.sin(8.0 * mu)
      // one Newton pass against the forward's OWN (truncated) arc series —
      // the footpoint seed alone leaves ~4e-9° at high latitude
      val mSeed = m0 * seed - m2 * math.sin(2.0 * seed) +
        m4 * math.sin(4.0 * seed) - m6 * math.sin(6.0 * seed)
      val dM = m0 - 2.0 * m2 * math.cos(2.0 * seed) +
        4.0 * m4 * math.cos(4.0 * seed) - 6.0 * m6 * math.cos(6.0 * seed)
      out(0) = math.toDegrees(lam0 + (x - x0) / nu1Cos)
      out(1) = math.toDegrees(seed + (mTgt - mSeed) / dM)
      0
    }
  }

  /** Registered: EPSG:4087 (WGS 84 / World Equidistant Cylindrical) and
    * its deprecated predecessor EPSG:32662 (WGS 84 / Plate Carree) —
    * identical parameters — plus the generic WGS84 form
    * `EQC:<lat1>:<lon0>[:<fe>:<fn>]`. */
  def eqcForCrs(crs: String): Option[Eqc] = crs match {
    case "EPSG:4087" | "EPSG:32662" => Some(Eqc(0.0, 0.0, 0.0, 0.0))
    case s if s.startsWith("EQC:") =>
      s.stripPrefix("EQC:").split(':') match {
        case Array(p, lo) =>
          for (p1 <- p.toDoubleOption; l <- lo.toDoubleOption)
            yield Eqc(p1, l, 0.0, 0.0)
        case Array(p, lo, fe, fn) =>
          for (p1 <- p.toDoubleOption; l <- lo.toDoubleOption;
               f1 <- fe.toDoubleOption; f2 <- fn.toDoubleOption)
            yield Eqc(p1, l, f1, f2)
        case _ => None
      }
    case _ => None
  }

  // ------------------- general transverse Mercator (Gauss-Kruger), 9807

  /** Transverse Mercator on an arbitrary ellipsoid with arbitrary natural
    * origin — the Gauss-Krüger / national-grid generalization of
    * [[UtmOps]] (same Snyder PP-1395 8-9..8-25 series, constants derived
    * per CRS instead of the WGS84 object constants; accurate to
    * millimeters within ~3° of the central meridian): non-WGS84 tmerc
    * granules (DHDN Gauss-Krüger, OSGB) the reference reaches via pyproj,
    * and every UTM zone ([[UtmOps.UtmZone]]). */
  final case class Tmerc(lat0Deg: Double, lon0Deg: Double, k0: Double,
                         x0: Double, y0: Double,
                         a: Double = A,
                         invF: Double = 298.257223563) extends Projection {
    val fE: Double = 1.0 / invF
    val e2: Double = fE * (2 - fE)
    private val e4 = e2 * e2
    private val e6 = e4 * e2
    val ep2: Double = e2 / (1 - e2)
    val m0: Double = 1 - e2 / 4 - 3 * e4 / 64 - 5 * e6 / 256
    val m2: Double = 3 * e2 / 8 + 3 * e4 / 32 + 45 * e6 / 1024
    val m4: Double = 15 * e4 / 256 + 45 * e6 / 1024
    val m6: Double = 35 * e6 / 3072
    private val e1 = (1 - math.sqrt(1 - e2)) / (1 + math.sqrt(1 - e2))
    val p2: Double = 3 * e1 / 2 - 27 * e1 * e1 * e1 / 32
    val p4: Double = 21 * e1 * e1 / 16 - 55 * math.pow(e1, 4) / 32
    val p6: Double = 151 * e1 * e1 * e1 / 96
    val p8: Double = 1097 * math.pow(e1, 4) / 512
    val lon0: Double = lon0Deg
    /** Meridian arc at the latitude of natural origin (Snyder 3-21). */
    val mArc0: Double = {
      val phi0 = math.toRadians(lat0Deg)
      a * (m0 * phi0 - m2 * math.sin(2 * phi0) + m4 * math.sin(4 * phi0) -
        m6 * math.sin(6 * phi0))
    }
    private val am0 = a * m0
    private val a1e2 = a * (1 - e2)

    /** Snyder 8-9..8-14. */
    def forward(lon: Double, lat: Double, out: Array[Double]): Int = {
      val phi = math.toRadians(lat)
      val lam = math.toRadians(lon - lon0)
      val sinPhi = math.sin(phi)
      val cosPhi = math.cos(phi)
      val tanPhi = math.tan(phi)
      val n = a / math.sqrt(1.0 - e2 * sinPhi * sinPhi)
      val t = tanPhi * tanPhi
      val c = ep2 * cosPhi * cosPhi
      val a1 = lam * cosPhi
      val a2 = a1 * a1
      val a3 = a2 * a1
      val a4 = a2 * a2
      val a5 = a4 * a1
      val a6 = a4 * a2
      val m = a * (m0 * phi - m2 * math.sin(2.0 * phi) +
        m4 * math.sin(4.0 * phi) - m6 * math.sin(6.0 * phi))
      out(0) = k0 * n * (a1 + (1.0 - t + c) * a3 / 6.0 +
        (5.0 - 18.0 * t + t * t + 72.0 * c - 58.0 * ep2) * a5 / 120.0) + x0
      out(1) = k0 * (m - mArc0 + n * tanPhi * (a2 / 2.0 +
        (5.0 - t + 9.0 * c + 4.0 * c * c) * a4 / 24.0 +
        (61.0 - 58.0 * t + t * t + 600.0 * c - 330.0 * ep2) * a6 / 720.0)) +
        y0
      0
    }

    /** Snyder 8-17..8-25 via the footpoint latitude. */
    def inverse(x: Double, y: Double, out: Array[Double]): Int = {
      val m = (y - y0) / k0 + mArc0
      val mu = m / am0
      val phi1 = mu + p2 * math.sin(2.0 * mu) + p4 * math.sin(4.0 * mu) +
        p6 * math.sin(6.0 * mu) + p8 * math.sin(8.0 * mu)
      val sinP = math.sin(phi1)
      val cosP = math.cos(phi1)
      val tanP = math.tan(phi1)
      val c1 = ep2 * cosP * cosP
      val t1 = tanP * tanP
      val oneMinus = 1.0 - e2 * sinP * sinP
      val n1 = a / math.sqrt(oneMinus)
      val r1 = a1e2 / pow(oneMinus, 1.5)
      val d = (x - x0) / (n1 * k0)
      val d2 = d * d
      val d3 = d2 * d
      val d4 = d2 * d2
      val d5 = d4 * d
      val d6 = d4 * d2
      out(1) = math.toDegrees(phi1 - (n1 * tanP / r1) * (d2 / 2.0 -
        (5.0 + 3.0 * t1 + 10.0 * c1 - 4.0 * c1 * c1 - 9.0 * ep2) * d4 / 24.0 +
        (61.0 + 90.0 * t1 + 298.0 * c1 + 45.0 * t1 * t1 - 252.0 * ep2 -
          3.0 * c1 * c1) * d6 / 720.0))
      out(0) = lon0 + math.toDegrees((d - (1.0 + 2.0 * t1 + c1) * d3 / 6.0 +
        (5.0 - 2.0 * c1 + 28.0 * t1 - 3.0 * c1 * c1 + 8.0 * ep2 +
          24.0 * t1 * t1) * d5 / 120.0) / cosP)
      0
    }
  }

  /** Registered: EPSG:27700 (OSGB36 / British National Grid, Airy 1830 —
    * the GN7-2 §1.3.5.1 worked example) and EPSG:31467 (DHDN /
    * 3-degree Gauss-Krüger zone 3, Bessel 1841), plus the generic WGS84
    * form `TMERC:<lat0>:<lon0>:<k0>:<fe>:<fn>`. */
  def tmercForCrs(crs: String): Option[Tmerc] = crs match {
    case "EPSG:27700" => Some(Tmerc(49.0, -2.0, 0.9996012717,
      400000.0, -100000.0, a = 6377563.396, invF = 299.3249646))
    case "EPSG:31467" => Some(Tmerc(0.0, 9.0, 1.0, 3500000.0, 0.0,
      a = 6377397.155, invF = 299.1528128))
    case s if s.startsWith("TMERC:") =>
      s.stripPrefix("TMERC:").split(':') match {
        case Array(la, lo, k, fe, fn) =>
          for (a1 <- la.toDoubleOption; b1 <- lo.toDoubleOption;
               k1 <- k.toDoubleOption; f1 <- fe.toDoubleOption;
               f2 <- fn.toDoubleOption)
            yield Tmerc(a1, b1, k1, f1, f2)
        case _ => None
      }
    case _ => None
  }
}
