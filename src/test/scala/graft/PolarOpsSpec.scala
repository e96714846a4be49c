package graft

import graft.operators.PolarOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The projection kernels' published anchors and round-trip closure
  * (forward∘inverse ≤ 1e-9°), and the `project_xy` expression against
  * the kernels; [[ProjectionSpec]] checks expression/kernel agreement
  * bit for bit for every family. */
class PolarOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()

  private val tol = 1e-9 // degrees

  private def roundTripStereo(crs: String, lats: Seq[Double]): Unit = {
    val ps = PolarOps.stereoForCrs(crs).get
    for (lonBd <- BigDecimal(-180) to BigDecimal(180) by BigDecimal(7.5);
         lat <- lats) {
      val lon = lonBd.toDouble
      val (x, y) = ps.forward(lon, lat)
      val (lon2, lat2) = ps.inverse(x, y)
      val dLon = math.abs(((lon2 - lon + 540) % 360) - 180)
      assert(dLon < tol && math.abs(lat2 - lat) < tol,
        s"$crs ($lon, $lat) -> ($x, $y) -> ($lon2, $lat2)")
    }
  }

  test("polar stereographic round-trips under 1e-9 degrees") {
    roundTripStereo("EPSG:3413", Seq(45.0, 60.0, 70.0, 80.0, 89.0))
    roundTripStereo("EPSG:3031", Seq(-45.0, -60.0, -71.0, -80.0, -89.0))
    roundTripStereo("EPSG:3976", Seq(-45.0, -70.0, -85.0))
  }

  test("LAEA round-trips under 1e-9 degrees (oblique + both polar aspects)") {
    for {
      (crs, lats) <- Seq(
        "EPSG:3035" -> Seq(30.0, 40.0, 52.0, 60.0, 70.0),
        "EPSG:6931" -> Seq(30.0, 50.0, 70.0, 85.0),
        "EPSG:6932" -> Seq(-30.0, -50.0, -70.0, -85.0))
      la = PolarOps.laeaForCrs(crs).get
      lonBd <- BigDecimal(-60) to BigDecimal(60) by BigDecimal(7.5)
      lat <- lats
    } {
      val lon = lonBd.toDouble
      val (x, y) = la.forward(lon, lat)
      val (lon2, lat2) = la.inverse(x, y)
      assert(math.abs(lon2 - lon) < tol && math.abs(lat2 - lat) < tol,
        s"$crs ($lon, $lat) -> ($x, $y) -> ($lon2, $lat2)")
    }
  }

  test("MODIS sinusoidal: equator anchor, round-trips, equal-area sphere") {
    // on the equator x = R·λ: lon 90° → πR/2
    val (x0, y0) = PolarOps.Sinusoidal.forward(90.0, 0.0)
    assert(math.abs(x0 - math.Pi / 2 * PolarOps.ModisSphereR) < 1e-6)
    assert(y0 == 0.0)
    for (lon <- Seq(-170.0, -45.5, 0.0, 30.25, 120.0);
         lat <- Seq(-60.0, -10.0, 0.0, 45.0, 70.0)) {
      val (x, y) = PolarOps.Sinusoidal.forward(lon, lat)
      val (lon2, lat2) = PolarOps.Sinusoidal.inverse(x, y)
      assert(math.abs(lon2 - lon) < tol && math.abs(lat2 - lat) < tol,
        s"($lon, $lat) -> ($x, $y) -> ($lon2, $lat2)")
    }
  }

  test("Lambert-93 (EPSG:2154): Paris to the published cm, round-trips") {
    val lc = PolarOps.lccForCrs("EPSG:2154").get
    // projection center maps to the false origin exactly
    assert(lc.forward(3.0, 46.5) == ((700000.0, 6600000.0)))
    // the IGN-published Lambert-93 coordinates of Paris (2.3522E, 48.8566N)
    val (px, py) = lc.forward(2.3522, 48.8566)
    assert(math.abs(px - 652469.02) < 0.01 && math.abs(py - 6862035.26) < 0.01,
      s"($px, $py)")
    for (lon <- Seq(-5.0, 0.0, 3.0, 8.25); lat <- Seq(41.0, 44.0, 46.5, 49.0, 51.0)) {
      val (x, y) = lc.forward(lon, lat)
      val (lon2, lat2) = lc.inverse(x, y)
      assert(math.abs(lon2 - lon) < tol && math.abs(lat2 - lat) < tol,
        s"($lon, $lat) -> ($lon2, $lat2)")
    }
    // Canada Atlas Lambert round-trips too
    val ca = PolarOps.lccForCrs("EPSG:3978").get
    for (lon <- Seq(-140.0, -95.0, -60.0); lat <- Seq(45.0, 60.0, 75.0)) {
      val (x, y) = ca.forward(lon, lat)
      val (lon2, lat2) = ca.inverse(x, y)
      assert(math.abs(lon2 - lon) < tol && math.abs(lat2 - lat) < tol)
    }
  }

  test("CONUS Albers (EPSG:5070): center exact, equal-area, round-trips") {
    val ab = PolarOps.albersForCrs("EPSG:5070").get
    assert(ab.forward(-96.0, 23.0) == ((0.0, 0.0)))
    // the central meridian stays on x = 0 at any latitude
    val (x40, _) = ab.forward(-96.0, 40.0)
    assert(x40 == 0.0)
    for (lon <- Seq(-124.0, -110.5, -96.0, -75.25);
         lat <- Seq(25.0, 29.5, 37.0, 45.5, 49.0)) {
      val (x, y) = ab.forward(lon, lat)
      val (lon2, lat2) = ab.inverse(x, y)
      assert(math.abs(lon2 - lon) < tol && math.abs(lat2 - lat) < tol,
        s"($lon, $lat) -> ($x, $y) -> ($lon2, $lat2)")
    }
  }

  test("rotated pole: COSMO anchors, round-trips, identity at the north pole") {
    val rp = PolarOps.rotPoleForCrs("ROTPOLE:40.0:-170.0").get
    // the true pole of rotation reads as rotated lat 90
    assert(math.abs(rp.forward(-170.0, 40.0)._2 - 90)
      < 1e-12)
    // the grid-center meridian (λp + 180 = 10E) reads as rotated lon 0,
    // and (10E, 50N) — 90° from the pole — as the rotated origin
    val (cx, cy) = rp.forward(10.0, 50.0)
    assert(math.abs(cx) < 1e-12 && math.abs(cy) < 1e-12, s"($cx, $cy)")
    for (lon <- Seq(-30.0, 0.0, 13.4, 45.0, 120.0);
         lat <- Seq(-20.0, 10.0, 52.5, 75.0)) {
      val (rx, ry) = rp.forward(lon, lat)
      val (lon2, lat2) = rp.inverse(rx, ry)
      val dLon = math.abs((((lon2 - lon) % 360) + 540) % 360 - 180)
      assert(dLon < tol && math.abs(lat2 - lat) < tol,
        s"($lon, $lat) -> ($rx, $ry) -> ($lon2, $lat2)")
    }
    // a pole at 90N with lon 0 is the 180°-shifted identity frame
    val id = PolarOps.rotPoleForCrs("ROTPOLE:90.0:0.0").get
    val (ix, iy) = id.forward(30.0, 40.0)
    assert(math.abs(((ix - (30.0 - 180.0)) % 360 + 540) % 360 - 180) < 1e-9
      && math.abs(iy - 40.0) < 1e-9, s"($ix, $iy)")
  }

  test("EPSG:3035 matches the published grid: center exact, 5E 50N to cm") {
    val la = PolarOps.laeaForCrs("EPSG:3035").get
    val (cx, cy) = la.forward(10.0, 52.0)
    assert(cx == 4321000.0 && cy == 3210000.0)
    // EPSG dataset test point for ETRS89-extended / LAEA Europe
    val (x, y) = la.forward(5.0, 50.0)
    assert(math.abs(x - 3962799.45) < 0.01 && math.abs(y - 2999718.85) < 0.01,
      s"($x, $y)")
  }

  test("EPSG:3413 geometry: pole at origin, lon0 points down the -y axis") {
    val ps = PolarOps.stereoForCrs("EPSG:3413").get
    val (px, py) = ps.forward(-45.0, 90.0)
    assert(math.abs(px) < 1e-6 && math.abs(py) < 1e-6)
    val (x, y) = ps.forward(-45.0, 70.0)
    assert(math.abs(x) < 1e-9 && y < 0) // standard parallel on -y
    // scale at the standard parallel is ~1: ρ ≈ a·m(70°)
    assert(math.abs(-y / 6378137.0 / 0.34345 - 1.0) < 0.01)
  }

  test("EASE-Grid 2.0: published global half-width + round-trips") {
    import spark.implicits._
    // the grid's published half-width (EASE-Grid 2.0 definition paper):
    // x(180°) = A·π·k0 = 17,367,530.45 m
    assert(math.abs(PolarOps.A * math.Pi * PolarOps.Ease2K0
      - 17367530.45) < 0.01)
    // the standard parallels project to themselves distance-true in x:
    // k(30°) = 1 by construction
    val pts = (for (lon <- Seq(-170.0, -5.0, 0.0, 36.5, 179.0);
                    lat <- Seq(-82.0, -30.0, 0.0, 30.0, 48.5, 85.0))
      yield (lon, lat)).toDF("lon", "lat")
    val (gx, gy) = ProjectionSpec.forwardCol(PolarOps.Ease2, col("lon"), col("lat"))
    val (gl, gp) = ProjectionSpec.inverseCol(PolarOps.Ease2, gx, gy)
    pts.select(col("lon"), col("lat"), gx.as("x"), gy.as("y"),
        gl.as("lon2"), gp.as("lat2")).collect().foreach { r =>
      val (sx, sy) = PolarOps.Ease2.forward(r.getDouble(0), r.getDouble(1))
      assert(math.abs(r.getDouble(2) - sx) <= math.abs(sx) * 1e-12 + 1e-9)
      assert(math.abs(r.getDouble(3) - sy) <= math.abs(sy) * 1e-12 + 1e-9)
      assert(math.abs(r.getDouble(4) - r.getDouble(0)) < 1e-9)
      assert(math.abs(r.getDouble(5) - r.getDouble(1)) < 1e-9)
    }
    // off-grid y (|q| > Qp) reads NaN, never a fake latitude
    val (bl, bp) = PolarOps.Ease2.inverse(0.0, 8.0e6)
    assert(bp.isNaN && !bl.isNaN || bp.isNaN)
  }

  test("orthographic: round-trips, tangent point, far-side NaN") {
    import spark.implicits._
    val o = PolarOps.orthoForCrs("ORTHO:50.0:10.0").get
    // tangent point maps to the origin and back
    assert(o.forward(10.0, 50.0)
      == ((0.0, 0.0)))
    assert(o.inverse(0.0, 0.0) == ((10.0, 50.0)))
    val pts = (for (lon <- Seq(-40.0, 5.0, 10.0, 60.0);
                    lat <- Seq(10.0, 48.0, 50.0, 75.0)) yield (lon, lat))
      .toDF("lon", "lat")
    val (gx, gy) = ProjectionSpec.forwardCol(o, col("lon"), col("lat"))
    val (gl, gp) = ProjectionSpec.inverseCol(o, gx, gy)
    pts.select(col("lon"), col("lat"), gx.as("x"), gy.as("y"),
        gl.as("lon2"), gp.as("lat2")).collect().foreach { r =>
      val (sx, sy) = o.forward(r.getDouble(0), r.getDouble(1))
      assert((r.getDouble(2).isNaN && sx.isNaN) ||
        math.abs(r.getDouble(2) - sx) <= math.abs(sx) * 1e-12 + 1e-9)
      if (!sx.isNaN) {
        assert(math.abs(r.getDouble(4) - r.getDouble(0)) < 1e-9)
        assert(math.abs(r.getDouble(5) - r.getDouble(1)) < 1e-9)
      }
    }
    // the antipode-side hemisphere is invisible
    val (fx, fy) = o.forward(-170.0, -50.0)
    assert(fx.isNaN && fy.isNaN)
    // off-disk inverse (rho > R) reads NaN
    val (il, ip) = o.inverse(7.0e6, 0.0)
    assert(il.isNaN && ip.isNaN)
  }

  test("Mollweide: round-trips, equal-area hemisphere markers, off-map NaN") {
    import spark.implicits._
    val m = PolarOps.mollForCrs("MOLL:0.0").get
    // the projection's defining markers: the equator maps to y = 0, the
    // poles to y = ±R·sqrt(2), lon ±180 at the equator to x = ±2R·sqrt(2)
    val r2 = PolarOps.ModisSphereR * PolarOps.MollSqrt2
    assert(math.abs(m.forward(0.0, 0.0)._2) < 1e-6)
    assert(math.abs(m.forward(0.0, 90.0)._2 - r2) < 1e-6)
    assert(math.abs(m.forward(180.0, 0.0)._1 - 2 * r2)
      < 1e-6)
    val pts = (for (lon <- Seq(-179.0, -45.0, 0.0, 13.5, 179.0);
                    lat <- Seq(-88.0, -45.0, 0.0, 30.0, 61.5, 88.0))
      yield (lon, lat)).toDF("lon", "lat")
    val (gx, gy) = ProjectionSpec.forwardCol(m, col("lon"), col("lat"))
    val (gl, gp) = ProjectionSpec.inverseCol(m, gx, gy)
    pts.select(col("lon"), col("lat"), gx.as("x"), gy.as("y"),
        gl.as("lon2"), gp.as("lat2")).collect().foreach { r =>
      val (sx, sy) = m.forward(r.getDouble(0), r.getDouble(1))
      assert(r.getDouble(2) == sx && r.getDouble(3) == sy,
        s"codegen vs kernel at (${r.getDouble(0)}, ${r.getDouble(1)})")
      assert(math.abs(r.getDouble(4) - r.getDouble(0)) < 1e-8)
      assert(math.abs(r.getDouble(5) - r.getDouble(1)) < 1e-8)
    }
    // off-map northing (|y| > R·sqrt(2)) reads NaN
    val (bl, bp) = m.inverse(0.0, 1.05 * r2)
    assert(bl.isNaN && bp.isNaN)
  }

  test("Equal Earth (EPSG:8857): published aspect ratio, EXACT equal-area " +
    "property on WGS84, round-trips, column twins") {
    import spark.implicits._
    val ee = PolarOps.eqEarthForCrs("EPSG:8857").get
    // the paper's signature constant: equator-to-central-meridian
    // (width:height) ratio 2.05:1 (Savric/Patterson/Jenny 2019)
    val (xMax, _) = ee.forward(180.0, 0.0)
    val (_, yMax) = ee.forward(0.0, 90.0)
    assert(math.abs(xMax / yMax - 2.0546) < 0.001, s"${xMax / yMax}")
    // EQUAL-AREA: the numeric Jacobian must equal the WGS84 ellipsoid's
    // own area element a^2(1-e^2)cos(phi)/(1-e^2 sin^2 phi)^2 — this
    // pins the authalic-latitude composition, not just self-consistency
    for (lon <- Seq(-120.0, 0.0, 73.5); lat <- Seq(-60.0, -15.0, 33.0, 71.0)) {
      val h = 1e-4 // degrees
      def f(lo: Double, la: Double) = ee.forward(lo, la)
      val rad = math.Pi / 180.0
      val (xa, ya) = f(lon - h, lat); val (xb, yb) = f(lon + h, lat)
      val (xc, yc) = f(lon, lat - h); val (xd, yd) = f(lon, lat + h)
      val j = math.abs(
        ((xb - xa) / (2 * h * rad)) * ((yd - yc) / (2 * h * rad)) -
          ((xd - xc) / (2 * h * rad)) * ((yb - ya) / (2 * h * rad)))
      val s = math.sin(math.toRadians(lat))
      val expect = PolarOps.A * PolarOps.A * (1 - PolarOps.E2) *
        math.cos(math.toRadians(lat)) /
        math.pow(1 - PolarOps.E2 * s * s, 2)
      assert(math.abs(j / expect - 1.0) < 1e-4,
        s"area distortion at ($lon,$lat): ${j / expect}")
    }
    // round-trips under 1e-9 degrees
    for (lon <- Seq(-179.0, -60.0, 0.0, 100.25); lat <- Seq(-80.0, -30.0, 0.0, 45.0, 85.0)) {
      val (x, y) = ee.forward(lon, lat)
      val (l2, p2) = ee.inverse(x, y)
      assert(math.abs(l2 - lon) < tol && math.abs(p2 - lat) < tol,
        s"($lon,$lat) -> ($x,$y) -> ($l2,$p2)")
    }
    // off-map northing reads NaN
    val (nl, np) = ee.inverse(0.0, yMax * 1.05)
    assert(nl.isNaN && np.isNaN)
    // the project_xy expression agrees with the kernel (incl. the
    // Newton solve)
    val pts = (for (lon <- Seq(-150.0, 5.0, 91.25); lat <- Seq(-47.0, 0.0, 49.0))
      yield (lon, lat)).toDF("lon", "lat")
    val (fx, fy) = ProjectionSpec.forwardCol(ee, col("lon"), col("lat"))
    val (il, ip) = ProjectionSpec.inverseCol(ee, fx, fy)
    pts.select(col("lon"), col("lat"), fx.as("x"), fy.as("y"),
        il.as("lon2"), ip.as("lat2")).collect().foreach { r =>
      val (sx, sy) = ee.forward(r.getDouble(0), r.getDouble(1))
      assert(math.abs(r.getDouble(2) - sx) <= math.ulp(sx).abs * 16)
      assert(math.abs(r.getDouble(3) - sy) <= math.ulp(sy).abs * 16)
      assert(math.abs(r.getDouble(4) - r.getDouble(0)) < tol)
      assert(math.abs(r.getDouble(5) - r.getDouble(1)) < tol)
    }
  }

  test("Hotine oblique Mercator (EPSG 9815): the published RSO Borneo " +
    "worked example, LV95 origin, round-trips, column twins") {
    import spark.implicits._
    val h = PolarOps.hotineForCrs("EPSG:29873").get
    // EPSG Guidance Note 7-2 §1.3.6 worked example (Timbalai 1948 /
    // RSO Borneo, Everest 1830): 5°23'14.1129"N 115°48'19.8196"E ->
    // E 679,245.73 m, N 596,562.78 m
    val lon = 115.0 + 48.0 / 60 + 19.8196 / 3600
    val lat = 5.0 + 23.0 / 60 + 14.1129 / 3600
    val (ex, ny) = h.forward(lon, lat)
    assert(math.abs(ex - 679245.73) < 0.01, s"E=$ex")
    assert(math.abs(ny - 596562.78) < 0.01, s"N=$ny")
    val (l2, p2) = h.inverse(ex, ny)
    assert(math.abs(l2 - lon) < tol && math.abs(p2 - lat) < tol)
    // LV95 (EPSG:2056, the Swiss grid): the projection center maps to
    // the published false origin exactly
    val ch = PolarOps.hotineForCrs("EPSG:2056").get
    val (cx, cy) = ch.forward(ch.loncDeg, ch.latcDeg)
    assert(math.abs(cx - 2600000.0) < 1e-4 && math.abs(cy - 1200000.0) < 1e-4,
      s"LV95 center -> ($cx, $cy)")
    // round-trips across both grids + a generic WGS84 HOM
    for ((hm, pts) <- Seq(
      h -> Seq((113.0, 2.0), (115.0, 4.0), (117.5, 6.75)),
      ch -> Seq((6.0, 46.0), (7.439583333, 46.952405556), (10.4, 47.8)),
      PolarOps.hotineForCrs("HOM:35.0:-80.0:30.0:30.0:0.9996:0.0:0.0").get
        -> Seq((-82.0, 33.0), (-80.0, 35.0), (-77.5, 37.25)));
         (lo, la) <- pts) {
      val (x, y) = hm.forward(lo, la)
      val (lo2, la2) = hm.inverse(x, y)
      assert(math.abs(lo2 - lo) < tol && math.abs(la2 - la) < tol,
        s"($lo,$la) -> ($x,$y) -> ($lo2,$la2)")
    }
    // variant A (no_uoff) differs from B by exactly the u_c shift
    val hA = PolarOps.hotineForCrs(
      "HOM:35.0:-80.0:30.0:30.0:0.9996:0.0:0.0:A").get
    assert(!hA.variantB && hA.uC == 0.0)
    val (xa, ya) = hA.forward(-80.0, 35.5)
    val (lb, pb) = hA.inverse(xa, ya)
    assert(math.abs(lb + 80.0) < tol && math.abs(pb - 35.5) < tol)
    // the project_xy expression agrees with the kernel
    val pts = Seq((113.0, 2.0), (115.805505444, 5.387253583), (117.0, 7.0))
      .toDF("lon", "lat")
    val (fx, fy) = ProjectionSpec.forwardCol(h, col("lon"), col("lat"))
    val (il, ip) = ProjectionSpec.inverseCol(h, fx, fy)
    pts.select(col("lon"), col("lat"), fx.as("x"), fy.as("y"),
        il.as("lon2"), ip.as("lat2")).collect().foreach { r =>
      val (sx, sy) = h.forward(r.getDouble(0), r.getDouble(1))
      assert(math.abs(r.getDouble(2) - sx) <= math.ulp(sx).abs * 16)
      assert(math.abs(r.getDouble(3) - sy) <= math.ulp(sy).abs * 16)
      assert(math.abs(r.getDouble(4) - r.getDouble(0)) < tol)
      assert(math.abs(r.getDouble(5) - r.getDouble(1)) < tol)
    }
  }

  test("oblique stereographic (EPSG 9809): the published RD New worked " +
    "example, round-trips, column twins") {
    import spark.implicits._
    val os = PolarOps.obliqueStereoForCrs("EPSG:28992").get
    // EPSG Guidance Note 7-2 §1.3.7.1 worked example (Amersfoort / RD
    // New, Bessel 1841): 53°N 6°E -> E 196,105.283 m, N 557,057.739 m
    val (ex, ny) = os.forward(6.0, 53.0)
    assert(math.abs(ex - 196105.283) < 0.01, s"E=$ex")
    assert(math.abs(ny - 557057.739) < 0.01, s"N=$ny")
    val (lon2, lat2) = os.inverse(ex, ny)
    assert(math.abs(lon2 - 6.0) < tol && math.abs(lat2 - 53.0) < tol)
    // round-trip closure across the Dutch extent and a WGS84 oblique
    for (lon <- Seq(3.2, 4.9, 5.387638889, 6.8);
         lat <- Seq(50.75, 52.0, 52.156160556, 53.5)) {
      val (x, y) = os.forward(lon, lat)
      val (l2, p2) = os.inverse(x, y)
      assert(math.abs(l2 - lon) < tol && math.abs(p2 - lat) < tol,
        s"($lon,$lat) -> ($x,$y) -> ($l2,$p2)")
    }
    val w = PolarOps.obliqueStereoForCrs("STEREO:45.0:25.0:0.9999:0.0:0.0").get
    for (lon <- Seq(20.0, 25.0, 31.5); lat <- Seq(38.0, 45.0, 52.25)) {
      val (x, y) = w.forward(lon, lat)
      val (l2, p2) = w.inverse(x, y)
      assert(math.abs(l2 - lon) < tol && math.abs(p2 - lat) < tol)
    }
    // the origin maps to the false origin exactly
    val (ox, oy) = os.forward(os.lon0Deg, os.lat0Deg)
    assert(math.abs(ox - 155000.0) < 1e-6 && math.abs(oy - 463000.0) < 1e-6)
    // the poles are ON-MAP for an oblique stereographic: finite image,
    // and it round-trips back to the pole (the unclamped (1+sinφ)/
    // (1−sinφ) form would NaN there)
    for (pole <- Seq(90.0, -90.0)) {
      val (px, py) = os.forward(0.0, pole)
      assert(java.lang.Double.isFinite(px) &&
        java.lang.Double.isFinite(py), s"pole $pole -> ($px, $py)")
      // the clamp sits 1e-15 below |sinφ|=1, i.e. ~2.6e-6 deg (~0.3 m)
      // from the exact pole — finite and sub-metre beats NaN
      val (_, pLat) = os.inverse(px, py)
      assert(math.abs(pLat - pole) < 1e-5, s"pole $pole -> $pLat")
    }
    // the project_xy expression agrees with the kernel
    val pts = (for (lon <- Seq(3.37087, 5.387638889, 6.0, 7.2);
                    lat <- Seq(50.75, 52.156160556, 53.0)) yield (lon, lat))
      .toDF("lon", "lat")
    val (fx, fy) = ProjectionSpec.forwardCol(os, col("lon"), col("lat"))
    val (il, ip) = ProjectionSpec.inverseCol(os, fx, fy)
    pts.select(col("lon"), col("lat"), fx.as("x"), fy.as("y"),
        il.as("lon2"), ip.as("lat2")).collect().foreach { r =>
      val (sx, sy) = os.forward(r.getDouble(0), r.getDouble(1))
      assert(math.abs(r.getDouble(2) - sx) <= math.ulp(sx) * 16)
      assert(math.abs(r.getDouble(3) - sy) <= math.ulp(sy) * 16)
      assert(math.abs(r.getDouble(4) - r.getDouble(0)) < tol)
      assert(math.abs(r.getDouble(5) - r.getDouble(1)) < tol)
    }
  }

  test("ellipsoidal Mercator (EPSG 9804/9805): both GN7-2 worked " +
    "examples, EPSG:3395, round-trips, column twins") {
    import spark.implicits._
    // EPSG Guidance Note 7-2 §1.3.3.1 worked example (Makassar / NEIEZ,
    // variant A on Bessel 1841, k0 = 0.997, lon0 = 110°E, FE = 3900000,
    // FN = 900000): 3°S 120°E -> E 5,009,726.58 m, N 569,150.82 m
    val mA = PolarOps.mercForCrs("EPSG:3002").get
    val (ax, ay) = mA.forward(120.0, -3.0)
    assert(math.abs(ax - 5009726.58) < 0.01, s"E=$ax")
    assert(math.abs(ay - 569150.82) < 0.01, s"N=$ay")
    val (al, ap) = mA.inverse(ax, ay)
    assert(math.abs(al - 120.0) < tol && math.abs(ap + 3.0) < tol)
    // §1.3.3.2 worked example (Pulkovo 1942 / Caspian Sea Mercator,
    // variant B on Krassowsky 1940, SP = 42°N, lon0 = 51°E):
    // 53°N 53°E -> E 165,704.29 m, N 5,171,848.07 m
    val mB = PolarOps.mercForCrs("EPSG:3388").get
    assert(mB.variantB)
    val (bx, by) = mB.forward(53.0, 53.0)
    assert(math.abs(bx - 165704.29) < 0.01, s"E=$bx")
    assert(math.abs(by - 5171848.07) < 0.01, s"N=$by")
    val (bl, bp) = mB.inverse(bx, by)
    assert(math.abs(bl - 53.0) < tol && math.abs(bp - 53.0) < tol)
    // EPSG:3395 (World Mercator): equator/origin anchor + the ~21 km
    // ellipsoidal-vs-spherical northing gap at 60°N that motivated the
    // loud decline this family replaces
    val m95 = PolarOps.mercForCrs("EPSG:3395").get
    val (zx, zy) = m95.forward(0.0, 0.0)
    assert(math.abs(zx) < 1e-9 && math.abs(zy) < 1e-9)
    val (_, y60) = m95.forward(0.0, 60.0)
    val sphY60 = 6378137.0 * math.log(math.tan(math.Pi / 4 +
      math.toRadians(60.0) / 2))
    assert(y60 < sphY60 - 25000 && y60 > sphY60 - 50000,
      s"ellipsoidal N(60) = $y60 vs spherical $sphY60")
    // round-trips across all three registered + both generic forms
    for (mc <- Seq(mA, mB, m95,
        PolarOps.mercForCrs("MERC:10.0:0.9996:100000.0:200000.0").get,
        PolarOps.mercForCrs("MERCSP:-40.0:25.0").get);
         lon <- Seq(mc.lon0Deg - 15.0, mc.lon0Deg, mc.lon0Deg + 22.5);
         lat <- Seq(-62.0, -3.0, 0.0, 41.25, 70.0)) {
      val (x, y) = mc.forward(lon, lat)
      val (l2, p2) = mc.inverse(x, y)
      assert(math.abs(l2 - lon) < tol && math.abs(p2 - lat) < tol,
        s"($lon,$lat) -> ($x,$y) -> ($l2,$p2)")
    }
    // the project_xy expression agrees with the kernel
    val pts = Seq((120.0, -3.0), (110.0, 0.0), (117.5, 6.25))
      .toDF("lon", "lat")
    val (fx, fy) = ProjectionSpec.forwardCol(mA, col("lon"), col("lat"))
    val (il, ip) = ProjectionSpec.inverseCol(mA, fx, fy)
    pts.select(col("lon"), col("lat"), fx.as("x"), fy.as("y"),
        il.as("lon2"), ip.as("lat2")).collect().foreach { r =>
      val (sx, sy) = mA.forward(r.getDouble(0), r.getDouble(1))
      assert(math.abs(r.getDouble(2) - sx) <= math.ulp(sx).abs * 16)
      assert(math.abs(r.getDouble(3) - sy) <= math.ulp(sy).abs * 16)
      assert(math.abs(r.getDouble(4) - r.getDouble(0)) < tol)
      assert(math.abs(r.getDouble(5) - r.getDouble(1)) < tol)
    }
  }

  test("equidistant cylindrical (EPSG 1028): the GN7-2 worked example, " +
    "round-trips, column twins") {
    import spark.implicits._
    // EPSG Guidance Note 7-2 §1.3.14 worked example (WGS 84 / World
    // Equidistant Cylindrical, EPSG:4087): 55°N 10°E ->
    // E 1,113,194.91 m, N 6,097,230.31 m
    val q = PolarOps.eqcForCrs("EPSG:4087").get
    val (ex, ny) = q.forward(10.0, 55.0)
    assert(math.abs(ex - 1113194.91) < 0.01, s"E=$ex")
    assert(math.abs(ny - 6097230.31) < 0.01, s"N=$ny")
    val (l2, p2) = q.inverse(ex, ny)
    assert(math.abs(l2 - 10.0) < tol && math.abs(p2 - 55.0) < tol)
    // the deprecated Plate Carree alias resolves to the same grid
    val q662 = PolarOps.eqcForCrs("EPSG:32662").get
    assert(q662.forward(10.0, 55.0) == ((ex, ny)))
    // round-trips, incl. a non-equatorial standard parallel
    for (qc <- Seq(q, PolarOps.eqcForCrs("EQC:30.0:-90.0").get);
         lon <- Seq(-170.0, -90.0, 0.0, 45.5, 179.0);
         lat <- Seq(-80.0, -12.25, 0.0, 55.0, 89.0)) {
      val (x, y) = qc.forward(lon, lat)
      val (lo, la) = qc.inverse(x, y)
      assert(math.abs(lo - lon) < tol && math.abs(la - lat) < tol,
        s"($lon,$lat) -> ($x,$y) -> ($lo,$la)")
    }
    // the project_xy expression agrees with the kernel
    val pts = Seq((10.0, 55.0), (0.0, 0.0), (-120.5, -33.25))
      .toDF("lon", "lat")
    val (fx, fy) = ProjectionSpec.forwardCol(q, col("lon"), col("lat"))
    val (il, ip) = ProjectionSpec.inverseCol(q, fx, fy)
    pts.select(col("lon"), col("lat"), fx.as("x"), fy.as("y"),
        il.as("lon2"), ip.as("lat2")).collect().foreach { r =>
      val (sx, sy) = q.forward(r.getDouble(0), r.getDouble(1))
      assert(math.abs(r.getDouble(2) - sx) <= math.ulp(sx).abs * 16)
      assert(math.abs(r.getDouble(3) - sy) <= math.ulp(sy).abs * 16)
      assert(math.abs(r.getDouble(4) - r.getDouble(0)) < tol)
      assert(math.abs(r.getDouble(5) - r.getDouble(1)) < tol)
    }
  }

  test("general transverse Mercator (EPSG 9807): the GN7-2 OSGB worked " +
    "example, Gauss-Kruger zone anchor, UTM agreement, column twins") {
    import spark.implicits._
    // EPSG Guidance Note 7-2 §1.3.5.1 worked example (OSGB36 / British
    // National Grid, Airy 1830): 50°30'00.00"N 00°30'00.00"E ->
    // E 577,274.99 m, N 69,740.50 m
    val bng = PolarOps.tmercForCrs("EPSG:27700").get
    val (ex, ny) = bng.forward(0.5, 50.5)
    assert(math.abs(ex - 577274.99) < 0.01, s"E=$ex")
    assert(math.abs(ny - 69740.50) < 0.01, s"N=$ny")
    val (l2, p2) = bng.inverse(ex, ny)
    assert(math.abs(l2 - 0.5) < 1e-8 && math.abs(p2 - 50.5) < 1e-8)
    // DHDN / Gauss-Kruger zone 3 (EPSG:31467, Bessel 1841): the natural
    // origin maps to the false origin exactly, and the equator scale
    // along the CM is k0 = 1 (pure meridian arc in y)
    val gk = PolarOps.tmercForCrs("EPSG:31467").get
    val (gx, gy) = gk.forward(9.0, 0.0)
    assert(math.abs(gx - 3500000.0) < 1e-6 && math.abs(gy) < 1e-6)
    // round-trip closure across both national grids + a generic WGS84
    for ((tmr, pts) <- Seq(
      bng -> Seq((-5.5, 50.0), (-2.0, 49.0), (0.5, 50.5), (1.75, 52.9)),
      gk -> Seq((7.51, 47.6), (9.0, 50.0), (10.49, 54.3)),
      PolarOps.tmercForCrs("TMERC:0.0:24.0:0.9999:500000.0:0.0").get
        -> Seq((21.1, 58.0), (24.0, 61.0), (26.9, 67.75)));
         (lo, la) <- pts) {
      val (x, y) = tmr.forward(lo, la)
      val (lo2, la2) = tmr.inverse(x, y)
      // Snyder-series closure: ≲2e-8° (~2 mm) at 3.5° from the CM
      assert(math.abs(lo2 - lo) < 5e-8 && math.abs(la2 - la) < 5e-8,
        s"($lo,$la) -> ($x,$y) -> ($lo2,$la2)")
    }
    // a WGS84 TMERC with UTM-32N parameters reproduces UtmOps bit-close
    val t32 = PolarOps.tmercForCrs(
      "TMERC:0.0:9.0:0.9996:500000.0:0.0").get
    val z32 = graft.operators.UtmOps.UtmZone(32, north = true)
    for ((lo, la) <- Seq((8.0, 48.0), (9.0, 52.5), (10.9, 57.25))) {
      val (tx, ty) = t32.forward(lo, la)
      val (ux, uy) = z32.forward(lo, la)
      assert(math.abs(tx - ux) < 1e-6 && math.abs(ty - uy) < 1e-6,
        s"TMERC vs UTM at ($lo,$la): ($tx,$ty) vs ($ux,$uy)")
    }
    // the project_xy expression agrees with the kernel
    val pts = Seq((0.5, 50.5), (-2.0, 53.0), (-4.25, 51.75))
      .toDF("lon", "lat")
    val (fx, fy) = ProjectionSpec.forwardCol(bng, col("lon"), col("lat"))
    val (il, ip) = ProjectionSpec.inverseCol(bng, fx, fy)
    pts.select(col("lon"), col("lat"), fx.as("x"), fy.as("y"),
        il.as("lon2"), ip.as("lat2")).collect().foreach { r =>
      val (sx, sy) = bng.forward(r.getDouble(0), r.getDouble(1))
      assert(math.abs(r.getDouble(2) - sx) <= math.ulp(sx).abs * 16)
      assert(math.abs(r.getDouble(3) - sy) <= math.ulp(sy).abs * 16)
      assert(math.abs(r.getDouble(4) - r.getDouble(0)) < 1e-8)
      assert(math.abs(r.getDouble(5) - r.getDouble(1)) < 1e-8)
    }
  }

  test("generic parameterized forms (PS:/LAEA:/LCC:/ALBERS:) match the " +
    "registered math and close their round-trips") {
    import PolarOps._
    // generic string with a registered code's parameters == the code's
    // transforms bit-for-bit (same case class, same constants)
    val ps413 = stereoForCrs("EPSG:3413").get
    val psGen = stereoForCrs("PS:70.0:-45.0:0.0:0.0").get
    assert(psGen.forward(-30.0, 75.0) ==
      ps413.forward(-30.0, 75.0))
    val lcc2154 = lccForCrs("EPSG:2154").get
    val lccGen = lccForCrs("LCC:49.0:44.0:46.5:3.0:700000.0:6600000.0").get
    assert(lccGen.forward(5.0, 47.0) ==
      lcc2154.forward(5.0, 47.0))
    val ab5070 = albersForCrs("EPSG:5070").get
    val abGen = albersForCrs("ALBERS:29.5:45.5:23.0:-96.0:0.0:0.0").get
    assert(abGen.forward(-100.0, 40.0) ==
      ab5070.forward(-100.0, 40.0))
    val la3035 = laeaForCrs("EPSG:3035").get
    val laGen = laeaForCrs("LAEA:52.0:10.0:4321000.0:3210000.0").get
    assert(laGen.forward(15.0, 48.0) ==
      la3035.forward(15.0, 48.0))
    // NON-registered parameter sets: forward/inverse closure to 1e-9 deg
    val psA = stereoForCrs("PS:60.0:100.0:500000.0:700000.0").get
    val (px, py) = psA.forward(120.0, 70.0)
    val (plon, plat) = psA.inverse(px, py)
    assert(math.abs(plon - 120.0) < 1e-9 && math.abs(plat - 70.0) < 1e-9)
    val lcC = lccForCrs("LCC:33.0:45.0:39.0:-96.0:0.0:0.0").get
    val (cx, cy) = lcC.forward(-90.0, 42.0)
    val (clon, clat) = lcC.inverse(cx, cy)
    assert(math.abs(clon + 90.0) < 1e-9 && math.abs(clat - 42.0) < 1e-9)
    val abC = albersForCrs("ALBERS:20.0:50.0:30.0:10.0:0.0:0.0").get
    val (ax, ay) = abC.forward(25.0, 35.0)
    val (alon, alat) = abC.inverse(ax, ay)
    assert(math.abs(alon - 25.0) < 1e-9 && math.abs(alat - 35.0) < 1e-8)
    val laC = laeaForCrs("LAEA:45.0:20.0:100000.0:200000.0").get
    val (lx, ly) = laC.forward(28.0, 50.0)
    val (llon, llat) = laC.inverse(lx, ly)
    assert(math.abs(llon - 28.0) < 1e-9 && math.abs(llat - 50.0) < 1e-8)
    // a southern-aspect generic LCC declines loudly at construction
    intercept[IllegalArgumentException] {
      lccForCrs("LCC:-33.0:-45.0:-39.0:20.0:0.0:0.0")
    }
    ()
  }

  test("UPS (EPSG:5041/5042, polar stereographic variant A): the " +
    "published worked example pins to 1 cm; round-trips close") {
    import PolarOps._
    // EPSG GN7-2 Polar Stereographic variant A worked example (WGS84
    // UPS North): 73N 44E -> E 3320416.75, N 632668.43
    val ups = stereoForCrs("EPSG:5041").get
    val (e, n) = ups.forward(44.0, 73.0)
    assert(math.abs(e - 3320416.75) < 0.01, s"E $e")
    assert(math.abs(n - 632668.43) < 0.01, s"N $n")
    val (lon, lat) = ups.inverse(e, n)
    assert(math.abs(lon - 44.0) < 1e-9 && math.abs(lat - 73.0) < 1e-9)
    // south aspect mirrors
    val upsS = stereoForCrs("EPSG:5042").get
    val (es, ns) = upsS.forward(44.0, -73.0)
    val (lonS, latS) = upsS.inverse(es, ns)
    assert(math.abs(lonS - 44.0) < 1e-9 && math.abs(latS + 73.0) < 1e-9)
    // generic variant-A form round-trips too
    val psa = stereoForCrs("PSA:90.0:0.97:10.0:0.0:0.0").get
    val (gx, gy) = psa.forward(50.0, 80.0)
    val (gl, gp) = psa.inverse(gx, gy)
    assert(math.abs(gl - 50.0) < 1e-9 && math.abs(gp - 80.0) < 1e-9)
    ()
  }
}
