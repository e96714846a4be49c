package graft

import graft.cube.{CfGridMapping, GridMapping}
import graft.cube.CfGridMapping.CfVar
import graft.operators.PolarOps
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** CF grid-mapping conventions (reference cfconv.py:1-353, mirrored
  * from test/core/gridmapping/test_cfconv.py cases) + from_coords /
  * to_regular (base.py:851/787) + the geostationary family. */
class CfGridMappingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()

  private def v(name: String, dims: Seq[String],
                attrs: Map[String, String] = Map.empty,
                data: Option[Array[Double]] = None) =
    CfVar(name, dims, attrs, data)

  private val lon = Array(10.0, 10.1, 10.2, 10.3)
  private val lat = Array(50.0, 50.1, 50.2)

  test("no CRS + lon/lat common names -> CRS84 (test_cfconv case 1)") {
    val cm = CfGridMapping.fromVars(Seq(
      v("lon", Seq("lon"), data = Some(lon)),
      v("lat", Seq("lat"), data = Some(lat)),
      v("sst", Seq("lat", "lon"))))
    assert(cm.isRegular)
    assert(cm.gm.crs == "CRS84")
    assert(cm.gm.width == 4 && cm.gm.height == 3)
    assert(math.abs(cm.gm.xRes - 0.1) < 1e-12)
    assert(math.abs(cm.gm.xMin - 9.95) < 1e-12)
    assert(!cm.gm.yDown)
  }

  test("no CRS + standard_name on weird var names (case 2)") {
    val cm = CfGridMapping.fromVars(Seq(
      v("weird_x", Seq("i"), Map("standard_name" -> "longitude"),
        Some(lon)),
      v("weird_y", Seq("j"), Map("standard_name" -> "latitude"),
        Some(lat))))
    assert(cm.gm.crs == "CRS84" && cm.gm.width == 4)
  }

  test("grid_mapping-referenced UTM crs var + x/y names (case 3)") {
    val xs = Array(500000.0, 500010.0, 500020.0)
    val ys = Array(5600020.0, 5600010.0, 5600000.0) // descending: yDown
    val cm = CfGridMapping.fromVars(Seq(
      v("crs", Nil, Map(
        "grid_mapping_name" -> "transverse_mercator",
        "longitude_of_central_meridian" -> "15.0",
        "scale_factor_at_central_meridian" -> "0.9996",
        "latitude_of_projection_origin" -> "0.0",
        "false_easting" -> "500000.0", "false_northing" -> "0.0")),
      v("x", Seq("x"), data = Some(xs)),
      v("y", Seq("y"), data = Some(ys)),
      v("band", Seq("y", "x"), Map("grid_mapping" -> "crs"))))
    assert(cm.gm.crs == "EPSG:32633") // zone 33 north (cm 15 deg)
    assert(cm.gm.yDown)
    assert(cm.isRegular && cm.gm.xRes == 10.0)
  }

  test("rotated pole picks rlon/rlat, not lon/lat") {
    val cm = CfGridMapping.fromVars(Seq(
      v("rotated_pole", Nil, Map(
        "grid_mapping_name" -> "rotated_latitude_longitude",
        "grid_north_pole_latitude" -> "32.5",
        "grid_north_pole_longitude" -> "-170.0")),
      v("rlon", Seq("rlon"), data = Some(lon)),
      v("rlat", Seq("rlat"), data = Some(lat)),
      v("lon", Seq("rlat", "rlon")), // 2-D true coords: not candidates
      v("t2m", Seq("rlat", "rlon"), Map("grid_mapping" -> "rotated_pole"))))
    assert(cm.gm.crs == "ROTPOLE:32.5:-170.0")
  }

  test("crs_wkt fallback takes the LAST EPSG authority") {
    val attrs = Map("crs_wkt" ->
      ("""PROJCS["WGS 84 / UTM zone 33N",GEOGCS["WGS 84",""" +
        """AUTHORITY["EPSG","4326"]],AUTHORITY["EPSG","32633"]]"""))
    assert(CfGridMapping.crsFromCf(attrs).contains("EPSG:32633"))
    assert(CfGridMapping.crsFromCf(Map("spatial_ref" ->
      """GEOGCS["WGS 84",AUTHORITY["EPSG","4326"]]""")).contains("CRS84"))
  }

  test("cfAttrs -> crsFromCf round-trips every registered family") {
    val crss = Seq("CRS84", "EPSG:3857", "EPSG:32633", "EPSG:32719",
      "EPSG:3413", "EPSG:3976", "EPSG:3031", "EPSG:3035", "EPSG:6931",
      "EPSG:6932", "EPSG:2154", "EPSG:3978", "EPSG:5070", "SR-ORG:6974",
      "ROTPOLE:32.5:-170.0", "GEOS:-75.0:3.5786023E7:x",
      "GEOS:9.5:3.5786023E7:y", "EPSG:6933", "ORTHO:50.0:10.0", "MOLL:0.0",
      "EPSG:28992", "STEREO:45.0:25.0:0.9999:0.0:0.0",
      "EPSG:8857", "EQEARTH:10.0",
      "EPSG:29873", "EPSG:2056",
      "HOM:35.0:-80.0:30.0:30.0:0.9996:0.0:0.0",
      "HOM:35.0:-80.0:30.0:30.0:0.9996:0.0:0.0:A",
      "EPSG:3395", "EPSG:3002", "EPSG:3388",
      "MERC:110.0:0.997:3900000.0:900000.0", "MERCSP:51.0:42.0:0.0:0.0",
      "EPSG:4087", "EQC:30.0:10.0:0.0:0.0",
      "EPSG:27700", "EPSG:31467",
      "TMERC:10.5:7.0:0.9999:200000.0:-50000.0",
      "PS:65.0:10.0:0.0:0.0", "LAEA:45.0:20.0:100000.0:200000.0",
      "LCC:33.0:45.0:39.0:-96.0:0.0:0.0",
      "ALBERS:20.0:50.0:30.0:10.0:0.0:0.0",
      "EPSG:5041", "EPSG:5042", "PSA:90.0:0.97:10.0:0.0:0.0")
    crss.foreach { c =>
      val back = CfGridMapping.crsFromCf(CfGridMapping.cfAttrs(c))
      val ok = back.contains(c) ||
        (c == "CRS84" && back.exists(graft.operators.SpatialOps.isGeographic))
      assert(ok, s"$c -> ${CfGridMapping.cfAttrs(c)} -> $back")
    }
  }

  test("non-registered 2SP parameters resolve GENERICALLY; methods " +
    "without a closed form still decline LOUDLY") {
    // any 2SP LCC rides the parameterized conic since r20
    assert(CfGridMapping.crsFromCf(Map(
      "grid_mapping_name" -> "lambert_conformal_conic",
      "standard_parallel" -> "33.0,45.0",
      "longitude_of_central_meridian" -> "-97.0"))
      .contains("LCC:33.0:45.0:0.0:-97.0:0.0:0.0"))
    // 1SP (EPSG 9801) is a different method: loud decline
    val ex = intercept[IllegalArgumentException] {
      CfGridMapping.crsFromCf(Map(
        "grid_mapping_name" -> "lambert_conformal_conic",
        "standard_parallel" -> "46.5",
        "longitude_of_central_meridian" -> "3.0"))
    }
    assert(ex.getMessage.contains("registered"))
    intercept[IllegalArgumentException] {
      CfGridMapping.crsFromCf(Map("grid_mapping_name" -> "vertical_perspective"))
    }
    ()
  }

  test("roundToFraction mirrors the reference helper") {
    assert(CfGridMapping.roundToFraction(0.04999999, 5, 0.25) == 0.05)
    assert(CfGridMapping.roundToFraction(0.0, 2, 1.0) == 0.0)
    assert(CfGridMapping.roundToFraction(-0.300001, 2, 0.5) == -0.3)
    // digits count BELOW the leading magnitude (reference semantics:
    // exponent = floor(log10) − digits − res_digits): 1234.5@2 -> 1000
    assert(math.abs(CfGridMapping.roundToFraction(1234.5, 2, 1.0) - 1000.0)
      < 1e-9)
    assert(math.abs(CfGridMapping.roundToFraction(0.1, 5, 0.25) - 0.1)
      < 1e-12)
    intercept[IllegalArgumentException] {
      CfGridMapping.roundToFraction(1.0, 2, 0.3)
    }
    ()
  }

  test("fromCoords: irregular 1-D coords + toRegular covering grid") {
    val xs = Array(0.0, 1.0, 2.5, 4.0, 6.0) // deltas 1, 1.5, 1.5, 2
    val ys = Array(10.0, 8.0, 6.5, 5.0)     // descending, irregular
    val cm = CfGridMapping.fromCoords(xs, ys, "CRS84", tolerance = 1e-5)
    assert(!cm.isRegular)
    assert(cm.gm.yDown)
    val reg = cm.toRegular
    // res = min(median dx, median dy) = 1.5; bbox [-0.75, 6.75]x[4.25, 10.75]
    assert(reg.xRes == 1.5 && reg.yRes == 1.5)
    assert(reg.width == math.round((6.75 + 0.75 + 1.5) / 1.5).max(2))
    // monotonicity violations decline loudly
    intercept[IllegalArgumentException] {
      CfGridMapping.fromCoords(Array(0.0, 1.0, 1.0), ys, "CRS84")
    }
    ()
  }

  test("toRegular sizes the covering grid from the TRUE coordinate " +
    "extremes, not count x median-res") {
    // trailing gap: median dx is 1.5 but the real extent runs to 20 —
    // the synthetic xMin + n*res bbox (8.25) would undercover by 12.5
    val xs = Array(0.0, 1.0, 2.5, 4.0, 6.0, 20.0)
    val ys = Array(0.0, 1.5, 3.0, 4.5) // regular axis, res 1.5
    val cm = CfGridMapping.fromCoords(xs, ys, "EPSG:32633")
    assert(!cm.isRegular)
    assert(cm.xMaxTrue == 20.0 + cm.gm.xRes / 2)
    val reg = cm.toRegular
    assert(reg.xRes == 1.5 && reg.yRes == 1.5)
    // reference regular.py:138: width = round((xMax - xMin + res)/res)
    // off the true bbox [-0.75, 20.75]
    assert(reg.width == math.round((20.75 + 0.75 + 1.5) / 1.5))
    assert(reg.xMax >= cm.xMaxTrue, "covering grid must reach the data")
    assert(reg.height == math.round((5.25 + 0.75 + 1.5) / 1.5))
  }

  test("CF 'mercator' accepts only the SP=0/k0=1, lon0=0 spherical case") {
    assert(CfGridMapping.crsFromCf(Map(
      "grid_mapping_name" -> "mercator",
      "standard_parallel" -> "0.0")).contains("EPSG:3857"))
    assert(CfGridMapping.crsFromCf(Map(
      "grid_mapping_name" -> "mercator",
      "scale_factor_at_projection_origin" -> "1.0")).contains("EPSG:3857"))
    assert(CfGridMapping.crsFromCf(Map(
      "grid_mapping_name" -> "popular_visualisation_pseudo_mercator"))
      .contains("EPSG:3857"))
    // a standard-parallel / off-meridian / scaled Mercator with NO
    // ellipsoid attrs is NOT 3857 — and without an ellipsoid it cannot
    // take the 9804/9805 route either (r20): ambiguous, declined loudly
    for (bad <- Seq(
      Map("grid_mapping_name" -> "mercator", "standard_parallel" -> "41.0"),
      Map("grid_mapping_name" -> "mercator",
        "scale_factor_at_projection_origin" -> "0.9996"),
      Map("grid_mapping_name" -> "mercator", "standard_parallel" -> "0.0",
        "longitude_of_projection_origin" -> "110.0"))) {
      val ex = intercept[IllegalArgumentException] {
        CfGridMapping.crsFromCf(bad)
      }
      assert(ex.getMessage.contains("ambiguous"), bad.toString)
    }
    // WITH a WGS84 ellipsoid the same shapes resolve through the
    // registered 9804/9805 closed forms
    assert(CfGridMapping.crsFromCf(Map(
      "grid_mapping_name" -> "mercator", "standard_parallel" -> "41.0",
      "semi_major_axis" -> "6378137.0",
      "inverse_flattening" -> "298.257223563"))
      .contains("MERCSP:0.0:41.0:0.0:0.0"))
    assert(CfGridMapping.crsFromCf(Map(
      "grid_mapping_name" -> "mercator",
      "scale_factor_at_projection_origin" -> "0.9996",
      "semi_major_axis" -> "6378137.0",
      "inverse_flattening" -> "298.257223563"))
      .contains("MERC:0.0:0.9996:0.0:0.0"))
  }

  test("geostationary: the published GOES-R PUG worked example") {
    val g = PolarOps.geosForCrs("GEOS:-75.0:3.5786023E7:x").get
    val (x, y) = g.forward(-84.690932, 33.846162)
    assert(math.abs(x / g.h - (-0.024052)) < 1e-6, s"x=${x / g.h}")
    assert(math.abs(y / g.h - 0.095340) < 1e-6, s"y=${y / g.h}")
    val (lo, la) = g.inverse(x, y)
    assert(math.abs(lo - (-84.690932)) < 1e-9)
    assert(math.abs(la - 33.846162) < 1e-9)
    // off-disk scan angle: no ellipsoid intersection -> NaN
    val (lo2, la2) = g.inverse(0.4 * g.h, 0.0)
    assert(lo2.isNaN && la2.isNaN)
    // far-side point: not visible -> NaN
    val (xf, yf) = g.forward(105.0, 0.0)
    assert(xf.isNaN || yf.isNaN)
  }

  test("geostationary sweep=y (MSG) round-trips and differs from sweep=x") {
    val gy = PolarOps.geosForCrs("GEOS:9.5:3.5786023E7:y").get
    val gx = gy.copy(sweepX = true)
    val pts = Seq((0.0, 0.0), (9.5, 0.0), (20.0, 40.0), (-30.0, -55.0),
      (45.0, 10.0))
    pts.foreach { case (lo, la) =>
      val (x, y) = gy.forward(lo, la)
      val (lo2, la2) = gy.inverse(x, y)
      assert(math.abs(lo2 - lo) < 1e-8 && math.abs(la2 - la) < 1e-8,
        s"($lo,$la) -> ($x,$y) -> ($lo2,$la2)")
      val (xx, yx) = gx.forward(lo, la)
      val (lox, lax) = gx.inverse(xx, yx)
      assert(math.abs(lox - lo) < 1e-8 && math.abs(lax - la) < 1e-8)
      if (lo != gy.lon0Deg || la != 0.0)
        assert(math.abs(x - xx) > 1e-6 || math.abs(y - yx) > 1e-6 ||
          (la == 0.0)) // sweeps agree only on the projection axes
    }
    // default string: standard height, sweep x
    assert(PolarOps.geosForCrs("GEOS:-137.0").contains(
      PolarOps.Geos(-137.0, 35786023.0, sweepX = true)))
  }

  test("fromNetcdf: CF-attributed LCC granule auto-derives its grid") {
    import graft.sources.NetcdfSource
    import NetcdfSource.NcDim
    val dir = TestDirs.tmpDir("cfnc")
    val path = s"$dir/lcc.nc"
    val xs = Array.tabulate(6)(i => 700000.0 + i * 1000.0)
    val ys = Array.tabulate(5)(j => 6600000.0 - j * 1000.0)
    NetcdfSource.write(path,
      Seq(NcDim("y", 5), NcDim("x", 6)),
      Seq(("y", ys), ("x", xs)),
      Seq(("crs", Nil, Array(0.0)),
        ("v", Seq("y", "x"), Array.tabulate(30)(_.toDouble))),
      varTextAttrs = Map(
        "crs" -> CfGridMapping.cfAttrs("EPSG:2154").toSeq,
        "v" -> Seq("grid_mapping" -> "crs"),
        "x" -> Seq("standard_name" -> "projection_x_coordinate"),
        "y" -> Seq("standard_name" -> "projection_y_coordinate")))
    val nc = NetcdfSource.read(path)
    val cm = CfGridMapping.fromNetcdf(nc)
    assert(cm.isRegular)
    assert(cm.gm.crs == "EPSG:2154")
    assert(cm.gm.width == 6 && cm.gm.height == 5)
    assert(cm.gm.xRes == 1000.0 && cm.gm.yDown)
    assert(math.abs(cm.gm.xMin - 699500.0) < 1e-6)
  }

  test("zarr: attachToZarr -> fromZarr round-trips the CF metadata") {
    import spark.implicits._
    import graft.sources.ZarrSource
    val g = s"${TestDirs.tmpDir("cfzarr")}/c.zarr"
    val xs = Array.tabulate(8)(i => 500000.0 + 10.0 * i)
    val ys = Array.tabulate(6)(j => 5600050.0 - 10.0 * j) // descending
    val cells = (for (j <- 0 until 6; i <- 0 until 8) yield
      (ys(j), xs(i), (j * 8 + i).toDouble)).toDF("yy", "xx", "band")
    ZarrSource.writeCubeVars(cells, g, Seq("band"),
      Seq("yy" -> ys, "xx" -> xs), chunks = Seq(3, 4))
    CfGridMapping.attachToZarr(g, "EPSG:32633", "xx", "yy")
    // numeric CF parameters round-trip as JSON numbers, names as strings
    val ga = ZarrSource.arrayAttrs(g)
    assert(ga("grid_mapping_name") == "transverse_mercator")
    assert(ga("false_easting") == "500000.0")
    assert(ZarrSource.arrayAttrs(g, "xx")("standard_name")
      == "projection_x_coordinate")
    // _ARRAY_DIMENSIONS preserved by the read-modify-write
    assert(ZarrSource.arrayAttrs(g, "xx").contains("_ARRAY_DIMENSIONS"))
    val cm = CfGridMapping.fromZarr(g)
    assert(cm.isRegular && cm.gm.crs == "EPSG:32633")
    assert(cm.gm.width == 8 && cm.gm.height == 6 && cm.gm.yDown)
    assert(cm.gm.xRes == 10.0)
    assert(math.abs(cm.gm.xMin - 499995.0) < 1e-9)
    // the consolidated doc tracks the attrs (open-by-.zmetadata parity)
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$g/.zmetadata")), "UTF-8")
      .contains("transverse_mercator"))
    // numeric retyping applies ONLY to CF parameter keys: a string id
    // that happens to parse as numbers must round-trip verbatim
    ZarrSource.updateAttrs(g, "",
      Map("product_id" -> "2,4", "processing_version" -> "1e5",
        "false_northing" -> "0.0"))
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$g/.zattrs")), "UTF-8")
    assert(raw.contains("\"product_id\":\"2,4\""), raw)
    assert(raw.contains("\"processing_version\":\"1e5\""), raw)
    assert(raw.contains("\"false_northing\":0.0"), raw)
  }

  test("zarr: a rioxarray-style spatial_ref array carrying ONLY crs_wkt " +
    "drives the derivation") {
    import spark.implicits._
    import graft.sources.ZarrSource
    val g = s"${TestDirs.tmpDir("wktzarr")}/c.zarr"
    val xs = Array.tabulate(6)(i => 500000.0 + 20.0 * i)
    val ys = Array.tabulate(4)(j => 5600000.0 - 20.0 * j)
    val cells = (for (j <- 0 until 4; i <- 0 until 6) yield
      (ys(j), xs(i), (j * 6 + i).toDouble)).toDF("y", "x", "band")
    ZarrSource.writeCubeVars(cells, g, Seq("band"),
      Seq("y" -> ys, "x" -> xs), chunks = Seq(2, 3))
    // code-less UTM 33N WKT on a 0-dim spatial_ref-style attribute set
    val wkt = """PROJCS["WGS 84 / UTM zone 33N",GEOGCS["WGS 84",""" +
      """DATUM["WGS_1984",SPHEROID["WGS 84",6378137,298.257223563]],""" +
      """PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],""" +
      """PROJECTION["Transverse_Mercator"],""" +
      """PARAMETER["latitude_of_origin",0],""" +
      """PARAMETER["central_meridian",15],""" +
      """PARAMETER["scale_factor",0.9996],""" +
      """PARAMETER["false_easting",500000],""" +
      """PARAMETER["false_northing",0],UNIT["metre",1]]"""
    ZarrSource.updateAttrs(g, "", Map("crs_wkt" -> wkt))
    ZarrSource.updateAttrs(g, "x",
      Map("standard_name" -> "projection_x_coordinate"))
    ZarrSource.updateAttrs(g, "y",
      Map("standard_name" -> "projection_y_coordinate"))
    val cm = CfGridMapping.fromZarr(g)
    assert(cm.isRegular && cm.gm.crs == "EPSG:32633" && cm.gm.yDown)
    assert(cm.gm.width == 6 && cm.gm.xRes == 20.0)
  }

  test("geotiff: GeoKey CRS round-trips; gridOf derives the regular " +
    "grid; CRS-less files decline") {
    import graft.sources.GeoTiffSource
    import graft.sources.GeoTiffSource.Raster
    val dir = TestDirs.tmpDir("geokey")
    // multi-band + nodata stresses the external-array offset layout the
    // GeoKey directory shifts
    val p1 = s"$dir/utm.tif"
    val bands = IndexedSeq.tabulate(3)(b =>
      Array.tabulate(12)(k => b * 100.0 + k))
    GeoTiffSource.write(p1,
      GeoTiffSource.Raster(4, 3, bands, 10.0, 10.0, 500000.0, 5600030.0),
      nodata = Some(-9999.0), crs = Some("EPSG:32633"))
    assert(GeoTiffSource.crsOf(p1).contains("EPSG:32633"))
    val cm = GeoTiffSource.gridOf(p1)
    assert(cm.isRegular && cm.gm.crs == "EPSG:32633" && cm.gm.yDown)
    assert(cm.gm.width == 4 && cm.gm.height == 3)
    assert(math.abs(cm.gm.xMin - 500000.0) < 1e-9)
    assert(math.abs(cm.gm.yMax - 5600030.0) < 1e-9)
    // pixel payload survives the extra IFD entry byte-shifts
    val r = GeoTiffSource.read(p1)
    assert(r.bands(2).toSeq == bands(2).toSeq)
    // geographic CRS rides GeographicTypeGeoKey
    val p2 = s"$dir/geo.tif"
    GeoTiffSource.write(p2, Raster(4, 3, bands.head, 0.5, 0.5, 10.0, 51.5),
      crs = Some("CRS84"))
    assert(GeoTiffSource.crsOf(p2).contains("CRS84"))
    // openGrid: frame + derived grid in one call
    val (df, cm2) = graft.sources.DataStore.openGrid(spark, p1)
    assert(cm2.gm.crs == "EPSG:32633" && df.columns.contains("band_2"))
    assert(df.count() == 12)
    // no GeoKeys: crsOf None, gridOf declines loudly
    val p3 = s"$dir/bare.tif"
    GeoTiffSource.write(p3, Raster(4, 3, bands.head, 0.5, 0.5, 10.0, 51.5))
    assert(GeoTiffSource.crsOf(p3).isEmpty)
    intercept[IllegalArgumentException] { GeoTiffSource.gridOf(p3) }
    // a parameterized non-EPSG family has no GeoKey form
    intercept[IllegalArgumentException] {
      GeoTiffSource.write(s"$dir/bad.tif",
        Raster(4, 3, bands.head, 0.5, 0.5, 10.0, 51.5),
        crs = Some("ROTPOLE:32.5:-170.0"))
    }
    ()
  }

  test("anti-meridian crossings re-derive in the lon-360 frame") {
    import spark.implicits._
    // 1-D: a dateline-crossing longitude axis (reference to_lon_360,
    // coords.py:128-135) derives the contiguous 0.1-degree grid
    val xs = Array(179.85, 179.95, -179.95, -179.85)
    val ys = Array(10.0, 10.1, 10.2)
    val cm = CfGridMapping.fromCoords(xs, ys, "CRS84")
    assert(cm.isRegular, s"crossing must stay regular: ${cm.gm}")
    assert(math.abs(cm.gm.xRes - 0.1) < 1e-12)
    assert(math.abs(cm.gm.xMin - 179.8) < 1e-9)
    // a PROJECTED axis with a big step is just irregular, never wrapped
    assert(!CfGridMapping.fromCoords(xs, ys, "EPSG:32601").isRegular)
    // 2-D: the same wrap through the distributed path
    val cells = for { j <- 0 until 10; i <- 0 until 12 } yield {
      val lon0 = 179.0 + i * 0.2
      (i.toLong, j.toLong, if (lon0 > 180.0) lon0 - 360.0 else lon0,
        5.0 + j * 0.25)
    }
    val gm = CfGridMapping.fromCoords2d(cells.toDF("i", "j", "xc", "yc"),
      "i", "j", "xc", "yc", "CRS84")
    // derived in lon-360: the grid covers [~179, ~181.2], one piece
    assert(gm.xMin > 170.0 && gm.xMax < 190.0, s"wrapped bbox: $gm")
    assert(gm.xRes == gm.yRes && gm.xRes > 0.0)
  }

  test("DataStore.openGrid: one call opens the frame WITH its derived grid") {
    import graft.sources.{DataStore, NetcdfSource}
    import NetcdfSource.NcDim
    val dir = TestDirs.tmpDir("opengrid")
    val path = s"$dir/utm.nc"
    NetcdfSource.write(path,
      Seq(NcDim("y", 4), NcDim("x", 5)),
      Seq(("y", Array.tabulate(4)(j => 5600030.0 - j * 10.0)),
        ("x", Array.tabulate(5)(i => 500000.0 + i * 10.0))),
      Seq(("crs", Nil, Array(0.0)),
        ("b", Seq("y", "x"), Array.tabulate(20)(_.toDouble))),
      varTextAttrs = Map(
        "crs" -> CfGridMapping.cfAttrs("EPSG:32633").toSeq,
        "b" -> Seq("grid_mapping" -> "crs"),
        "x" -> Seq("standard_name" -> "projection_x_coordinate"),
        "y" -> Seq("standard_name" -> "projection_y_coordinate")))
    val (df, cm) = DataStore.openGrid(spark, path)
    assert(df.count() == 20)
    assert(cm.isRegular && cm.gm.crs == "EPSG:32633" && cm.gm.yDown)
    // unsupported formats decline loudly instead of guessing a grid
    val ex = intercept[IllegalArgumentException] {
      DataStore.openGrid(spark, s"$dir/rows.parquet")
    }
    assert(ex.getMessage.contains("openDataset"))
  }

  test("fromCoords2d: curvilinear swath derives a covering regular grid") {
    import spark.implicits._
    // a gently sheared grid: x = i + 0.1 j, y = 10 - j + 0.05 i
    val cells = for { j <- 0 until 20; i <- 0 until 30 } yield
      (i.toLong, j.toLong, i + 0.1 * j, 10.0 - j + 0.05 * i)
    val df = cells.toDF("i", "j", "xc", "yc")
    val gm = CfGridMapping.fromCoords2d(df, "i", "j", "xc", "yc",
      "EPSG:32633")
    assert(gm.yDown) // y decreases with j
    assert(gm.xRes == gm.yRes && gm.xRes > 0.5 && gm.xRes <= 1.5,
      s"res=${gm.xRes}")
    // the grid covers the swath bbox
    assert(gm.xMin <= 0.0 && gm.xMax >= 30.9 - 1.0)
    assert(gm.yMin <= -9.0 && gm.yMax >= 11.0)
  }
}
