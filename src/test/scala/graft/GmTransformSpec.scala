package graft

import graft.cube.{CfGridMapping, GmTransform, GridMapping}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** GridMapping.transform (reference base.py:714, transform.py:41-120),
  * mirroring test/core/gridmapping/test_transform.py: the 3×3 CRS84
  * grid at (10, 53), res 0.1, transformed to UTM zone 32N must land on
  * the published pyproj coordinates; same-CRS transforms are no-ops;
  * the covering grid derives from the transformed coordinate field. */
class GmTransformSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()

  // test_transform.py's expected xy_coords for GridMapping.regular(
  // size=(3,3), xy_min=(10,53), xy_res=0.1).transform(EPSG:32632) —
  // row-major, j=0 is the TOP row (y_max side, image order)
  private val RefX = Array(
    Array(570057.076286, 576728.9360228, 583400.7295284),
    Array(570220.3304187, 576907.7404859, 583595.0849538),
    Array(570383.3684844, 577086.3083212, 583789.1831954))
  private val RefY = Array(
    Array(5900595.928991, 5900698.5746648, 5900810.5532744),
    Array(5889471.9033896, 5889574.6540572, 5889686.7472201),
    Array(5878348.0594403, 5878450.9138481, 5878563.1201969))

  test("CRS84 -> UTM 32N matches the published pyproj coordinates") {
    val gm = GridMapping(3, 3, 10.0, 53.0, 0.1, 0.1, crs = "CRS84")
    val t = GmTransform.transform(spark, gm, "EPSG:32632",
      xyRes = Some(10000.0))
    val got = t.coords.collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3)))).toMap
    assert(got.size == 9)
    for (j <- 0 until 3; i <- 0 until 3) {
      // our yDown=false grid has j ascending with y; the reference
      // array's row 0 is the top (max-y) row
      val (x, y) = got((i.toLong, (2 - j).toLong))
      assert(math.abs(x - RefX(j)(i)) < 0.02,
        s"x($i,$j): $x vs ${RefX(j)(i)}")
      assert(math.abs(y - RefY(j)(i)) < 0.02,
        s"y($i,$j): $y vs ${RefY(j)(i)}")
    }
    // covering grid: bbox of the transformed field, given res
    assert(t.gm.crs == "EPSG:32632" && t.gm.xRes == 10000.0)
    assert(t.gm.xMin < 570057.0 && t.gm.xMax > 583789.2)
    assert(t.gm.yMin < 5878348.0 && t.gm.yMax > 5900810.6)
    assert(!t.gm.yDown, "source j ascends with y; transform keeps it")
  }

  test("same-CRS transform is a no-op (test_transform_no_op)") {
    val gm = GridMapping(3, 3, 10.0, 53.0, 0.1, 0.1, crs = "CRS84")
    val t = GmTransform.transform(spark, gm, "EPSG:4326")
    assert(t.gm eq gm)
    assert(t.coords.count() == 9)
  }

  test("no-xy_res route estimates resolution distributedly " +
    "(fromCoords2d) and projected->projected pivots through geographic") {
    val gm = GridMapping(24, 18, 8.0, 50.0, 0.05, 0.05, crs = "CRS84")
    val t = GmTransform.transform(spark, gm, "EPSG:32632")
    // ~0.05 deg at 51 N is ~3.5 km east, 5.6 km north; the area-based
    // 0.7·min+0.3·max estimate rounded to 1 significant digit
    assert(t.gm.xRes > 1000.0 && t.gm.xRes < 10000.0, t.gm.toString)
    assert(t.gm.width >= 2 && t.gm.height >= 2)
    // UTM -> LCC (Lambert-93) via the geographic pivot: transform the
    // UTM covering grid and verify a center round-trips through the
    // kernels within a metre
    val t2 = GmTransform.transform(spark, t.gm, "EPSG:2154",
      xyRes = Some(5000.0))
    assert(t2.gm.crs == "EPSG:2154")
    val row = t2.coords.filter(col("i") === 2 && col("j") === 2).head()
    val z = graft.operators.UtmOps.zoneForCrs("EPSG:32632").get
    val (lon, lat) = z.inverse(t.gm.xForI(2), t.gm.yForJ(2))
    val lc = graft.operators.PolarOps.lccForCrs("EPSG:2154").get
    val (ex, ey) = lc.forward(lon, lat)
    assert(math.abs(row.getDouble(2) - ex) < 1.0)
    assert(math.abs(row.getDouble(3) - ey) < 1.0)
  }

  test("no-xy_res route and the projected->projected pivot compile " +
    "without the codegen fallback") {
    // with spark.sql.codegen.fallback=false a generated class Janino
    // cannot compile fails the query instead of running interpreted; the
    // UTM -> LCC pivot used to inline its whole projection math into
    // every consumer and fail to compile there
    val key = "spark.sql.codegen.fallback"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val gm = GridMapping(24, 18, 8.0, 50.0, 0.05, 0.05, crs = "CRS84")
      val t = GmTransform.transform(spark, gm, "EPSG:32632")
      val t2 = GmTransform.transform(spark, t.gm, "EPSG:2154",
        xyRes = Some(5000.0))
      assert(t2.gm.crs == "EPSG:2154" && t2.gm.width >= 2)
      assert(t2.coords.filter(!isnan(col("x"))).count() ==
        t.gm.width * t.gm.height)
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("edge rows that transform off-domain (NaN) don't break the " +
    "direction probe") {
    // lat 75..85 into a Greenwich geostationary view: rows past ~81.3
    // degrees are beyond the limb and project to NaN — the old
    // first/last-row mean probe returned null there
    val gm = GridMapping(20, 20, 0.0, 75.0, 0.5, 0.5, crs = "CRS84")
    val t = GmTransform.transform(spark, gm, "GEOS:0.0:3.5786023E7:y",
      xyRes = Some(20000.0))
    assert(t.gm.crs.startsWith("GEOS:") && t.gm.width >= 2)
    assert(!t.gm.yDown, "northing still ascends with j for visible rows")
    val nanRows = t.coords.filter(isnan(col("y")))
      .select("j").distinct().count()
    assert(nanRows > 0, "fixture must actually have off-limb rows")
  }

  test("transformAndResample uses the SOURCE pitch for the route " +
    "decision: a much coarser target takes the downscale-mean branch") {
    import spark.implicits._
    // constant field: the downscale branch means values (exactly 7.5);
    // any route lands on 7.5, but a route crash or an empty join would
    // not — and the pitch is now ~2.2 km vs the 25 km target cells,
    // so the scale ratio is ~0.09, firmly in the downscale branch
    val gm = GridMapping(60, 40, 10.0, 50.0, 0.02, 0.02, crs = "CRS84")
    val cells = (for (j <- 0L until 40L; i <- 0L until 60L)
      yield (i, j, 7.5)).toDF("i", "j", "v")
    val out = GmTransform.transformAndResample(cells, gm, "EPSG:32632",
      Seq("v"), xyRes = Some(25000.0))
    val vals = out.filter(!isnan(col("v"))).select("v").distinct().collect()
    assert(vals.nonEmpty && vals.forall(_.getDouble(0) == 7.5))
  }

  test("transformAndResample lands source values on the derived grid") {
    import spark.implicits._
    val gm = GridMapping(30, 20, 10.0, 53.0, 0.02, 0.02, crs = "CRS84")
    val cells = (for (j <- 0L until 20L; i <- 0L until 30L)
      yield (i, j, (j * 30 + i).toDouble)).toDF("i", "j", "v")
    val out = GmTransform.transformAndResample(cells, gm, "EPSG:32632",
      Seq("v"), xyRes = Some(1500.0))
    val n = out.filter(!isnan(col("v"))).count()
    assert(n > 50, s"transformed resample must populate the grid: $n")
  }
}
