package graft

import graft.functions.ProjectXY
import graft.operators.{CrsTransform, Projection, SpatialOps}
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Every family of the [[Projection]] registry, forward and inverse: the
  * `project_xy` expression under whole-stage codegen, the same expression
  * interpreted (NO_CODEGEN) and the kernel called directly agree bit for
  * bit (NaN compares as NaN; the sign of zero counts) on poles, ±180°,
  * off-domain points, NaN and null. */
class ProjectionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()

  /** One CRS per registered family, plus the aspects and variants that
    * take their own kernel branch. */
  private val Crss = Seq(
    "EPSG:3857", "EPSG:32632", "EPSG:32733", "EPSG:3413", "EPSG:3031",
    "EPSG:5041", "EPSG:3035", "EPSG:6931", "EPSG:6932", "SR-ORG:6974",
    "EPSG:2154", "EPSG:5070", "ROTPOLE:40.0:-170.0",
    "GEOS:-75.0:3.5786023E7:x", "GEOS:9.5:3.5786023E7:y", "EPSG:6933",
    "ORTHO:50.0:10.0", "MOLL:10.0", "EPSG:28992", "EPSG:8857", "EPSG:29873",
    "HOM:35.0:-80.0:30.0:30.0:0.9996:0.0:0.0:A", "EPSG:3395", "EPSG:3388",
    "EPSG:4087", "EPSG:27700")

  private val Pivots = Seq("EPSG:32632" -> "EPSG:2154",
    "EPSG:3857" -> "EPSG:32633", "EPSG:28992" -> "EPSG:3035",
    "ROTPOLE:40.0:-170.0" -> "EPSG:8857")

  type P = (Option[Double], Option[Double])

  private def some(pts: Seq[(Double, Double)]): Seq[P] =
    pts.map { case (a, b) => (Some(a), Some(b)) }

  private val Nulls: Seq[P] = Seq((None, Some(10.0)), (Some(10.0), None),
    (None, None))

  private val geographic: Seq[P] = some(
    (for (k <- 0 to 16; l <- 0 to 24) yield (-180.0 + 22.5 * k, -90.0 + 7.5 * l)) ++
    Seq(-0.0 -> -0.0, 180.0 -> 89.9999999, -180.0 -> -89.9999999,
      10.0 -> 52.0, 5.387 -> 52.156, 200.0 -> 10.0, 10.0 -> 95.0,
      10.0 -> -95.0, 1e10 -> 1e10, Double.NaN -> 10.0, 10.0 -> Double.NaN,
      Double.NaN -> Double.NaN, Double.PositiveInfinity -> 0.0,
      0.0 -> Double.NegativeInfinity)) ++ Nulls

  private val offDomain: Seq[P] = some(Seq(0.0 -> 0.0, -0.0 -> -0.0,
    1e7 -> 1e7, -1e7 -> -1e7, 1e12 -> 0.0, 0.0 -> 1e12, 45.0 -> 45.0,
    Double.NaN -> 0.0, 0.0 -> Double.NaN, Double.PositiveInfinity -> 1.0)) ++
    Nulls

  private val schema = StructType(Seq(StructField("a", DoubleType),
    StructField("b", DoubleType)))

  /** (x, y) of `t` over `pts`, through Spark; codegen when `codegen`. */
  private def viaSpark(t: CrsTransform, pts: Seq[P], codegen: Boolean)
      : Seq[P] = {
    val confs = Seq("spark.sql.codegen.wholeStage" -> codegen.toString,
      "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"))
    val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // an RDD-backed frame: a local relation would be folded on the driver
      val df = spark.createDataFrame(spark.sparkContext.parallelize(
        pts.map { case (a, b) => Row(a.orNull, b.orNull) }, 2), schema)
      val (x, y) = ProjectXY.col(col("a"), col("b"), t)
      val q = df.select(x, y)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("project_xy"), plan)
      assert(plan.contains("*(") == codegen, plan)
      q.collect().toSeq.map(r =>
        (if (r.isNullAt(0)) None else Some(r.getDouble(0)),
          if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def viaKernel(t: CrsTransform, pts: Seq[P]): Seq[P] = pts.map {
    case (Some(a), Some(b)) =>
      val out = new Array[Double](2)
      val m = t.run(a, b, out)
      (if ((m & Projection.XNull) != 0) None else Some(out(0)),
        if ((m & Projection.YNull) != 0) None else Some(out(1)))
    case _ => (None, None)
  }

  private def bits(v: Option[Double]): String = v match {
    case None => "null"
    case Some(d) if d.isNaN => "NaN"
    case Some(d) => java.lang.Double.doubleToRawLongBits(d).toString
  }

  private def agree(what: String, t: CrsTransform, pts: Seq[P]): Unit = {
    val k = viaKernel(t, pts)
    for ((mode, got) <- Seq("codegen" -> viaSpark(t, pts, codegen = true),
                            "interpreted" -> viaSpark(t, pts, codegen = false))) {
      assert(got.size == pts.size)
      pts.indices.foreach { i =>
        assert(bits(got(i)._1) == bits(k(i)._1) &&
          bits(got(i)._2) == bits(k(i)._2),
          s"$what, $mode at ${pts(i)}: ${got(i)} vs kernel ${k(i)}")
      }
    }
  }

  private def finite(pts: Seq[P]): Seq[P] = pts.filter {
    case (Some(a), Some(b)) => !a.isNaN && !b.isNaN && !a.isInfinite &&
      !b.isInfinite
    case _ => false
  }

  test("the registry resolves all 18 projected families") {
    val families = Crss.map(c => Projection.forCrs(c)
      .getOrElse(fail(s"$c is not registered")).getClass).distinct
    assert(families.size == 18, families.mkString(", "))
    assert(Projection.forCrs("CRS84").isEmpty)
    val e = intercept[IllegalArgumentException](
      Projection.transform("EPSG:9999", "CRS84"))
    assert(e.getMessage.contains("EPSG:9999") &&
      e.getMessage.contains("MERC:"), e.getMessage)
  }

  for (crs <- Crss)
    test(s"$crs: project_xy (codegen and interpreted) and the kernel " +
      "agree bit for bit, forward and inverse") {
      val fwd = Projection.transform("CRS84", crs)
      agree(s"CRS84 -> $crs", fwd, geographic)
      val projected = finite(viaKernel(fwd, geographic.filter {
        case (Some(lon), Some(lat)) => math.abs(lon) <= 180 && math.abs(lat) <= 90
        case _ => false
      }))
      agree(s"$crs -> CRS84", Projection.transform(crs, "CRS84"),
        projected ++ offDomain)
    }

  test("projected -> projected pivots agree bit for bit and equal the " +
    "two kernels run in turn") {
    for ((from, to) <- Pivots) {
      val pts = finite(viaKernel(Projection.transform("CRS84", from),
        some(for (k <- 0 to 8; l <- 0 to 4)
          yield (-30.0 + 7.5 * k, 30.0 + 7.5 * l)))) ++ offDomain
      val t = Projection.transform(from, to)
      assert(t.steps.size == 2)
      agree(s"$from -> $to", t, pts)
      val (p, q) = (Projection.forCrs(from).get, Projection.forCrs(to).get)
      for ((Some(a), Some(b)) <- finite(pts)) {
        val (lon, lat) = p.inverse(a, b)
        val (x, y) = q.forward(lon, lat)
        assert(bits(Some(t(a, b)._1)) == bits(Some(x)) &&
          bits(Some(t(a, b)._2)) == bits(Some(y)), s"$from -> $to at ($a, $b)")
      }
    }
  }

  test("transformXY declines an unregistered CRS and is the identity " +
    "within one CRS") {
    intercept[IllegalArgumentException] {
      SpatialOps.transformXY("CRS84", "EPSG:9999", col("a"), col("b"))
    }
    val (x, y) = SpatialOps.transformXY("EPSG:4326", "CRS84", col("a"), col("b"))
    assert(x.toString == col("a").toString && y.toString == col("b").toString)
  }
}

object ProjectionSpec {

  /** `project_xy` running `p` forward over (lon, lat) columns. */
  def forwardCol(p: Projection, lon: Column, lat: Column): (Column, Column) =
    ProjectXY.col(lon, lat, CrsTransform(Vector(Projection.Step(p, forward = true))))

  /** `project_xy` running `p` inverse over (x, y) columns. */
  def inverseCol(p: Projection, x: Column, y: Column): (Column, Column) =
    ProjectXY.col(x, y, CrsTransform(Vector(Projection.Step(p, forward = false))))
}
