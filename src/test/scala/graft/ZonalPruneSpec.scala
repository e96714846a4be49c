package graft

import graft.cube.{Cube, GridMapping}
import graft.operators.GeomOps
import graft.sources.ZarrSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import graft.TestDirs.tmpDir

/** Or-of-rectangles geometry pruning (round-16): a feature layer's
  * per-dim bbox unions ship as consumed same-column Or filters — chunk
  * pruning between features — while the exact Or-of-boxes runs as a
  * residual filter above the scan. Pruning is proven by corrupting every
  * chunk the unions exclude; exactness by the cross-product chunks whose
  * rows the residual must drop. */
class ZonalPruneSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = GraftSession.builder("4").getOrCreate()
    s.conf.set("spark.sql.files.minPartitionNum", "100000")
    s
  }

  /** 1×8×8 grid in 1×2×2 chunks (16 chunks), v = row-major ordinal. */
  private def writeFixture(): String = {
    import spark.implicits._
    val t = Array(0.0)
    val y = Array.tabulate(8)(_ + 0.5)
    val x = Array.tabulate(8)(_ + 0.5)
    val df = (for { yi <- y; xi <- x } yield
      (0.0, yi, xi, (yi - 0.5) * 8 + (xi - 0.5))).toSeq
      .toDF("t", "y", "x", "v")
    val g = s"${tmpDir("zonal")}/cube.zarr"
    ZarrSource.writeCubeVars(df, g, Seq("v"),
      Seq("t" -> t, "y" -> y, "x" -> x), chunks = Seq(1, 2, 2))
    g
  }

  private val gm = GridMapping(8, 8, 0.0, 0.0, 1.0, 1.0)
  // two corner features: chunk (0,0) and chunk (3,3); the per-dim unions
  // also admit the cross-product chunks (0,3) and (3,0)
  private val feats = Seq(
    "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))",
    "POLYGON ((6 6, 8 6, 8 8, 6 8, 6 6))")

  import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
  private def scanOf(df: DataFrame): BatchScanExec =
    df.queryExecution.sparkPlan.collectLeaves()
      .collectFirst { case b: BatchScanExec => b }.get

  test("per-dim unions consume; the residual Or-of-boxes restores exactness") {
    val g = writeFixture()
    val cube = Cube(spark.read.format("zarr").load(g), gm, "t", "y", "x")
    val clipped = GeomOps.clipToFeatureBboxes(cube, feats)
    // union-covered chunks only: 2×2 of 16 plan
    assert(scanOf(clipped.df).inputRDD.getNumPartitions === 4)
    // the same-dim Or unions were CONSUMED (they are in the scan's
    // pushed filters); the cross-column Or stayed a residual Filter
    val plan = clipped.df.queryExecution.executedPlan.toString
    assert(plan.contains("Filter"), plan.take(900))
    assert(plan.replaceAll("\\s+", " ")
      .matches(".*PushedFilters: \\[[^\\]]+Or.*"), plan.take(900))
    // exactness: only the 8 cells of the two true boxes survive — the
    // cross-product chunks' rows are dropped by the residual
    val rows = clipped.df.select("y", "x", "v").collect()
      .map(r => (r.getDouble(0), r.getDouble(1))).sorted.toSeq
    val want = (for { j <- 0 until 2; i <- 0 until 2 } yield
      (j + 0.5, i + 0.5)) ++
      (for { j <- 6 until 8; i <- 6 until 8 } yield (j + 0.5, i + 0.5))
    assert(rows === want.sorted)
  }

  test("chunks between features are never read (corruption proof)") {
    val g = writeFixture()
    // corrupt every chunk the per-dim unions exclude: only y-chunks
    // {0,3} × x-chunks {0,3} may be read
    val keep = Set("0.0.0", "0.0.3", "0.3.0", "0.3.3")
    new java.io.File(s"$g/v").listFiles()
      .filter(f => f.getName.head.isDigit && !keep.contains(f.getName))
      .foreach(f => Files.write(f.toPath, Array[Byte](9, 9, 9)))
    val cube = Cube(spark.read.format("zarr").load(g), gm, "t", "y", "x")
    val clipped = GeomOps.clipToFeatureBboxes(cube, feats)
    val agg = clipped.df.agg(count(lit(1)), sum("v")).head()
    assert(agg.getLong(0) === 8L)
    // zone sums: box A cells v = {0,1,8,9}; box B v = {54,55,62,63}
    assert(agg.getDouble(1) === (0.0 + 1 + 8 + 9) + (54.0 + 55 + 62 + 63))
  }

  test("multi-part geometry time series prunes between the islands") {
    val g = writeFixture()
    // same corruption as above: only the union-covered chunks survive
    val keep = Set("0.0.0", "0.0.3", "0.3.0", "0.3.3")
    new java.io.File(s"$g/v").listFiles()
      .filter(f => f.getName.head.isDigit && !keep.contains(f.getName))
      .foreach(f => Files.write(f.toPath, Array[Byte](9, 9, 9)))
    val cube = Cube(spark.read.format("zarr").load(g), gm, "t", "y", "x")
    val ts = graft.operators.TimeSeriesOps.getTimeSeries(cube, "v",
      geometryWkt = Some("MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), " +
        "((6 6, 8 6, 8 8, 6 8, 6 6)))"),
      methods = Seq("count", "sum"), clipToBbox = true)
    val row = ts.head()
    assert(row.getLong(ts.columns.indexOf("v_count")) === 8L)
    assert(row.getDouble(ts.columns.indexOf("v_sum")) ===
      (0.0 + 1 + 8 + 9) + (54.0 + 55 + 62 + 63))
  }

  test("masked per-slice MEDIAN: exact under the residual mask, island-pruned") {
    val g = writeFixture()
    // corrupt every chunk outside the per-dim bbox unions: the quantile
    // fold's pass 0, refinement histogram, and exact finish must all
    // stay inside the union-admitted chunks
    val keep = Set("0.0.0", "0.0.3", "0.3.0", "0.3.3")
    new java.io.File(s"$g/v").listFiles()
      .filter(f => f.getName.head.isDigit && !keep.contains(f.getName))
      .foreach(f => Files.write(f.toPath, Array[Byte](9, 9, 9)))
    val cube = Cube(spark.read.format("zarr").load(g), gm, "t", "y", "x")
    // triangle (covers cells {0,1,8} — the mask is NOT its bbox) + box
    val wkts = Seq("POLYGON ((0 0, 2 0, 0 2, 0 0))",
      "POLYGON ((6 6, 8 6, 8 8, 6 8, 6 6))")
    val clipped = GeomOps.clipToFeatureBboxes(cube, wkts)
    val inG = wkts.map(w =>
      graft.functions.GeomFunctions.geomMask(w)(col("x"), col("y")))
      .reduce(_ || _)
    val got = graft.operators.TemporalOps.resampleQuantileFold(
      clipped.df.filter(inG), "t", 86400.0, "1D", "v", 0.5)
    // surviving values {0,1,8} ∪ {54,55,62,63} → median 54 (7 values)
    assert(got.select("v_median").head().getDouble(0) === 54.0)
  }

  test("single feature degenerates to the plain bbox clip") {
    val g = writeFixture()
    val cube = Cube(spark.read.format("zarr").load(g), gm, "t", "y", "x")
    val one = GeomOps.clipToFeatureBboxes(cube, feats.take(1))
    assert(scanOf(one.df).inputRDD.getNumPartitions === 1)
    assert(one.df.count() === 4L)
    val same = GeomOps.clipByGeometry(cube, feats.head)
    assert(one.df.select("y", "x", "v").collect().toSet ===
      same.df.select("y", "x", "v").collect().toSet)
  }
}
