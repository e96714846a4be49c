package graft

import graft.sources.{DataStore, NetcdfSource, Sentinel3Source}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestDirs.tmpDir

class Sentinel3SourceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()

  /** 4×3 grid product: two band granules, one tie-point decoy (wrong dim
    * sizes), one renamed-dims decoy (right sizes, wrong names), one 1-D
    * decoy inside a band granule.
    */
  private def writeProduct(dir: String): Unit = {
    import NetcdfSource.NcDim
    val grid = Seq(NcDim("rows", 4), NcDim("columns", 3))
    NetcdfSource.write(s"$dir/geo_coordinates.nc", grid, Nil,
      Seq(("longitude", Seq("rows", "columns"),
          Array.tabulate(12)(k => 10.0 + k % 3)),
        ("latitude", Seq("rows", "columns"),
          Array.tabulate(12)(k => 50.0 + k / 3))))
    NetcdfSource.write(s"$dir/a_band.nc", grid, Nil,
      Seq(("band_a", Seq("rows", "columns"),
        Array.tabulate(12)(_.toDouble))))
    NetcdfSource.write(s"$dir/b_band.nc", grid, Nil,
      Seq(("band_b", Seq("rows", "columns"),
          Array.tabulate(12)(k => 100.0 + k)),
        ("row_vec", Seq("rows"), Array(1.0, 2.0, 3.0, 4.0))))
    NetcdfSource.write(s"$dir/tie.nc",
      Seq(NcDim("tp_rows", 2), NcDim("tp_columns", 2),
        NcDim("lines", 4), NcDim("samples", 3)), Nil,
      Seq(("TP_lat", Seq("tp_rows", "tp_columns"), Array.fill(4)(9.0)),
        ("renamed", Seq("lines", "samples"), Array.fill(12)(8.0))))
  }

  test("product detection: directory with geo_coordinates.nc") {
    val dir = tmpDir("sen3")
    assert(!Sentinel3Source.isSentinel3Product(dir))
    writeProduct(dir)
    assert(Sentinel3Source.isSentinel3Product(dir))
    assert(!Sentinel3Source.isSentinel3Product(s"$dir/a_band.nc"))
  }

  test("open binds matching bands + geo, rejects all three decoys") {
    val dir = tmpDir("sen3")
    writeProduct(dir)
    val df = Sentinel3Source.open(spark, dir)
    assert(df.columns.toSeq ==
      Seq("layer", "row", "col", "longitude", "latitude", "band_a", "band_b"))
    val rows = df.collect()
    assert(rows.length == 12)
    // cell (row 2, col 1) → flat 7: geo and both bands bound to the cell
    val r = rows.find(x => x.getInt(1) == 2 && x.getInt(2) == 1).get
    assert(r.getDouble(3) == 11.0 && r.getDouble(4) == 52.0)
    assert(r.getDouble(5) == 7.0 && r.getDouble(6) == 107.0)
  }

  test("varNames filter keeps geo but drops unlisted bands") {
    val dir = tmpDir("sen3")
    writeProduct(dir)
    val df = Sentinel3Source.open(spark, dir, Some(Set("band_b")))
    assert(df.columns.toSeq ==
      Seq("layer", "row", "col", "longitude", "latitude", "band_b"))
    assert(df.agg(sum(col("band_b"))).head.getDouble(0) == (100 to 111).sum)
  }

  test("missing geo_coordinates.nc is a loud error") {
    val dir = tmpDir("sen3")
    import NetcdfSource.NcDim
    NetcdfSource.write(s"$dir/a.nc", Seq(NcDim("rows", 2), NcDim("columns", 2)),
      Nil, Seq(("x", Seq("rows", "columns"), Array.fill(4)(1.0))))
    val e = intercept[IllegalArgumentException](Sentinel3Source.open(spark, dir))
    assert(e.getMessage.contains("geo_coordinates.nc"))
  }

  test("1-D or shape-mismatched longitude is rejected like the reference") {
    val dir = tmpDir("sen3")
    import NetcdfSource.NcDim
    NetcdfSource.write(s"$dir/geo_coordinates.nc", Seq(NcDim("rows", 4)),
      Seq(("rows", Array.tabulate(4)(_.toDouble))),
      Seq(("longitude", Seq("rows"), Array.fill(4)(1.0)),
        ("latitude", Seq("rows"), Array.fill(4)(2.0))))
    val e = intercept[IllegalArgumentException](Sentinel3Source.open(spark, dir))
    assert(e.getMessage.contains("two dimensions"))
  }

  test("DataStore.openDataset routes a product directory to the opener") {
    val dir = tmpDir("sen3")
    writeProduct(dir)
    val df = DataStore.openDataset(spark, dir)
    assert(df.columns.contains("band_a") && df.count() == 12)
  }
}
