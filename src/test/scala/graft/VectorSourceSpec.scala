package graft

import graft.functions.GeomFunctions
import graft.operators.ExtractOps
import graft.sources.GeoJsonSource
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

class VectorSourceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()

  test("GeoJSON FeatureCollection → WKT geometry + typed property columns") {
    val json =
      """{"type": "FeatureCollection", "features": [
        {"type": "Feature",
         "geometry": {"type": "Polygon", "coordinates": [[[0,0],[10,0],[10,10],[0,10],[0,0]]]},
         "properties": {"name": "box", "cls": 1, "score": 0.5}},
        {"type": "Feature",
         "geometry": {"type": "Point", "coordinates": [5, 5]},
         "properties": {"name": "pt", "cls": 2, "score": 1.5}}
      ]}"""
    val f = Paths.get(TestDirs.tmpDir("features"), "features.geojson")
    Files.writeString(f, json)
    val df = GeoJsonSource.readFeatures(spark, f.toString)
    assert(df.columns.toSeq == Seq("geometry", "name", "cls", "score"))
    val rows = df.collect().map(r => r.getString(1) -> r).toMap
    assert(rows("box").getString(0).startsWith("POLYGON ((0.0 0.0, 10.0 0.0"))
    assert(rows("pt").getString(0) == "POINT (5.0 5.0)")
    assert(rows("box").getLong(2) == 1L && rows("pt").getDouble(3) == 1.5)
    // the produced WKT drives the geometry predicate directly
    import spark.implicits._
    val cells = Seq((5.0, 5.0), (15.0, 5.0)).toDF("x", "y")
    val n = cells.filter(GeomFunctions.geomMask(rows("box").getString(0))(col("x"), col("y"))).count()
    assert(n == 1)
  }

  test("Shapefile round-trip: points, polygons, typed dbf attributes, nulls") {
    import graft.sources.ShapefileSource
    import ShapefileSource.{DbfField, ShpPoint, ShpPolygon}
    val dir = new java.io.File(TestDirs.tmpDir("shp"))
    val fields = Seq(DbfField("name", 'C', 8, 0), DbfField("pop", 'N', 10, 0),
      DbfField("score", 'N', 12, 3))
    val pts = new java.io.File(dir, "pts.shp").getAbsolutePath
    ShapefileSource.writeFeatures(pts,
      Seq(ShpPoint(1.5, -2.5), ShpPoint(0.0, 10.0)),
      fields,
      Seq(Seq("a", 7L, 1.25), Seq("b", null, null)))
    val df = ShapefileSource.readFeatures(spark, pts)
    assert(df.columns.toSeq == Seq("geometry", "name", "pop", "score"))
    assert(df.schema("pop").dataType.typeName == "long")     // N dec=0
    assert(df.schema("score").dataType.typeName == "double") // N dec>0
    val rows = df.collect().map(r => r.getString(1) -> r).toMap
    assert(rows("a").getString(0) == "POINT (1.5 -2.5)")
    assert(rows("a").getLong(2) == 7L && rows("a").getDouble(3) == 1.25)
    assert(rows("b").isNullAt(2) && rows("b").isNullAt(3))
    // polygon with a hole: two rings survive the round-trip
    val pg = new java.io.File(dir, "pg.shp").getAbsolutePath
    ShapefileSource.writeFeatures(pg,
      Seq(ShpPolygon(Seq(
        Seq((0.0, 0.0), (8.0, 0.0), (8.0, 8.0), (0.0, 0.0)),
        Seq((2.0, 1.0), (3.0, 1.0), (2.0, 2.0), (2.0, 1.0))))),
      Seq(DbfField("name", 'C', 8, 0)), Seq(Seq("ring")))
    val wkt = ShapefileSource.readFeatures(spark, pg).head().getString(0)
    assert(wkt ==
      "POLYGON ((0.0 0.0, 8.0 0.0, 8.0 8.0, 0.0 0.0), (2.0 1.0, 3.0 1.0, 2.0 2.0, 2.0 1.0))")
  }

  test("Shapefile writer emits a valid .shx index sidecar") {
    import graft.sources.ShapefileSource
    import ShapefileSource.{DbfField, ShpPoint, ShpPolygon}
    import java.nio.{ByteBuffer, ByteOrder}
    val dir = new java.io.File(TestDirs.tmpDir("shx"))
    val shp = new java.io.File(dir, "mixed.shp").getAbsolutePath
    ShapefileSource.writeFeatures(shp,
      Seq(ShpPolygon(Seq(Seq((0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 0.0)))),
        ShpPolygon(Seq(Seq((1.0, 1.0), (2.0, 1.0), (1.0, 2.0), (1.0, 1.0))))),
      Seq(DbfField("name", 'C', 4, 0)), Seq(Seq("a"), Seq("b")))
    val shxRaw = Files.readAllBytes(Paths.get(shp.replaceAll("\\.shp$", ".shx")))
    val shpRaw = Files.readAllBytes(Paths.get(shp))
    val shx = ByteBuffer.wrap(shxRaw).order(ByteOrder.BIG_ENDIAN)
    assert(shx.getInt(0) == 9994)
    assert(shx.getInt(24) * 2 == shxRaw.length)        // its own length
    assert(shxRaw.length == 100 + 8 * 2)               // 2 records
    // each (offset, length) pair must index a real record header in the .shp
    val shpBuf = ByteBuffer.wrap(shpRaw).order(ByteOrder.BIG_ENDIAN)
    (0 until 2).foreach { i =>
      val off = shx.getInt(100 + 8 * i) * 2
      val len = shx.getInt(104 + 8 * i)
      assert(shpBuf.getInt(off) == i + 1)              // record number
      assert(shpBuf.getInt(off + 4) == len)            // content length agrees
    }
    // shape-type + bbox fields mirror the .shp header
    (28 until 68 by 4).foreach(o => assert(shx.getInt(o) == shpBuf.getInt(o)))
  }

  test("normalizeGeometry: WKT, GeoJSON, point, bbox, anti-meridian") {
    assert(GeomFunctions.normalizeGeometry("POINT (1 2)") == Seq("POINT (1 2)"))
    assert(GeomFunctions.normalizeGeometry((3.0, 4.0)) == Seq("POINT (3.0 4.0)"))
    assert(GeomFunctions.normalizeGeometry(
      """{"type": "Point", "coordinates": [7, 8]}""") == Seq("POINT (7.0 8.0)"))
    assert(GeomFunctions.normalizeGeometry((0.0, 0.0, 10.0, 10.0)).size == 1)
    assert(GeomFunctions.normalizeGeometry((170.0, 0.0, -170.0, 10.0)).size == 2)
    intercept[Exception](GeomFunctions.normalizeGeometry("not a geometry"))
  }

  test("normalizeLon360 shifts 0..360 to ±180") {
    import spark.implicits._
    val got = Seq(0.0, 179.0, 181.0, 359.5).toDF("lon")
      .select(GeomFunctions.normalizeLon360(col("lon")).as("l"))
      .collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(0.0, 179.0, -179.0, -0.5))
  }

  test("indexesFromBounds: irregular cells, left-closed, -1 outside") {
    import spark.implicits._
    // irregular cell bounds: [0,1), [1,3), [3,7)
    val bounds = Seq((0L, 0.0, 1.0), (1L, 1.0, 3.0), (2L, 3.0, 7.0))
      .toDF("idx", "lower", "upper")
    val pts = Seq((1, 0.5), (2, 1.0), (3, 2.99), (4, 7.0), (5, -0.1))
      .toDF("id", "c")
    val out = ExtractOps.indexesFromBounds(pts, bounds, "c", "c_index")
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(out == Map(1 -> 0L, 2 -> 1L, 3 -> 1L, 4 -> -1L, 5 -> -1L))
  }
}
