package graft

import graft.cube.{Cube, GridMapping}
import graft.operators.MaintenanceOps
import graft.sources.{DataStore, FsDataStore, MemoryDataStore}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import graft.TestDirs.tmpDir

class StoreMaintenanceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()

  test("FsDataStore: list/describe/open/write with format inference") {
    import spark.implicits._
    val root = tmpDir("store")
    val store = new FsDataStore(spark, root)
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "k", "v")
    store.write("t1.parquet", df)
    store.write("t2.csv", df)
    assert(store.listDataIds() == Seq("t1.parquet", "t2.csv"))
    assert(store.open("t1.parquet").count() == 2)
    val csv = store.open("t2.csv")
    assert(csv.count() == 2)
    assert(csv.columns.toSeq == Seq("id", "k", "v")) // header round-trip
    assert(store.describe("t1.parquet").contains("id"))
    assert(DataStore.formatFor("x.GeoJSON") == "json")
    // get_filename_extensions parity: every inferable extension is listed,
    // writers exclude the open-only geojson route
    val exts = DataStore.filenameExtensions()
    assert(exts(".nc") == Seq("netcdf") && exts(".refs.json") == Seq("kerchunk"))
    assert(exts.keySet.forall(e => DataStore.formatFor(s"x$e") != null))
    assert(!DataStore.filenameExtensions("writers").contains(".geojson"))
    intercept[IllegalArgumentException](DataStore.filenameExtensions("nope"))
  }

  test("MemoryDataStore round-trips through temp views") {
    import spark.implicits._
    val store = new MemoryDataStore(spark)
    store.write("mem_t", Seq(1, 2, 3).toDF("x"), mode = "overwrite")
    assert(store.listDataIds() == Seq("mem_t"))
    assert(store.open("mem_t").count() == 3)
  }

  test("rechunk repartitions by (date, block)") {
    import spark.implicits._
    val gm = GridMapping(4, 4, 0.0, 0.0, 1.0, 1.0, tileWidth = 2, tileHeight = 2)
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = for (j <- 0 until 4; i <- 0 until 4) yield (t0, j + 0.5, i + 0.5, 1.0)
    val cube = Cube(rows.toDF("time", "y", "x", "v"), gm)
    val plan = MaintenanceOps.rechunk(cube).df.queryExecution.logical.toString
    assert(plan.contains("RepartitionByExpression"), plan)
  }

  test("pruneEmptyBlocks drops all-NaN blocks, keeps NaN cells of live blocks") {
    import spark.implicits._
    val gm = GridMapping(4, 2, 0.0, 0.0, 1.0, 1.0, tileWidth = 2, tileHeight = 2)
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    // left block: one valid + NaNs; right block: all NaN
    val rows = Seq(
      (t0, 0.5, 0.5, 1.0), (t0, 0.5, 1.5, Double.NaN),
      (t0, 1.5, 0.5, Double.NaN), (t0, 1.5, 1.5, Double.NaN),
      (t0, 0.5, 2.5, Double.NaN), (t0, 0.5, 3.5, Double.NaN))
    val cube = Cube(rows.toDF("time", "y", "x", "v"), gm)
    val pruned = MaintenanceOps.pruneEmptyBlocks(cube, "v")
    assert(pruned.df.count() == 4) // whole left block survives, incl. its NaNs
    assert(pruned.df.agg(max("x")).head().getDouble(0) == 1.5)
  }

  test("optimize compacts a parquet dir without changing its content") {
    import spark.implicits._
    val path = tmpDir("opt") + "/data"
    spark.range(100).repartition(10).write.parquet(path)
    MaintenanceOps.optimize(spark, path, 1)
    val files = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == 1)
    assert(spark.read.parquet(path).count() == 100)
  }

  test("findAncillaryVarNames: declared attr, standard-name modifier, xcube prefixes") {
    import spark.implicits._
    val base = Seq((1.0, 0.1, 5L, 2.0)).toDF("chl", "chl_err", "chl_count", "other")
    // pass 1: explicit ancillary_variables attr wins, modifier from std name
    val d1a = MaintenanceOps.updateVarAttrs(base, "chl",
      Map("standard_name" -> "chlorophyll", "ancillary_variables" -> "chl_err missing"))
    val d1 = MaintenanceOps.updateVarAttrs(d1a, "chl_err",
      Map("standard_name" -> "chlorophyll standard_error"))
    assert(MaintenanceOps.findAncillaryVarNames(d1, "chl") ==
      Map("standard_error" -> Set("chl_err")))
    // pass 2: no declared attr — other vars matched by std-name modifier
    val d2a = MaintenanceOps.updateVarAttrs(base, "chl",
      Map("standard_name" -> "chlorophyll"))
    val d2 = MaintenanceOps.updateVarAttrs(d2a, "chl_count",
      Map("standard_name" -> "chlorophyll number_of_observations"))
    assert(MaintenanceOps.findAncillaryVarNames(d2, "chl") ==
      Map("number_of_observations" -> Set("chl_count")))
    // pass 3: nothing in metadata — the xcube _std/_count prefixes
    val d3 = Seq((1.0, 0.1, 5L)).toDF("v", "v_std", "v_count")
    assert(MaintenanceOps.findAncillaryVarNames(d3, "v") ==
      Map("standard_error" -> Set("v_std"),
        "number_of_observations" -> Set("v_count")))
    assert(MaintenanceOps.findAncillaryVarNames(d3, "nope").isEmpty)
  }

  test("updateVarAttrs + dump") {
    import spark.implicits._
    val df = MaintenanceOps.updateVarAttrs(
      Seq(1.0).toDF("v"), "v", Map("units" -> "mg/m3"))
    assert(df.schema("v").metadata.getString("units") == "mg/m3")
    val gm = GridMapping(4, 2, 0.0, 0.0, 1.0, 1.0)
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    val cube = Cube(Seq((t0, 0.5, 0.5, 1.0)).toDF("time", "y", "x", "v"), gm)
    val s = MaintenanceOps.dump(cube)
    assert(s.contains("4x2") && s.contains("vars: v"))
  }

  test("bucketed fact-fact join runs with no Exchange and no Sort") {
    import graft.sources.BucketedLayout
    val d = "/root/testdata/sf0.001"
    val li = spark.read.parquet(s"$d/lineitem.parquet")
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    val o = spark.read.parquet(s"$d/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    BucketedLayout.writeBucketed(li, "li_bkt", "l_orderkey", 8)
    BucketedLayout.writeBucketed(
      o.withColumnRenamed("o_orderkey", "l_orderkey"), "o_bkt", "l_orderkey", 8)
    // hint("merge"): at this tiny SF Spark would rightly broadcast; the
    // assertion targets the big-data plan — sort-merge over buckets
    val joined = BucketedLayout.openBucketed(spark, "li_bkt").hint("merge")
      .join(BucketedLayout.openBucketed(spark, "o_bkt"), "l_orderkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
    // same answer as the shuffle join over the raw files
    val expected = li.join(o, li("l_orderkey") === o("o_orderkey")).count()
    assert(joined.count() == expected)
  }

  test("store protocols: file:// parity with plain paths; s3a:// URIs reach Hadoop FS") {
    import graft.sources.FsDataStore
    import spark.implicits._
    val root = tmpDir("store_proto")
    val viaUri = new FsDataStore(spark, s"file://$root")
    val viaPath = new FsDataStore(spark, root)
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    viaUri.write("proto_demo.parquet", df, mode = "overwrite")
    // the same data is visible through both addressing forms
    assert(viaUri.listDataIds().contains("proto_demo.parquet"))
    assert(viaPath.listDataIds().contains("proto_demo.parquet"))
    assert(viaPath.open("proto_demo.parquet").count() == 2)
    assert(viaUri.open("proto_demo.parquet").count() == 2)

    // s3a:// routes through the same Hadoop-FS resolution (plugin.py:82-89's
    // protocol matrix). Without the optional hadoop-aws connector on the
    // classpath (and offline), the failure must be the connector lookup —
    // i.e. our store passed the URI through — not a path-handling bug.
    val s3 = new FsDataStore(spark, "s3a://graft-test-bucket/cubes")
    val outcome = try { s3.listDataIds(); Right(()) } catch {
      case e: Throwable => Left(e)
    }
    outcome match {
      case Right(_) => // connector present and reachable — fine
      case Left(e) =>
        val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .map(x => x.getClass.getName + ": " + Option(x.getMessage).getOrElse(""))
          .mkString(" <- ")
        assert(chain.contains("S3A") || chain.contains("s3a") ||
          chain.contains("ClassNotFound") || chain.contains("No FileSystem"),
          s"s3a failed before reaching Hadoop FS resolution: $chain")
    }
  }

  test("NetCDF classic round-trip: dims, coords, row-major data, distributed decode") {
    import graft.sources.NetcdfSource
    import NetcdfSource.NcDim
    val dir = new java.io.File(TestDirs.tmpDir("graft_nc"))
    val p = new java.io.File(dir, "t.nc").getAbsolutePath
    // 2×3 grid, y coord var present, x left to index fallback
    NetcdfSource.write(p,
      Seq(NcDim("y", 2), NcDim("x", 3)),
      Seq(("y", Array(10.5, 11.5))),
      Seq(("v", Seq("y", "x"), Array(1.0, 2.0, 3.0, 4.0, 5.0, 6.0))))
    val nc = NetcdfSource.read(p)
    assert(nc.dims == Seq(NcDim("y", 2), NcDim("x", 3)))
    assert(nc.varByName("v").data.toSeq == Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0))
    val rows = NetcdfSource.readCube(spark, p, "v").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(rows.size == 6)
    assert(rows((10.5, 0.0)) == 1.0) // row-major: first row is y=10.5
    assert(rows((10.5, 2.0)) == 3.0)
    assert(rows((11.5, 0.0)) == 4.0) // second row
    assert(rows((11.5, 2.0)) == 6.0)
    // distributed multi-granule decode unions files with a file column
    val p2 = new java.io.File(dir, "t2.nc").getAbsolutePath
    NetcdfSource.write(p2,
      Seq(NcDim("y", 2), NcDim("x", 3)),
      Seq(("y", Array(10.5, 11.5))),
      Seq(("v", Seq("y", "x"), Array.fill(6)(9.0))))
    val multi = NetcdfSource.readCubeFiles(spark, Seq(p, p2), "v")
    assert(multi.count() == 12)
    assert(multi.filter(col("file").contains("t2.nc") && col("v") === 9.0).count() == 6)
    // a granule whose variable has a DIFFERENT dim order must fail loudly,
    // naming the offending path — not silently mislabel coordinate columns
    val p3 = new java.io.File(dir, "t3.nc").getAbsolutePath
    NetcdfSource.write(p3,
      Seq(NcDim("x", 3), NcDim("y", 2)),
      Seq(("y", Array(10.5, 11.5))),
      Seq(("v", Seq("x", "y"), Array.fill(6)(1.0))))
    val err = intercept[org.apache.spark.SparkException] {
      NetcdfSource.readCubeFiles(spark, Seq(p, p3), "v").count()
    }
    val chain = Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(chain.contains("t3.nc") && chain.contains("schema probe"))
  }

  test("CF mask_and_scale: packed values decode, fills go NaN (xarray default)") {
    import graft.sources.NetcdfSource
    import graft.sources.NetcdfSource.NcDim
    val dir = tmpDir("cf")
    val p = s"$dir/packed.nc"
    val y = Array(0.0, 1.0, 2.0)
    // raw "counts" with a fill sentinel; physical = raw*0.5 + 100
    NetcdfSource.write(p, Seq(NcDim("y", 3)), Seq("y" -> y),
      Seq(("v", Seq("y"), Array(10.0, -999.0, 30.0))),
      varAttrs = Map("v" -> Seq(
        ("scale_factor", 0.5), ("add_offset", 100.0), ("_FillValue", -999.0))))
    val nc = NetcdfSource.read(p)
    val v = nc.varByName("v")
    assert(v.data(0) == 105.0 && v.data(2) == 115.0, v.data.toSeq.toString)
    assert(v.data(1).isNaN)
    // attributes survive the round-trip; attr-less vars untouched
    assert(v.attrs("scale_factor").toDouble == 0.5)
    assert(nc.varByName("y").data.sameElements(y))
    // missing_value alone also masks (no scaling)
    val p2 = s"$dir/masked.nc"
    NetcdfSource.write(p2, Seq(NcDim("y", 3)), Seq("y" -> y),
      Seq(("v", Seq("y"), Array(1.5, -1.0, 2.5))),
      varAttrs = Map("v" -> Seq(("missing_value", -1.0))))
    val v2 = NetcdfSource.read(p2).varByName("v")
    assert(v2.data(0) == 1.5 && v2.data(1).isNaN && v2.data(2) == 2.5)
    // _Unsigned: negative byte raws re-interpret as unsigned BEFORE the
    // fill compare and scaling (the classic-format unsigned convention)
    import graft.sources.NetcdfSource.{NcFile, NcVar}
    val vb = NcVar("b", 1, Seq(0), Map("_Unsigned" -> "true",
      "scale_factor" -> "0.5", "_FillValue" -> "-1"),
      Array(-2.0, -1.0, 10.0))
    val out = NetcdfSource.maskAndScale(
      NcFile(Seq(NcDim("y", 3)), Map.empty, Seq(vb))).varByName("b").data
    assert(out(0) == 127.0, out.toSeq.toString) // (-2 -> 254) * 0.5
    assert(out(1).isNaN)                        // -1 -> 255 == unsigned fill
    assert(out(2) == 5.0)
  }

  test("NetCDF record (unlimited) dimension: interleaved layout round-trips") {
    import graft.sources.NetcdfSource
    import NetcdfSource.NcDim
    val dir = new java.io.File(TestDirs.tmpDir("graft_nc_rec"))
    val p = new java.io.File(dir, "rec.nc").getAbsolutePath
    // time is UNLIMITED (3 records), x fixed; time coord + v(time, x) are
    // both record variables → the per-record interleaved block layout
    NetcdfSource.write(p,
      Seq(NcDim("time", 3), NcDim("x", 2)),
      Seq(("time", Array(100.0, 200.0, 300.0)), ("x", Array(0.5, 1.5))),
      Seq(("v", Seq("time", "x"), Array(1.0, 2.0, 3.0, 4.0, 5.0, 6.0))),
      recordDim = Some("time"))
    val nc = NetcdfSource.read(p)
    // the size-0 sentinel resolves to numrecs
    assert(nc.dims == Seq(NcDim("time", 3), NcDim("x", 2)))
    assert(nc.varByName("time").data.toSeq == Seq(100.0, 200.0, 300.0))
    assert(nc.varByName("x").data.toSeq == Seq(0.5, 1.5))
    assert(nc.varByName("v").data.toSeq == Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0))
    val rows = NetcdfSource.readCube(spark, p, "v").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(rows((100.0, 0.5)) == 1.0 && rows((200.0, 1.5)) == 4.0 &&
      rows((300.0, 0.5)) == 5.0)
    // header-only probe sees the resolved record count too
    assert(NetcdfSource.readHeader(p).dims.head.size == 3)
  }

  test("GeoTIFF multi-band: 2-band inline and 3-band external tag vectors") {
    import graft.sources.GeoTiffSource
    val dir = new java.io.File(TestDirs.tmpDir("graft_tif_mb"))
    val b1 = Array(1.0, 2.0, 3.0, 4.0)
    val b2 = Array(10.0, 20.0, 30.0, 40.0)
    val b3 = Array(0.5, Double.NaN, 2.5, 3.5)
    // 3 bands → BitsPerSample/SampleFormat no longer fit inline (external
    // SHORT arrays); exercise striped+deflate AND tiled layouts
    for ((tileSize, name) <- Seq(0 -> "striped", 2 -> "tiled")) {
      val r = GeoTiffSource.Raster(2, 2, IndexedSeq(b1, b2, b3),
        1.0, 1.0, 100.0, 50.0)
      val p = new java.io.File(dir, s"rgb_$name.tif").getAbsolutePath
      GeoTiffSource.write(p, r, deflate = true, tileSize = tileSize)
      val back = GeoTiffSource.read(p)
      assert(back.bands.length == 3)
      (0 until 3).foreach { k =>
        assert(back.bands(k).toSeq.zip(r.bands(k).toSeq).forall { case (a, b) =>
          a == b || (a.isNaN && b.isNaN) }, s"band $k, $name")
      }
      val df = GeoTiffSource.readRaster(spark, p)
      assert(df.columns.toSeq ==
        Seq("col", "row", "x", "y", "band_1", "band_2", "band_3"))
      val row0 = df.filter(col("col") === 1 && col("row") === 1).head()
      assert(row0.getDouble(4) == 4.0 && row0.getDouble(5) == 40.0 &&
        row0.getDouble(6) == 3.5)
    }
    // 2 bands stay on the inline-value path
    val p2 = new java.io.File(dir, "two.tif").getAbsolutePath
    GeoTiffSource.write(p2,
      GeoTiffSource.Raster(2, 2, IndexedSeq(b1, b2), 1.0, 1.0, 0.0, 2.0))
    val two = GeoTiffSource.read(p2)
    assert(two.bands.length == 2 && two.bands(1).toSeq == b2.toSeq)
    // single-band files keep the original `v` contract
    val p1 = new java.io.File(dir, "one.tif").getAbsolutePath
    GeoTiffSource.write(p1, GeoTiffSource.Raster(2, 2, b1, 1.0, 1.0, 0.0, 2.0))
    assert(GeoTiffSource.readRaster(spark, p1).columns.toSeq ==
      Seq("col", "row", "x", "y", "v"))
  }

  test("GeoTIFF round-trip: georeferencing, row-major strips, deflate") {
    import graft.sources.GeoTiffSource
    val dir = new java.io.File(TestDirs.tmpDir("graft_tif"))
    // 3×2 raster, origin (100, 50), 2×2 pixels, north-up
    val r = GeoTiffSource.Raster(3, 2, Array(1.0, 2.0, 3.0, 4.0, Double.NaN, 6.0),
      2.0, 2.0, 100.0, 50.0)
    for (deflate <- Seq(false, true)) {
      val p = new java.io.File(dir, s"t_$deflate.tif").getAbsolutePath
      GeoTiffSource.write(p, r, deflate)
      val back = GeoTiffSource.read(p)
      assert(back.width == 3 && back.height == 2)
      assert(back.data.toSeq.zip(r.data.toSeq).forall { case (a, b) =>
        a == b || (a.isNaN && b.isNaN) })
      val rows = GeoTiffSource.readRaster(spark, p).collect()
        .map(x => (x.getDouble(2), x.getDouble(3)) -> x.getDouble(4)).toMap
      assert(rows((101.0, 49.0)) == 1.0)  // col 0 row 0: top-left center
      assert(rows((105.0, 49.0)) == 3.0)  // col 2 row 0
      assert(rows((101.0, 47.0)) == 4.0)  // col 0 row 1 (y decreases)
      assert(rows((105.0, 47.0)) == 6.0)
      // the store's format inference routes .tif through this source
      assert(DataStore.openDataset(spark, p).columns.toSeq ==
        Seq("col", "row", "x", "y", "v"))
    }
  }

  test("GeoTIFF GDAL_NODATA: sentinel masks to NaN on read, NaN re-packs on write") {
    import graft.sources.{GeoTiffSource, KerchunkSource}
    val dir = new java.io.File(TestDirs.tmpDir("graft_tifnd"))
    // float64: NaN pixels leave as -9999, sentinel pixels come back NaN
    val r = GeoTiffSource.Raster(3, 2,
      Array(1.0, Double.NaN, 3.0, 4.0, Double.NaN, 6.0), 2.0, 2.0, 100.0, 50.0)
    val p = new java.io.File(dir, "nd.tif").getAbsolutePath
    GeoTiffSource.write(p, r, deflate = true, nodata = Some(-9999.0))
    // on disk the pixels are the sentinel (parse the raw tag-free way:
    // a reader ignoring the tag sees -9999)
    val tags = GeoTiffSource.readFirstIfdTags(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))._1
    assert(GeoTiffSource.nodataFrom(tags).contains(-9999.0))
    val back = GeoTiffSource.read(p)
    assert(back.data.toSeq.zip(r.data.toSeq).forall { case (a, b) =>
      a == b || (a.isNaN && b.isNaN) }, back.data.toSeq.toString)
    // int16: NaN has no encoding at all — the sentinel is the only way
    val p16 = new java.io.File(dir, "nd16.tif").getAbsolutePath
    GeoTiffSource.write(p16, r, bits = 16, nodata = Some(-9999.0))
    val back16 = GeoTiffSource.read(p16)
    assert(back16.data.toSeq.zip(r.data.toSeq).forall { case (a, b) =>
      a == b || (a.isNaN && b.isNaN) }, back16.data.toSeq.toString)
    // float32 (the dominant published-raster sample type) round-trips
    // through the same masked path
    val p32 = new java.io.File(dir, "nd32.tif").getAbsolutePath
    GeoTiffSource.write(p32, r, deflate = true, bits = 32, nodata = Some(-9999.0))
    val back32 = GeoTiffSource.read(p32)
    assert(back32.data.toSeq.zip(r.data.toSeq).forall { case (a, b) =>
      a == b || (a.isNaN && b.isNaN) }, back32.data.toSeq.toString)
    // a tag-less raster with the same bit pattern stays unmasked
    val p2 = new java.io.File(dir, "raw.tif").getAbsolutePath
    GeoTiffSource.write(p2, GeoTiffSource.Raster(2, 1,
      Array(-9999.0, 5.0), 1.0, 1.0, 0.0, 1.0))
    assert(GeoTiffSource.read(p2).data.toSeq == Seq(-9999.0, 5.0))
    // kerchunk scan carries the sentinel as a CF _FillValue → masked read
    val refsPath = new java.io.File(dir, "nd.refs.json").getAbsolutePath
    Files.writeString(java.nio.file.Paths.get(refsPath),
      KerchunkSource.scanGeoTiff(p))
    val kb = spark.read.format("kerchunk").option("vars", "v").load(refsPath).collect()
      .map(x => (x.getDouble(0), x.getDouble(1)) -> x.getDouble(2)).toMap
    assert(kb((49.0, 101.0)) == 1.0 && kb((49.0, 103.0)).isNaN
      && kb((47.0, 103.0)).isNaN && kb((47.0, 105.0)) == 6.0, kb.toString)
  }

  test("diffDatasets: presence is row existence, not value non-nullness") {
    import spark.implicits._
    import graft.operators.MaintenanceOps
    import org.apache.spark.sql.functions.{col, when}
    def v(rows: Seq[(Long, java.lang.Double)]) =
      rows.toDF("k", "raw")
        .select(col("k"), when(col("raw").isNotNull, col("raw")).as("v"))
    // k=1 null→null (same), k=2 null→5 (changed), k=3 7→null (changed),
    // k=4 only-before (removed), k=5 only-after (added), k=6 2→2 (same)
    val before = v(Seq((1L, null), (2L, null), (3L, 7.0), (4L, 9.0), (6L, 2.0)))
    val after = v(Seq((1L, null), (2L, 5.0), (3L, null), (5L, 1.0), (6L, 2.0)))
    val d = MaintenanceOps.diffDatasets(before, after, Seq("k"), "v")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(d == Map(1L -> "same", 2L -> "changed", 3L -> "changed",
      4L -> "removed", 5L -> "added", 6L -> "same"), d)
  }

  test("fixture markers fingerprint their config: changed config rebuilds, same reuses") {
    val path = new java.io.File(tmpDir("graft_fixture"), "layout").getAbsolutePath
    var builds = 0
    def build(fp: String): Unit = Fixtures.ensureWritten(path, fp) {
      builds += 1
      new java.io.File(path).mkdirs()
      Files.writeString(new java.io.File(path, s"data_$builds.txt").toPath, fp)
    }
    build("tile=64"); assert(builds == 1)
    build("tile=64"); assert(builds == 1, "same fingerprint must not rebuild")
    build("tile=128") // a flipped writer parameter
    assert(builds == 2, "changed fingerprint must rebuild")
    // the stale layout was deleted, not merged
    val files = new java.io.File(path).list().toSeq
    assert(files.contains("data_2.txt") && !files.contains("data_1.txt"), files)
    build("tile=128"); assert(builds == 2)
  }

  test("layout places <name>_<sf> under the working directory's .graft-fixtures") {
    val sfDir = tmpDir("sf")
    val sf = new java.io.File(sfDir).getName
    val name = "layout_spec"
    val expected = Paths.get(".graft-fixtures", s"${name}_$sf").toAbsolutePath.toString
    assert(Fixtures.root === Paths.get(".graft-fixtures").toAbsolutePath.toString)
    var handed = Seq.empty[String]
    def build(fp: String): String = Fixtures.layout(sfDir, name, fp) { dir =>
      assert(new java.io.File(dir).isDirectory, s"$dir was not created")
      assert(new java.io.File(dir).list().isEmpty, s"$dir is not empty")
      handed :+= dir
      Files.writeString(Paths.get(dir, "data.txt"), fp)
    }
    try {
      assert(build("tile=64") === expected)
      assert(build("tile=64") === expected)
      assert(handed === Seq(expected), "same fingerprint must not rebuild")
      assert(build("tile=128") === expected)
      assert(handed === Seq(expected, expected), "changed fingerprint must rebuild")
      assert(Files.readString(Paths.get(expected, "data.txt")) === "tile=128")
    } finally {
      Seq(Paths.get(expected, "_GRAFT_DONE"), Paths.get(expected, "data.txt"),
        Paths.get(expected), Paths.get(Fixtures.root, s".${name}_$sf.lock"))
        .foreach(Files.deleteIfExists)
    }
  }
}
