package graft

import graft.sources.FsDataStore
import graft.sources.s3.{S3Emulator, S3GraftFileSystem, S3RestClient}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** S3 protocol emulation tests — client, Hadoop FileSystem, and full Spark
  * parquet round-trips against the in-JVM object server (the reference's
  * moto-based S3 store tests, re-expressed). */
class S3EmulatorSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = GraftSession.builder("4").getOrCreate()
    s.sparkContext.hadoopConfiguration.set("fs.s3g.impl",
      classOf[S3GraftFileSystem].getName)
    s.sparkContext.hadoopConfiguration.set("fs.s3g.endpoint",
      S3Emulator.shared.endpoint)
    s
  }

  private lazy val client = new S3RestClient(S3Emulator.shared.endpoint)

  test("REST client: put/get/head/ranged-get/delete round-trip") {
    val bytes = (0 until 5000).map(i => (i % 251).toByte).toArray
    client.createBucket("t1")
    client.putObject("t1", "dir/obj.bin", bytes)

    assert(client.head("t1", "dir/obj.bin").map(_._1) === Some(5000L))
    assert(client.head("t1", "missing") === None)
    assert(client.getObject("t1", "dir/obj.bin").toSeq === bytes.toSeq)
    // ranged read, inclusive bounds
    assert(client.getObject("t1", "dir/obj.bin", Some((10L, 19L))).toSeq ===
      bytes.slice(10, 20).toSeq)
    // tail read
    assert(client.getObject("t1", "dir/obj.bin", Some((4990L, 5100L))).toSeq ===
      bytes.slice(4990, 5000).toSeq)
    intercept[java.io.FileNotFoundException](client.getObject("t1", "missing"))

    client.deleteObject("t1", "dir/obj.bin")
    assert(client.head("t1", "dir/obj.bin") === None)
  }

  test("REST client: ListObjectsV2 with delimiter, prefix, and pagination") {
    client.createBucket("t2")
    for (i <- 0 until 25) client.putObject("t2", f"a/f$i%03d", Array[Byte](1))
    client.putObject("t2", "a/sub/deep", Array[Byte](2, 2))
    client.putObject("t2", "b/x", Array[Byte](3))

    // delimiter folds a/sub/ into a common prefix
    val (objs, prefs) = client.listV2("t2", "a/", Some("/"))
    assert(objs.map(_._1) === (0 until 25).map(i => f"a/f$i%03d"))
    assert(prefs === Seq("a/sub/"))

    // pagination: 4-key pages must still return everything exactly once
    val (paged, _) = client.listV2("t2", "a/", None, maxKeysPerPage = 4)
    assert(paged.map(_._1).sorted ===
      ((0 until 25).map(i => f"a/f$i%03d") :+ "a/sub/deep").sorted)

    // no delimiter: recursive enumeration
    val (all, noPrefs) = client.listV2("t2", "", None)
    assert(all.size === 27 && noPrefs.isEmpty)
  }

  test("FileSystem: create/open-with-seek/list/rename/delete contract") {
    val fs = new Path("s3g://fstest/").getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val data = (0 until 100000).map(i => (i * 7 % 256).toByte).toArray

    val p = new Path("s3g://fstest/dir/file.bin")
    val out = fs.create(p, true)
    out.write(data); out.close()

    val st = fs.getFileStatus(p)
    assert(!st.isDirectory && st.getLen === 100000)
    // virtual directory status
    assert(fs.getFileStatus(new Path("s3g://fstest/dir")).isDirectory)
    intercept[java.io.FileNotFoundException](
      fs.getFileStatus(new Path("s3g://fstest/nope")))

    // seek across the read-ahead chunk boundary and read back exact bytes
    val in = fs.open(p)
    val b4 = new Array[Byte](4)
    in.seek(99996); in.readFully(b4)
    assert(b4.toSeq === data.slice(99996, 100000).toSeq)
    in.seek(0); assert(in.read() === (data(0) & 0xff))
    // positioned read (PositionedReadable path used by parquet)
    val b8 = new Array[Byte](8)
    in.readFully(50000L, b8)
    assert(b8.toSeq === data.slice(50000, 50008).toSeq)
    in.close()

    // listStatus of the parent folds into files + virtual dirs
    fs.create(new Path("s3g://fstest/dir/sub/leaf.bin"), true).close()
    val ls = fs.listStatus(new Path("s3g://fstest/dir"))
    assert(ls.map(s => (s.getPath.getName, s.isDirectory)).toSet ===
      Set(("file.bin", false), ("sub", true)))

    // file rename, then directory rename
    assert(fs.rename(p, new Path("s3g://fstest/dir/renamed.bin")))
    assert(fs.getFileStatus(new Path("s3g://fstest/dir/renamed.bin")).getLen === 100000)
    assert(fs.rename(new Path("s3g://fstest/dir"), new Path("s3g://fstest/dir2")))
    assert(fs.getFileStatus(new Path("s3g://fstest/dir2/renamed.bin")).getLen === 100000)
    intercept[java.io.FileNotFoundException](fs.getFileStatus(p))

    // recursive delete
    assert(fs.delete(new Path("s3g://fstest/dir2"), true))
    intercept[java.io.FileNotFoundException](
      fs.getFileStatus(new Path("s3g://fstest/dir2")))
  }

  test("Spark parquet round-trip through s3g:// (committer rename path)") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (i, s"row$i", i * 0.5)).toDF("id", "name", "v")
    df.repartition(4).write.mode("overwrite")
      .parquet("s3g://sparktest/out/table.parquet")
    // _SUCCESS + 4 part files landed as objects, _temporary cleaned up
    val keys = {
      val (objs, _) = client.listV2("sparktest", "out/table.parquet/", None)
      objs.map(_._1)
    }
    assert(keys.exists(_.endsWith("_SUCCESS")))
    assert(keys.count(_.contains("part-")) === 4)
    assert(!keys.exists(_.contains("_temporary")))

    val back = spark.read.parquet("s3g://sparktest/out/table.parquet")
    assert(back.count() === 1000)
    assert(back.agg(org.apache.spark.sql.functions.sum($"id")).as[Long].head()
      === 500500L)
    // predicate + projection still work over the object store
    assert(back.filter($"id" <= 10).select($"name").as[String].collect().sorted
      === (1 to 10).map(i => s"row$i").sorted.toArray)
  }

  test("FsDataStore over an s3g root: list/open/write") {
    import spark.implicits._
    val store = new FsDataStore(spark, "s3g://storetest/")
    store.write("nums.parquet", (1 to 50).toDF("n"))
    assert(store.listDataIds().contains("nums.parquet"))
    assert(store.open("nums.parquet").count() === 50)
  }

  test("Zarr cube on the object store: distributed write, chunk-per-task read, append") {
    import graft.sources.ZarrSource
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.sources.s3.S3Support.enable(spark)

    val t = Array(0.0, 1.0)
    val y = Array.tabulate(4)(_.toDouble)
    val x = Array.tabulate(6)(_.toDouble)
    val df = (for { ti <- t; yi <- y; xi <- x }
      yield (ti, yi, xi, ti * 100 + yi * 10 + xi))
      .toSeq.toDF("t", "y", "x", "v")

    val group = "s3g://zarrbucket/cube.zarr"
    ZarrSource.writeCube(df, group, "v",
      Seq("t" -> t, "y" -> y, "x" -> x), chunks = Seq(1, 2, 3))

    // the chunk objects + consolidated metadata actually live in the bucket
    val (objs, _) = client.listV2("zarrbucket", "cube.zarr/", None)
    val keys = objs.map(_._1)
    assert(keys.contains("cube.zarr/.zmetadata"))
    assert(keys.count(_.matches("cube\\.zarr/v/\\d+\\.\\d+\\.\\d+")) === 8)

    val back = spark.read.format("zarr").option("vars", "v").load(group)
    assert(back.count() === 48)
    val direct = df.agg(round(sum($"v"), 6)).as[Double].head()
    assert(back.agg(round(sum($"v"), 6)).as[Double].head() === direct)
    // spot-check one cell end to end
    assert(back.filter($"t" === 1.0 && $"y" === 3.0 && $"x" === 5.0)
      .select($"v").as[Double].head() === 135.0)

    // in-place append along dim 0 over the object store (boundary merge path)
    val t2 = Array(2.0)
    val df2 = (for { yi <- y; xi <- x } yield (2.0, yi, xi, 200 + yi * 10 + xi))
      .toSeq.toDF("t", "y", "x", "v")
    ZarrSource.appendCube(df2, group, "v", t2)
    val appended = spark.read.format("zarr").option("vars", "v").load(group)
    assert(appended.count() === 72)
    assert(appended.filter($"t" === 2.0).agg(round(sum($"v"), 6)).as[Double].head()
      === df2.agg(round(sum($"v"), 6)).as[Double].head())
  }

  test("Zarr v3 cube on the object store: sharded write + read round-trip") {
    import graft.sources.{ZarrSource, ZarrV3Source}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.sources.s3.S3Support.enable(spark)

    val t = Array(0.0, 1.0)
    val y = Array.tabulate(4)(_.toDouble)
    val x = Array.tabulate(8)(_.toDouble)
    val df = (for { ti <- t; yi <- y; xi <- x }
      yield (ti, yi, xi, ti * 100 + yi * 10 + xi))
      .toSeq.toDF("t", "y", "x", "v")

    val group = "s3g://zarrv3bucket/cube.zarr"
    ZarrV3Source.writeCube(df, group, "v",
      Seq("t" -> t, "y" -> y, "x" -> x), chunks = Seq(1, 4, 8),
      steps = Seq(ZarrSource.ZstdC(1), ZarrSource.Crc32c),
      shardInner = Some(Seq(1, 2, 4)))

    val (objs, _) = client.listV2("zarrv3bucket", "cube.zarr/", None)
    assert(objs.map(_._1).contains("cube.zarr/zarr.json"))
    assert(objs.map(_._1).count(_.startsWith("cube.zarr/v/c/")) === 2) // 2 shards

    val back = spark.read.format("zarr").option("vars", "v").load(group)
    assert(back.count() === 64)
    assert(back.agg(round(sum($"v"), 6)).as[Double].head() ===
      df.agg(round(sum($"v"), 6)).as[Double].head())
  }

  test("mounted bucket: a local .zarr dir served read-only as S3 objects") {
    import graft.sources.ZarrSource
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.sources.s3.S3Support.enable(spark)

    // server-side dataset: a LOCAL zarr group (the reference's webapi S3
    // emulation serves datasets as a virtual bucket exactly like this)
    val base = TestDirs.tmpDir("mount")
    val t = Array(0.0, 1.0)
    val y = Array.tabulate(3)(_.toDouble)
    val x = Array.tabulate(5)(_.toDouble)
    val df = (for { ti <- t; yi <- y; xi <- x }
      yield (ti, yi, xi, ti * 100 + yi * 10 + xi))
      .toSeq.toDF("t", "y", "x", "v")
    ZarrSource.writeCube(df, s"$base/cube.zarr", "v",
      Seq("t" -> t, "y" -> y, "x" -> x), chunks = Seq(1, 3, 5))

    S3Emulator.shared.mountDir("served", base)

    // the cube reads back THROUGH the S3 protocol, no copy
    val back = spark.read.format("zarr").option("vars", "v").load("s3g://served/cube.zarr")
    assert(back.count() === 30)
    assert(back.agg(round(sum($"v"), 6)).as[Double].head() ===
      df.agg(round(sum($"v"), 6)).as[Double].head())

    // writes to a mounted bucket are rejected loudly
    intercept[java.io.IOException](
      client.putObject("served", "x.bin", Array[Byte](1)))
    intercept[java.io.IOException](
      client.deleteObject("served", "cube.zarr/.zgroup"))
    // path traversal cannot escape the mount
    intercept[java.io.FileNotFoundException](
      client.getObject("served", "../../../etc/hostname"))
  }

  test("parquet filter pushdown survives the object-store scan") {
    import spark.implicits._
    graft.sources.s3.S3Support.enable(spark)
    (1 to 2000).map(i => (i, i % 7, i * 1.5)).toDF("id", "grp", "v")
      .write.mode("overwrite").parquet("s3g://plancheck/t.parquet")
    val q = spark.read.parquet("s3g://plancheck/t.parquet")
      .filter($"id" > 1900).select($"id", $"v")
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,1900)]"), p)
    assert(p.contains("s3g://plancheck"), p)
    assert(!p.contains("grp"), "scan reads columns beyond the projection")
    assert(q.count() === 100)
  }

  test(".levels pyramid written to and served from the object store") {
    import graft.ops.CubePack
    import graft.sources.LevelStore
    graft.sources.s3.S3Support.enable(spark)
    val cube = CubePack.eventsCube(spark, "/root/testdata/sf0.001")
    val root = "s3g://pyramids/events.levels"
    val gms = LevelStore.writeLevels(cube, root, 1)
    assert(gms.size === 2)
    assert(LevelStore.listLevels(spark, root) === Seq(0, 1))
    // the sidecar landed as an object and parses back
    val meta = LevelStore.readMeta(root, spark.sparkContext.hadoopConfiguration)
    assert(meta.exists(_.levels.size === 2))
    // each level opens with its recorded schema, the one inference returns
    // (L1 carries the string variable with `first`, so shares L0's)
    for (l <- 0 to 1) {
      assert(meta.get.levelSchema(l).isDefined)
      assert(LevelStore.openLevel(spark, root, l).schema ===
        spark.read.parquet(s"$root/L$l").schema)
    }
    val l0 = LevelStore.openLevel(spark, root, 0).count()
    val l1 = LevelStore.openLevel(spark, root, 1).count()
    assert(l0 > 0 && l1 > 0 && l1 <= l0)
  }

  test("streaming zarr sink targets the object store (slice-per-batch append)") {
    import graft.sources.ZarrSource
    import graft.streaming.TimeSliceOps
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.sources.s3.S3Support.enable(spark)

    val base = TestDirs.tmpDir("szs3")
    val y = Array.tabulate(3)(_.toDouble)
    val x = Array.tabulate(4)(_.toDouble)
    def slice(t: Double) = (for { yi <- y; xi <- x }
      yield (t, yi, xi, t * 100 + yi * 10 + xi)).toSeq.toDF("t", "y", "x", "v")
    val schema = slice(0.0).schema
    val group = "s3g://streamsink/cube.zarr"

    def push(n: Int, df: org.apache.spark.sql.DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$base/src/slice_$n")
      TimeSliceOps.streamZarrAppend(spark, schema, s"$base/src", group, "v", "t",
        Seq("y" -> y, "x" -> x), chunks = Seq(1, 3, 4)).awaitTermination()
    }
    push(1, slice(0.0))
    push(2, slice(1.0))

    val back = spark.read.format("zarr").option("vars", "v").load(group)
    assert(back.count() === 24)
    assert(back.agg(round(sum($"v"), 6)).as[Double].head() ===
      (slice(0.0) union slice(1.0)).agg(round(sum($"v"), 6)).as[Double].head())
  }

  test("NetCDF granule in a bucket: full read and bounded-prefix header read") {
    import graft.sources.NetcdfSource
    import graft.sources.NetcdfSource.NcDim
    graft.sources.s3.S3Support.enable(spark)

    val base = TestDirs.tmpDir("ncs3")
    val vals = Array.tabulate(12)(_ * 1.5)
    NetcdfSource.write(s"$base/gran.nc", Seq(NcDim("y", 4), NcDim("x", 3)),
      Nil, Seq(("v", Seq("y", "x"), vals)))
    client.createBucket("granules")
    client.putObject("granules", "gran.nc",
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$base/gran.nc")))

    val nc = NetcdfSource.read("s3g://granules/gran.nc")
    assert(nc.varByName("v").data.toSeq === vals.toSeq)
    // header-only read = one range GET of the front of the object
    val hdr = NetcdfSource.readHeader("s3g://granules/gran.nc")
    assert(hdr.vars.map(_.name).contains("v"))
    assert(hdr.dims.map(d => (d.name, d.size)) === Seq(("y", 4), ("x", 3)))
  }

  test("openDataset format inference on bucket paths: netcdf, zarr group, Sentinel-3 dir") {
    import graft.sources.{DataStore, NetcdfSource, ZarrSource}
    import graft.sources.NetcdfSource.NcDim
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.sources.s3.S3Support.enable(spark)

    val base = TestDirs.tmpDir("open3")

    // a NetCDF granule, a zarr group, and a Sentinel-3 product dir — all
    // mounted into one read-only bucket and opened by FORMAT INFERENCE on
    // the s3g:// path (the store-level entry point, not the raw sources)
    NetcdfSource.write(s"$base/g.nc", Seq(NcDim("y", 2), NcDim("x", 3)),
      Nil, Seq(("temp", Seq("y", "x"), Array.tabulate(6)(_ * 2.0))))
    val t = Array(0.0); val y = Array(0.0, 1.0); val x = Array(0.0, 1.0, 2.0)
    ZarrSource.writeCube(
      (for { ti <- t; yi <- y; xi <- x } yield (ti, yi, xi, yi * 10 + xi))
        .toSeq.toDF("t", "y", "x", "v"),
      s"$base/c.zarr", "v", Seq("t" -> t, "y" -> y, "x" -> x), Seq(1, 2, 3))
    val s3dir = s"$base/S3A_OL_1_EFR____prod.SEN3"
    val grid = Seq(NcDim("rows", 2), NcDim("columns", 2))
    NetcdfSource.write(s"$s3dir/geo_coordinates.nc", grid, Nil,
      Seq(("longitude", Seq("rows", "columns"), Array(10.0, 11.0, 10.0, 11.0)),
        ("latitude", Seq("rows", "columns"), Array(50.0, 50.0, 51.0, 51.0))))
    NetcdfSource.write(s"$s3dir/b1.nc", grid, Nil,
      Seq(("radiance", Seq("rows", "columns"), Array(1.0, 2.0, 3.0, 4.0))))

    S3Emulator.shared.mountDir("openstore", base)

    val nc = DataStore.openDataset(spark, "s3g://openstore/g.nc")
    assert(nc.agg(round(sum($"temp"), 6)).as[Double].head() === 30.0)

    val z = DataStore.openDataset(spark, "s3g://openstore/c.zarr")
    assert(z.agg(round(sum($"v"), 6)).as[Double].head() === 36.0)

    val s3p = DataStore.openDataset(spark,
      "s3g://openstore/S3A_OL_1_EFR____prod.SEN3")
    assert(s3p.agg(round(sum($"radiance"), 6)).as[Double].head() === 10.0)
    assert(s3p.columns.toSet.contains("longitude"))
  }

  test("zarr + kerchunk over plain http: a web-hosted archive reads in place, writes reject") {
    import graft.sources.{KerchunkSource, ZarrSource}
    import org.apache.spark.sql.functions._
    import spark.implicits._

    val base = TestDirs.tmpDir("kchttp")
    val local = s"$base/cube.zarr"
    val t = Array(0.0, 1.0)
    val y = Array.tabulate(4)(_.toDouble)
    val x = Array.tabulate(6)(_.toDouble)
    val df = (for { ti <- t; yi <- y; xi <- x }
      yield (ti, yi, xi, ti * 1000 + yi * 10 + xi))
      .toSeq.toDF("t", "y", "x", "v")
    ZarrSource.writeCube(df, local, "v", Seq("t" -> t, "y" -> y, "x" -> x),
      chunks = Seq(1, 2, 3))
    ZarrSource.consolidateMetadata(local)

    // the emulator's read-only mount is just a static file server with
    // Range support — the "zarr behind nginx / hosted NetCDF archive"
    // shape the reference opens through fsspec's HTTPFileSystem
    S3Emulator.shared.mountDir("zhttp", base)
    val url = s"${S3Emulator.shared.endpoint}/zhttp/cube.zarr"

    val direct = spark.read.format("zarr").option("vars", "v").load(local)
    val overHttp = spark.read.format("zarr").option("vars", "v").load(url)
    assert(overHttp.count() === direct.count())
    assert(overHttp.agg(round(sum($"v" * ($"t" + 1) + $"y" - $"x"), 6)).as[Double].head()
      === direct.agg(round(sum($"v" * ($"t" + 1) + $"y" - $"x"), 6)).as[Double].head())

    // kerchunk refs retargeted at the web archive: ranged GETs per chunk
    val refsJson = KerchunkSource.scanZarr(local)
      .replace(s"file://$local", url)
      .replace(s"file:$local", url)
      .replace(local, url)
    val refsPath = s"$base/refs.http.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(refsPath),
      refsJson.getBytes("UTF-8"))
    val viaRefs = spark.read.format("kerchunk").option("vars", "v").load(refsPath)
    assert(viaRefs.agg(round(sum($"v" * ($"t" + 1) + $"y" - $"x"), 6)).as[Double].head()
      === direct.agg(round(sum($"v" * ($"t" + 1) + $"y" - $"x"), 6)).as[Double].head())

    // the protocol is read-only: a zarr write must reject loudly
    intercept[UnsupportedOperationException](
      ZarrSource.writeCube(df, s"$url/copy.zarr", "v",
        Seq("t" -> t, "y" -> y, "x" -> x), chunks = Seq(1, 2, 3)))
  }

  test("kerchunk refs pointing at bucket objects: ranged GETs read the cube in place") {
    import graft.sources.{KerchunkSource, ZarrSource}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.sources.s3.S3Support.enable(spark)

    // a LOCAL zarr group is the granule archive; upload its files as
    // objects, then rewrite the scanned refs' urls to the bucket — the
    // cube must read back identically via ranged GETs, no download step
    val base = TestDirs.tmpDir("kcs3")
    val local = s"$base/cube.zarr"
    val t = Array(0.0, 1.0, 2.0)
    val y = Array.tabulate(5)(_.toDouble)
    val x = Array.tabulate(7)(_.toDouble)
    val df = (for { ti <- t; yi <- y; xi <- x }
      yield (ti, yi, xi, ti * 1000 + yi * 10 + xi))
      .toSeq.toDF("t", "y", "x", "v")
    ZarrSource.writeCube(df, local, "v", Seq("t" -> t, "y" -> y, "x" -> x),
      chunks = Seq(1, 3, 4))

    client.createBucket("kcrefs")
    val dir = java.nio.file.Paths.get(local)
    java.nio.file.Files.walk(dir).filter(java.nio.file.Files.isRegularFile(_))
      .forEach { p =>
        client.putObject("kcrefs", s"cube.zarr/${dir.relativize(p)}",
          java.nio.file.Files.readAllBytes(p))
      }

    // scanZarr emits file:-scheme URIs; point them at the bucket instead
    val refsJson = KerchunkSource.scanZarr(local)
      .replace(s"file://$local", "s3g://kcrefs/cube.zarr")
      .replace(s"file:$local", "s3g://kcrefs/cube.zarr")
      .replace(local, "s3g://kcrefs/cube.zarr")
    val refsPath = s"$base/refs.s3.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(refsPath),
      refsJson.getBytes("UTF-8"))

    val viaRefs = spark.read.format("kerchunk").option("vars", "v").load(refsPath)
    val direct = spark.read.format("zarr").option("vars", "v").load(local)
    assert(viaRefs.count() === direct.count())
    assert(viaRefs.agg(round(sum($"v" * ($"t" + 1) + $"y" - $"x"), 6)).as[Double].head()
      === direct.agg(round(sum($"v" * ($"t" + 1) + $"y" - $"x"), 6)).as[Double].head())
  }
}
