package graft

import graft.sources.{DataStore, ZarrSource}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import graft.TestDirs.tmpDir

class ZarrSourceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()

  test("distributed write → read round-trip with edge chunks and fill") {
    import spark.implicits._
    // 3×5 grid, 2×2 chunks → 2×3 chunk grid, both edges ragged; one cell
    // (y=20, x=3) never written → NaN fill
    val ys = Array(10.0, 20.0, 30.0)
    val xs = Array(0.5, 1.5, 2.5, 3.5, 4.5)
    val rows = for {
      (y, j) <- ys.zipWithIndex.toSeq
      (x, i) <- xs.zipWithIndex
      if !(j == 1 && i == 3)
    } yield (y, x, j * 10.0 + i)
    val g = s"${tmpDir("zarr")}/cube.zarr"
    ZarrSource.writeCube(rows.toDF("y", "x", "v"), g, "v",
      Seq("y" -> ys, "x" -> xs), chunks = Seq(2, 2))
    // chunk files exist with the spec's dotted names
    assert(Files.exists(Paths.get(s"$g/v/0.0")) && Files.exists(Paths.get(s"$g/v/1.2")))
    assert(Files.exists(Paths.get(s"$g/.zgroup")))
    val back = spark.read.format("zarr").option("vars", "v").load(g).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(back.size == 15)
    assert(back((10.0, 0.5)) == 0.0 && back((30.0, 4.5)) == 24.0)
    assert(back((20.0, 2.5)) == 12.0)
    assert(back((20.0, 3.5)).isNaN) // unwritten cell = fill
    // store-level open with format inference picks the data variable
    val opened = DataStore.openDataset(spark, g)
    assert(opened.columns.toSeq == Seq("y", "x", "v"))
    assert(opened.count() == 15)
  }

  test("writeCubeVars: N variables in one pass, independent arrays, shared fill") {
    import spark.implicits._
    val ys = Array(10.0, 20.0, 30.0)
    val xs = Array(0.5, 1.5, 2.5)
    val rows = for {
      (y, j) <- ys.zipWithIndex.toSeq
      (x, i) <- xs.zipWithIndex
      if !(j == 2 && i == 2) // one cell never written → fill in BOTH vars
    } yield (y, x, j * 10.0 + i, (j * 10.0 + i) * 100)
    val g = s"${tmpDir("zarrmv")}/cube.zarr"
    ZarrSource.writeCubeVars(rows.toDF("y", "x", "v", "w"), g, Seq("v", "w"),
      Seq("y" -> ys, "x" -> xs), chunks = Seq(2, 2))
    // both arrays carry the same chunk grid; consolidated metadata lists both
    assert(Files.exists(Paths.get(s"$g/v/0.0")) && Files.exists(Paths.get(s"$g/w/0.0")))
    assert(ZarrSource.listArrays(g).toSet === Set("y", "x", "v", "w"))
    val v = spark.read.format("zarr").option("vars", "v").load(g).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val w = spark.read.format("zarr").option("vars", "w").load(g).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(v.size === 9 && w.size === 9)
    assert(v((10.0, 0.5)) === 0.0 && w((10.0, 0.5)) === 0.0)
    assert(v((20.0, 2.5)) === 12.0 && w((20.0, 2.5)) === 1200.0)
    assert(v((30.0, 2.5)).isNaN && w((30.0, 2.5)).isNaN)

    // wide read: one task per chunk decodes BOTH variables
    val wide = spark.read.format("zarr").option("vars", "v,w").load(g).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> (r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(wide.size === 9)
    assert(wide((20.0, 1.5)) === ((11.0, 1100.0)))
    assert(wide((30.0, 2.5))._1.isNaN && wide((30.0, 2.5))._2.isNaN)

    // store-level open returns the WHOLE dataset when grids are shared
    val opened = DataStore.openDataset(spark, g)
    assert(opened.columns.toSeq === Seq("y", "x", "v", "w"))
    assert(opened.count() === 9)
  }

  test("openDataset: a mixed-grid group opens its first data variable") {
    import spark.implicits._
    val g = s"${tmpDir("zarrmixedopen")}/mixed.zarr"
    // v on (t, xa) 3×4, w on (yb, xb) 2×2: one group, two grids
    val t = Array(0.0, 1.0, 2.0)
    val xa = Array(0.0, 1.0, 2.0, 3.0)
    ZarrSource.writeCube((for { ti <- t; xi <- xa } yield (ti, xi, ti * 10 + xi))
      .toSeq.toDF("t", "xa", "v"), g, "v",
      Seq("t" -> t, "xa" -> xa), chunks = Seq(1, 4))
    val yb = Array(5.0, 6.0)
    val xb = Array(7.0, 8.0)
    ZarrSource.writeCube((for { yi <- yb; xi <- xb } yield (yi, xi, yi + xi))
      .toSeq.toDF("yb", "xb", "w"), g, "w",
      Seq("yb" -> yb, "xb" -> xb), chunks = Seq(2, 2))
    val opened = DataStore.openDataset(spark, g)
    assert(opened.columns.toSeq === Seq("t", "xa", "v"))
    val cells = opened.collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(cells.size === 12)
    for (ti <- t; xi <- xa) assert(cells((ti, xi)) === ti * 10 + xi)
  }

  test("3-D cube, a chunk with NO rows is absent and reads as fill") {
    import spark.implicits._
    val ts = Array(0.0, 1.0)
    val ys = Array(0.5, 1.5)
    val xs = Array(0.5, 1.5)
    // only t=0 cells present → the whole t=1 chunk plane is missing
    val rows = for { y <- ys.toSeq; x <- xs } yield (0.0, y, x, y + x)
    val g = s"${tmpDir("zarr3")}/c.zarr"
    ZarrSource.writeCube(rows.toDF("t", "y", "x", "v"), g, "v",
      Seq("t" -> ts, "y" -> ys, "x" -> xs), chunks = Seq(1, 2, 2))
    assert(Files.exists(Paths.get(s"$g/v/0.0.0")))
    assert(!Files.exists(Paths.get(s"$g/v/1.0.0"))) // empty chunk not written
    val back = spark.read.format("zarr").option("vars", "v").load(g)
    assert(back.count() == 8)
    assert(back.filter(col("t") === 1.0 && !isnan(col("v"))).count() == 0)
    assert(back.filter(col("t") === 0.0 && isnan(col("v"))).count() == 0)
  }

  test("consolidated .zmetadata is written and is sufficient on its own") {
    import spark.implicits._
    val ys = Array(1.0, 2.0)
    val xs = Array(3.0, 4.0)
    val g = s"${tmpDir("zarrcons")}/c.zarr"
    ZarrSource.writeCube(
      Seq((1.0, 3.0, 10.0), (2.0, 4.0, 20.0)).toDF("y", "x", "v"),
      g, "v", Seq("y" -> ys, "x" -> xs), chunks = Seq(2, 2))
    assert(Files.exists(Paths.get(s"$g/.zmetadata")))
    // remove every per-array metadata file: the consolidated document must
    // carry the reader by itself (the object-store fast path)
    Seq("y", "x", "v").foreach { a =>
      Files.delete(Paths.get(s"$g/$a/.zarray"))
      Files.delete(Paths.get(s"$g/$a/.zattrs"))
    }
    assert(ZarrSource.listArrays(g) == Seq("v", "x", "y"))
    val za = ZarrSource.openArray(s"$g/v")
    assert(za.dims == Seq("y", "x") && za.shape == Seq(2, 2))
    val back = spark.read.format("zarr").option("vars", "v").load(g).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(back((1.0, 3.0)) == 10.0 && back((2.0, 4.0)) == 20.0)
    assert(back((1.0, 4.0)).isNaN)
  }

  test("appendCube extends dim 0 in place, merging the partial boundary chunk") {
    import spark.implicits._
    val ys = Array(0.5, 1.5, 2.5)
    // dim-0 chunk extent 2 with initial length 3 → chunk 1 is PARTIAL
    // (t=2 only); appending t=3,4 must read-modify-write chunk 1 and
    // create chunk 2, leaving chunk 0 untouched
    val t0 = Array(0.0, 1.0, 2.0)
    val rows0 = for { t <- t0.toSeq; y <- ys } yield (t, y, t * 10 + y)
    val g = s"${tmpDir("zarrapp")}/c.zarr"
    ZarrSource.writeCube(rows0.toDF("t", "y", "v"), g, "v",
      Seq("t" -> t0, "y" -> ys), chunks = Seq(2, 3),
      codec = ZarrSource.Blosc("zstd", 3))
    val chunk0Before = Files.readAllBytes(Paths.get(s"$g/v/0.0"))
    val tNew = Array(3.0, 4.0)
    // leave (4.0, 2.5) unwritten → fill
    val rows1 = (for { t <- tNew.toSeq; y <- ys } yield (t, y, t * 10 + y))
      .filterNot { case (t, y, _) => t == 4.0 && y == 2.5 }
    ZarrSource.appendCube(rows1.toDF("t", "y", "v"), g, "v", tNew)
    assert(Files.readAllBytes(Paths.get(s"$g/v/0.0")).sameElements(chunk0Before),
      "untouched chunk rewritten")
    assert(Files.exists(Paths.get(s"$g/v/2.0")))
    val za = ZarrSource.openArray(s"$g/v")
    assert(za.shape == Seq(5, 3) && za.chunks == Seq(2, 3))
    val back = spark.read.format("zarr").option("vars", "v").load(g).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(back.size == 15)
    for { t <- t0 ++ tNew; y <- ys if !(t == 4.0 && y == 2.5) }
      assert(back((t, y)) == t * 10 + y, s"($t,$y)")
    assert(back((4.0, 2.5)).isNaN)
    // consolidated metadata reflects the new shape (delete per-array files)
    Seq("t", "y", "v").foreach { a =>
      Files.delete(Paths.get(s"$g/$a/.zarray")); Files.delete(Paths.get(s"$g/$a/.zattrs"))
    }
    assert(ZarrSource.openArray(s"$g/v").shape == Seq(5, 3))
    // overlapping coordinates are rejected
    intercept[IllegalArgumentException](
      ZarrSource.appendCube(rows1.toDF("t", "y", "v"), g, "v", Array(4.0)))
  }

  test("unchunkGroup rewrites to one chunk per array and refreshes .zmetadata") {
    import spark.implicits._
    val ys = Array(10.0, 20.0, 30.0)
    val xs = Array(0.5, 1.5, 2.5, 3.5, 4.5)
    val rows = for {
      (y, j) <- ys.zipWithIndex.toSeq
      (x, i) <- xs.zipWithIndex
    } yield (y, x, j * 10.0 + i)
    val g = s"${tmpDir("zarrunchunk")}/cube.zarr"
    ZarrSource.writeCube(rows.toDF("y", "x", "v"), g, "v",
      Seq("y" -> ys, "x" -> xs), chunks = Seq(2, 2))
    assert(Files.exists(Paths.get(s"$g/v/1.2"))) // chunked before
    ZarrSource.unchunkGroup(g)
    // old chunk grid gone, single full-shape chunk present
    assert(!Files.exists(Paths.get(s"$g/v/1.2")))
    assert(Files.exists(Paths.get(s"$g/v/0.0")))
    assert(Files.exists(Paths.get(s"$g/y/0")))
    val za = ZarrSource.openArray(s"$g/v")
    assert(za.chunks == za.shape)
    // consolidated metadata reflects the new grid (remove the per-array
    // file to force the .zmetadata read path, then restore it)
    val zarrayJson = Files.readString(Paths.get(s"$g/v/.zarray"))
    Files.delete(Paths.get(s"$g/v/.zarray"))
    val zaCons = ZarrSource.openArray(s"$g/v")
    assert(zaCons.chunks == zaCons.shape, ".zmetadata must be refreshed")
    Files.writeString(Paths.get(s"$g/v/.zarray"), zarrayJson)
    val back = spark.read.format("zarr").option("vars", "v").load(g).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(back.size == 15 && back((30.0, 4.5)) == 24.0)
    // coordsOnly leaves the data variable alone
    val g2 = s"${tmpDir("zarrunchunk2")}/cube.zarr"
    ZarrSource.writeCube(rows.toDF("y", "x", "v"), g2, "v",
      Seq("y" -> ys, "x" -> xs), chunks = Seq(2, 2))
    ZarrSource.unchunkGroup(g2, coordsOnly = true)
    assert(Files.exists(Paths.get(s"$g2/v/1.2")), "data var untouched")
    assert(ZarrSource.openArray(s"$g2/y").chunks == Seq(3))
  }

  test("CF-packed store: .zattrs scale/offset/_FillValue decode to physical values") {
    import spark.implicits._
    // chunks hold RAW packed values; .zattrs declares the decode (the
    // xarray to_zarr packed encoding). -999 is the raw fill sentinel.
    val ys = Array(0.5, 1.5)
    val xs = Array(0.5, 1.5)
    val raws = Seq((0.5, 0.5, 10.0), (0.5, 1.5, -999.0),
      (1.5, 0.5, 30.0), (1.5, 1.5, 40.0))
    val g = s"${tmpDir("zarrcf")}/packed.zarr"
    ZarrSource.writeCube(raws.toDF("y", "x", "v"), g, "v",
      Seq("y" -> ys, "x" -> xs), chunks = Seq(2, 2))
    val za = Paths.get(s"$g/v/.zattrs")
    val patched = Files.readString(za).trim.stripSuffix("}") +
      ""","scale_factor": 0.5, "add_offset": 100.0, "_FillValue": -999.0}"""
    Files.writeString(za, patched)
    // consolidated metadata also carries the old attrs — drop it so the
    // patched per-array document is authoritative for this test
    Files.deleteIfExists(Paths.get(s"$g/.zmetadata"))
    val back = spark.read.format("zarr").option("vars", "v").load(g).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(back((0.5, 0.5)) == 105.0, back.toString)
    assert(back((0.5, 1.5)).isNaN) // raw fill sentinel → NaN
    assert(back((1.5, 0.5)) == 115.0 && back((1.5, 1.5)) == 120.0)
  }

  test("appendCube on a CF-packed store re-packs physical values (no double scale)") {
    import spark.implicits._
    // regression: appendCube used to decode the boundary chunk to PHYSICAL
    // values (mask-and-scale) and write them back raw, so the next read
    // scaled the packed cells a second time
    val ys = Array(0.5, 1.5)
    val t0 = Array(0.0, 1.0, 2.0)
    def raw(t: Double, y: Double) = t * 10 + y
    def phys(t: Double, y: Double) = raw(t, y) * 0.5 + 100.0
    val rows0 = for { t <- t0.toSeq; y <- ys } yield (t, y, raw(t, y))
    val g = s"${tmpDir("zarrappcf")}/packed.zarr"
    // dim-0 chunk extent 2, length 3 → chunk 1 is PARTIAL and will be
    // read-modify-written by the append
    ZarrSource.writeCube(rows0.toDF("t", "y", "v"), g, "v",
      Seq("t" -> t0, "y" -> ys), chunks = Seq(2, 2))
    val za = Paths.get(s"$g/v/.zattrs")
    Files.writeString(za, Files.readString(za).trim.stripSuffix("}") +
      ""","scale_factor": 0.5, "add_offset": 100.0, "_FillValue": -999.0}""")
    Files.deleteIfExists(Paths.get(s"$g/.zmetadata"))
    // append PHYSICAL values; leave (4.0, 1.5) unwritten → fill sentinel
    val tNew = Array(3.0, 4.0)
    val rows1 = (for { t <- tNew.toSeq; y <- ys } yield (t, y, phys(t, y)))
      .filterNot { case (t, y, _) => t == 4.0 && y == 1.5 }
    ZarrSource.appendCube(rows1.toDF("t", "y", "v"), g, "v", tNew)
    val back = spark.read.format("zarr").option("vars", "v").load(g).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(back.size == 10)
    // pre-existing cells — including the merged boundary chunk row t=2 —
    // decode exactly ONCE, and appended cells read back as written
    for { t <- t0 ++ tNew; y <- ys if !(t == 4.0 && y == 1.5) }
      assert(back((t, y)) == phys(t, y), s"($t,$y)")
    assert(back((4.0, 1.5)).isNaN)
    // on disk the unwritten cell is the RAW fill sentinel, not NaN
    val bc = ZarrSource.openArray(s"$g/v")
    val rawBack = ZarrSource.decodeChunk(
      Files.readAllBytes(Paths.get(s"$g/v/2.0")), bc.copy(cfFill = None,
        cfScale = 1.0, cfOffset = 0.0))
    assert(rawBack.contains(-999.0))
  }

  test("reads an externally-shaped layout: big-endian f4, raw, / separator") {
    // hand-written group: no coordinate arrays (index fallback), raw
    // compressor, ">f4" dtype, dimension_separator "/", fill_value 0
    val g = s"${tmpDir("zarrext")}/ext.zarr"
    new java.io.File(s"$g/a").mkdirs()
    Files.writeString(Paths.get(s"$g/.zgroup"), """{"zarr_format": 2}""")
    Files.writeString(Paths.get(s"$g/a/.zarray"),
      """{"zarr_format": 2, "dtype": ">f4", "shape": [2, 2], "chunks": [2, 1],
        | "fill_value": 0, "compressor": null, "filters": null, "order": "C",
        | "dimension_separator": "/"}""".stripMargin)
    // chunk (0,0): column 0 = [1.5, 3.5]; chunk (0,1) left missing → fill
    val b = ByteBuffer.allocate(8).order(ByteOrder.BIG_ENDIAN)
    b.putFloat(1.5f); b.putFloat(3.5f)
    new java.io.File(s"$g/a/0").mkdirs()
    Files.write(Paths.get(s"$g/a/0/0"), b.array())
    val za = ZarrSource.openArray(s"$g/a")
    assert(za.separator == "/" && za.codec == ZarrSource.Raw && za.fillValue == 0.0)
    assert(za.dims == Seq("dim_0", "dim_1")) // no _ARRAY_DIMENSIONS → synthetic
    val back = spark.read.format("zarr").option("vars", "a").load(g).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(back == Map((0.0, 0.0) -> 1.5, (1.0, 0.0) -> 3.5,
      (0.0, 1.0) -> 0.0, (1.0, 1.0) -> 0.0))
  }

  test("reads a store with the numcodecs shuffle filter (zlib + shuffle)") {
    import graft.sources.BloscCodec
    val g = s"${tmpDir("zarrshuf")}/s.zarr"
    new java.io.File(s"$g/a").mkdirs()
    Files.writeString(Paths.get(s"$g/.zgroup"), """{"zarr_format": 2}""")
    Files.writeString(Paths.get(s"$g/a/.zarray"),
      """{"zarr_format": 2, "dtype": "<f8", "shape": [2, 2], "chunks": [2, 2],
        | "fill_value": "NaN", "compressor": {"id": "zlib", "level": 1},
        | "filters": [{"id": "shuffle", "elementsize": 8}],
        | "order": "C"}""".stripMargin)
    val vals = Array(1.25, -2.5, 3.75, 1e9)
    val plain = ByteBuffer.allocate(32).order(ByteOrder.LITTLE_ENDIAN)
    vals.foreach(plain.putDouble)
    val shuffled = BloscCodec.shuffleBytes(plain.array(), 8)
    val d = new java.util.zip.Deflater()
    d.setInput(shuffled); d.finish()
    val out = new Array[Byte](128)
    val n = d.deflate(out); d.end()
    Files.write(Paths.get(s"$g/a/0.0"), java.util.Arrays.copyOf(out, n))
    val za = ZarrSource.openArray(s"$g/a")
    assert(za.shuffleElem == 8)
    assert(ZarrSource.decodeChunk(Files.readAllBytes(Paths.get(s"$g/a/0.0")), za)
      .sameElements(vals))
    // unsupported filters stay loud
    Files.writeString(Paths.get(s"$g/a/.zarray"),
      """{"zarr_format": 2, "dtype": "<f8", "shape": [2, 2], "chunks": [2, 2],
        | "fill_value": 0, "compressor": null,
        | "filters": [{"id": "delta"}], "order": "C"}""".stripMargin)
    val e = intercept[IllegalArgumentException](ZarrSource.openArray(s"$g/a"))
    assert(e.getMessage.contains("filters"))
  }

  test("rejects what it cannot read, loudly") {
    val g = s"${tmpDir("zarrbad")}/bad.zarr"
    new java.io.File(s"$g/a").mkdirs()
    Files.writeString(Paths.get(s"$g/.zgroup"), """{"zarr_format": 2}""")
    Files.writeString(Paths.get(s"$g/a/.zarray"),
      """{"zarr_format": 2, "dtype": "<f8", "shape": [2], "chunks": [2],
        | "fill_value": null, "compressor": {"id": "lzma"},
        | "filters": null, "order": "C"}""".stripMargin)
    val e = intercept[IllegalArgumentException](ZarrSource.openArray(s"$g/a"))
    assert(e.getMessage.contains("lzma"))
    val e2 = intercept[IllegalArgumentException](
      ZarrSource.listArrays(s"$g/nope"))
    assert(e2.getMessage.contains(".zgroup"))
  }

  // ----------------------------------------------------------- kerchunk

  test("kerchunk: scanZarr refs read back identical to the direct reader") {
    import spark.implicits._
    import graft.sources.KerchunkSource
    val ys = Array(10.0, 20.0, 30.0)
    val xs = Array(0.5, 1.5, 2.5, 3.5, 4.5)
    val rows = for {
      (y, j) <- ys.zipWithIndex.toSeq
      (x, i) <- xs.zipWithIndex
      if !(j == 1 && i == 3) // leaves the (0,1) chunk's cell as fill
    } yield (y, x, j * 10.0 + i)
    val g = s"${tmpDir("kcz")}/cube.zarr"
    ZarrSource.writeCube(rows.toDF("y", "x", "v"), g, "v",
      Seq("y" -> ys, "x" -> xs), chunks = Seq(2, 2))
    val refsPath = s"${tmpDir("kcr")}/refs.json"
    Files.writeString(Paths.get(refsPath), KerchunkSource.scanZarr(g))
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val direct = asMap(spark.read.format("zarr").option("vars", "v").load(g))
    val virt = asMap(spark.read.format("kerchunk").option("vars", "v").load(refsPath))
    assert(virt.size == 15 && direct.size == 15)
    direct.foreach { case (k, v) =>
      assert(v.isNaN == virt(k).isNaN && (v.isNaN || v == virt(k)), s"at $k")
    }
  }

  test("kerchunk: scanNetcdf range-reads a record-dim granule correctly") {
    import graft.sources.{KerchunkSource, NetcdfSource}
    import NetcdfSource.NcDim
    // time is the record (unlimited) dim → one byte-range ref PER RECORD
    val p = s"${tmpDir("kcn")}/rec.nc"
    val data = Array.tabulate(3 * 4)(_.toDouble * 2 + 1)
    NetcdfSource.write(p,
      Seq(NcDim("time", 3), NcDim("x", 4)),
      Seq(("time", Array(100.0, 200.0, 300.0)), ("x", Array.tabulate(4)(_ + 0.5))),
      Seq(("v", Seq("time", "x"), data)),
      recordDim = Some("time"))
    val refsJson = KerchunkSource.scanNetcdf(p)
    assert(refsJson.contains("\"v/0.0\"") && refsJson.contains("\"v/2.0\""),
      "expected one chunk ref per record")
    val refsPath = s"${tmpDir("kcn2")}/refs.json"
    Files.writeString(Paths.get(refsPath), refsJson)
    val back = spark.read.format("kerchunk").option("vars", "v").load(refsPath).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(back.size == 12)
    for (t <- 0 until 3; i <- 0 until 4)
      assert(back((Seq(100.0, 200.0, 300.0)(t), i + 0.5)) == data(t * 4 + i))
    // and the refs are genuine non-zero-offset range reads into the .nc
    val doc = new com.fasterxml.jackson.databind.ObjectMapper().readTree(refsJson)
    val r1 = doc.path("refs").path("v/1.0")
    assert(r1.isArray && r1.get(1).asLong > 0 && r1.get(2).asLong == 4 * 8)
  }

  test("kerchunk: scanGranules runs one executor task per granule, docs in order") {
    import graft.sources.{KerchunkSource, NetcdfSource}
    import NetcdfSource.NcDim
    val dir = tmpDir("kcfleet")
    val paths = (0 until 6).map { g =>
      val p = s"$dir/gran$g.nc"
      NetcdfSource.write(p,
        Seq(NcDim("x", 3)),
        Seq(("x", Array.tabulate(3)(_ + 0.5))),
        Seq(("v", Seq("x"), Array.tabulate(3)(i => (g * 10 + i).toDouble))))
      p
    }
    // count the tasks of the scan job via a listener: the scan must run as
    // executor tasks (the 100 TB archive shape), not a driver loop
    val taskCount = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        taskCount.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val docs = try {
      val r = KerchunkSource.scanGranules(spark, paths)
      // listener delivery is async — poll briefly for the task-end events
      val deadline = System.nanoTime() + 5_000_000_000L
      while (taskCount.get() < paths.length && System.nanoTime() < deadline)
        Thread.sleep(20)
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(taskCount.get() >= paths.length,
      s"expected >= ${paths.length} scan tasks, saw ${taskCount.get()}")
    // distributed docs == driver-side scans, in input order
    assert(docs == paths.map(KerchunkSource.scanNetcdf(_)))
    // magic sniffing picked the right scanner (netcdf refs, per-var chunk)
    assert(docs.head.contains("\"v/0\"") && docs.head.contains(">f8"))
    // and combineRefs consumes the fleet output directly
    val combined = KerchunkSource.combineRefs(docs, "t",
      Array.tabulate(6)(_.toDouble))
    val refsPath = s"${tmpDir("kcfleet2")}/all.refs.json"
    Files.writeString(Paths.get(refsPath), combined)
    val back = spark.read.format("kerchunk").option("vars", "v").load(refsPath).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(back.size == 18)
    for (g <- 0 until 6; i <- 0 until 3)
      assert(back((g.toDouble, i + 0.5)) == g * 10 + i)
  }

  test("netcdf readHeader is a bounded prefix read that grows on demand") {
    import graft.sources.NetcdfSource
    import NetcdfSource.NcDim
    // tiny initial prefix (64 B) forces the geometric-growth retry; the
    // parsed header must equal the full-file parse
    val p = s"${tmpDir("nchdr")}/h.nc"
    NetcdfSource.write(p,
      Seq(NcDim("t", 5), NcDim("x", 7)),
      Seq(("t", Array.tabulate(5)(_ * 1.0)), ("x", Array.tabulate(7)(_ + 0.5))),
      Seq(("v", Seq("t", "x"), Array.tabulate(35)(_ * 3.0))))
    val viaPrefix = NetcdfSource.readHeader(p, initialPrefixBytes = 64)
    val full = NetcdfSource.read(p)
    assert(viaPrefix.dims == full.dims)
    assert(viaPrefix.vars.map(_.name) == full.vars.map(_.name))
    assert(viaPrefix.layout.get == full.layout.get)
    assert(viaPrefix.attrs == full.attrs)
    // a truncated prefix may cut MID-FIELD (half-read length, clipped
    // array) and surface as IAE/NegativeArraySize, not just a buffer
    // bound — every cut point must retry, never hard-fail (round-8
    // ADVICE). Fat per-var attr tables push the header past 500 B so
    // the sweep crosses it at many offsets.
    val p2 = s"${tmpDir("nchdr")}/h2.nc"
    NetcdfSource.write(p2,
      Seq(NcDim("t", 4), NcDim("x", 3)),
      Seq(("t", Array.tabulate(4)(_ * 1.0)), ("x", Array.tabulate(3)(_ + 0.5))),
      Seq(("v", Seq("t", "x"), Array.tabulate(12)(_ * 2.0))),
      varAttrs = Map("v" -> Seq("scale_factor" -> 0.25, "add_offset" -> 10.0,
        "_FillValue" -> -9.0, "valid_min" -> 0.0, "valid_max" -> 100.0)))
    val want = NetcdfSource.readHeader(p2)
    (64 to 600 by 7).foreach { init =>
      val got = NetcdfSource.readHeader(p2, initialPrefixBytes = init)
      assert(got.dims == want.dims && got.vars.map(_.name) == want.vars.map(_.name),
        s"prefix sweep failed at initial=$init")
    }
  }

  test("kerchunk: CF-packed granules decode to PHYSICAL values through refs") {
    import graft.sources.{KerchunkSource, NetcdfSource}
    import NetcdfSource.NcDim
    // packed values on disk; the refs read must apply the same
    // mask-and-scale the direct reader does — raw-value parity is the
    // CF-decode gap, not parity
    val p = s"${tmpDir("kcf")}/packed.nc"
    NetcdfSource.write(p,
      Seq(NcDim("x", 4)),
      Seq(("x", Array.tabulate(4)(_ + 0.5))),
      Seq(("v", Seq("x"), Array(10.0, -999.0, 30.0, 40.0))),
      varAttrs = Map("v" -> Seq(
        "scale_factor" -> 0.5, "add_offset" -> 100.0, "_FillValue" -> -999.0)))
    val direct = NetcdfSource.read(p).varByName("v").data
    assert(direct(0) == 105.0 && direct(1).isNaN && direct(3) == 120.0)
    val refsPath = s"${tmpDir("kcf2")}/p.refs.json"
    Files.writeString(Paths.get(refsPath), KerchunkSource.scanNetcdf(p))
    val back = spark.read.format("kerchunk").option("vars", "v").load(refsPath).collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(back(0.5) == 105.0 && back(1.5).isNaN
      && back(2.5) == 115.0 && back(3.5) == 120.0, back.toString)
  }

  test("kerchunk: the real UKMO CDF-1 granule reads identically via refs") {
    import graft.sources.{KerchunkSource, NetcdfSource}
    val p = "/root/reference/test/core/gen/inputdata/" +
      "20170101120000-UKMO-L4_GHRSST-SSTfnd-OSTIAanom-GLOB-v02.0-fv02.0.nc"
    org.scalatest.Assertions.assume(Files.exists(Paths.get(p)))
    val refsPath = s"${tmpDir("kcukmo")}/u.refs.json"
    Files.writeString(Paths.get(refsPath), KerchunkSource.scanNetcdf(p))
    // CF-packed shorts → physical Kelvin, identical to the direct reader
    import org.apache.spark.sql.functions._
    val stats = spark.read.format("kerchunk").option("vars", "analysed_sst").load(refsPath)
      .filter(!isnan(col("analysed_sst")))
      .agg(count(lit(1)), sum(col("analysed_sst")), min(col("analysed_sst")),
        max(col("analysed_sst")))
      .collect()(0)
    assert(stats.getLong(0) == 703805L)
    val direct = NetcdfSource.read(p).varByName("analysed_sst").data
      .filter(x => !x.isNaN)
    assert(math.abs(stats.getDouble(1) - direct.sum) < 1e-3)
    assert(stats.getDouble(2) == direct.min && stats.getDouble(3) == direct.max)
    assert(stats.getDouble(2) > 270 && stats.getDouble(3) < 310)
  }

  test("kerchunk: the real Sentinel-3 libhdf5 granule reads identically via refs") {
    import graft.sources.{KerchunkSource, NetcdfSource}
    val p = "/root/reference/examples/notebooks/inputdata/" +
      "O_L2_0001_SNS_2017104102450_v1.0.nc"
    org.scalatest.Assertions.assume(Files.exists(Paths.get(p)))
    val refsPath = s"${tmpDir("kcsns")}/s.refs.json"
    Files.writeString(Paths.get(refsPath), KerchunkSource.scanHdf5(p))
    import org.apache.spark.sql.functions._
    val stats = spark.read.format("kerchunk").option("vars", "conc_chl").load(refsPath)
      .agg(count(lit(1)), sum(col("conc_chl"))).collect()(0)
    val direct = NetcdfSource.read(p).varByName("conc_chl").data
    assert(stats.getLong(0) == 10000L)
    assert(math.abs(stats.getDouble(1) - direct.sum) < 1e-6,
      s"${stats.getDouble(1)} vs ${direct.sum}")
  }

  test("kerchunk: scanZarr indexes nested '/'-separated chunk directories") {
    import graft.sources.KerchunkSource
    val g = s"${tmpDir("kcsep")}/s.zarr"
    new java.io.File(s"$g/a/0").mkdirs()
    Files.writeString(Paths.get(s"$g/.zgroup"), """{"zarr_format": 2}""")
    Files.writeString(Paths.get(s"$g/a/.zarray"),
      """{"zarr_format": 2, "dtype": ">f4", "shape": [2, 2], "chunks": [2, 1],
        | "fill_value": 0, "compressor": null, "filters": null, "order": "C",
        | "dimension_separator": "/"}""".stripMargin)
    val b = ByteBuffer.allocate(8).order(ByteOrder.BIG_ENDIAN)
    b.putFloat(1.5f); b.putFloat(3.5f)
    Files.write(Paths.get(s"$g/a/0/0"), b.array()) // column 0; 0/1 missing
    val refsJson = KerchunkSource.scanZarr(g)
    assert(refsJson.contains("\"a/0/0\""), "nested chunk key missing:\n" + refsJson)
    val refsPath = s"${tmpDir("kcsep2")}/s.refs.json"
    Files.writeString(Paths.get(refsPath), refsJson)
    val back = spark.read.format("kerchunk").option("vars", "a").load(refsPath).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(back == Map((0.0, 0.0) -> 1.5, (1.0, 0.0) -> 3.5,
      (0.0, 1.0) -> 0.0, (1.0, 1.0) -> 0.0))
  }

  test("kerchunk: .refs.json routes through the store's format inference") {
    import spark.implicits._
    import graft.sources.{DataStore, KerchunkSource}
    val ys = Array(1.0, 2.0)
    val xs = Array(10.0, 20.0)
    val rows = for { y <- ys.toSeq; x <- xs } yield (y, x, y * 100 + x)
    val g = s"${tmpDir("kcs")}/c.zarr"
    ZarrSource.writeCube(rows.toDF("y", "x", "v"), g, "v",
      Seq("y" -> ys, "x" -> xs), chunks = Seq(2, 2))
    val refsPath = s"${tmpDir("kcs2")}/c.refs.json"
    Files.writeString(Paths.get(refsPath), KerchunkSource.scanZarr(g))
    assert(DataStore.formatFor(refsPath) == "kerchunk")
    val df = DataStore.openDataset(spark, refsPath)
    assert(df.columns.toSeq == Seq("y", "x", "v"))
    assert(df.collect().map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2))
      .toMap == rows.map { case (y, x, v) => (y, x) -> v }.toMap)
  }

  test("kerchunk: large fixed variables split into one ref per first-dim slice") {
    import graft.sources.{KerchunkSource, NetcdfSource}
    import NetcdfSource.NcDim
    val p = s"${tmpDir("kcbig")}/big.nc"
    val data = Array.tabulate(4 * 3)(_ * 1.0)
    NetcdfSource.write(p, Seq(NcDim("y", 4), NcDim("x", 3)),
      Seq(("y", Array.tabulate(4)(_ + 0.5)), ("x", Array.tabulate(3)(_ + 0.5))),
      Seq(("v", Seq("y", "x"), data)))
    // threshold below the 96-byte variable → one ref per y-slice of 24 bytes
    val refsJson = KerchunkSource.scanNetcdf(p, maxFixedChunkBytes = 50L)
    assert(refsJson.contains("\"v/0.0\"") && refsJson.contains("\"v/3.0\""),
      "expected per-slice refs:\n" + refsJson)
    val refsPath = s"${tmpDir("kcbig2")}/refs.json"
    Files.writeString(Paths.get(refsPath), refsJson)
    val back = spark.read.format("kerchunk").option("vars", "v").load(refsPath).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(back.size == 12)
    for (j <- 0 until 4; i <- 0 until 3)
      assert(back((j + 0.5, i + 0.5)) == data(j * 3 + i), s"j=$j i=$i")
  }

  test("kerchunk: scanGeoTiff maps tiles/strips to zarr chunks exactly") {
    import graft.sources.{GeoTiffSource, KerchunkSource}
    val dir = tmpDir("kct")
    // tiled + deflate + multi-band: the real COG-interior case
    val (h, w, nb) = (7, 10, 2)
    val bands = IndexedSeq.tabulate(nb)(k =>
      Array.tabulate(h * w)(i => k * 1000.0 + i))
    val p1 = s"$dir/tiled.tif"
    GeoTiffSource.write(p1, GeoTiffSource.Raster(w, h, bands, 1.0, 1.0, 0.0, 7.0),
      deflate = true, tileSize = 4)
    val refs1 = s"$dir/tiled.refs.json"
    Files.writeString(Paths.get(refs1), KerchunkSource.scanGeoTiff(p1))
    val back1 = spark.read.format("kerchunk").option("vars", "v").load(refs1).collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)) -> r.getDouble(3))
      .toMap
    assert(back1.size == h * w * nb)
    for (j <- 0 until h; i <- 0 until w; k <- 0 until nb)
      assert(back1((7 - (j + 0.5), i + 0.5, k + 1.0)) == bands(k)(j * w + i),
        s"j=$j i=$i band=$k")
    // striped single-band uncompressed (one strip = one whole-image chunk)
    val p2 = s"$dir/striped.tif"
    GeoTiffSource.write(p2,
      GeoTiffSource.Raster(3, 2, Array(1.0, 2.0, 3.0, 4.0, 5.0, 6.0), 1, 1, 0, 2))
    val refs2 = s"$dir/striped.refs.json"
    Files.writeString(Paths.get(refs2), KerchunkSource.scanGeoTiff(p2))
    val back2 = spark.read.format("kerchunk").option("vars", "v").load(refs2).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(back2 == Map(
      (1.5, 0.5) -> 1.0, (1.5, 1.5) -> 2.0, (1.5, 2.5) -> 3.0,
      (0.5, 0.5) -> 4.0, (0.5, 1.5) -> 5.0, (0.5, 2.5) -> 6.0))
    // LZW is not a zarr codec → loud rejection
    val p3 = s"$dir/lzw.tif"
    GeoTiffSource.write(p3,
      GeoTiffSource.Raster(2, 2, Array(1.0, 2.0, 3.0, 4.0), 1, 1, 0, 2), lzw = true)
    val e = intercept[IllegalArgumentException](KerchunkSource.scanGeoTiff(p3))
    assert(e.getMessage.contains("zarr codec"))
  }

  test("kerchunk: scanJp2 maps tiles to chunks; refs read == direct decode") {
    import graft.sources.KerchunkSource
    import graft.sources.jp2.Jp2Source
    val dir = tmpDir("kcj")
    // 10×7 grid, 4×3 tiles → 3×3 tile grid with ragged right/bottom edges
    val (w, h) = (10, 7)
    val grid = Array.tabulate(h * w)(i => (i * 13 + 5) % 211)
    val p = s"$dir/counts.jp2"
    Jp2Source.write(p, w, h, depth = 8, signed = false, Vector(grid),
      nLevels = 2, tileW = 4, tileH = 3)
    val refsJson = KerchunkSource.scanJp2(p)
    // one [url, offset, length] ref per tile, none inline
    val refsPath = s"$dir/counts.refs.json"
    Files.writeString(Paths.get(refsPath), refsJson)
    val refs = KerchunkSource.parse(refsPath)
    val tileKeys = (0 until 3).flatMap(j => (0 until 3).map(i => s"v/$j.$i"))
    tileKeys.foreach(k => assert(refs.contains(k), s"missing chunk ref $k"))
    val back = spark.read.format("kerchunk").option("vars", "v").load(refsPath).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(back.size == h * w)
    for (j <- 0 until h; i <- 0 until w)
      assert(back((j + 0.5, i + 0.5)) == grid(j * w + i).toDouble, s"j=$j i=$i")
    // scanAuto dispatches by the JP2 signature box
    assert(KerchunkSource.scanAuto(p) == refsJson)
    // the direct reader agrees cell for cell
    val direct = Jp2Source.readRaster(spark, p).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(direct == back)
  }

  test("kerchunk: combineRefs concatenates granules along a new dimension") {
    import graft.sources.{KerchunkSource, NetcdfSource}
    import NetcdfSource.NcDim
    val dir = tmpDir("kcc")
    val grids = Seq(Array.tabulate(6)(_ * 1.0), Array.tabulate(6)(i => 100.0 + i))
    val paths = grids.zipWithIndex.map { case (g, k) =>
      val p = s"$dir/g$k.nc"
      NetcdfSource.write(p, Seq(NcDim("y", 2), NcDim("x", 3)),
        Seq(("y", Array(0.5, 1.5)), ("x", Array(0.5, 1.5, 2.5))),
        Seq(("v", Seq("y", "x"), g)))
      p
    }
    val combined = KerchunkSource.combineRefs(
      paths.map(p => KerchunkSource.scanNetcdf(p)), "t", Array(10.0, 20.0))
    val refsPath = s"$dir/combined.refs.json"
    Files.writeString(Paths.get(refsPath), combined)
    val back = spark.read.format("kerchunk").option("vars", "v").load(refsPath).collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)) -> r.getDouble(3))
      .toMap
    assert(back.size == 12)
    for (t <- 0 until 2; j <- 0 until 2; i <- 0 until 3)
      assert(back((Seq(10.0, 20.0)(t), j + 0.5, i + 0.5)) == grids(t)(j * 3 + i),
        s"t=$t j=$j i=$i")
    // granules with different layouts are rejected loudly
    val odd = s"$dir/odd.nc"
    NetcdfSource.write(odd, Seq(NcDim("y", 3), NcDim("x", 2)),
      Seq(("y", Array(0.5, 1.5, 2.5)), ("x", Array(0.5, 1.5))),
      Seq(("v", Seq("y", "x"), Array.fill(6)(0.0))))
    val e = intercept[IllegalArgumentException](KerchunkSource.combineRefs(
      Seq(paths.head, odd).map(p => KerchunkSource.scanNetcdf(p)), "t", Array(0.0, 1.0)))
    assert(e.getMessage.contains("differs"))
  }

  test("kerchunk lazy: bounded streaming passes; fill semantics; 1M-ref sibling skipped") {
    import graft.sources.KerchunkSource
    val dir = tmpDir("kclazy")
    val inline = ByteBuffer.allocate(8).order(ByteOrder.BIG_ENDIAN)
    inline.putFloat(1.5f); inline.putFloat(2.5f)
    val b64 = java.util.Base64.getEncoder.encodeToString(inline.array())
    val zarraySmall = """{"zarr_format":2,"shape":[3,2],"chunks":[1,2],""" +
      """"dtype":">f4","compressor":null,"fill_value":-9.0,""" +
      """"filters":null,"order":"C"}"""
    val zarrayBig = """{"zarr_format":2,"shape":[1000000],"chunks":[1],""" +
      """"dtype":">f4","compressor":null,"fill_value":0.0,""" +
      """"filters":null,"order":"C"}"""
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val refsPath = s"$dir/refs.json"
    // 10^6-ref document written streamingly (~40 MB) — the lazy read path
    // must open `small` without ever materializing `big`'s refs
    val w = Files.newBufferedWriter(Paths.get(refsPath))
    w.write("""{"version": 1, "refs": {""")
    w.write(""" ".zgroup": "{\"zarr_format\":2}",""")
    w.write(s""" "small/.zarray": ${m.writeValueAsString(zarraySmall)},""")
    w.write(s""" "small/0.0": "base64:$b64",""")
    w.write(s""" "small/2.0": "base64:$b64",""")
    w.write(s""" "big/.zarray": ${m.writeValueAsString(zarrayBig)}""")
    var i = 0
    while (i < 1000000) {
      w.write(s""", "big/$i": ["file:///nope", $i, 4]"""); i += 1
    }
    w.write("}}")
    w.close()
    // metadata pass keeps exactly the .z* keys — O(#arrays), not O(refs)
    val meta = KerchunkSource.parseSelective(refsPath,
      k => k.substring(k.lastIndexOf('/') + 1).startsWith(".z"))
    assert(meta.entries.size == 3, meta.entries.keys)
    // selective stream of small's chunk refs sees 2 entries, none of big's
    var streamed = 0L
    streamed = KerchunkSource.streamRefs(refsPath,
      k => k.startsWith("small/") && !k.contains("/.z"))((_, _) => ())
    assert(streamed == 2L)
    // lazy read: inline chunks decode, the missing chunk fills
    val back = spark.read.format("kerchunk").option("vars", "small").load(refsPath)
      .collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(back == Map(
      (0.0, 0.0) -> 1.5, (0.0, 1.0) -> 2.5,
      (1.0, 0.0) -> -9.0, (1.0, 1.0) -> -9.0,
      (2.0, 0.0) -> 1.5, (2.0, 1.0) -> 2.5))
  }

  test("kerchunk lazy: the lazy refs scan equals the eager-parsed truth on a group") {
    import spark.implicits._
    import graft.sources.KerchunkSource
    val ys = Array(10.0, 20.0, 30.0)
    val xs = Array(0.5, 1.5, 2.5, 3.5, 4.5)
    val rows = for {
      (y, j) <- ys.zipWithIndex.toSeq
      (x, i) <- xs.zipWithIndex
      if !(j == 1 && i == 3)
    } yield (y, x, j * 10.0 + i)
    val g = s"${tmpDir("kclz2")}/cube.zarr"
    ZarrSource.writeCube(rows.toDF("y", "x", "v"), g, "v",
      Seq("y" -> ys, "x" -> xs), chunks = Seq(2, 2))
    val refsPath = s"${tmpDir("kclr2")}/refs.json"
    Files.writeString(Paths.get(refsPath), KerchunkSource.scanZarr(g))
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val eager = asMap(graft.sources.CubeTruth.kerchunk(spark, refsPath, Seq("v")))
    val lazyM = asMap(spark.read.format("kerchunk").option("vars", "v").load(refsPath))
    assert(eager.size == 15 && lazyM.size == 15)
    eager.foreach { case (k, v) =>
      assert(v.isNaN == lazyM(k).isNaN && (v.isNaN || v == lazyM(k)), s"at $k")
    }
  }

  test("kerchunk: inline base64 chunks, bare [url] refs, missing key = fill") {
    import graft.sources.KerchunkSource
    val dir = tmpDir("kci")
    // external file for a bare [url] whole-file ref (big-endian f4 pair)
    val ext = ByteBuffer.allocate(8).order(ByteOrder.BIG_ENDIAN)
    ext.putFloat(7.5f); ext.putFloat(8.5f)
    Files.write(Paths.get(s"$dir/c01"), ext.array())
    val inline = ByteBuffer.allocate(8).order(ByteOrder.BIG_ENDIAN)
    inline.putFloat(1.5f); inline.putFloat(2.5f)
    val b64 = java.util.Base64.getEncoder.encodeToString(inline.array())
    val zarray = """{"zarr_format":2,"shape":[3,2],"chunks":[1,2],""" +
      """"dtype":">f4","compressor":null,"fill_value":-9.0,""" +
      """"filters":null,"order":"C"}"""
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val refsPath = s"$dir/refs.json"
    Files.writeString(Paths.get(refsPath),
      s"""{"version": 1, "refs": {
         | ".zgroup": "{\\"zarr_format\\":2}",
         | "a/.zarray": ${m.writeValueAsString(zarray)},
         | "a/0.0": "base64:$b64",
         | "a/1.0": ["file://$dir/c01"]
         |}}""".stripMargin)
    val back = spark.read.format("kerchunk").option("vars", "a").load(refsPath).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(back == Map(
      (0.0, 0.0) -> 1.5, (0.0, 1.0) -> 2.5,   // inline base64
      (1.0, 0.0) -> 7.5, (1.0, 1.0) -> 8.5,   // bare [url] whole file
      (2.0, 0.0) -> -9.0, (2.0, 1.0) -> -9.0)) // missing key → fill_value
  }
}
