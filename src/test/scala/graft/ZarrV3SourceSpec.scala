package graft

import graft.sources.{ZarrSource, ZarrV3Source}
import graft.sources.ZarrSource.{Blosc, Crc32c, Gzip, Shard, V3Chain, ZstdC}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import graft.TestDirs.tmpDir

class ZarrV3SourceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()

  test("v3 write → read round-trip: zstd+crc32c chain, edge chunks, fill") {
    import spark.implicits._
    val ys = Array(10.0, 20.0, 30.0)
    val xs = Array(0.5, 1.5, 2.5, 3.5, 4.5)
    val rows = for {
      (y, j) <- ys.zipWithIndex.toSeq
      (x, i) <- xs.zipWithIndex
      if !(j == 1 && i == 3)
    } yield (y, x, j * 10.0 + i)
    val g = s"${tmpDir("zarrv3")}/cube.zarr"
    ZarrV3Source.writeCube(rows.toDF("y", "x", "v"), g, "v",
      Seq("y" -> ys, "x" -> xs), chunks = Seq(2, 2),
      steps = Seq(ZstdC(3), Crc32c))
    // v3 store shape: one zarr.json per node, chunk objects under c/
    assert(Files.exists(Paths.get(s"$g/zarr.json")))
    assert(Files.exists(Paths.get(s"$g/v/zarr.json")))
    assert(Files.exists(Paths.get(s"$g/v/c/0/0")) &&
      Files.exists(Paths.get(s"$g/v/c/1/2")))
    assert(!Files.exists(Paths.get(s"$g/v/.zarray"))) // no v2 documents
    val back = spark.read.format("zarr").option("vars", "v").load(g).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(back.size == 15)
    assert(back((10.0, 0.5)) == 0.0 && back((30.0, 4.5)) == 24.0)
    assert(back((20.0, 3.5)).isNaN) // unwritten cell = fill
  }

  test("gzip codec and an uncompressed chain both round-trip") {
    import spark.implicits._
    for ((steps, tag) <- Seq((Seq(Gzip(6)), "gz"), (Nil, "raw"))) {
      val ys = Array(1.0, 2.0)
      val xs = Array(3.0, 4.0)
      val g = s"${tmpDir(s"zarrv3$tag")}/c.zarr"
      ZarrV3Source.writeCube(
        Seq((1.0, 3.0, 10.0), (2.0, 4.0, 20.5)).toDF("y", "x", "v"),
        g, "v", Seq("y" -> ys, "x" -> xs), chunks = Seq(2, 2), steps = steps)
      val back = spark.read.format("zarr").option("vars", "v").load(g).collect()
        .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
      assert(back((1.0, 3.0)) == 10.0 && back((2.0, 4.0)) == 20.5)
      assert(back((1.0, 4.0)).isNaN)
    }
  }

  test("crc32c corruption is detected loudly") {
    import spark.implicits._
    val g = s"${tmpDir("zarrv3crc")}/c.zarr"
    ZarrV3Source.writeCube(
      Seq((1.0, 3.0, 10.0)).toDF("y", "x", "v"), g, "v",
      Seq("y" -> Array(1.0), "x" -> Array(3.0)), chunks = Seq(1, 1),
      steps = Seq(Crc32c))
    val p = Paths.get(s"$g/v/c/0/0")
    val bytes = Files.readAllBytes(p)
    bytes(0) = (bytes(0) ^ 0x1).toByte
    Files.write(p, bytes)
    val e = intercept[Exception] {
      spark.read.format("zarr").option("vars", "v").load(g).collect()
    }
    assert(e.getMessage != null || e.getCause != null) // task wraps the require
  }

  test("sharded store: one object per shard, inner-chunk index, fill, blosc") {
    import spark.implicits._
    // 4×6 array, 2×3 shards of 1×1 inner chunks → 2×2 shard grid; the
    // (1,1) shard never written → whole region reads as fill
    val ys = Array(0.0, 1.0, 2.0, 3.0)
    val xs = Array(0.0, 1.0, 2.0, 3.0, 4.0, 5.0)
    val rows = for {
      (y, j) <- ys.zipWithIndex.toSeq
      (x, i) <- xs.zipWithIndex
      if j < 2 || i < 3 // leaves the lower-right shard empty
    } yield (y, x, j * 10.0 + i)
    val g = s"${tmpDir("zarrv3shard")}/c.zarr"
    ZarrV3Source.writeCube(rows.toDF("y", "x", "v"), g, "v",
      Seq("y" -> ys, "x" -> xs), chunks = Seq(2, 3),
      steps = Seq(Blosc("lz4", 5, shuffle = 1)), shardInner = Some(Seq(1, 1)))
    // exactly 3 shard objects (the empty one is absent)
    assert(Files.exists(Paths.get(s"$g/v/c/0/0")) &&
      Files.exists(Paths.get(s"$g/v/c/1/0")) &&
      !Files.exists(Paths.get(s"$g/v/c/1/1")))
    // metadata declares sharding_indexed
    val doc = new String(Files.readAllBytes(Paths.get(s"$g/v/zarr.json")))
    assert(doc.contains("sharding_indexed") && doc.contains("index_location"))
    val back = spark.read.format("zarr").option("vars", "v").load(g).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(back.size == 24)
    assert(back((0.0, 0.0)) == 0.0 && back((3.0, 2.0)) == 32.0)
    assert(back((1.0, 5.0)) == 15.0)
    assert(back((2.0, 3.0)).isNaN && back((3.0, 5.0)).isNaN)
  }

  test("shard index marks missing inner chunks; hand-built shard reads back") {
    // hand-build a store with ONE 2×2 shard of 1×1 inner chunks where only
    // (0,0) and (1,1) are present — offsets/lengths little-endian, 2^64-1 =
    // missing, crc32c'd index at the end (the layout zarr-python writes)
    val g = s"${tmpDir("zarrv3handshard")}/c.zarr"
    Files.createDirectories(Paths.get(s"$g/v/c/0"))
    Files.write(Paths.get(s"$g/zarr.json"),
      """{"zarr_format": 3, "node_type": "group", "attributes": {}}""".getBytes)
    Files.write(Paths.get(s"$g/v/zarr.json"),
      """{"zarr_format": 3, "node_type": "array",
        | "shape": [2, 2], "data_type": "float64",
        | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [2, 2]}},
        | "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        | "fill_value": -5.0,
        | "codecs": [{"name": "sharding_indexed", "configuration": {
        |   "chunk_shape": [1, 1],
        |   "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}],
        |   "index_codecs": [{"name": "bytes", "configuration": {"endian": "little"}},
        |                    {"name": "crc32c"}],
        |   "index_location": "end"}}],
        | "dimension_names": ["y", "x"]}""".stripMargin.getBytes)
    def enc(v: Double): Array[Byte] = {
      val b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      b.putDouble(v); b.array()
    }
    val body = enc(7.0) ++ enc(9.0)
    val idx = ByteBuffer.allocate(4 * 16).order(ByteOrder.LITTLE_ENDIAN)
    idx.putLong(0L).putLong(8L)     // (0,0) present
    idx.putLong(-1L).putLong(-1L)   // (0,1) missing
    idx.putLong(-1L).putLong(-1L)   // (1,0) missing
    idx.putLong(8L).putLong(8L)     // (1,1) present
    val c = new java.util.zip.CRC32C
    c.update(idx.array(), 0, idx.array().length)
    val crc = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(c.getValue.toInt).array()
    Files.write(Paths.get(s"$g/v/c/0/0"), body ++ idx.array() ++ crc)
    val back = spark.read.format("zarr").option("vars", "v").load(g).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(back == Map((0.0, 0.0) -> 7.0, (0.0, 1.0) -> -5.0,
      (1.0, 0.0) -> -5.0, (1.0, 1.0) -> 9.0)) // fill_value -5 where absent
  }

  test("v2-style chunk keys and big-endian bytes codec read back") {
    val dir = tmpDir("zarrv3v2keys")
    val g = s"$dir/c.zarr"
    Files.createDirectories(Paths.get(s"$g/v"))
    Files.write(Paths.get(s"$g/zarr.json"),
      """{"zarr_format": 3, "node_type": "group", "attributes": {}}""".getBytes)
    Files.write(Paths.get(s"$g/v/zarr.json"),
      """{"zarr_format": 3, "node_type": "array",
        | "shape": [2, 2], "data_type": "int16",
        | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [2, 2]}},
        | "chunk_key_encoding": {"name": "v2", "configuration": {"separator": "."}},
        | "fill_value": 0,
        | "codecs": [{"name": "bytes", "configuration": {"endian": "big"}}],
        | "dimension_names": ["y", "x"]}""".stripMargin.getBytes)
    val payload = ByteBuffer.allocate(8).order(ByteOrder.BIG_ENDIAN)
    payload.putShort(1).putShort(-2).putShort(300).putShort(4)
    Files.write(Paths.get(s"$g/v/0.0"), payload.array())
    val za = ZarrV3Source.openArray(s"$g/v")
    assert(za.dtype == ">i2" && !za.v3DefaultKeys && za.separator == ".")
    val back = spark.read.format("zarr").option("vars", "v").load(g).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(back == Map((0.0, 0.0) -> 1.0, (0.0, 1.0) -> -2.0,
      (1.0, 0.0) -> 300.0, (1.0, 1.0) -> 4.0))
  }

  test("consolidated metadata in the group document carries the reader") {
    import spark.implicits._
    val g = s"${tmpDir("zarrv3cons")}/c.zarr"
    ZarrV3Source.writeCube(
      Seq((1.0, 3.0, 10.0), (2.0, 4.0, 20.0)).toDF("y", "x", "v"),
      g, "v", Seq("y" -> Array(1.0, 2.0), "x" -> Array(3.0, 4.0)),
      chunks = Seq(2, 2))
    assert(ZarrV3Source.listArrays(g).toSet == Set("y", "x", "v"))
    // delete every per-array document: the group's inline consolidated
    // metadata must be sufficient (the object-store fast path)
    Seq("y", "x", "v").foreach(a => Files.delete(Paths.get(s"$g/$a/zarr.json")))
    assert(ZarrV3Source.listArrays(g).toSet == Set("y", "x", "v"))
    val back = spark.read.format("zarr").option("vars", "v").load(g)
    assert(back.filter(!isnan(col("v"))).count() == 2)
  }

  test("openDataset opens every data variable of a v3 group on one grid") {
    import spark.implicits._
    val ys = Array(10.0, 20.0)
    val xs = Array(0.5, 1.5, 2.5)
    val cells = for { (y, j) <- ys.zipWithIndex.toSeq; (x, i) <- xs.zipWithIndex }
      yield (y, x, j * 10.0 + i)
    val g = s"${tmpDir("zarrv3open")}/cube.zarr"
    ZarrV3Source.writeCube(cells.toDF("y", "x", "v"), g, "v",
      Seq("y" -> ys, "x" -> xs), chunks = Seq(1, 2))
    ZarrV3Source.writeCube(cells.map { case (y, x, v) => (y, x, -v) }.toDF("y", "x", "w"),
      g, "w", Seq("y" -> ys, "x" -> xs), chunks = Seq(1, 2))
    // each writeCube consolidates only its own variable: drop the
    // consolidated metadata so the group lists both arrays
    Files.write(Paths.get(s"$g/zarr.json"),
      """{"zarr_format": 3, "node_type": "group", "attributes": {}}""".getBytes)
    assert(ZarrV3Source.listArrays(g) == Seq("v", "w", "x", "y"))
    val opened = graft.sources.DataStore.openDataset(spark, g)
    assert(opened.columns.toSeq == Seq("y", "x", "v", "w"))
    val back = opened.collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(back == cells.map { case (y, x, v) => (y, x) -> (v, -v) }.toMap)
  }

  test("plain large v3 chunks: the born sidecar equals ANALYZE's (no strips)") {
    import graft.sources.zarr.{ChunkStats, ZarrTable}
    // one 1×256×512 raw chunk: 131072 cells, past the virtual-strip
    // threshold, which the reader applies to v2 and refs tables only
    val ys = Array.tabulate(256)(_ + 0.5)
    val xs = Array.tabulate(512)(_ + 0.5)
    val df = spark.range(256L * 512).select(lit(0.0).as("t"),
      (expr("id div 512").cast("double") + 0.5).as("y"),
      ((col("id") % 512L).cast("double") + 0.5).as("x"),
      when(col("id") % 5 === 0, lit(Double.NaN))
        .otherwise(col("id").cast("double")).as("v"))
    val g = s"${tmpDir("v3plainstats")}/cube.zarr"
    ZarrV3Source.writeCube(df, g, "v",
      Seq("t" -> Array(0.0), "y" -> ys, "x" -> xs),
      chunks = Seq(1, 256, 512), steps = Seq(), stats = true)
    def loaded() = ChunkStats.load(graft.sources.ByteStore.current, g,
      ZarrTable.open(g).za, g).get.asInstanceOf[ChunkStats.EagerStats]
    val born = loaded()
    ChunkStats.analyze(spark, g)
    val analyzed = loaded()
    assert(analyzed.vars === born.vars)
    assert(analyzed.grids === born.grids)
    assert(born.grids.isEmpty && born.vars("v").keySet === Set("0.0.0"))
  }

  test("unsupported v3 features are rejected loudly") {
    val dir = tmpDir("zarrv3rej")
    def doc(codecs: String): String =
      s"""{"zarr_format": 3, "node_type": "array", "shape": [2],
         | "data_type": "float64",
         | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [2]}},
         | "chunk_key_encoding": {"name": "default"},
         | "fill_value": "NaN", "codecs": $codecs,
         | "dimension_names": ["x"]}""".stripMargin
    def open(name: String, codecs: String): Exception = {
      val a = s"$dir/$name"
      Files.createDirectories(Paths.get(a))
      Files.write(Paths.get(s"$a/zarr.json"), doc(codecs).getBytes)
      intercept[IllegalArgumentException](ZarrV3Source.openArray(a))
    }
    assert(open("transpose",
      """[{"name": "transpose", "configuration": {"order": [0]}},
        | {"name": "bytes", "configuration": {"endian": "little"}}]""".stripMargin)
      .getMessage.contains("bytes"))
    assert(open("vlen",
      """[{"name": "bytes", "configuration": {"endian": "little"}},
        | {"name": "vlen-utf8"}]""".stripMargin)
      .getMessage.contains("unsupported"))
  }
}
