package graft.sources

import graft.TestDirs.tmpDir
import graft.sources.ZarrSource.Shard
import org.scalatest.funsuite.AnyFunSuite
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

/** The two shard decoders walk one shard index: the whole-object decode
  * ([[ZarrV3Source.decodeShard]]) and the ranged, admitted-inner-chunks
  * decode ([[ZarrV3Source.decodeShardSelective]]) agree bit for bit and
  * fail on the same malformed shards. */
class ShardWalkSpec extends AnyFunSuite {

  /** One 4×6 array stored as a single shard of 2×3 inner chunks (raw
    * little-endian f8, crc32c'd index at the end), fill -5. Inner chunk 2
    * is missing; inner chunk 1 holds a -0.0. Returns the array and the
    * shard's path. */
  private def fixture(entries: Option[Seq[(Long, Long)]] = None,
                      truncate: Int = 0): (ZarrSource.ZarrArray, String) = {
    val g = s"${tmpDir("shardwalk")}/c.zarr"
    Files.createDirectories(Paths.get(s"$g/v/c/0"))
    Files.write(Paths.get(s"$g/zarr.json"),
      """{"zarr_format": 3, "node_type": "group", "attributes": {}}""".getBytes)
    Files.write(Paths.get(s"$g/v/zarr.json"),
      """{"zarr_format": 3, "node_type": "array",
        | "shape": [4, 6], "data_type": "float64",
        | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [4, 6]}},
        | "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        | "fill_value": -5.0,
        | "codecs": [{"name": "sharding_indexed", "configuration": {
        |   "chunk_shape": [2, 3],
        |   "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}],
        |   "index_codecs": [{"name": "bytes", "configuration": {"endian": "little"}},
        |                    {"name": "crc32c"}],
        |   "index_location": "end"}}],
        | "dimension_names": ["y", "x"]}""".stripMargin.getBytes)
    def inner(ord: Int): Array[Byte] = {
      val b = ByteBuffer.allocate(6 * 8).order(ByteOrder.LITTLE_ENDIAN)
      (0 until 6).foreach(i => b.putDouble(if (ord == 1 && i == 4) -0.0 else ord * 10.0 + i * 0.25))
      b.array()
    }
    val present = Seq(0, 1, 3)
    val body = present.flatMap(inner).toArray
    val idx = ByteBuffer.allocate(4 * 16).order(ByteOrder.LITTLE_ENDIAN)
    val layout = entries.getOrElse((0 until 4).map { ord =>
      val at = present.indexOf(ord)
      if (at < 0) (-1L, -1L) else (at * 48L, 48L)
    })
    layout.foreach { case (off, nb) => idx.putLong(off).putLong(nb) }
    val c = new java.util.zip.CRC32C
    c.update(idx.array(), 0, idx.array().length)
    val crc = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(c.getValue.toInt).array()
    val shard = body ++ idx.array() ++ crc
    val path = s"$g/v/c/0/0"
    Files.write(Paths.get(path), shard.take(shard.length - truncate))
    (ZarrV3Source.openArray(s"$g/v"), path)
  }

  private def shardOf(za: ZarrSource.ZarrArray): Shard = za.codec match {
    case sh: Shard => sh
    case other => fail(s"not sharded: $other")
  }

  private def bits(a: Array[Double]): Seq[Long] =
    a.toSeq.map(java.lang.Double.doubleToRawLongBits)

  test("selective decode with every inner chunk admitted equals the full decode bit for bit") {
    val (za, path) = fixture()
    val full = ZarrV3Source.decodeShard(Files.readAllBytes(Paths.get(path)), za, shardOf(za))
    val selective = ZarrV3Source.decodeShardSelective(ByteStore.current, path, za,
      shardOf(za), keep = (0 until 4).toSet, failValue = 99.0)
    assert(bits(selective) == bits(full))
    // the missing inner chunk (rows 2-3, cols 0-2) reads as the fill, the
    // -0.0 keeps its sign
    assert(full(2 * 6 + 0) == -5.0 && full(3 * 6 + 2) == -5.0)
    assert(java.lang.Double.doubleToRawLongBits(full(1 * 6 + 4)) ==
      java.lang.Double.doubleToRawLongBits(-0.0))
    assert(full(3 * 6 + 5) == 30.0 + 5 * 0.25)
    // an excluded inner chunk takes the exclusion value, the rest is unchanged
    val part = ZarrV3Source.decodeShardSelective(ByteStore.current, path, za,
      shardOf(za), keep = Set(0, 2, 3), failValue = 99.0)
    assert(part(0 * 6 + 3) == 99.0 && part(1 * 6 + 5) == 99.0)
    assert(bits(part.patch(3, full.slice(3, 6), 3).patch(9, full.slice(9, 12), 3)) == bits(full))
  }

  test("a truncated shard fails both decoders with its require message") {
    val (za, path) = fixture(truncate = 3 * 48 + 10)
    val raw = Files.readAllBytes(Paths.get(path))
    val e1 = intercept[IllegalArgumentException](
      ZarrV3Source.decodeShard(raw, za, shardOf(za)))
    assert(e1.getMessage.contains(s"shard of ${raw.length} bytes shorter than its 68-byte index"),
      e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      ZarrV3Source.decodeShardSelective(ByteStore.current, path, za, shardOf(za),
        keep = (0 until 4).toSet, failValue = 0.0))
    assert(e2.getMessage.contains(
      s"$path: shard of ${raw.length} bytes shorter than its 68-byte index"), e2.getMessage)
  }

  test("an out-of-bounds index entry fails both decoders with its require message") {
    val (za, path) = fixture(entries = Some(Seq((0L, 48L), (48L, 48L), (-1L, -1L), (96L, 4800L))))
    val raw = Files.readAllBytes(Paths.get(path))
    val e1 = intercept[IllegalArgumentException](
      ZarrV3Source.decodeShard(raw, za, shardOf(za)))
    assert(e1.getMessage.contains("shard index entry 3 out of bounds: offset=96 nbytes=4800"),
      e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      ZarrV3Source.decodeShardSelective(ByteStore.current, path, za, shardOf(za),
        keep = (0 until 4).toSet, failValue = 0.0))
    assert(e2.getMessage.contains(
      s"$path: shard index entry 3 out of bounds: offset=96 nbytes=4800"), e2.getMessage)
    // an entry the selective decode does not admit is never checked
    val ok = ZarrV3Source.decodeShardSelective(ByteStore.current, path, za, shardOf(za),
      keep = Set(0, 1), failValue = 0.0)
    assert(ok(0) == 0.0 && ok(1 * 6 + 2) == 5 * 0.25)
  }
}
