package graft

import graft.sources.ByteStore
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import graft.TestDirs.tmpDir

/** ByteStore local-path contract: the dispatch layer every chunked source
  * reads/writes through. Remote (s3g) behavior is covered end-to-end in
  * [[S3EmulatorSpec]]; these pin the local fast path and the shared
  * range-read bounds. */
class ByteStoreSpec extends AnyFunSuite {

  private val bs = ByteStore(Map.empty)

  test("write creates parent directories; read/exists/delete round-trip") {
    val dir = tmpDir("bsw")
    val p = s"$dir/a/b/c.bin"
    val payload = Array.tabulate[Byte](300)(i => (i % 121).toByte)
    bs.write(p, payload)
    assert(bs.exists(p))
    assert(bs.read(p).toSeq === payload.toSeq)
    assert(bs.readIfExists(p).map(_.length) === Some(300))
    assert(bs.readIfExists(s"$dir/nope") === None)
    assert(bs.size(p) === 300)
    bs.delete(p)
    assert(!bs.exists(p))
    bs.delete(p) // idempotent
  }

  test("readRange: inclusive slice, to-EOF, bounds rejected loudly") {
    val dir = tmpDir("bsr")
    val p = s"$dir/r.bin"
    val payload = Array.tabulate[Byte](1000)(i => (i % 251).toByte)
    bs.write(p, payload)
    assert(bs.readRange(p, 10, 20).toSeq === payload.slice(10, 30).toSeq)
    assert(bs.readRange(p, 990, -1).toSeq === payload.slice(990, 1000).toSeq)
    assert(bs.readRange(p, 0, -1).length === 1000)
    intercept[IllegalArgumentException](bs.readRange(p, 990, 20))
    intercept[IllegalArgumentException](bs.readRange(p, -1, 5))
  }

  test("list and walkFiles: names, dir flags, relative slash paths") {
    val dir = tmpDir("bsl")
    bs.write(s"$dir/top.txt", "t".getBytes)
    bs.write(s"$dir/sub/inner.txt", "i".getBytes)
    bs.write(s"$dir/sub/deep/leaf.txt", "l".getBytes)
    assert(bs.list(dir).toSet === Set(("top.txt", false), ("sub", true)))
    assert(bs.walkFiles(dir).sorted ===
      Seq("sub/deep/leaf.txt", "sub/inner.txt", "top.txt"))
    assert(bs.walkFiles(s"$dir/sub").sorted ===
      Seq("deep/leaf.txt", "inner.txt"))
  }

  test("http(s) branch: ranged GETs, HEAD metadata, loud read-only rejects") {
    // the in-JVM S3 emulator doubles as a plain HTTP file server: a
    // read-only directory mount serves GET/HEAD with Range support —
    // exactly the web-archive surface the http(s) branch exists for
    val emu = graft.sources.s3.S3Emulator.shared
    val dir = tmpDir("bsh")
    val payload = Array.tabulate[Byte](1000)(i => (i % 251).toByte)
    bs.write(s"$dir/r.bin", payload)
    emu.mountDir("bshttp", dir)
    val url = s"${emu.endpoint}/bshttp/r.bin"
    assert(bs.exists(url))
    assert(!bs.exists(s"${emu.endpoint}/bshttp/nope.bin"))
    assert(bs.size(url) === 1000)
    assert(bs.read(url).toSeq === payload.toSeq)
    assert(bs.readIfExists(s"${emu.endpoint}/bshttp/nope.bin") === None)
    // ranged reads: inclusive slice, open-ended to-EOF, one round trip
    assert(bs.readRange(url, 10, 20).toSeq === payload.slice(10, 30).toSeq)
    assert(bs.readRange(url, 990, -1).toSeq === payload.slice(990, 1000).toSeq)
    assert(bs.readRange(url, 0, -1).length === 1000)
    assert(bs.readRange(url, 5, 0).length === 0)
    intercept[java.io.FileNotFoundException](
      bs.readRange(s"${emu.endpoint}/bshttp/nope.bin", 0, 4))
    // the protocol is read-only and unlisted — loud rejects, not no-ops
    intercept[UnsupportedOperationException](bs.write(url, Array[Byte](1)))
    intercept[UnsupportedOperationException](bs.delete(url))
    intercept[UnsupportedOperationException](bs.list(s"${emu.endpoint}/bshttp"))
    intercept[UnsupportedOperationException](bs.walkFiles(s"${emu.endpoint}/bshttp"))
  }

  test("mkdirs is a real mkdir locally and file: paths stay on the local branch") {
    val dir = tmpDir("bsm")
    bs.mkdirs(s"$dir/x/y")
    assert(Files.isDirectory(Paths.get(s"$dir/x/y")))
    // "file:" prefixed paths must NOT be treated as remote (the isRemote
    // check excludes them so java.nio handles all local shapes)
    val p = s"$dir/f.bin"
    bs.write(p, Array[Byte](1, 2, 3))
    assert(bs.exists(p))
  }

  test("readRanges: gap/block coalescing, request counts, input order") {
    val emu = graft.sources.s3.S3Emulator.shared
    val dir = tmpDir("bsrr")
    val payload = Array.tabulate[Byte](256 * 1024)(i => (i % 127).toByte)
    Files.write(Paths.get(s"$dir/blob.bin"), payload)
    emu.mountDir("bsrr", dir)
    val url = s"${emu.endpoint}/bsrr/blob.bin"
    def gets = emu.requestCount("GET")
    // two near ranges (gap 50 ≤ 64 KB) + one far range (gap > 64 KB away)
    // -> exactly 2 GETs, payloads correct and in INPUT order
    val b0 = gets
    val got = bs.readRanges(url,
      Seq((150L, 100L), (0L, 100L), (200L * 1024, 64L)))
    assert(gets - b0 === 2, "near ranges must merge into one request")
    assert(got(0).toSeq === payload.slice(150, 250).toSeq)
    assert(got(1).toSeq === payload.slice(0, 100).toSeq)
    assert(got(2).toSeq === payload.slice(200 * 1024, 200 * 1024 + 64).toSeq)
    // maxBlock caps a merged run: 3 adjacent ranges, block cap 20 -> 2 GETs
    val b1 = gets
    val caps = bs.readRanges(url, Seq((0L, 10L), (10L, 10L), (20L, 10L)),
      maxGap = 0L, maxBlock = 20L)
    assert(gets - b1 === 2)
    assert(caps.map(_.toSeq) ===
      Seq(payload.slice(0, 10).toSeq, payload.slice(10, 20).toSeq,
        payload.slice(20, 30).toSeq))
    // overlapping ranges merge and slice independently
    val ov = bs.readRanges(url, Seq((0L, 30L), (10L, 10L)))
    assert(ov(0).toSeq === payload.slice(0, 30).toSeq)
    assert(ov(1).toSeq === payload.slice(10, 20).toSeq)
    // a single range is a plain readRange (one request)
    val b2 = gets
    assert(bs.readRanges(url, Seq((5L, 7L))).head.toSeq ===
      payload.slice(5, 12).toSeq)
    assert(gets - b2 === 1)
  }

  test("kerchunk DSv2 over http: per-task refs coalesce into one GET each") {
    import graft.sources.{Hdf5Source, KerchunkSource}
    import graft.sources.NetcdfSource.NcDim
    val spark = GraftSession.builder("4").getOrCreate()
    import org.apache.spark.sql.functions._
    val emu = graft.sources.s3.S3Emulator.shared
    val dir = tmpDir("krcoal")
    val p = s"$dir/cube.nc"
    val y = Array(1.0, 2.0, 3.0, 4.0)
    val x = Array.tabulate(6)(_ + 0.5)
    val v = Array.tabulate(24)(_ * 1.0)
    Hdf5Source.write(p, Seq(NcDim("y", 4), NcDim("x", 6)),
      Seq(("y", y), ("x", x)),
      Seq(("v", Seq("y", "x"), v), ("w", Seq("y", "x"), v.map(_ + 0.5))),
      chunkOf = Map("v" -> Seq(2, 3), "w" -> Seq(2, 3)))
    emu.mountDir("krcoal", dir)
    // the same refs, re-pointed at the web-served granule
    val refs = KerchunkSource.scanAuto(p)
      .replace(new java.io.File(p).toURI.toString,
        s"${emu.endpoint}/krcoal/cube.nc")
    val refsPath = s"$dir/refs.json"
    Files.write(Paths.get(refsPath), refs.getBytes("UTF-8"))
    val ds = spark.read.format("kerchunk").load(refsPath)
    val b0 = emu.requestCount("GET")
    // 4 chunk partitions × 2 variables: without coalescing 8 GETs; the
    // tiny granule's ranges all sit within one 64 KB gap -> 4 GETs
    assert(ds.agg(sum("v"), sum("w")).head.getDouble(0) === v.sum)
    assert(emu.requestCount("GET") - b0 === 4,
      "each task must fetch its variable chunks in one coalesced request")
  }
}
