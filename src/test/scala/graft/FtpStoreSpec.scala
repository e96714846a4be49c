package graft

import graft.sources.{ByteStore, FtpIo}
import graft.sources.ftp.FtpEmulator
import org.scalatest.funsuite.AnyFunSuite

/** ftp:// store protocol over the in-JVM passive-mode emulator — the
  * fsspec FTPFileSystem analog (reference plugin.py:82-89), exercised
  * through real loopback sockets: control+data connections, PASV, SIZE,
  * REST-ranged RETR, NLST, STOR/DELE/MKD. */
class FtpStoreSpec extends AnyFunSuite {

  private lazy val root: java.io.File = {
    new java.io.File(TestDirs.tmpDir("ftp-root"))
  }
  private lazy val emu: FtpEmulator = {
    val e = FtpEmulator.shared
    e.mountDir("specmount", root.getAbsolutePath)
    e
  }
  private def url(rel: String) = s"${emu.endpoint}/specmount/$rel"

  test("write / read / size / exists round-trip") {
    val bs = ByteStore.current
    val payload = Array.tabulate(70000)(i => (i * 31 + 7).toByte)
    bs.write(url("a/b/data.bin"), payload)
    assert(bs.exists(url("a/b/data.bin")))
    assert(bs.size(url("a/b/data.bin")) == 70000L)
    assert(java.util.Arrays.equals(bs.read(url("a/b/data.bin")), payload))
    assert(!bs.exists(url("a/b/nothing.bin")))
    intercept[java.io.FileNotFoundException] { bs.read(url("a/b/nope")) }
    assert(bs.readIfExists(url("a/b/nope")).isEmpty)
    ()
  }

  test("REST-ranged reads return exactly the requested window") {
    val bs = ByteStore.current
    val payload = Array.tabulate(300000)(i => (i % 251).toByte)
    bs.write(url("ranges.bin"), payload)
    // interior window, zero-length, open-ended tail
    assert(java.util.Arrays.equals(
      bs.readRange(url("ranges.bin"), 65536, 1000),
      java.util.Arrays.copyOfRange(payload, 65536, 66536)))
    assert(bs.readRange(url("ranges.bin"), 10, 0).isEmpty)
    assert(java.util.Arrays.equals(
      bs.readRange(url("ranges.bin"), 299000, -1),
      java.util.Arrays.copyOfRange(payload, 299000, 300000)))
    // coalesced multi-range path rides the same primitive
    val rs = bs.readRanges(url("ranges.bin"), Seq((0L, 10L), (100000L, 5L)))
    assert(java.util.Arrays.equals(rs(0),
      java.util.Arrays.copyOfRange(payload, 0, 10)))
    assert(java.util.Arrays.equals(rs(1),
      java.util.Arrays.copyOfRange(payload, 100000, 100005)))
  }

  test("list / walkFiles see files and directories; delete removes") {
    val bs = ByteStore.current
    bs.write(url("tree/x.bin"), Array[Byte](1, 2, 3))
    bs.write(url("tree/sub/y.bin"), Array[Byte](4, 5))
    val names = bs.list(url("tree")).toMap
    assert(names.get("x.bin").contains(false)) // file
    assert(names.get("sub").contains(true))    // directory
    val walked = bs.walkFilesSized(url("tree")).toMap
    assert(walked == Map("x.bin" -> 3L, "sub/y.bin" -> 2L))
    assert(bs.walkFiles(url("tree")).toSet == Set("x.bin", "sub/y.bin"))
    bs.delete(url("tree/x.bin"))
    assert(!bs.exists(url("tree/x.bin")))
    assert(bs.exists(url("tree"))) // directory probe via CWD
  }

  test("a zarr cube reads over ftp:// byte-for-byte (chunk RETRs)") {
    import graft.sources.ZarrSource
    val spark = GraftSession.builder("4").getOrCreate()
    val dir = new java.io.File(root, "zarr")
    // a tiny 2x2x2 cube written locally, served over ftp
    import org.apache.spark.sql.functions._
    val df = spark.range(8).select(
      (col("id") / 4).cast("int").cast("double").as("t"),
      ((col("id") / 2) % 2).cast("int").cast("double").as("y"),
      (col("id") % 2).cast("int").cast("double").as("x"),
      (col("id") * 1.5 + 0.25).as("v"))
    val dims: Seq[(String, Array[Double])] = Seq(
      "t" -> Array(0.0, 1.0), "y" -> Array(0.0, 1.0), "x" -> Array(0.0, 1.0))
    ZarrSource.writeCube(df, dir.getAbsolutePath, "v", dims,
      chunks = Seq(1, 2, 2))
    val got = spark.read.format("zarr").option("vars", "v").load(url("zarr"))
      .orderBy("t", "y", "x").collect()
    assert(got.length == 8)
    got.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Double]("v") == i * 1.5 + 0.25, s"cell $i")
    }
  }
}
