package graft

import graft.sources.{Hdf5Source, NetcdfSource}
import graft.sources.NetcdfSource.NcDim
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

class Hdf5SourceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()

  test("netCDF-4 round-trip: dims via DIMENSION_LIST, chunked deflate+shuffle") {
    val t = Array(0.0, 1.0, 2.0)
    val y = Array(10.0, 20.0)
    val x = Array(0.5, 1.5, 2.5, 3.5)
    val data = Array.tabulate(3 * 2 * 4)(i => i * 1.25 - 3.0)
    val p = s"${TestDirs.tmpDir("h5")}/cube.nc"
    Hdf5Source.write(p, Seq(NcDim("t", 3), NcDim("y", 2), NcDim("x", 4)),
      Seq("t" -> t, "y" -> y, "x" -> x),
      Seq(("v", Seq("t", "y", "x"), data)),
      chunkOf = Map("v" -> Seq(2, 2, 3))) // ragged edge chunks in t and x
    // routed through NetcdfSource by magic
    val nc = NetcdfSource.read(p)
    assert(nc.dims.map(d => d.name -> d.size).toSet ==
      Set("t" -> 3, "y" -> 2, "x" -> 4))
    val v = nc.varByName("v")
    assert(v.dimIds.map(nc.dims(_).name) == Seq("t", "y", "x"))
    assert(v.data.sameElements(data))
    assert(nc.varByName("t").data.sameElements(t))
    assert(nc.varByName("x").data.sameElements(x))
    // the file actually compresses: deflate leaves it smaller than raw
    assert(Files.size(Paths.get(p)) < 96 + 24 * 8 + 3 * 2 * 4 * 8 + 4096 + 2048)
    // readCube end-to-end (coordinate binding + long format)
    val rows = NetcdfSource.readCube(spark, p, "v").collect()
    assert(rows.length == 24)
    val m = rows.map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)) -> r.getDouble(3)).toMap
    assert(m((0.0, 10.0, 0.5)) == -3.0)
    assert(m((2.0, 20.0, 3.5)) == 23 * 1.25 - 3.0)
  }

  test("uncompressed + default single-chunk layout round-trips bit-for-bit") {
    val y = Array(1.0, 2.0, 3.0, 4.0, 5.0)
    val vals = Array(1.5, Double.NaN, -2.5, 1e300, -1e-300)
    val p = s"${TestDirs.tmpDir("h5raw")}/s.nc"
    Hdf5Source.write(p, Seq(NcDim("y", 5)), Seq("y" -> y),
      Seq(("v", Seq("y"), vals)), deflate = false, shuffle = false)
    val v = NetcdfSource.read(p).varByName("v")
    assert(v.data.zip(vals).forall { case (a, b) =>
      java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b) })
  }

  test("property: random cubes round-trip across chunkings and filters (20 files)") {
    val rnd = new scala.util.Random(77)
    val dir = TestDirs.tmpDir("h5prop")
    (1 to 20).foreach { i =>
      val ny = 1 + rnd.nextInt(8)
      val nx = 1 + rnd.nextInt(8)
      val y = Array.tabulate(ny)(_ * 2.0)
      val x = Array.tabulate(nx)(_ + 0.25)
      val data = Array.fill(ny * nx)(rnd.nextDouble() * 2000 - 1000)
      val p = s"$dir/f$i.nc"
      Hdf5Source.write(p, Seq(NcDim("y", ny), NcDim("x", nx)),
        Seq("y" -> y, "x" -> x), Seq(("v", Seq("y", "x"), data)),
        chunkOf = Map("v" -> Seq(1 + rnd.nextInt(ny), 1 + rnd.nextInt(nx))),
        deflate = i % 2 == 0, shuffle = i % 4 < 2)
      val nc = NetcdfSource.read(p)
      assert(nc.varByName("v").data.sameElements(data), s"file $i data")
      assert(nc.varByName("y").data.sameElements(y), s"file $i coord")
    }
  }

  test("distributed multi-granule read unions HDF5 files one per task") {
    val dir = TestDirs.tmpDir("h5many")
    val y = Array(0.0, 1.0)
    (0 until 3).foreach { g =>
      Hdf5Source.write(s"$dir/g$g.nc", Seq(NcDim("y", 2)), Seq("y" -> y),
        Seq(("v", Seq("y"), Array(g * 10.0, g * 10.0 + 1))))
    }
    val df = NetcdfSource.readCubeFiles(spark,
      (0 until 3).map(g => s"$dir/g$g.nc"), "v")
    assert(df.count() == 6)
    assert(df.agg(org.apache.spark.sql.functions.sum("v")).collect()(0).getDouble(0) == 63.0)
  }

  test("kerchunk scanHdf5: refs decode identically to the direct reader") {
    import graft.sources.KerchunkSource
    val t = Array(0.0, 1.0, 2.0)
    val y = Array(1.5, 2.5)
    val data = Array.tabulate(6)(i => i * 3.5 - 2.0)
    val dir = TestDirs.tmpDir("h5kc")
    val p = s"$dir/g.nc"
    Hdf5Source.write(p, Seq(NcDim("t", 3), NcDim("y", 2)),
      Seq("t" -> t, "y" -> y), Seq(("v", Seq("t", "y"), data)),
      chunkOf = Map("v" -> Seq(2, 2))) // ragged t edge + shuffle+deflate
    val refsPath = s"$dir/g.refs.json"
    Files.writeString(Paths.get(refsPath), KerchunkSource.scanHdf5(p))
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val direct = asMap(NetcdfSource.readCube(spark, p, "v"))
    val virt = asMap(spark.read.format("kerchunk").option("vars", "v").load(refsPath))
    assert(direct.size == 6 && virt == direct)
    // the refs carry the filter stack, not re-encoded bytes
    val refs = Files.readString(Paths.get(refsPath))
    assert(refs.contains("shuffle") && refs.contains("zlib"))
  }

  test("compact layout: inline coordinate data round-trips and kerchunk-scans") {
    import graft.sources.KerchunkSource
    val t = Array(0.0, 1.0, 2.0)
    val y = Array(1.5, 2.5)
    val data = Array.tabulate(6)(i => i * 1.5 + 0.25)
    val dir = TestDirs.tmpDir("h5compact")
    val p = s"$dir/c.nc"
    Hdf5Source.write(p, Seq(NcDim("t", 3), NcDim("y", 2)),
      Seq("t" -> t, "y" -> y), Seq(("v", Seq("t", "y"), data)),
      compactCoords = true)
    val nc = NetcdfSource.read(p)
    assert(nc.varByName("t").data.sameElements(t))
    assert(nc.varByName("y").data.sameElements(y))
    assert(nc.varByName("v").data.sameElements(data))
    // compact file is smaller: no separate coord data blocks allocated
    val p2 = s"$dir/nc.nc"
    Hdf5Source.write(p2, Seq(NcDim("t", 3), NcDim("y", 2)),
      Seq("t" -> t, "y" -> y), Seq(("v", Seq("t", "y"), data)))
    assert(Files.size(Paths.get(p)) < Files.size(Paths.get(p2)))
    // kerchunk scan references the inline bytes like a contiguous block
    val refsPath = s"$dir/c.refs.json"
    Files.writeString(Paths.get(refsPath), KerchunkSource.scanHdf5(p))
    val virt = spark.read.format("kerchunk").option("vars", "v").load(refsPath).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(virt.size == 6 && virt((0.0, 1.5)) == 0.25)
    // a >=64 KiB coordinate stays contiguous even with the flag on (the
    // layout message's 2-byte size field can't describe it)
    val big = Array.tabulate(8192)(_.toDouble)
    val p3 = s"$dir/big.nc"
    Hdf5Source.write(p3, Seq(NcDim("t", 8192)), Seq("t" -> big),
      Seq(("v", Seq("t"), big.map(_ * 2))), compactCoords = true)
    assert(NetcdfSource.read(p3).varByName("t").data.sameElements(big))
  }

  test("degenerate btNodeSize (leaf capacity 1) is rejected, not mis-written") {
    // capacity-1 leaves cannot tile the alternating (leaf, sep, leaf) run
    // for even record counts — the writer would emit an empty BTLF that
    // real libhdf5 rejects (round-8 ADVICE); fail loudly instead
    val y = Array.tabulate(4)(_ * 1.0)
    val vars = (0 until 12).map(i =>
      (f"v$i%02d", Seq("y"), Array.tabulate(4)(_ * 1.0 + i)))
    val p = s"${TestDirs.tmpDir("h5tinybt")}/t.nc"
    val e = intercept[IllegalArgumentException] {
      Hdf5Source.writeLatest(p, Seq(NcDim("y", 4)), Seq("y" -> y), vars,
        deflate = false, shuffle = false, btNodeSize = 21)
    }
    assert(e.getMessage.contains("leaf capacity"))
  }

  test("scanHdf5 .zarray fill moves to unsigned space with _Unsigned") {
    import graft.sources.KerchunkSource.zarrFillJson
    // _Unsigned converts the .zattrs _FillValue into unsigned space; the
    // .zarray seed for unallocated chunks must match it or missing-chunk
    // cells of packed variables dodge the mask (round-8 ADVICE, medium)
    assert(zarrFillJson(Some(-1.0), unsigned = true, span = 256.0) == "255.0")
    assert(zarrFillJson(Some(-32768.0), unsigned = true, span = 65536.0) == "32768.0")
    assert(zarrFillJson(Some(-1.0), unsigned = false, span = 256.0) == "-1.0")
    assert(zarrFillJson(Some(100.0), unsigned = true, span = 256.0) == "100.0")
    assert(zarrFillJson(Some(Double.NaN), unsigned = true, span = 256.0) == "\"NaN\"")
    assert(zarrFillJson(None, unsigned = true, span = 256.0) == "null")
  }

  test("rejects what it cannot parse, loudly") {
    // valid signature but a superblock version that does not exist
    val fake = new Array[Byte](200)
    Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n').copyToArray(fake)
    fake(8) = 4
    val e = intercept[IllegalArgumentException](Hdf5Source.parse(fake))
    assert(e.getMessage.contains("superblock"))
    val junk = "CDFX".getBytes ++ new Array[Byte](100)
    intercept[IllegalArgumentException](NetcdfSource.parse(junk))
  }

  test("libver-latest round-trip: OHDR headers, link groups, fixed-array index") {
    val t = Array(0.0, 1.0, 2.0)
    val y = Array(10.0, 20.0)
    val x = Array(0.5, 1.5, 2.5, 3.5)
    val data = Array.tabulate(3 * 2 * 4)(i => i * 1.25 - 3.0)
    val p = s"${TestDirs.tmpDir("h5latest")}/cube.nc"
    Hdf5Source.writeLatest(p, Seq(NcDim("t", 3), NcDim("y", 2), NcDim("x", 4)),
      Seq("t" -> t, "y" -> y, "x" -> x),
      Seq(("v", Seq("t", "y", "x"), data)),
      chunkOf = Map("v" -> Seq(2, 2, 3))) // 2x1x2 grid -> fixed array
    val raw = Files.readAllBytes(Paths.get(p))
    assert(raw(8) == 3, "superblock v3")
    val s = new String(raw, "ISO-8859-1")
    assert(s.contains("OHDR") && s.contains("FAHD") && s.contains("FADB"))
    assert(!s.contains("SNOD") && !s.contains("HEAP"), "no old-style group machinery")
    val nc = NetcdfSource.read(p) // routed by the same magic
    assert(nc.dims.map(d => d.name -> d.size).toSet ==
      Set("t" -> 3, "y" -> 2, "x" -> 4))
    val v = nc.varByName("v")
    assert(v.dimIds.map(nc.dims(_).name) == Seq("t", "y", "x"))
    assert(v.data.sameElements(data))
    assert(nc.varByName("x").data.sameElements(x))
  }

  test("libver-latest single-chunk and implicit chunk indexes round-trip") {
    val dir = TestDirs.tmpDir("h5lidx")
    val y = Array.tabulate(6)(_ * 1.0)
    val x = Array.tabulate(5)(_ * 3.0)
    val data = Array.tabulate(30)(i => math.sin(i.toDouble))
    // default chunking = whole shape -> single-chunk index, filtered
    val p1 = s"$dir/single.nc"
    Hdf5Source.writeLatest(p1, Seq(NcDim("y", 6), NcDim("x", 5)),
      Seq("y" -> y, "x" -> x), Seq(("v", Seq("y", "x"), data)))
    assert(NetcdfSource.read(p1).varByName("v").data.sameElements(data))
    // single chunk, unfiltered
    val p2 = s"$dir/singleraw.nc"
    Hdf5Source.writeLatest(p2, Seq(NcDim("y", 6), NcDim("x", 5)),
      Seq("y" -> y, "x" -> x), Seq(("v", Seq("y", "x"), data)),
      deflate = false, shuffle = false)
    assert(NetcdfSource.read(p2).varByName("v").data.sameElements(data))
    // multi-chunk unfiltered -> implicit index (contiguous chunks)
    val p3 = s"$dir/implicit.nc"
    Hdf5Source.writeLatest(p3, Seq(NcDim("y", 6), NcDim("x", 5)),
      Seq("y" -> y, "x" -> x), Seq(("v", Seq("y", "x"), data)),
      chunkOf = Map("v" -> Seq(4, 2)), deflate = false, shuffle = false)
    assert(NetcdfSource.read(p3).varByName("v").data.sameElements(data))
  }

  test("property: libver-latest random cubes round-trip (20 files)") {
    val rnd = new scala.util.Random(97)
    val dir = TestDirs.tmpDir("h5lprop")
    (1 to 20).foreach { i =>
      val ny = 1 + rnd.nextInt(8)
      val nx = 1 + rnd.nextInt(8)
      val y = Array.tabulate(ny)(_ * 2.0)
      val x = Array.tabulate(nx)(_ + 0.25)
      val data = Array.fill(ny * nx)(rnd.nextDouble() * 2000 - 1000)
      val p = s"$dir/f$i.nc"
      Hdf5Source.writeLatest(p, Seq(NcDim("y", ny), NcDim("x", nx)),
        Seq("y" -> y, "x" -> x), Seq(("v", Seq("y", "x"), data)),
        chunkOf = Map("v" -> Seq(1 + rnd.nextInt(ny), 1 + rnd.nextInt(nx))),
        deflate = i % 2 == 0, shuffle = i % 4 < 2)
      val nc = NetcdfSource.read(p)
      assert(nc.varByName("v").data.sameElements(data), s"file $i data")
      assert(nc.varByName("y").data.sameElements(y), s"file $i coord")
    }
  }

  test("kerchunk scanHdf5 indexes libver-latest files (v4 chunk indexes)") {
    import graft.sources.KerchunkSource
    val t = Array(0.0, 1.0, 2.0)
    val y = Array(1.5, 2.5)
    val data = Array.tabulate(6)(i => i * 3.5 - 2.0)
    val dir = TestDirs.tmpDir("h5lkc")
    val p = s"$dir/g.nc"
    Hdf5Source.writeLatest(p, Seq(NcDim("t", 3), NcDim("y", 2)),
      Seq("t" -> t, "y" -> y), Seq(("v", Seq("t", "y"), data)),
      chunkOf = Map("v" -> Seq(2, 2))) // fixed-array index, shuffle+deflate
    val refsPath = s"$dir/g.refs.json"
    Files.writeString(Paths.get(refsPath), KerchunkSource.scanHdf5(p))
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val direct = asMap(NetcdfSource.readCube(spark, p, "v"))
    val virt = asMap(spark.read.format("kerchunk").option("vars", "v").load(refsPath))
    assert(direct.size == 6 && virt == direct)
  }

  test("libver-latest DENSE group: >8 links go through fractal heap + v2 B-tree") {
    val dir = TestDirs.tmpDir("h5dense")
    val p = s"$dir/many.nc"
    val y = Array.tabulate(4)(_ * 1.0)
    // 1 coord + 11 data vars = 12 links -> dense storage (compact max is 8)
    val dataVars = (0 until 11).map { k =>
      (s"v$k", Seq("y"), Array.tabulate(4)(i => k * 100.0 + i))
    }
    Hdf5Source.writeLatest(p, Seq(NcDim("y", 4)), Seq("y" -> y), dataVars)
    val raw = Files.readAllBytes(Paths.get(p))
    val s = new String(raw, "ISO-8859-1")
    assert(s.contains("FRHP") && s.contains("FHDB") &&
      s.contains("BTHD") && s.contains("BTLF"), "dense machinery present")
    val nc = NetcdfSource.read(p)
    assert(nc.vars.map(_.name).toSet ==
      (Set("y") ++ (0 until 11).map(k => s"v$k")))
    (0 until 11).foreach { k =>
      assert(nc.varByName(s"v$k").data.sameElements(
        Array.tabulate(4)(i => k * 100.0 + i)), s"v$k")
    }
    assert(nc.varByName("y").data.sameElements(y))
    // compact still used at <= 8 links (no heap machinery)
    val p2 = s"$dir/few.nc"
    Hdf5Source.writeLatest(p2, Seq(NcDim("y", 4)), Seq("y" -> y),
      dataVars.take(3))
    assert(!new String(Files.readAllBytes(Paths.get(p2)), "ISO-8859-1")
      .contains("FRHP"))
    // deeper into dense territory: 40 variables, varied name lengths
    val p3 = s"$dir/forty.nc"
    val many = (0 until 39).map { k =>
      (s"variable_name_$k", Seq("y"), Array.tabulate(4)(i => k * 7.0 + i))
    }
    Hdf5Source.writeLatest(p3, Seq(NcDim("y", 4)), Seq("y" -> y), many)
    val nc3 = NetcdfSource.read(p3)
    assert(nc3.vars.length == 40)
    (0 until 39).foreach { k =>
      assert(nc3.varByName(s"variable_name_$k").data.sameElements(
        Array.tabulate(4)(i => k * 7.0 + i)), s"var $k")
    }
  }

  test("property: dense groups round-trip across random link counts (10 files)") {
    val rnd = new scala.util.Random(61)
    val dir = TestDirs.tmpDir("h5denseprop")
    (1 to 10).foreach { t =>
      val nVars = 9 + rnd.nextInt(52) // 10..61 links, all past compact
      val n = 2 + rnd.nextInt(6)
      val y = Array.tabulate(n)(_ * 1.0)
      val vars = (0 until nVars).map { k =>
        (s"v${t}_$k", Seq("y"), Array.fill(n)(rnd.nextDouble() * 100 - 50))
      }
      val p = s"$dir/f$t.nc"
      Hdf5Source.writeLatest(p, Seq(NcDim("y", n)), Seq("y" -> y), vars,
        deflate = t % 2 == 0, shuffle = t % 3 == 0)
      val nc = NetcdfSource.read(p)
      assert(nc.vars.length == nVars + 1, s"file $t var count")
      vars.foreach { case (vn, _, data) =>
        assert(nc.varByName(vn).data.sameElements(data), s"file $t $vn")
      }
    }
  }

  test("property: BIG dense groups (up to 1.2k links) round-trip through " +
    "indirect heap + depth-1 B-tree") {
    val rnd = new scala.util.Random(93)
    val dir = TestDirs.tmpDir("h5bigdense")
    // 200..1200 links: past one B-tree leaf (185), so the writer emits a
    // root indirect fractal heap (multiple 512..8192-byte direct blocks)
    // and a depth-1 name B-tree — the layouts the reader's new paths parse
    Seq(200, 501, 1200).zipWithIndex.foreach { case (nVars, t) =>
      val n = 2 + rnd.nextInt(4)
      val y = Array.tabulate(n)(_ * 1.0)
      val vars = (0 until nVars).map { k =>
        (s"var_${t}_name_$k", Seq("y"), Array.fill(n)(rnd.nextDouble() * 100 - 50))
      }
      val p = s"$dir/big$t.nc"
      Hdf5Source.writeLatest(p, Seq(NcDim("y", n)), Seq("y" -> y), vars,
        deflate = t % 2 == 0)
      // the emitted file genuinely uses the indirect/deep layouts
      val bytes = Files.readAllBytes(Paths.get(p))
      def find(sig: String): Int = {
        val s = sig.getBytes("US-ASCII")
        bytes.indices.indexWhere(i => i + 4 <= bytes.length &&
          bytes(i) == s(0) && bytes(i + 1) == s(1) && bytes(i + 2) == s(2) &&
          bytes(i + 3) == s(3))
      }
      assert(find("FHIB") >= 0, s"file $t: no indirect heap block")
      assert(find("BTIN") >= 0, s"file $t: no internal B-tree node")
      val nc = NetcdfSource.read(p)
      assert(nc.vars.length == nVars + 1, s"file $t var count ${nc.vars.length}")
      vars.foreach { case (vn, _, data) =>
        assert(nc.varByName(vn).data.sameElements(data), s"file $t $vn")
      }
    }
  }

  test("property: MULTI-LEVEL indirect fractal heaps (child + grandchild " +
    "FHIB) round-trip — tiny heapMaxDirect forces the depth") {
    val rnd = new scala.util.Random(41)
    val dir = TestDirs.tmpDir("h5deepheap")
    // heapStart=512, heapMaxDirect=1024, width 4: rows 0-2 are direct
    // (8 KiB capacity), row 3+ entries become child indirect blocks, and
    // row 6 (span 16 KiB) holds 2 KiB sub-entries that exceed maxDirect
    // again — GRANDCHILD indirection. ~2.6k links @ ~30 B reach it.
    Seq(400, 2600).zipWithIndex.foreach { case (nVars, t) =>
      val n = 2
      val y = Array.tabulate(n)(_ * 1.0)
      val vars = (0 until nVars).map { k =>
        (s"deep_${t}_var_$k", Seq("y"), Array.fill(n)(rnd.nextDouble() * 10))
      }
      val p = s"$dir/deep$t.nc"
      Hdf5Source.writeLatest(p, Seq(NcDim("y", n)), Seq("y" -> y), vars,
        deflate = false, shuffle = false,
        heapStart = 512L, heapMaxDirect = 1024L)
      val bytes = Files.readAllBytes(Paths.get(p))
      val fhibCount = bytes.indices.count(i => i + 4 <= bytes.length &&
        bytes(i) == 'F' && bytes(i + 1) == 'H' && bytes(i + 2) == 'I' &&
        bytes(i + 3) == 'B')
      // root + at least one child indirect block (file 2: grandchildren)
      assert(fhibCount >= (if (t == 0) 2 else 6), s"file $t: $fhibCount FHIBs")
      val nc = NetcdfSource.read(p)
      assert(nc.vars.length == nVars + 1, s"file $t var count ${nc.vars.length}")
      vars.foreach { case (vn, _, data) =>
        assert(nc.varByName(vn).data.sameElements(data), s"file $t $vn")
      }
      // the kerchunk scan walks the same dense-group structures
      val refs = graft.sources.KerchunkSource.scanHdf5(p)
      assert(refs.contains(s"deep_${t}_var_${nVars - 1}"))
    }
  }

  test("property: depth-2 link-name B-tree (512-byte nodes, 1.5k links) " +
    "round-trips — exercises the total-record pointer fields") {
    // 512-byte nodes: 45 records/leaf, depth-1 capacity 1149 → 1500 links
    // force DEPTH 2, whose root child pointers carry the variable-width
    // "total records in subtree" field (absent at depth 1 — without this
    // test that reader path never runs)
    val rnd = new scala.util.Random(77)
    val dir = TestDirs.tmpDir("h5depth2")
    val n = 3
    val y = Array.tabulate(n)(_ * 1.0)
    val vars = (0 until 1500).map { k =>
      (s"deep_var_$k", Seq("y"), Array.fill(n)(rnd.nextDouble() * 10))
    }
    val p = s"$dir/deep.nc"
    Hdf5Source.writeLatest(p, Seq(NcDim("y", n)), Seq("y" -> y), vars,
      deflate = false, shuffle = false, btNodeSize = 512)
    val bytes = Files.readAllBytes(Paths.get(p))
    // depth (bytes 12-13 of the BTHD, little-endian) must really be 2
    val bthd = bytes.indices.indexWhere(i => i + 4 <= bytes.length &&
      bytes(i) == 'B' && bytes(i + 1) == 'T' && bytes(i + 2) == 'H' &&
      bytes(i + 3) == 'D')
    assert(bthd >= 0)
    val depth = (bytes(bthd + 12) & 0xff) | ((bytes(bthd + 13) & 0xff) << 8)
    assert(depth == 2, s"expected a depth-2 tree, got $depth")
    val nc = NetcdfSource.read(p)
    assert(nc.vars.length == 1501, nc.vars.length.toString)
    vars.foreach { case (vn, _, data) =>
      assert(nc.varByName(vn).data.sameElements(data), vn)
    }
    // the kerchunk scan walks the same deep structures
    val scanned = Hdf5Source.scan(bytes).map(_.name).toSet
    assert(scanned.size == 1501 && scanned.contains("deep_var_1499"))
  }

  test("lookup3 checksum matches published hashlittle vectors") {
    // Bob Jenkins' reference self-test values for hashlittle(), initval 0:
    // hashlittle("", 0) = 0xdeadbeef; hashlittle("Four score and seven
    // years ago", 0) = 0x17770551 (from lookup3.c's driver comments)
    def h(s: String): Long =
      Hdf5Source.lookup3(s.getBytes("US-ASCII"), 0, s.length) & 0xffffffffL
    assert(h("") == 0xdeadbeefL)
    assert(h("Four score and seven years ago") == 0x17770551L)
  }

  // ------------------------------------------------- independent fixtures
  // The two granules below were produced by REAL external tooling (libhdf5
  // via netCDF-4 for the Sentinel-3 OLCI scene; a classic CDF-1 writer for
  // the UKMO OSTIA analysis) — they validate the readers against files this
  // repo's own writers never touched, so a shared spec-misreading in our
  // writer+reader round-trips cannot pass them. The asserted facts are
  // INDEPENDENT ground truth: grid arithmetic of the published 0.25°
  // product, physical value ranges, the scene's named region, and the
  // timestamp encoded in the granule's own filename.

  private val UkmoNc3 =
    "/root/reference/test/core/gen/inputdata/" +
      "20170101120000-UKMO-L4_GHRSST-SSTfnd-OSTIAanom-GLOB-v02.0-fv02.0.nc"
  private val SentinelH5 =
    "/root/reference/examples/notebooks/inputdata/O_L2_0001_SNS_2017104102450_v1.0.nc"

  test("cross-validation: real CDF-1 granule (UKMO OSTIA 0.25-degree SST)") {
    assume(Files.exists(Paths.get(UkmoNc3)), "reference granule not present")
    val nc = NetcdfSource.read(UkmoNc3)
    assert(nc.dims.map(d => d.name -> d.size) ==
      Seq("time" -> 1, "lat" -> 720, "lon" -> 1440))
    // regular 0.25-degree grid: lat centers are symmetric (sum EXACTLY 0),
    // lon centers 0.125..359.875 sum to 1440*180 — grid arithmetic, not
    // reader output pinned to itself
    val lat = nc.varByName("lat").data
    val lon = nc.varByName("lon").data
    assert(lat.length == 720 && lat.head == -89.875 && lat.last == 89.875)
    assert(math.abs(lat.sum) < 1e-9)
    assert(lon.length == 1440 && lon.head == 0.125 && lon.last == 359.875)
    assert(math.abs(lon.sum - 1440.0 * 180.0) < 1e-6)
    // analysed_sst is CF-packed short; after mask-and-scale the valid cells
    // must be physical Kelvin (the file is a GLOBAL field: ~68% ocean)
    val sst = nc.varByName("analysed_sst").data
    assert(sst.length == 720 * 1440)
    val valid = sst.filter(x => !x.isNaN)
    assert(valid.length == 703805) // ocean-cell count of this granule
    assert(valid.min > 270.0 && valid.max < 310.0, s"${valid.min}..${valid.max}")
    assert(math.abs(valid.sum - 2.01875670958e8) < 1e3) // mean ≈ 286.8 K
    // the time coordinate must decode to the timestamp in the FILENAME:
    // 1136116800 s since 1981-01-01 == 2017-01-01T12:00:00Z
    val t = nc.varByName("time")
    assert(t.data.head == 1136116800.0)
    val units = t.attrs("units")
    val cf = graft.operators.CalendarOps.parseCfTimeUnits(units)
    val micros = cf.epochMicros + t.data.head.toLong * cf.unitSeconds * 1000000L
    assert(java.time.Instant.ofEpochMilli(micros / 1000).toString ==
      "2017-01-01T12:00:00Z")
  }

  test("cross-validation: distributed read of the real 3-day UKMO series") {
    val dir = Paths.get("/root/reference/examples/gen/data")
    assume(Files.exists(dir), "reference granules not present")
    val paths = Files.list(dir).toArray.map(_.toString).filter(_.endsWith(".nc"))
      .sorted.toSeq
    assume(paths.length == 3)
    // one real CDF-1 granule per executor task; per-day stats out of one
    // distributed plan. Consecutive-day GLOBAL SST means differ by
    // millikelvin — day-over-day physical continuity is a fact of the
    // ocean, not of this reader, so it cross-checks the per-file decode
    val df = NetcdfSource.readCubeFiles(spark, paths, "sst_anomaly")
    val rows = df.filter(!org.apache.spark.sql.functions.isnan(
        org.apache.spark.sql.functions.col("sst_anomaly")))
      .groupBy("file")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.avg("sst_anomaly").as("mean"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(rows.length == 3)
    // identical ocean mask across the three days — the product's STATIC
    // 0.25-degree land mask (the same 703805 ocean cells as the January
    // granule in the other cross-validation test)
    assert(rows.map(_._2).distinct.size == 1, rows.mkString(","))
    assert(rows.forall(_._2 == 703805L), rows.mkString(","))
    // anomalies are small physical numbers; consecutive days nearly equal
    rows.foreach { case (_, _, m) => assert(math.abs(m) < 1.0, m.toString) }
    val means = rows.map(_._3)
    assert(math.abs(means(0) - means(1)) < 0.05 &&
      math.abs(means(1) - means(2)) < 0.05, means.toString)
  }

  test("cross-validation: real libhdf5 granule (Sentinel-3 OLCI L2, North Sea)") {
    assume(Files.exists(Paths.get(SentinelH5)), "reference granule not present")
    val bytes = Files.readAllBytes(Paths.get(SentinelH5))
    assert(Hdf5Source.isHdf5(bytes))
    // layout scan: the dense root group (indirect-root fractal heap written
    // by libhdf5) must surface the OLCI product's variable set
    val scanned = Hdf5Source.scan(bytes).map(_.name).toSet
    val expected = Set("conc_chl", "conc_tsm", "kd489", "lat", "lon",
      "TP_latitude", "TP_longitude", "humidity", "sea_level_pressure",
      "quality_flags", "c2rcc_flags") ++
      (1 to 21).flatMap(i => if (Set(1,2,3,4,5,6,7,8,9,10,11,12,16,17,18,21).contains(i))
        Seq(s"rtoa_$i") else Nil)
    assert(expected.subsetOf(scanned), s"missing: ${expected -- scanned}")
    val raster = scanned.filter(_.startsWith("rtoa_"))
    assert(raster.size == 21, s"expected all 21 OLCI bands, got $raster")
    // value decode through the deflate-chunked path: the scene is the
    // Southern North Sea ("SNS" in the product name) — its lat/lon rasters
    // must land in that box, and the geophysical values must be physical
    val nc = NetcdfSource.read(SentinelH5)
    val la = nc.varByName("lat").data
    val lo = nc.varByName("lon").data
    assert(la.length == 100 * 100 && lo.length == 100 * 100)
    assert(la.min > 52.0 && la.max < 53.0, s"${la.min}..${la.max}")
    assert(lo.min > 1.0 && lo.max < 2.0, s"${lo.min}..${lo.max}")
    val chl = nc.varByName("conc_chl").data
    assert(chl.length == 10000)
    assert(chl.min >= 0.0 && chl.max < 100.0) // mg/m^3, coastal range
    assert(math.abs(chl.sum - 11.690932) < 1e-3)
    val r2 = nc.varByName("rtoa_2").data
    assert(r2.min > 0.0 && r2.max < 1.0) // top-of-atmosphere reflectance
    assert(math.abs(r2.sum - 4165.816432) < 1e-3)
    // tie-point grids decode at their own (102 x 20) resolution
    assert(nc.varByName("TP_latitude").data.length == 102 * 20)
    // DENSE attribute storage (libhdf5 switches past 8 attributes; the
    // heap's 5-byte offset fields are exactly what a 1/2/4/8 case list
    // over-reads): the product's real metadata must surface
    val chlAttrs = nc.varByName("conc_chl").attrs
    assert(chlAttrs("units") == "mg m^-3", chlAttrs.toString)
    assert(chlAttrs("valid_pixel_expression") == "c2rcc_flags.Valid_PE")
    assert(chlAttrs("long_name").startsWith("Chlorophyll"))
    val r2Attrs = nc.varByName("rtoa_2").attrs
    // 412.5 nm is OLCI band 2's published center wavelength
    assert(r2Attrs("wavelength") == "412.5", r2Attrs.toString)
    assert(nc.varByName("lat").attrs("standard_name") == "latitude")
    // flag metadata decodes as FULL arrays (element 0 alone silently
    // breaks flag decoding): 21 flag meanings, masks = 21 powers of two
    val flags = nc.varByName("c2rcc_flags")
    val meanings = flags.attrs("flag_meanings").trim.split("\\s+").toSeq
    assert(meanings.length == 21 && meanings.last == "Valid_PE", meanings.toString)
    // SNAP's flag coding: bits 0..19 in order, then Valid_PE at BIT 31
    // (stored int32, so it surfaces as the signed value -2^31)
    val masks = flags.attrs("flag_masks").split(",").map(_.toDouble.toLong).toSeq
    assert(masks == (0 until 20).map(1L << _) :+ -2147483648L, masks.toString)
    // drive the reference's OWN masking protocol end-to-end: conc_chl's
    // valid_pixel_expression is "c2rcc_flags.Valid_PE" — apply the flag
    // through MaskSet and cross-check against a direct array computation
    val validPe = graft.functions.MaskSet.flagSpecs(
      flags.attrs("flag_meanings"),
      Some(flags.attrs("flag_masks").split(",").toSeq), None)
      .find(_.name == "Valid_PE").get
    import spark.implicits._
    val df = chl.zip(flags.data).toSeq.toDF("chl", "flags")
    val masked = df.filter(graft.functions.MaskSet.maskExpr(
      org.apache.spark.sql.functions.col("flags").cast("long"), validPe))
    val nValid = masked.count()
    // bit 31 of the _Unsigned-decoded flag word (values >= 2^31)
    val expectValid = chl.zip(flags.data)
      .count { case (_, f) => (f.toLong & 0x80000000L) != 0 }
    assert(nValid == expectValid && nValid > 0 && nValid <= 10000,
      s"$nValid vs $expectValid")
  }
}
