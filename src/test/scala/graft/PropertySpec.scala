package graft

import graft.cube.GridMapping
import graft.functions.Colormaps
import graft.operators.UtmOps.UtmZone
import org.scalatest.funsuite.AnyFunSuite

/** Property-style checks over seeded random samples for the numerics a
  * handful of fixed anchors can't fully pin down: projection round-trips,
  * grid-mapping inverses, rolling-hash equivalence, colormap bounds.
  * (Deterministic seeds: failures reproduce exactly.)
  */
class PropertySpec extends AnyFunSuite {

  test("UTM forward/inverse round-trips across the zone for 500 random points") {
    val rnd = new scala.util.Random(42)
    (1 to 500).foreach { _ =>
      val lo = 6.05 + rnd.nextDouble() * 5.9  // zone 32 interior
      val la = -79.0 + rnd.nextDouble() * 158.0
      val z = UtmZone(32, north = la >= 0)
      val (e, n) = z.forward(lo, la)
      val (lo2, la2) = z.inverse(e, n)
      assert(math.abs(lo2 - lo) < 1e-7 && math.abs(la2 - la) < 1e-7,
        s"($lo,$la) -> ($e,$n) -> ($lo2,$la2)")
      assert(n > -1e7 && n < 2e7)
    }
  }

  test("GridMapping pixel<->world round-trips for 500 random grids and cells") {
    val rnd = new scala.util.Random(7)
    (1 to 500).foreach { _ =>
      val gm = GridMapping(
        1L + rnd.nextInt(5000), 1L + rnd.nextInt(5000),
        (rnd.nextDouble() - 0.5) * 2e6, (rnd.nextDouble() - 0.5) * 2e6,
        1e-3 + rnd.nextDouble() * 1e3, 1e-3 + rnd.nextDouble() * 1e3)
      val i = (rnd.nextDouble() * (gm.width - 1)).toLong
      val j = (rnd.nextDouble() * (gm.height - 1)).toLong
      assert(gm.iForX(gm.xForI(i)) == i, s"$gm i=$i")
      assert(gm.jForY(gm.yForJ(j)) == j, s"$gm j=$j")
      val bb = gm.ijBboxFromXyBbox(gm.xForI(i), gm.yForJ(j), gm.xForI(i), gm.yForJ(j))
      assert(bb.contains((i, j, i, j)), s"$gm cell ($i,$j) -> $bb")
    }
  }

  test("rolling-hash winnow equals the direct polynomial on 300 random strings") {
    val k = 8; val B = 257L; val M = 2147483647L
    val pows = graft.operators.TextOps.winnowPows(k)
    def direct(s: String): Seq[Long] =
      (0 to s.length - k).map { i =>
        (0 until k).map(j => s.charAt(i + j) * pows(j)).sum % M
      }
    def rolling(s: String): Seq[Long] = {
      val topPow = pows(0)
      val out = Array.ofDim[Long](s.length - k + 1)
      var h = 0L
      (0 until k).foreach(j => h = (h * B + s.charAt(j)) % M)
      out(0) = h
      (1 until out.length).foreach { i =>
        var t = (h - (s.charAt(i - 1) * topPow) % M) % M
        if (t < 0) t += M
        h = (t * B + s.charAt(i + k - 1)) % M
        out(i) = h
      }
      out.toSeq
    }
    val rnd = new scala.util.Random(11)
    val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789 é中"
    (1 to 300).foreach { _ =>
      val n = 11 + rnd.nextInt(190)
      val s = Seq.fill(n)(alphabet(rnd.nextInt(alphabet.length))).mkString
      assert(rolling(s) == direct(s), s"mismatch for '$s'")
    }
  }

  test("NetCDF classic round-trips random grids bit-for-bit (50 seeded files)") {
    import graft.sources.NetcdfSource
    import NetcdfSource.NcDim
    val rnd = new scala.util.Random(19)
    val dir = java.nio.file.Paths.get(TestDirs.tmpDir("graft_nc_prop"))
    (1 to 50).foreach { t =>
      val (h, w) = (1 + rnd.nextInt(12), 1 + rnd.nextInt(12))
      val data = Array.fill(h * w)(
        if (rnd.nextInt(10) == 0) Double.NaN
        else (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(8)))
      val ys = Array.fill(h)(rnd.nextDouble() * 100)
      val p = dir.resolve(s"f$t.nc").toString
      NetcdfSource.write(p, Seq(NcDim("y", h), NcDim("x", w)),
        Seq(("y", ys)), Seq(("v", Seq("y", "x"), data)))
      val back = NetcdfSource.read(p)
      assert(back.dims == Seq(NcDim("y", h), NcDim("x", w)))
      assert(back.varByName("y").data.toSeq == ys.toSeq)
      assert(back.varByName("v").data.zip(data).forall { case (a, b) =>
        java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b)
      }, s"file $t values differ")
      // header-only parse sees the same structure with no data
      val hdr = NetcdfSource.readHeader(p)
      assert(hdr.dims == back.dims &&
        hdr.vars.map(_.name) == back.vars.map(_.name))
      assert(hdr.varByName("v").data.isEmpty)
    }
  }

  test("GeoTIFF round-trips random rasters bit-for-bit, both compressions (50 files)") {
    import graft.sources.GeoTiffSource
    val rnd = new scala.util.Random(23)
    val dir = java.nio.file.Paths.get(TestDirs.tmpDir("graft_tif_prop"))
    (1 to 50).foreach { t =>
      val (h, w) = (1 + rnd.nextInt(12), 1 + rnd.nextInt(12))
      val data = Array.fill(h * w)(
        if (rnd.nextInt(10) == 0) Double.NaN
        else (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(8)))
      val r = GeoTiffSource.Raster(w, h, data,
        0.1 + rnd.nextDouble(), 0.1 + rnd.nextDouble(),
        (rnd.nextDouble() - 0.5) * 100, (rnd.nextDouble() - 0.5) * 100)
      val p = dir.resolve(s"f$t.tif").toString
      // rotate through striped/tiled × plain/deflate; tile 4 forces edge
      // padding on most of the random sizes
      GeoTiffSource.write(p, r, deflate = t % 2 == 0,
        tileSize = if (t % 3 == 0) 4 else 0)
      val back = GeoTiffSource.read(p)
      assert(back.width == w && back.height == h)
      assert(back.scaleX == r.scaleX && back.originY == r.originY)
      assert(back.data.zip(data).forall { case (a, b) =>
        java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b)
      }, s"file $t values differ")
    }
  }

  test("JPEG-in-TIFF (compression 7) reads back the codec's exact reconstruction") {
    import graft.sources.GeoTiffSource
    import graft.operators.JpegCodec
    val rnd = new scala.util.Random(29)
    val dir = java.nio.file.Paths.get(TestDirs.tmpDir("graft_tifjpeg"))
    // 25x22 image, tile 16 → 2x2 tiles with both edges padded
    val (w, h) = (25, 22)
    val data = Array.fill(w * h)(rnd.nextInt(256).toDouble)
    val r = GeoTiffSource.Raster(w, h, IndexedSeq(data), 1.0, 1.0, 0.0, 0.0)
    for (tables <- Seq(true, false)) {
      val p = dir.resolve(s"j$tables.tif").toString
      GeoTiffSource.writeJpegTiled(p, r, tileSize = 16, quality = 85,
        useTablesTag = tables)
      val back = GeoTiffSource.read(p)
      assert(back.width == w && back.height == h)
      // expected = the codec's own lossy round-trip, tile by tile
      for (tr <- 0 until 2; tc <- 0 until 2) {
        val g = new Array[Byte](16 * 16)
        for (rr <- 0 until 16; cc <- 0 until 16) {
          val (gr, gc) = (tr * 16 + rr, tc * 16 + cc)
          g(rr * 16 + cc) =
            if (gr < h && gc < w) data(gr * w + gc).toInt.toByte else 0
        }
        val rt = JpegCodec.decode(JpegCodec.encodeGray(16, 16, g, 85))
        for (rr <- 0 until 16; cc <- 0 until 16) {
          val (gr, gc) = (tr * 16 + rr, tc * 16 + cc)
          if (gr < h && gc < w)
            assert(back.data(gr * w + gc) ==
              (rt.pixels(rr * 16 + cc) & 0xff).toDouble,
              s"tables=$tables tile($tr,$tc) px($rr,$cc)")
        }
      }
      // ImageIO can open the per-tile streams too when tables are inline
      if (!tables) {
        val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
        assert(GeoTiffSource.read(p).data.length == w * h)
        assert(bytes.containsSlice(Array(0xff.toByte, 0xd8.toByte)))
      }
    }
  }

  test("TIFF LZW codec round-trips, incl. table-reset-sized streams (40 cases)") {
    import graft.sources.GeoTiffSource.{lzwDecode, lzwEncode}
    val rnd = new scala.util.Random(31)
    (1 to 40).foreach { t =>
      val n = if (t <= 30) 1 + rnd.nextInt(2000)
              else 60000 + rnd.nextInt(80000) // forces >4094 codes → ClearCode reset
      val data = new Array[Byte](n)
      if (t % 3 == 0) rnd.nextBytes(data) // incompressible
      else { // runs + repeats: the LZW-favorable shape; exercises KwKwK
        var i = 0
        while (i < n) { data(i) = ((i / (1 + t % 7)) % (4 + t % 9)).toByte; i += 1 }
      }
      val enc = lzwEncode(data)
      val dec = lzwDecode(enc, n)
      assert(java.util.Arrays.equals(dec, data), s"case $t (n=$n) differs")
    }
    // empty payload
    assert(lzwDecode(lzwEncode(Array.emptyByteArray), 0).isEmpty)
  }

  test("GeoTIFF int16+LZW+predictor2 (the published-raster combo) round-trips (20 files)") {
    import graft.sources.GeoTiffSource
    val rnd = new scala.util.Random(37)
    val dir = java.nio.file.Paths.get(TestDirs.tmpDir("graft_tif_lzw"))
    (1 to 20).foreach { t =>
      val (h, w) = (1 + rnd.nextInt(12), 1 + rnd.nextInt(12))
      val nb = 1 + rnd.nextInt(3)
      // smooth-ish integer field: the case differencing actually helps
      val bands = IndexedSeq.fill(nb)(Array.tabulate(h * w)(i =>
        (1000 + i % 7 + rnd.nextInt(3)).toDouble))
      val r = GeoTiffSource.Raster(w, h, bands, 0.5, 0.5, 10.0, 20.0)
      val p = dir.resolve(s"f$t.tif").toString
      GeoTiffSource.write(p, r, lzw = true, bits = 16,
        predictor = if (t % 2 == 0) 2 else 1,
        tileSize = if (t % 3 == 0) 4 else 0)
      val back = GeoTiffSource.read(p)
      assert(back.width == w && back.height == h && back.bands.length == nb)
      (0 until nb).foreach { k =>
        assert(back.bands(k).sameElements(bands(k)), s"file $t band $k differs")
      }
    }
    // float64 + LZW (no predictor) also round-trips bit-for-bit
    val data = Array.tabulate(30)(i => math.sin(i) * 1e3)
    val p2 = dir.resolve("f64.tif").toString
    GeoTiffSource.write(p2, GeoTiffSource.Raster(6, 5, data, 1, 1, 0, 0), lzw = true)
    assert(GeoTiffSource.read(p2).data.zip(data).forall { case (a, b) =>
      java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b) })
  }

  test("Zarr cubes round-trip through write, read AND kerchunk refs (12 stores)") {
    import graft.sources.{KerchunkSource, ZarrSource}
    val spark = GraftSession.builder("4").getOrCreate()
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    val dir = java.nio.file.Paths.get(TestDirs.tmpDir("graft_zarr_prop"))
    (1 to 12).foreach { t =>
      val (ny, nx) = (1 + rnd.nextInt(9), 1 + rnd.nextInt(9))
      val (cy, cx) = (1 + rnd.nextInt(ny), 1 + rnd.nextInt(nx))
      val ys = Array.tabulate(ny)(_ + 0.5)
      val xs = Array.tabulate(nx)(_ + 0.5)
      // ~80% cell density so some chunks are partial or wholly absent
      val cells = for {
        y <- ys.toSeq; x <- xs if rnd.nextDouble() < 0.8
      } yield (y, x, rnd.nextDouble() * 1e3 - 500)
      val g = s"$dir/s$t.zarr"
      // cycle every writer codec, including blosc with both inner codecs,
      // shuffle on/off, and the plain numcodecs zstd/lz4 forms — the
      // kerchunk re-read covers the decoder too
      val codec = t % 6 match {
        case 0 => ZarrSource.Raw
        case 1 => ZarrSource.Zlib()
        case 2 => ZarrSource.Blosc("lz4", 5, shuffle = 1)
        case 3 => ZarrSource.ZstdC(3)
        case 4 => ZarrSource.Lz4C()
        case _ => ZarrSource.Blosc("zstd", 3, shuffle = t % 2)
      }
      ZarrSource.writeCube(cells.toDF("y", "x", "v"), g, "v",
        Seq("y" -> ys, "x" -> xs), chunks = Seq(cy, cx), codec = codec)
      val expect = cells.map { case (y, x, v) => (y, x) -> v }.toMap
      def check(df: org.apache.spark.sql.DataFrame, label: String): Unit = {
        val back = df.collect()
          .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
        assert(back.size == ny * nx, s"store $t $label size")
        back.foreach { case (k, v) =>
          expect.get(k) match {
            case Some(e) => assert(v == e, s"store $t $label at $k")
            case None => assert(v.isNaN, s"store $t $label fill at $k")
          }
        }
      }
      check(spark.read.format("zarr").option("vars", "v").load(g), "direct")
      val refsPath = s"$dir/s$t.refs.json"
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(refsPath), KerchunkSource.scanZarr(g))
      check(spark.read.format("kerchunk").option("vars", "v").load(refsPath), "kerchunk")
    }
  }

  test("COG overview chains round-trip: levels, values, georef (15 files)") {
    import graft.sources.GeoTiffSource
    import GeoTiffSource.Raster
    val rnd = new scala.util.Random(41)
    val dir = java.nio.file.Paths.get(TestDirs.tmpDir("graft_cog"))
    (1 to 15).foreach { t =>
      val (h, w) = (2 + rnd.nextInt(30), 2 + rnd.nextInt(30))
      val nb = 1 + rnd.nextInt(3)
      val nOv = 1 + rnd.nextInt(3)
      val bands = IndexedSeq.fill(nb)(Array.fill(h * w)(rnd.nextDouble() * 100))
      val r0 = Raster(w, h, bands, 0.25, 0.5, -10.0, 40.0)
      val p = dir.resolve(s"cog$t.tif").toString
      GeoTiffSource.writeWithOverviews(p, r0, nOv,
        deflate = t % 3 == 0, lzw = t % 3 == 1,
        tileSize = if (t % 2 == 0) 8 else 0)
      val levels = GeoTiffSource.readLevels(p)
      assert(levels.length == nOv + 1, s"file $t level count")
      // level k must equal k applications of ::2 decimation, bit for bit,
      // with origin fixed and scale doubled per level
      var expect = r0
      levels.zipWithIndex.foreach { case (lv, k) =>
        assert(lv.width == expect.width && lv.height == expect.height,
          s"file $t level $k dims")
        assert(lv.scaleX == 0.25 * (1 << k) && lv.scaleY == 0.5 * (1 << k),
          s"file $t level $k scale")
        assert(lv.originX == -10.0 && lv.originY == 40.0, s"file $t level $k origin")
        (0 until nb).foreach(b =>
          assert(lv.bands(b).sameElements(expect.bands(b)), s"file $t level $k band $b"))
        expect = GeoTiffSource.decimate2(expect)
      }
      // plain read still returns the full-resolution image
      assert(GeoTiffSource.read(p).width == w)
    }
  }

  test("Shapefile round-trips random point layers with typed attrs (30 files)") {
    import graft.sources.ShapefileSource
    import ShapefileSource.{DbfField, ShpPoint}
    val rnd = new scala.util.Random(29)
    val dir = java.nio.file.Paths.get(TestDirs.tmpDir("graft_shp_prop"))
    (1 to 30).foreach { t =>
      val n = 1 + rnd.nextInt(20)
      val pts = Seq.fill(n)(ShpPoint(
        (rnd.nextDouble() - 0.5) * 360, (rnd.nextDouble() - 0.5) * 180))
      val attrs = Seq.tabulate(n)(i => Seq[Any](s"f$i", rnd.nextInt(1000000).toLong))
      val p = dir.resolve(s"f$t.shp").toString
      ShapefileSource.writeFeatures(p, pts,
        Seq(DbfField("name", 'C', 8, 0), DbfField("n", 'N', 10, 0)), attrs)
      val geoms = ShapefileSource.readGeometries(p)
      assert(geoms.size == n)
      assert(geoms.zip(pts).forall { case (g, pt) =>
        g == s"POINT (${pt.x} ${pt.y})" })
      val (_, back) = ShapefileSource.readAttributes(
        p.replaceAll("\\.shp$", ".dbf"))
      assert(back.map(_(1)) == attrs.map(_(1)))
    }
  }

  test("colormap argb stays channel-bounded and clamps out-of-range inputs") {
    val rnd = new scala.util.Random(3)
    val allNames = Colormaps.names
    (1 to 500).foreach { _ =>
      val cm = Colormaps.get(allNames(rnd.nextInt(allNames.size)))
      val t = rnd.nextDouble() * 2.0 - 0.5
      val c = cm.argb(t)
      val a = (c >>> 24) & 0xff
      assert(a >= 0 && a <= 255)
      assert(cm.argb(2.0) == cm.argb(1.0))
      assert((cm.argb(-1.0) & 0xffffff) == (cm.argb(0.0) & 0xffffff))
    }
  }

  test("SNAP *.cpd custom colormaps load, normalize and carry alpha") {
    val cpd = """# SNAP color palette
                |numPoints=3
                |sample0=270.0
                |color0=0,0,255
                |sample1=300.0
                |color1=255,255,0,128
                |sample2=330.0
                |color2=255,0,0
                |""".stripMargin
    val cm = Colormaps.parseSnapCpd("sst", cpd)
    assert(cm.name == "sst")
    // samples 270/300/330 min-max normalize to stops 0/0.5/1
    assert(cm.argb(0.0) == 0xff0000ff)
    assert(cm.argb(0.5) == 0x80ffff00) // the 4-component point keeps alpha
    assert(cm.argb(1.0) == 0xffff0000)
    // halfway between stop 0 and 1 the alpha interpolates too
    assert(((cm.argb(0.25) >>> 24) & 0xff) == 192)
    // file round-trip through the registry's get() path
    val dir = java.nio.file.Paths.get(TestDirs.tmpDir("cpd"))
    val p = dir.resolve("mymap.cpd")
    java.nio.file.Files.writeString(p, cpd)
    val loaded = Colormaps.get(p.toString)
    assert(loaded.name == "mymap" && loaded.argb(0.5) == 0x80ffff00)
    // malformed files are rejected loudly, like the reference's
    // Illegal-SNAP-format error
    intercept[IllegalArgumentException](Colormaps.parseSnapCpd("x", "numPoints=1"))
    intercept[IllegalArgumentException](Colormaps.parseSnapCpd("x", "no equals here\n"))
  }

  test("colormap registry: named long tail, families, endpoints, variants") {
    // every family member resolves, and NOT to the viridis fallback
    Colormaps.families.foreach { case (fam, members) =>
      members.foreach { m =>
        assert(Colormaps.registry.contains(m), s"$fam/$m missing")
        assert(m == "viridis" || Colormaps.get(m).name == m, s"$fam/$m fell back")
      }
    }
    // ColorBrewer endpoints are the published values
    assert((Colormaps.get("Blues").argb(0.0) & 0xffffff) == 0xf7fbff)
    assert((Colormaps.get("Blues").argb(1.0) & 0xffffff) == 0x08306b)
    assert((Colormaps.get("Spectral").argb(0.5) & 0xffffff) == 0xffffbf)
    // reversed + alpha variants exist for the long tail too
    assert((Colormaps.get("YlGn_r").argb(0.0) & 0xffffff) == 0x004529)
    assert(((Colormaps.get("hot_alpha").argb(0.1) >>> 24) & 0xff) < 255)
    // categorical palettes return exact member colors, no interpolation
    val set1 = Colormaps.get("Set1")
    assert((set1.argb(0.0) & 0xffffff) == 0xe41a1c)
    assert((set1.argb(0.999) & 0xffffff) == 0x999999)
    // analytic maps match their closed forms at the midpoint
    assert((Colormaps.get("cool").argb(0.5) & 0xffffff) == 0x8080ff)
    assert((Colormaps.get("spring").argb(0.5) & 0xffffff) == 0xff8080)
  }
}
