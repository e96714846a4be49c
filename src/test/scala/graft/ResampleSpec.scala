package graft

import graft.cube.{GridMapping, TilingScheme}
import graft.operators.AffineOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ResampleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()

  test("affine nearest picks the containing source cell, NaN outside") {
    import spark.implicits._
    val src = GridMapping(4, 4, 0.0, 0.0, 1.0, 1.0)
    val tgt = GridMapping(2, 2, 0.0, 0.0, 2.0, 2.0)
    // source value = i + 10*j; only 3 cells present
    val cells = Seq((1L, 1L, 11.0), (3L, 1L, 13.0), (1L, 3L, 31.0)).toDF("i", "j", "v")
    val out = AffineOps.resampleNearest(cells, src, tgt, Seq("v"))
      .select("tgt_i", "tgt_j", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // target centers at (1,1),(3,1),(1,3),(3,3) → source cells (1,1),(3,1),(1,3),(3,3)
    assert(out((0L, 0L)) == 11.0)
    assert(out((1L, 0L)) == 13.0)
    assert(out((0L, 1L)) == 31.0)
    assert(out((1L, 1L)).isNaN)
  }

  test("affine bilinear: interior target averages 4 corners; partial renormalizes") {
    import spark.implicits._
    val src = GridMapping(4, 4, 0.0, 0.0, 1.0, 1.0)
    val tgt = GridMapping(1, 1, 0.5, 0.5, 3.0, 3.0) // single center (2.0, 2.0)
    // center (2,2) → fi = 1.5 → corners (1,1),(2,1),(1,2),(2,2), each w=0.25
    val full = Seq((1L, 1L, 10.0), (2L, 1L, 20.0), (1L, 2L, 30.0), (2L, 2L, 40.0))
      .toDF("i", "j", "v")
    val v1 = AffineOps.resampleBilinear(full, src, tgt, Seq("v"))
      .select("v").head().getDouble(0)
    assert(math.abs(v1 - 25.0) < 1e-9)
    // drop one corner → renormalized over the remaining three
    val partial = full.filter(!(col("i") === 2 && col("j") === 2))
    val v2 = AffineOps.resampleBilinear(partial, src, tgt, Seq("v"))
      .select("v").head().getDouble(0)
    assert(math.abs(v2 - 20.0) < 1e-9) // (10+20+30)/3
  }

  test("quadratic (order 2) reproduces constants, renormalizes at borders") {
    import spark.implicits._
    val src = GridMapping(4, 4, 0.0, 0.0, 1.0, 1.0)
    val tgt = GridMapping(1, 1, 0.5, 0.5, 3.0, 3.0)
    val const = (0 until 4).flatMap(i => (0 until 4).map(j => (i.toLong, j.toLong, 7.0)))
      .toDF("i", "j", "v")
    // partition of unity → a constant field stays exactly constant
    val v1 = graft.operators.AffineOps.resampleQuadratic(const, src, tgt, Seq("v"))
      .select("v").head().getDouble(0)
    assert(v1 == 7.0)
    // drop cells → present-neighbor renormalization keeps the constant
    val partial = const.filter(col("i") =!= 2)
    val v2 = graft.operators.AffineOps.resampleQuadratic(partial, src, tgt, Seq("v"))
      .select("v").head().getDouble(0)
    assert(math.abs(v2 - 7.0) < 1e-12)
  }

  test("quartic/quintic kernels: unity partition, support, constants survive") {
    import spark.implicits._
    import graft.operators.AffineOps.{quarticWeight, quinticWeight}
    // partition of unity at arbitrary phases (the property the whole
    // renormalizing convolution rests on)
    for (fx <- Seq(0.0, 0.25, 0.75, 0.5, 0.9)) {
      val s4 = (-2 to 3).map(di => quarticWeight(math.abs(di - fx))).sum
      val s5 = (-2 to 3).map(di => quinticWeight(math.abs(di - fx))).sum
      assert(math.abs(s4 - 1.0) < 1e-12, s"quartic unity at fx=$fx: $s4")
      assert(math.abs(s5 - 1.0) < 1e-12, s"quintic unity at fx=$fx: $s5")
    }
    // continuity at the piece boundaries and compact support
    for (b <- Seq(0.5, 1.5, 2.5)) {
      assert(math.abs(quarticWeight(b - 1e-9) - quarticWeight(b + 1e-9)) < 1e-7)
    }
    for (b <- Seq(1.0, 2.0, 3.0)) {
      assert(math.abs(quinticWeight(b - 1e-9) - quinticWeight(b + 1e-9)) < 1e-7)
    }
    assert(quarticWeight(2.5) == 0.0 && quinticWeight(3.0) == 0.0)
    // a constant field stays exactly constant through the full operator
    val src = GridMapping(6, 6, 0.0, 0.0, 1.0, 1.0)
    val tgt = GridMapping(1, 1, 2.0, 2.0, 2.0, 2.0)
    val const = (0 until 6).flatMap(i => (0 until 6).map(j => (i.toLong, j.toLong, 7.0)))
      .toDF("i", "j", "v")
    val v4 = AffineOps.resampleQuartic(const, src, tgt, Seq("v"))
      .select("v").head().getDouble(0)
    val v5 = AffineOps.resampleQuintic(const, src, tgt, Seq("v"))
      .select("v").head().getDouble(0)
    assert(math.abs(v4 - 7.0) < 1e-12 && math.abs(v5 - 7.0) < 1e-12)
  }

  test("recover_nan: NaN corners drop out of the weighted mean; all-NaN stays NaN") {
    import spark.implicits._
    val src = GridMapping(4, 4, 0.0, 0.0, 1.0, 1.0)
    val tgt = GridMapping(1, 1, 0.5, 0.5, 3.0, 3.0)
    val withNan = Seq((1L, 1L, 10.0), (2L, 1L, Double.NaN),
      (1L, 2L, 30.0), (2L, 2L, 40.0)).toDF("i", "j", "v")
    // default path: one NaN corner poisons the output
    val plain = AffineOps.resampleBilinear(withNan, src, tgt, Seq("v"))
      .select("v").head().getDouble(0)
    assert(plain.isNaN)
    // recover_nan: the mask interpolates alongside → mean of the 3 valid
    val rec = AffineOps.resampleBilinear(withNan, src, tgt, Seq("v"),
      recoverNan = true).select("v").head().getDouble(0)
    assert(math.abs(rec - (10.0 + 30.0 + 40.0) / 3) < 1e-9)
    // every corner NaN → still NaN (interpolated mask ≈ 0)
    val allNan = Seq((1L, 1L, Double.NaN), (2L, 1L, Double.NaN),
      (1L, 2L, Double.NaN), (2L, 2L, Double.NaN)).toDF("i", "j", "v")
    val none = AffineOps.resampleBilinear(allNan, src, tgt, Seq("v"),
      recoverNan = true).select("v").head().getDouble(0)
    assert(none.isNaN)
  }

  test("TilingScheme: geographic + mercator pyramid math (tilingscheme.py:35)") {
    val g = TilingScheme.geographic
    assert(g.numTilesX(0) == 2 && g.numTilesY(0) == 1)
    assert(g.resolution(0) == 360.0 / (2 * 256))
    assert(g.resolution(2) == g.resolution(0) / 4)
    assert(g.levelForResolution(g.resolution(3)) == 3)
    assert(g.levelForResolution(g.resolution(3) * 1.5) == 3) // next finer level
    assert(g.tileExtent(0, 0, 0) == ((-180.0, -90.0, 0.0, 90.0)))
    assert(g.tileExtent(1, 3, 1) == ((90.0, -90.0, 180.0, 0.0)))
    assert(g.tileForPoint(1, 100.0, -45.0) == ((3L, 1L)))
    val m = TilingScheme.webMercator
    assert(m.numTilesX(0) == 1)
    assert(m.tileForPoint(0, 0.0, 0.0) == ((0L, 0L)))
  }

  test("mercator reprojection round-trips and matches known anchors") {
    import spark.implicits._
    val df = Seq((0.0, 0.0), (90.0, 45.0), (-180.0, -85.0)).toDF("lon", "lat")
    import graft.operators.SpatialOps.transformXY
    val (mx, my) = transformXY("CRS84", "EPSG:3857", col("lon"), col("lat"))
    val out = df.select(mx.as("mx"), my.as("my"))
    val (lon, lat) = transformXY("EPSG:3857", "CRS84", col("mx"), col("my"))
    val back = out.select(lon.as("lon"), lat.as("lat")).collect()
    val orig = df.collect()
    orig.zip(back).foreach { case (o, b) =>
      assert(math.abs(o.getDouble(0) - b.getDouble(0)) < 1e-9)
      assert(math.abs(o.getDouble(1) - b.getDouble(1)) < 1e-9)
    }
    val r0 = out.collect()
    assert(math.abs(r0(0).getDouble(0)) < 1e-9 && math.abs(r0(0).getDouble(1)) < 1e-9)
    assert(math.abs(r0(1).getDouble(0) - 1.0018754171394622e7) < 1.0) // 90 deg lon
  }

  test("rectifyNearest: nearest sample to the cell center wins") {
    import spark.implicits._
    val gm = GridMapping(4, 4, 0.0, 0.0, 1.0, 1.0)
    val src = Seq(
      (0.6, 0.6, 1.0, 1L),  // cell (0,0), dist 0.02
      (0.4, 0.4, 2.0, 2L),  // cell (0,0), dist 0.02 -> tie, id 1 wins
      (1.9, 0.5, 3.0, 3L),  // cell (1,0)
      (5.0, 5.0, 9.0, 4L)   // outside -> dropped
    ).toDF("xc", "yc", "v", "sid")
    val out = graft.operators.RectifyOps
      .rectifyNearest(src, "xc", "yc", gm, Seq("v"), "sid")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.size == 2)
    assert(out((0L, 0L)) == 1.0)
    assert(out((1L, 0L)) == 3.0)
  }

  test("bicubic reproduces linear fields exactly and renormalizes at borders") {
    import spark.implicits._
    val src = GridMapping(8, 8, 0.0, 0.0, 1.0, 1.0)
    // v linear in (i, j): cubic convolution must reproduce it exactly
    val cells = (for (j <- 0 until 8; i <- 0 until 8)
      yield (i.toLong, j.toLong, i + 10.0 * j)).toDF("i", "j", "v")
    // interior target center at (3.75, 4.25) → fi = 3.25, fj = 3.75
    val tgt = GridMapping(1, 1, 3.25, 3.75, 1.0, 1.0)
    val v = AffineOps.resampleBicubic(cells, src, tgt, Seq("v"))
      .select("v").head().getDouble(0)
    // exact linear value at the sample point: fi + 10*fj
    assert(math.abs(v - (3.25 + 10.0 * 3.75)) < 1e-9, s"got $v")
    // border target (outside kernel support partially) still renormalizes
    val tgtB = GridMapping(1, 1, -0.4, -0.4, 1.0, 1.0) // center (0.1, 0.1)
    val vb = AffineOps.resampleBicubic(cells, src, tgtB, Seq("v"))
      .select("v").head().getDouble(0)
    assert(!vb.isNaN)
  }

  test("dispatcher: no-op, affine, aggregator-downsample, and CRS routes (spatial.py:28-261)") {
    import spark.implicits._
    import graft.operators.SpatialOps
    import graft.operators.SpatialOps.{IrregularSource, RegularSource}
    val src = GridMapping(4, 4, 0.0, 0.0, 1.0, 1.0)
    val cells = (0 until 16).map(k => (k.toLong % 4, k.toLong / 4, k.toDouble))
      .toDF("i", "j", "v")

    // route 1: source ≈ target → identity
    val same = SpatialOps.resampleInSpace(RegularSource(cells, src), src, Seq("v"))
    assert(same.count() == 16)

    // route 2a: regular upsample → affine (nearest)
    val up = GridMapping(8, 8, 0.0, 0.0, 0.5, 0.5)
    val affine = SpatialOps.resampleInSpace(RegularSource(cells, src), up,
      Seq("v"), splineOrder = 0)
    assert(affine.count() == 64)

    // route 2b: regular downsample + aggregator → block mean
    val down = GridMapping(2, 2, 0.0, 0.0, 2.0, 2.0)
    val blocks = SpatialOps.resampleInSpace(RegularSource(cells, src), down,
      Seq("v"), aggregator = Some("mean")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(blocks((0L, 0L)) == (0.0 + 1.0 + 4.0 + 5.0) / 4)
    assert(blocks((1L, 1L)) == (10.0 + 11.0 + 14.0 + 15.0) / 4)

    // route 2c: irregular, src res ≥ tgt res → direct rectify
    val swath = Seq((0.6, 0.4, 7.0), (1.5, 1.5, 9.0)).toDF("xc", "yc", "v")
    val rect = SpatialOps.resampleInSpace(
      IrregularSource(swath, "xc", "yc", 1.0, 1.0, "CRS84"), src, Seq("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(rect((0L, 0L)) == 7.0 && rect((1L, 1L)) == 9.0)

    // route 3: different CRS → transform + downscale + rectify; a 1-degree
    // geographic grid lands on a web-mercator target without error
    val geo = GridMapping(4, 4, 0.0, 0.0, 1.0, 1.0, crs = "CRS84")
    val merc = GridMapping(2, 2, 0.0, 0.0, 222638.0, 223000.0, crs = "EPSG:3857")
    val crsOut = SpatialOps.resampleInSpace(RegularSource(cells, geo), merc, Seq("v"))
    assert(crsOut.count() > 0)
    // unsupported pair raises
    intercept[IllegalArgumentException] {
      SpatialOps.resampleInSpace(RegularSource(cells,
        geo.copy(crs = "EPSG:9999")), merc, Seq("v")).collect()
    }
  }

  test("exact rectify kernels match hand-computed barycentric values (rectify.py:469-817)") {
    import spark.implicits._
    import graft.operators.RectifyExactOps
    // a single unit quad shifted by (0.1, 0.1): corners p0..p3 with values
    // 0, 1, 2, 3; target cell (0,0) center (0.5, 0.5)
    val swath = Seq(
      (0L, 0L, 0.1, 0.1, 0.0), (1L, 0L, 1.1, 0.1, 1.0),
      (0L, 1L, 0.1, 1.1, 2.0), (1L, 1L, 1.1, 1.1, 5.0) // v3 non-planar
    ).toDF("si", "sj", "xc", "yc", "v")
    val gm = GridMapping(2, 2, 0.0, 0.0, 1.0, 1.0)
    def run(mode: String) = RectifyExactOps
      .rectify(swath, "si", "sj", "xc", "yc", "v", gm, mode)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // center (0.5,0.5) in triangle A with u = v = 0.4:
    //   triangular: v0 + 0.4(v1-v0) + 0.4(v2-v0) = 0 + 0.4 + 0.8 = 1.2
    //               (closest triangle ignores the non-planar v3)
    //   bilinear:   (1-v)((1-u)v0 + u v1) + v((1-u)v2 + u v3)
    //             = 0.6·0.4 + 0.4·(1.2 + 2.0) = 1.52
    //   nearest:    u,v ≤ 0.5 → v0 = 0
    val tri = run("triangular")
    assert(math.abs(tri((0L, 0L)) - 1.2) < 1e-9)
    val bil = run("bilinear")
    assert(math.abs(bil((0L, 0L)) - 1.52) < 1e-9)
    val nn = run("nearest")
    assert(nn((0L, 0L)) == 0.0)
    // cell (1,1) center (1.5,1.5): outside the quad + uv_delta → absent in
    // triangular mode output? No: u=v=1.4 > 1+2δ → not covered
    assert(!tri.contains((1L, 1L)))
    intercept[IllegalArgumentException] {
      RectifyExactOps.rectify(swath, "si", "sj", "xc", "yc", "v", gm, "cubic")
    }
  }

  test("UTM transverse mercator: public anchors, round-trips, dispatcher route") {
    import graft.operators.UtmOps
    import graft.operators.UtmOps.UtmZone
    val z32 = UtmZone(32, north = true)
    // central meridian (lon 9°) → false easting exactly; equator → N = 0
    val (e0, n0) = z32.forward(9.0, 0.0)
    assert(math.abs(e0 - 500000.0) < 1e-6 && math.abs(n0) < 1e-6)
    // well-known zone-edge easting at the equator: ~166,021.44 m (lon 6°)
    val (eEdge, _) = z32.forward(6.0, 0.0)
    assert(math.abs(eEdge - 166021.44) < 1.0, s"edge easting $eEdge")
    // northing on the central meridian at 45° = k0 × meridian arc
    // (WGS84 arc to 45° = 4,984,944.38 m → 4,982,950.40 m)
    val (_, n45) = z32.forward(9.0, 45.0)
    assert(math.abs(n45 - 4982950.40) < 1.0, s"45N northing $n45")
    // forward → inverse round-trips to sub-millimeter in degrees, both
    // hemispheres, off-meridian
    for ((lon, lat, z) <- Seq(
        (7.8509, 47.9941, z32), (11.9, 44.2, z32),
        (13.5, -8.8, UtmZone(33, north = false)))) {
      val (e, n) = z.forward(lon, lat)
      val (lon2, lat2) = z.inverse(e, n)
      assert(math.abs(lon2 - lon) < 1e-8 && math.abs(lat2 - lat) < 1e-8,
        s"round-trip ($lon,$lat) -> ($e,$n) -> ($lon2,$lat2)")
      if (z.north) assert(n > 0 && n < 10000000)
    }
    // EPSG parsing
    assert(UtmOps.zoneForCrs("EPSG:32632").contains(z32))
    assert(UtmOps.zoneForCrs("EPSG:32733").contains(UtmZone(33, north = false)))
    assert(UtmOps.zoneForCrs("EPSG:3857").isEmpty)
    assert(UtmOps.zoneForLonLat(7.85, 47.99) == z32)

    // the project_xy expression agrees with the kernel
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq((7.8509, 47.9941)).toDF("lon", "lat")
    val (ec, nc) = ProjectionSpec.forwardCol(z32, col("lon"), col("lat"))
    val row = df.select(ec.as("e"), nc.as("n")).head()
    val (eS, nS) = z32.forward(7.8509, 47.9941)
    assert(math.abs(row.getDouble(0) - eS) < 1e-6)
    assert(math.abs(row.getDouble(1) - nS) < 1e-6)

    // dispatcher routes a geographic grid onto a UTM target without error
    import graft.operators.SpatialOps
    import graft.operators.SpatialOps.RegularSource
    val cells = (0 until 16).map(k => (k.toLong % 4, k.toLong / 4, k.toDouble))
      .toDF("i", "j", "v")
    val geo = GridMapping(4, 4, 8.0, 44.0, 0.5, 0.5, crs = "CRS84")
    val utm = GridMapping(2, 2, 420000.0, 4870000.0, 90000.0, 120000.0,
      crs = "EPSG:32632")
    val out = SpatialOps.resampleInSpace(RegularSource(cells, geo), utm, Seq("v"))
    assert(out.count() > 0)
  }
}
