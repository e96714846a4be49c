package graft.ops

import graft.{Fixtures, GraftSession, QueryPack}
import graft.cube.GridMapping
import graft.operators.{AffineOps, PolarOps, RectifyExactOps, RectifyOps, ReprojectOps, SpatialOps, UtmOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spatial resampling pack (SURVEY §2.11): affine same-CRS resampling of the
  * events mean field from the 360×100 unit grid onto a 90×25 grid with 4×
  * coarser resolution — nearest (order 0) and bilinear (order 1) paths.
  */
object ResamplePack extends QueryPack {

  private val tgtGm = GridMapping(90, 25, 0.0, 0.0, 4.0, 4.0)

  /** Source cell table (i, j, v): per-cell time mean of the events cube.
    * The mean sums in DECIMAL (raw values are 2-decimal dollars — the cast
    * is exact) so the 6-decimal rounding can never land on an
    * engine-order-dependent midpoint: an sf0.1 verify run caught exactly
    * that flip in two cells with the plain double avg.
    */
  private def srcCells(s: SparkSession, d: String): DataFrame = {
    val c = CubePack.eventsCube(s, d)
    c.df.groupBy(c.gm.iExpr(c.x).as("i"), c.gm.jExpr(c.y).as("j"))
      .agg(round(sum(col("v").cast("decimal(28,12)")).cast("double") /
        count(lit(1)), 6).as("v"))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_affine_nearest" -> ((s, d) => {
      AffineOps.resampleNearest(srcCells(s, d), CubePack.gm, tgtGm, Seq("v"))
        .groupBy("tgt_j")
        .agg(sum(when(!isnan(col("v")), 1).otherwise(0)).as("n_found"),
          round(sum(when(!isnan(col("v")), col("v")).otherwise(0.0)), 6).as("sum_v"))
    }),

    "q_affine_bilinear" -> ((s, d) => {
      // checksum via EXACT decimal summation: double sums of grid-valued
      // interpolants can land exactly on a rounding midpoint, where
      // engine/run summation order flips the rounded value; decimal adds
      // are associative and both engines round decimals half-away-from-zero
      AffineOps.resampleBilinear(srcCells(s, d), CubePack.gm, tgtGm, Seq("v"))
        .groupBy("tgt_j")
        .agg(count(lit(1)).as("n"),
          round(sum(col("v").cast("decimal(28,10)")), 6).cast("double").as("sum_v"))
    }),

    // bicubic (spline order 3, cubic-convolution): at this grid alignment
    // fx = fy = 0.5 everywhere, so the kernel weights are the exact dyadic
    // rationals ±1/16, 9/16 — the oracle hardcodes them
    "q_affine_bicubic" -> ((s, d) => {
      AffineOps.resampleBicubic(srcCells(s, d), CubePack.gm, tgtGm, Seq("v"))
        .groupBy("tgt_j")
        .agg(count(lit(1)).as("n"),
          round(sum(col("v").cast("decimal(28,10)")), 6).cast("double").as("sum_v"))
    }),

    // quadratic (spline order 2): offset target grid so fx = fy = 0.75 —
    // kernel taps are the exact dyadic rationals 0.28125 / 0.6875 / 0.03125
    // (hardcoded in the oracle), distinguishing order 2 from bilinear,
    // which this alignment would NOT do at fx = 0.5
    "q_affine_quadratic" -> ((s, d) => {
      val tgtOff = GridMapping(89, 24, 0.25, 0.25, 4.0, 4.0)
      AffineOps.resampleQuadratic(srcCells(s, d), CubePack.gm, tgtOff, Seq("v"))
        .groupBy("tgt_j")
        .agg(count(lit(1)).as("n"),
          round(sum(col("v").cast("decimal(28,10)")), 6).cast("double").as("sum_v"))
    }),

    // quartic (spline order 4, 5 taps at this alignment) and quintic
    // (order 5, 6 taps): same offset grid as order 2 (fx = fy = 0.75). The
    // weights are NOT dyadic (the B-spline coefficients carry /3, /5
    // factors), so the oracle embeds weight literals generated by the
    // plain-double kernel twins (identical IEEE op order → bit-equal to
    // the plan; Double.toString round-trips exactly). Edge target cells
    // lose out-of-grid taps and renormalize — mirrored by the oracle's
    // inner join.
    "q_affine_quartic" -> ((s, d) => {
      val tgtOff = GridMapping(89, 24, 0.25, 0.25, 4.0, 4.0)
      AffineOps.resampleQuartic(srcCells(s, d), CubePack.gm, tgtOff, Seq("v"))
        .groupBy("tgt_j")
        .agg(count(lit(1)).as("n"),
          round(sum(col("v").cast("decimal(28,10)")), 6).cast("double").as("sum_v"))
    }),

    "q_affine_quintic" -> ((s, d) => {
      val tgtOff = GridMapping(89, 24, 0.25, 0.25, 4.0, 4.0)
      AffineOps.resampleQuintic(srcCells(s, d), CubePack.gm, tgtOff, Seq("v"))
        .groupBy("tgt_j")
        .agg(count(lit(1)).as("n"),
          round(sum(col("v").cast("decimal(28,10)")), 6).cast("double").as("sum_v"))
    }),

    // recover_nan (affine.py:290-312): NaN cells planted on (i+j)%5 == 0;
    // the masked bilinear interpolates values and validity together, so a
    // target cell keeps a value as long as ANY corner is valid. CHECKSUM:
    // per-cell means over k ∈ {1,2,3,4} valid corners land EXACTLY on
    // 1e-6 midpoints when k = 2 (mean of two 6-decimal values), where
    // Spark and DuckDB round() diverge — so no per-cell rounding; instead
    // each mean is ×12 (the lcm of the possible k), which makes it
    // grid-valued, recovered exactly by the DECIMAL cast, and summed
    // associatively.
    "q_affine_recover_nan" -> ((s, d) => {
      val src = srcCells(s, d).withColumn("v",
        when((col("i") + col("j")) % 5 === 0, lit(Double.NaN))
          .otherwise(col("v")))
      AffineOps.resampleBilinear(src, CubePack.gm, tgtGm, Seq("v"),
          recoverNan = true)
        .groupBy("tgt_j")
        .agg(count(lit(1)).as("n"),
          sum(when(isnan(col("v")), 1L).otherwise(0L)).as("n_nan"),
          round(sum(when(!isnan(col("v")), col("v") * 12.0).otherwise(lit(0.0))
            .cast("decimal(28,10)")), 6).cast("double").as("sum_v12"))
    }),

    // closed-form geographic → web-mercator reprojection; avg (not sum) so
    // libm ulp differences stay far inside the rounding margin
    "q_reproject_mercator" -> ((s, d) => {
      val c0 = CubePack.eventsCube(s, d)
      val geo = c0.copy(df = c0.df
        .withColumn("x", col("x") - 180.0)
        .withColumn("y", (col("y") - 50.0) * 0.9))
      ReprojectOps.toMercator(geo)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(avg(col("merc_x")), 4).as("avg_mx"),
          round(avg(col("merc_y")), 4).as("avg_my"))
    }),

    // rectify: irregular jittered coords back onto the regular grid —
    // nearest-to-center source wins per cell, deterministic tiebreak
    "q_rectify" -> ((s, d) => {
      val c0 = CubePack.eventsCube(s, d)
      val swath = GraftSession.events(s, d).select(
        (((col("event_id") % 360).cast("double") + 0.5) +
          ((col("event_id") % 7) - 3).cast("double") * 0.1).as("xc"),
        (((col("user_id") % 100).cast("double") + 0.5) +
          ((col("event_id") % 5) - 2).cast("double") * 0.1).as("yc"),
        col("value").as("v"), col("event_id"))
      RectifyOps.rectifyNearest(swath, "xc", "yc", c0.gm, Seq("v"), "event_id")
        .groupBy((col("j") / 10).cast("long").as("jband"))
        .agg(count(lit(1)).as("n_cells"), round(sum(col("v")), 6).as("sum_v"))
    }),

    // interpolating rectify (inverse-distance weights over the 3×3 cell
    // neighbourhood); per-cell values rounded to the 1e-6 grid before the
    // band checksum so the final sum is grid-valued (midpoint-safe)
    "q_rectify_idw" -> ((s, d) => {
      val c0 = CubePack.eventsCube(s, d)
      val swath = GraftSession.events(s, d).select(
        (((col("event_id") % 360).cast("double") + 0.5) +
          ((col("event_id") % 7) - 3).cast("double") * 0.1).as("xc"),
        (((col("user_id") % 100).cast("double") + 0.5) +
          ((col("event_id") % 5) - 2).cast("double") * 0.1).as("yc"),
        col("value").as("v"))
      RectifyOps.rectifyIdw(swath, "xc", "yc", c0.gm, Seq("v"))
        .select(col("i"), col("j"), round(col("v"), 6).as("v"))
        .groupBy((col("j") / 10).cast("long").as("jband"))
        .agg(count(lit(1)).as("n_cells"), round(sum(col("v")), 6).as("sum_v"))
    }),

    // resample_in_space dispatcher (spatial.py:28-261), same-CRS regular
    // DOWNSAMPLE route: 4× coarser target + aggregator="mean" → block
    // aggregation (the var-config aggregator path, affine.py:72-77)
    "q_resample_space" -> ((s, d) => {
      val out = SpatialOps.resampleInSpace(
        SpatialOps.RegularSource(srcCells(s, d), CubePack.gm),
        tgtGm, Seq("v"), aggregator = Some("mean"))
      // no final round: the decimal-sum/count mean is bit-identical in both
      // engines, while rounding it can DIVERGE at exact 7th-decimal
      // midpoints (Spark rounds the exact binary value, DuckDB rounds after
      // multiplying) -- observed at sf0.1
      out.select(col("i"), col("j"), col("v"))
    }),

    // dispatcher different-CRS route (spatial.py:225-261): regular
    // geographic source → regular web-mercator target. The coords transform
    // closed-form, become irregular, land in the downscale-then-rectify
    // branch (transformed res ≈ 111 km < the 445 km target cells).
    "q_resample_space_crs" -> ((s, d) => {
      val geoGm = GridMapping(360, 100, -180.0, -45.0, 1.0, 0.9, crs = "CRS84")
      val mercGm = GridMapping(90, 25, -20037600.0, -5621600.0,
        445280.0, 449728.0, crs = "EPSG:3857")
      val out = SpatialOps.resampleInSpace(
        SpatialOps.RegularSource(srcCells(s, d), geoGm), mercGm, Seq("v"))
      out.select(col("i"), col("j"), col("v")) // unrounded: see q_resample_space
    }),

    // dispatcher UTM route: regular geographic source (a 3.6°×2° window of
    // zone 32) → regular UTM EPSG:32632 target via the closed-form
    // transverse-mercator series; lands in downscale-then-rectify like any
    // different-CRS request
    "q_resample_space_utm" -> ((s, d) => {
      val geoGm = GridMapping(360, 100, 6.0, 44.0, 0.01, 0.02, crs = "CRS84")
      val utmGm = GridMapping(80, 60, 250000.0, 4860000.0, 4000.0, 4000.0,
        crs = "EPSG:32632")
      val out = SpatialOps.resampleInSpace(
        SpatialOps.RegularSource(srcCells(s, d), geoGm), utmGm, Seq("v"))
      out.select(col("i"), col("j"), col("v")) // unrounded: see q_resample_space
    }),

    // dispatcher polar-stereographic route (EPSG:3413, the NSIDC
    // north-polar sea-ice grid): regular geographic source (a 18°×2°
    // window over north Greenland) → regular PS target via the Snyder
    // closed forms; lands in downscale-then-rectify like any
    // different-CRS request
    "q_resample_space_ps" -> ((s, d) => {
      val geoGm = GridMapping(360, 100, -60.0, 70.0, 0.05, 0.02, crs = "CRS84")
      val psGm = GridMapping(86, 60, -570000.0, -2190000.0, 8000.0, 5000.0,
        crs = "EPSG:3413")
      val out = SpatialOps.resampleInSpace(
        SpatialOps.RegularSource(srcCells(s, d), geoGm), psGm, Seq("v"))
      out.select(col("i"), col("j"), col("v")) // unrounded: see q_resample_space
    }),

    // dispatcher LAEA route (EPSG:3035, the European equal-area grid):
    // regular geographic source (3.6°×2° over the Alps) → regular LAEA
    // target via the Snyder oblique equal-area closed forms
    "q_resample_space_laea" -> ((s, d) => {
      val geoGm = GridMapping(360, 100, 5.0, 48.0, 0.01, 0.02, crs = "CRS84")
      val laeaGm = GridMapping(68, 58, 3948000.0, 2767000.0, 4000.0, 4000.0,
        crs = "EPSG:3035")
      val out = SpatialOps.resampleInSpace(
        SpatialOps.RegularSource(srcCells(s, d), geoGm), laeaGm, Seq("v"))
      out.select(col("i"), col("j"), col("v")) // unrounded: see q_resample_space
    }),

    // dispatcher MODIS-sinusoidal route (SR-ORG:6974, the MODIS land
    // grid): equal-area spherical closed form on the MODIS authalic
    // sphere — the third common non-mercator satellite family
    "q_resample_space_sinu" -> ((s, d) => {
      val geoGm = GridMapping(360, 100, 5.0, 45.0, 0.01, 0.02, crs = "CRS84")
      val sinGm = GridMapping(62, 46, 375000.0, 5000000.0, 5000.0, 5000.0,
        crs = "SR-ORG:6974")
      val out = SpatialOps.resampleInSpace(
        SpatialOps.RegularSource(srcCells(s, d), geoGm), sinGm, Seq("v"))
      out.select(col("i"), col("j"), col("v")) // unrounded: see q_resample_space
    }),

    // dispatcher Lambert-conformal-conic route (EPSG:2154, the French
    // national Lambert-93 grid): Snyder 2SP closed forms (PolarOpsSpec
    // pins Paris to the published cm)
    "q_resample_space_lcc" -> ((s, d) => {
      val geoGm = GridMapping(360, 100, 2.0, 45.0, 0.01, 0.02, crs = "CRS84")
      val lccGm = GridMapping(70, 55, 620000.0, 6432000.0, 4000.0, 4000.0,
        crs = "EPSG:2154")
      val out = SpatialOps.resampleInSpace(
        SpatialOps.RegularSource(srcCells(s, d), geoGm), lccGm, Seq("v"))
      out.select(col("i"), col("j"), col("v")) // unrounded: see q_resample_space
    }),

    // GENERIC-parameter conic route (r20): a CONUS-parallels LCC that is
    // NOT a registered EPSG code — `LCC:<lat1>:<lat2>:<lat0>:<lon0>:
    // <fe>:<fn>` rides the same parameterized 2SP closed form, proving
    // the pyproj-anything intake path end-to-end (reference reaches
    // arbitrary conics via pyproj.CRS; r19 declined them loudly)
    "q_resample_space_lcc2" -> ((s, d) => {
      val geoGm = GridMapping(360, 100, -100.0, 38.0, 0.01, 0.02,
        crs = "CRS84")
      val lccGm = GridMapping(62, 44, -348000.0, -108000.0, 5000.0, 5000.0,
        crs = "LCC:33.0:45.0:39.0:-96.0:0.0:0.0")
      val out = SpatialOps.resampleInSpace(
        SpatialOps.RegularSource(srcCells(s, d), geoGm), lccGm, Seq("v"))
      out.select(col("i"), col("j"), col("v")) // unrounded: see q_resample_space
    }),

    // dispatcher Albers equal-area route (EPSG:5070, the US CONUS grid)
    "q_resample_space_albers" -> ((s, d) => {
      val geoGm = GridMapping(360, 100, -100.0, 38.0, 0.01, 0.02,
        crs = "CRS84")
      val abGm = GridMapping(78, 57, -348000.0, 1662000.0, 4000.0, 4000.0,
        crs = "EPSG:5070")
      val out = SpatialOps.resampleInSpace(
        SpatialOps.RegularSource(srcCells(s, d), geoGm), abGm, Seq("v"))
      out.select(col("i"), col("j"), col("v")) // unrounded: see q_resample_space
    }),

    // dispatcher ROTATED-POLE route (the COSMO/HIRLAM regional-weather
    // grid family; pole 40N 170W is the COSMO-EU rotation): coordinates
    // stay degrees, the transform is an exact sphere rotation
    "q_resample_space_rotpole" -> ((s, d) => {
      val geoGm = GridMapping(360, 100, 5.0, 45.0, 0.01, 0.02, crs = "CRS84")
      val rotGm = GridMapping(54, 44, -3.55, -5.0, 0.05, 0.05,
        crs = "ROTPOLE:40.0:-170.0")
      val out = SpatialOps.resampleInSpace(
        SpatialOps.RegularSource(srcCells(s, d), geoGm), rotGm, Seq("v"))
      out.select(col("i"), col("j"), col("v")) // unrounded: see q_resample_space
    }),

    // dispatcher MOLLWEIDE route (MOLL:<lon0>, the classic equal-area
    // world map): pole-guarded fixed-count Newton for the auxiliary
    // angle, identical step count in the Column, scalar and oracle forms
    "q_resample_space_moll" -> ((s, d) => {
      val geoGm = GridMapping(360, 100, 5.0, 48.0, 0.01, 0.02, crs = "CRS84")
      val mollGm = GridMapping(43, 32, 376000.0, 5652000.0, 7000.0, 7000.0,
        crs = "MOLL:0.0")
      val out = SpatialOps.resampleInSpace(
        SpatialOps.RegularSource(srcCells(s, d), geoGm), mollGm, Seq("v"))
      out.select(col("i"), col("j"), col("v")) // unrounded: see q_resample_space
    }),

    // dispatcher GEOSTATIONARY route (GEOS:-75 = the GOES-East full-disk
    // perspective, sweep_angle_axis x): GRS80 closed forms verified
    // against the published GOES-R PUG worked example (PolarOps.Geos),
    // the largest real-world family the reference reaches via pyproj
    // that previously had no closed form here
    "q_resample_space_geos" -> ((s, d) => {
      val geoGm = GridMapping(360, 100, -85.0, 30.0, 0.01, 0.02,
        crs = "CRS84")
      val geosGm = GridMapping(72, 38, -940000.0, 3076000.0, 5000.0, 5000.0,
        crs = "GEOS:-75.0:3.5786023E7:x")
      val out = SpatialOps.resampleInSpace(
        SpatialOps.RegularSource(srcCells(s, d), geoGm), geosGm, Seq("v"))
      out.select(col("i"), col("j"), col("v")) // unrounded: see q_resample_space
    }),

    // dispatcher EASE-Grid 2.0 route (EPSG:6933, the SMAP/SMOS/AMSR
    // soil-moisture grid): WGS84 cylindrical equal-area via the same
    // authalic-latitude machinery as LAEA; the derived scale constant
    // reproduces the grid's published 17,367,530.45 m global half-width
    "q_resample_space_ease" -> ((s, d) => {
      val geoGm = GridMapping(360, 100, 5.0, 48.0, 0.01, 0.02, crs = "CRS84")
      val easeGm = GridMapping(60, 30, 478000.0, 5440000.0, 6000.0, 6000.0,
        crs = "EPSG:6933")
      val out = SpatialOps.resampleInSpace(
        SpatialOps.RegularSource(srcCells(s, d), geoGm), easeGm, Seq("v"))
      out.select(col("i"), col("j"), col("v")) // unrounded: see q_resample_space
    }),

    // dispatcher ORTHOGRAPHIC route (ORTHO:<lat0>:<lon0>, the satellite-
    // view projection): spherical Snyder closed forms, hemisphere-limb
    // NaN semantics
    "q_resample_space_ortho" -> ((s, d) => {
      val geoGm = GridMapping(360, 100, 5.0, 48.0, 0.01, 0.02, crs = "CRS84")
      val orthoGm = GridMapping(56, 49, -376000.0, -226000.0, 5000.0, 5000.0,
        crs = "ORTHO:50.0:10.0")
      val out = SpatialOps.resampleInSpace(
        SpatialOps.RegularSource(srcCells(s, d), geoGm), orthoGm, Seq("v"))
      out.select(col("i"), col("j"), col("v")) // unrounded: see q_resample_space
    }),

    // dispatcher EQUAL-EARTH route (EPSG:8857 — the equal-area pseudo-
    // cylindrical world projection, Savric/Patterson/Jenny 2019, proj
    // +proj=eqearth): authalic-latitude composition on WGS84 (the
    // PolarOps.EqualEarth kernel)
    "q_resample_space_eqearth" -> ((s, d) => {
      val geoGm = GridMapping(360, 100, 5.0, 48.0, 0.01, 0.02, crs = "CRS84")
      val eeGm = GridMapping(72, 52, 396000.0, 5774000.0, 4000.0, 4000.0,
        crs = "EPSG:8857")
      val out = SpatialOps.resampleInSpace(
        SpatialOps.RegularSource(srcCells(s, d), geoGm), eeGm, Seq("v"))
      out.select(col("i"), col("j"), col("v")) // unrounded: see q_resample_space
    }),

    // dispatcher HOTINE-OBLIQUE-MERCATOR route (EPSG:29873, Timbalai
    // 1948 / RSO Borneo — EPSG method 9815 variant B on Everest 1830,
    // the rotated-aspect Mercator family behind RSO/LV95/Alaska):
    // regular geographic source over Borneo → regular RSO target
    "q_resample_space_hom" -> ((s, d) => {
      val geoGm = GridMapping(360, 100, 113.0, 2.0, 0.01, 0.02,
        crs = "CRS84")
      val rsoGm = GridMapping(66, 36, 370000.0, 222000.0, 6000.0, 6000.0,
        crs = "EPSG:29873")
      val out = SpatialOps.resampleInSpace(
        SpatialOps.RegularSource(srcCells(s, d), geoGm), rsoGm, Seq("v"))
      out.select(col("i"), col("j"), col("v")) // unrounded: see q_resample_space
    }),

    // dispatcher OBLIQUE-STEREOGRAPHIC route (EPSG:28992, Amersfoort /
    // RD New — EPSG method 9809, the double stereographic on Bessel
    // 1841): regular geographic source over the Netherlands → regular
    // RD target; the only registered family on a non-WGS84 ellipsoid
    "q_resample_space_stereo" -> ((s, d) => {
      val geoGm = GridMapping(360, 100, 4.0, 51.0, 0.01, 0.02, crs = "CRS84")
      val rdGm = GridMapping(62, 56, 60000.0, 334000.0, 4000.0, 4000.0,
        crs = "EPSG:28992")
      val out = SpatialOps.resampleInSpace(
        SpatialOps.RegularSource(srcCells(s, d), geoGm), rdGm, Seq("v"))
      out.select(col("i"), col("j"), col("v")) // unrounded: see q_resample_space
    }),

    // dispatcher GENERAL-MERCATOR route (EPSG:3002, Makassar / NEIEZ —
    // EPSG method 9804 variant A on Bessel 1841, the GN7-2 §1.3.3
    // worked-example CRS): regular geographic source over Sulawesi →
    // regular NEIEZ target through the iso-latitude closed forms
    // (PolarOps.Merc). Closes r19 Missing #1a (ellipsoidal Mercator).
    "q_resample_space_merc" -> ((s, d) => {
      val geoGm = GridMapping(360, 100, 118.0, -6.0, 0.01, 0.02,
        crs = "CRS84")
      val mcGm = GridMapping(66, 36, 4790000.0, 238000.0, 6000.0, 6000.0,
        crs = "EPSG:3002")
      val out = SpatialOps.resampleInSpace(
        SpatialOps.RegularSource(srcCells(s, d), geoGm), mcGm, Seq("v"))
      out.select(col("i"), col("j"), col("v")) // unrounded: see q_resample_space
    }),

    // dispatcher EQUIDISTANT-CYLINDRICAL route (EPSG:4087 — EPSG method
    // 1028, plate carree in meters): normal-section easting at the
    // standard parallel + meridian-arc northing (PolarOps.Eqc). Closes
    // r19 Missing #1b.
    "q_resample_space_eqc" -> ((s, d) => {
      val geoGm = GridMapping(360, 100, 5.0, 48.0, 0.01, 0.02, crs = "CRS84")
      val eqGm = GridMapping(66, 36, 558000.0, 5320000.0, 6000.0, 6000.0,
        crs = "EPSG:4087")
      val out = SpatialOps.resampleInSpace(
        SpatialOps.RegularSource(srcCells(s, d), geoGm), eqGm, Seq("v"))
      out.select(col("i"), col("j"), col("v")) // unrounded: see q_resample_space
    }),

    // dispatcher GAUSS-KRUGER route (EPSG:27700, OSGB36 / British
    // National Grid — EPSG method 9807 on Airy 1830, the GN7-2
    // §1.3.5.1 worked-example CRS): the non-WGS84 transverse-Mercator
    // generalization of UtmOps (PolarOps.Tmerc). Closes r19 Missing #1c.
    "q_resample_space_gk" -> ((s, d) => {
      val geoGm = GridMapping(360, 100, -2.5, 50.5, 0.01, 0.02,
        crs = "CRS84")
      val gkGm = GridMapping(63, 56, 366000.0, 68000.0, 4000.0, 4000.0,
        crs = "EPSG:27700")
      val out = SpatialOps.resampleInSpace(
        SpatialOps.RegularSource(srcCells(s, d), geoGm), gkGm, Seq("v"))
      out.select(col("i"), col("j"), col("v")) // unrounded: see q_resample_space
    }),

    // ij_transform_to/from (reference base.py:453/472) as a pipeline
    // gate: the pixel-edge affine between the events unit grid and a
    // 4x-coarser, offset, Y-DOWN grid is DERIVED by ijTransformFrom
    // (covering both API directions — from(other) == other.to(this)),
    // then applied distributed to bucket every source cell into the
    // target image. The oracle recomputes the affine from the two
    // grids' constants term-for-term (sx = 1/4, ox = (0-2)/4,
    // sy = -1/4, oy = (97-0)/4 — all dyadic, so the whole gate is
    // bit-exact), so a wrong derivation (sign convention, edge-vs-
    // center, yDown handling) cannot hash-match.
    "q_ij_transform" -> ((s, d) => {
      val gmB = GridMapping(89, 24, 2.0, 1.0, 4.0, 4.0, yDown = true)
      val t = gmB.ijTransformFrom(CubePack.gm)
      srcCells(s, d)
        .select(
          floor(lit(t.sx) * (col("i") + lit(0.5)) + lit(t.ox))
            .cast("long").as("bi"),
          floor(lit(t.sy) * (col("j") + lit(0.5)) + lit(t.oy))
            .cast("long").as("bj"),
          col("v"))
        .filter(col("bi") >= 0 && col("bi") < gmB.width &&
          col("bj") >= 0 && col("bj") < gmB.height)
        .groupBy("bj")
        .agg(count(lit(1)).as("n"),
          round(sum(col("v").cast("decimal(28,10)")), 6)
            .cast("double").as("sum_v"))
    }),

    // CF grid-mapping AUTO-DERIVATION end-to-end (reference cfconv.py +
    // GridMapping.from_dataset, base.py:808): a Lambert-93 NetCDF granule
    // carrying only CF metadata (a grid_mapping variable with CF
    // parameters, projection_x/y_coordinate standard names) opens, the
    // GridMapping derives itself — CRS, resolution, inverted y — with NO
    // hand-built grid, and resamples onto a geographic target through the
    // inverse-LCC closed forms. The oracle recomputes the derivation's
    // arithmetic consequences (cell centers off the derived 698000 +
    // (i+0.5)·4000 grid) term-for-term, so a wrong derived grid cannot
    // hash-match.
    "q_cf_gridmapping" -> ((s, d) => {
      import graft.cube.CfGridMapping
      import graft.sources.NetcdfSource
      import NetcdfSource.NcDim
      val base = Fixtures.layout(d, "cfgrid",
        "lcc-granule,20x16,cf-attrs") { base =>
        val xs = Array.tabulate(20)(i => 700000.0 + 4000.0 * i)
        val ys = Array.tabulate(16)(j => 6600000.0 - 4000.0 * j)
        val vv = Array.tabulate(16 * 20)(k => (k % 97).toDouble / 4.0)
        NetcdfSource.write(s"$base/lcc.nc", Seq(NcDim("y", 16), NcDim("x", 20)),
          Seq(("y", ys), ("x", xs)),
          Seq(("lambert_conformal_conic", Nil, Array(0.0)),
            ("v", Seq("y", "x"), vv)),
          varTextAttrs = Map(
            "lambert_conformal_conic" ->
              CfGridMapping.cfAttrs("EPSG:2154").toSeq,
            "v" -> Seq("grid_mapping" -> "lambert_conformal_conic"),
            "x" -> Seq("standard_name" -> "projection_x_coordinate"),
            "y" -> Seq("standard_name" -> "projection_y_coordinate")))
      }
      val path = s"$base/lcc.nc"
      val nc = NetcdfSource.read(path)
      val cm = CfGridMapping.fromNetcdf(nc)
      require(cm.isRegular && cm.gm.crs == "EPSG:2154" && cm.gm.yDown,
        s"CF derivation drifted: ${cm.gm}")
      val gm = cm.gm
      val src = NetcdfSource.readCube(s, nc, "v").select(
        gm.iExpr(col("x")).as("i"), gm.jExpr(col("y")).as("j"), col("v"))
      val tgt = GridMapping(19, 11, 2.94, 45.9, 0.06, 0.06, crs = "CRS84")
      SpatialOps.resampleInSpace(SpatialOps.RegularSource(src, gm), tgt,
        Seq("v"))
        .select(col("i"), col("j"), round(col("v"), 6).as("v"))
    }),

    // the ZARR side of CF auto-derivation: the SAME Lambert-93 grid
    // written as a zarr group, CF metadata attached the write_crs way
    // (group-level grid-mapping attrs + coordinate standard_names,
    // CfGridMapping.attachToZarr), re-derived by fromZarr with NO
    // hand-built grid, resampled to the same geographic target — one
    // oracle body serves both container formats
    "q_cf_gridmapping_zarr" -> ((s, d) => {
      import graft.cube.CfGridMapping
      import graft.sources.ZarrSource
      val base = Fixtures.layout(d, "cfgridzarr",
        "lcc-zarr,20x16,cf-attached") { base =>
        val xs = Array.tabulate(20)(i => 700000.0 + 4000.0 * i)
        val ys = Array.tabulate(16)(j => 6600000.0 - 4000.0 * j)
        val cells = s.range(320).select(
          (col("id") % 20).as("i"), (col("id") / 20).cast("long").as("j"))
          .select(
            (lit(6600000.0) - col("j").cast("double") * 4000.0).as("y"),
            (lit(700000.0) + col("i").cast("double") * 4000.0).as("x"),
            (((col("j") * 20 + col("i")) % 97).cast("double") / 4.0)
              .as("v"))
        ZarrSource.writeCubeVars(cells, s"$base/lcc.zarr", Seq("v"),
          Seq("y" -> ys, "x" -> xs), chunks = Seq(8, 10))
        CfGridMapping.attachToZarr(s"$base/lcc.zarr", "EPSG:2154", "x", "y")
      }
      val g = s"$base/lcc.zarr"
      val cm = CfGridMapping.fromZarr(g)
      require(cm.isRegular && cm.gm.crs == "EPSG:2154" && cm.gm.yDown,
        s"zarr CF derivation drifted: ${cm.gm}")
      val gm = cm.gm
      val src = s.read.format("zarr").load(g).select(
        gm.iExpr(col("x")).as("i"), gm.jExpr(col("y")).as("j"), col("v"))
      val tgt = GridMapping(19, 11, 2.94, 45.9, 0.06, 0.06, crs = "CRS84")
      SpatialOps.resampleInSpace(SpatialOps.RegularSource(src, gm), tgt,
        Seq("v"))
        .select(col("i"), col("j"), round(col("v"), 6).as("v"))
    }),

    // the GEOTIFF route of grid auto-derivation: the SAME Lambert-93
    // grid as a single-band GeoTIFF whose CRS rides the GeoKey
    // directory (ProjectedCSTypeGeoKey) and whose placement rides
    // ModelPixelScale/Tiepoint — openGrid returns frame + derived grid,
    // and the same geographic resample runs; one oracle body now
    // serves FOUR discovery routes (CF attrs, zarr attrs, WKT, GeoKeys)
    "q_cf_gridmapping_tiff" -> ((s, d) => {
      import graft.sources.{DataStore, GeoTiffSource}
      val base = Fixtures.layout(d, "cfgridtiff",
        "lcc-granule,20x16,geokeys") { base =>
        val vv = Array.tabulate(16 * 20)(k => (k % 97).toDouble / 4.0)
        GeoTiffSource.write(s"$base/lcc.tif",
          GeoTiffSource.Raster(20, 16, vv, 4000.0, 4000.0,
            698000.0, 6602000.0),
          crs = Some("EPSG:2154"))
      }
      val path = s"$base/lcc.tif"
      val (df, cm) = DataStore.openGrid(s, path)
      require(cm.isRegular && cm.gm.crs == "EPSG:2154" && cm.gm.yDown,
        s"GeoKey derivation drifted: ${cm.gm}")
      val gm = cm.gm
      val src = df.select(gm.iExpr(col("x")).as("i"),
        gm.jExpr(col("y")).as("j"), col("v"))
      val tgt = GridMapping(19, 11, 2.94, 45.9, 0.06, 0.06, crs = "CRS84")
      SpatialOps.resampleInSpace(SpatialOps.RegularSource(src, gm), tgt,
        Seq("v"))
        .select(col("i"), col("j"), round(col("v"), 6).as("v"))
    }),

    // the WKT route of CF auto-derivation (pyproj.CRS.from_wkt parity,
    // reference cfconv.py): the SAME Lambert-93 grid, but the granule
    // ships ONLY a code-less WKT1 string (no grid_mapping_name, no EPSG
    // authority) — WktCrs parses PROJECTION/PARAMETER clauses onto the
    // registered family set, the grid derives, and the same geographic
    // resample runs; one oracle body serves all three discovery routes
    "q_cf_gridmapping_wkt" -> ((s, d) => {
      import graft.cube.CfGridMapping
      import graft.sources.NetcdfSource
      import NetcdfSource.NcDim
      val wkt = """PROJCS["RGF93 / Lambert-93",GEOGCS["RGF93",""" +
        """DATUM["Reseau_Geodesique_Francais_1993",""" +
        """SPHEROID["GRS 1980",6378137,298.257222101]],""" +
        """PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],""" +
        """PROJECTION["Lambert_Conformal_Conic_2SP"],""" +
        """PARAMETER["standard_parallel_1",49],""" +
        """PARAMETER["standard_parallel_2",44],""" +
        """PARAMETER["latitude_of_origin",46.5],""" +
        """PARAMETER["central_meridian",3],""" +
        """PARAMETER["false_easting",700000],""" +
        """PARAMETER["false_northing",6600000],UNIT["metre",1]]"""
      val base = Fixtures.layout(d, "cfgridwkt",
        "lcc-granule,20x16,wkt-only") { base =>
        val xs = Array.tabulate(20)(i => 700000.0 + 4000.0 * i)
        val ys = Array.tabulate(16)(j => 6600000.0 - 4000.0 * j)
        val vv = Array.tabulate(16 * 20)(k => (k % 97).toDouble / 4.0)
        NetcdfSource.write(s"$base/lcc_wkt.nc", Seq(NcDim("y", 16), NcDim("x", 20)),
          Seq(("y", ys), ("x", xs)),
          Seq(("crs", Nil, Array(0.0)),
            ("v", Seq("y", "x"), vv)),
          varTextAttrs = Map(
            "crs" -> Seq("crs_wkt" -> wkt),
            "v" -> Seq("grid_mapping" -> "crs"),
            "x" -> Seq("standard_name" -> "projection_x_coordinate"),
            "y" -> Seq("standard_name" -> "projection_y_coordinate")))
      }
      val path = s"$base/lcc_wkt.nc"
      val nc = NetcdfSource.read(path)
      val cm = CfGridMapping.fromNetcdf(nc)
      require(cm.isRegular && cm.gm.crs == "EPSG:2154" && cm.gm.yDown,
        s"WKT CF derivation drifted: ${cm.gm}")
      val gm = cm.gm
      val src = NetcdfSource.readCube(s, nc, "v").select(
        gm.iExpr(col("x")).as("i"), gm.jExpr(col("y")).as("j"), col("v"))
      val tgt = GridMapping(19, 11, 2.94, 45.9, 0.06, 0.06, crs = "CRS84")
      SpatialOps.resampleInSpace(SpatialOps.RegularSource(src, gm), tgt,
        Seq("v"))
        .select(col("i"), col("j"), round(col("v"), 6).as("v"))
    }),

    // from_coords over 2-D coordinate COLUMNS (base.py:851 + to_regular
    // base.py:787): a sheared swath derives its own covering regular
    // target grid (CfGridMapping.fromCoords2d — distributed neighbor
    // deltas, the reference's area-based resolution estimate) and
    // rectifies onto it with NO hand-built GridMapping. The derived
    // grid is provably (0,0)-anchored at resolution 1 on this swath, so
    // the oracle pins both the derivation and the rectification.
    "q_rectify_from_coords" -> ((s, d) => {
      import graft.cube.CfGridMapping
      // complete synthetic swath (every (i, j) present): the DERIVED
      // anchor/extent must be data-independent for the pinned oracle —
      // an sf-dependent sparse corner would shift xMin by whole cells
      val swath = s.range(360L * 100).select(
        (col("id") % 360).as("i"), (col("id") / 360).cast("long").as("j"))
        .select(
          col("i"), col("j"),
          (col("i").cast("double") + 0.5 +
            lit(0.1) * col("j").cast("double")).as("xc"),
          (col("j").cast("double") + 0.5 +
            lit(0.05) * col("i").cast("double")).as("yc"),
          (((col("i") * 7 + col("j") * 13) % 400).cast("double") / 8.0)
            .as("v"),
          (col("i") * 1000 + col("j")).as("tb"))
      val gm = CfGridMapping.fromCoords2d(swath, "i", "j", "xc", "yc",
        "EPSG:32633")
      require(gm.xRes == 1.0 && gm.yRes == 1.0 && gm.xMin == 0.0 &&
        gm.yMin == 0.0 && !gm.yDown && gm.width == 370 && gm.height == 118,
        s"fromCoords2d drifted: $gm")
      RectifyOps.rectifyNearest(swath, "xc", "yc", gm, Seq("v"), "tb")
        .groupBy((col("j") / 10).cast("long").as("jband"))
        .agg(count(lit(1)).as("n_cells"), round(sum(col("v")), 6).as("sum_v"))
    }),

    // exact triangle-containment rectification (rectify.py:469-588,743-817):
    // quadratically warped swath onto a unit grid, triangular interpolation,
    // first-quad-wins — the oracle reproduces the barycentric arithmetic
    // term-for-term, so values must match to the last bit before rounding
    "q_rectify_triangular" -> ((s, d) => {
      val swath = srcCells(s, d).select(
        col("i").as("si"), col("j").as("sj"),
        (col("i").cast("double") + 0.5 + lit(0.2) * col("j").cast("double") +
          lit(0.001) * col("j").cast("double") * col("j").cast("double")).as("xc"),
        (col("j").cast("double") + 0.5 + lit(0.05) * col("i").cast("double")).as("yc"),
        col("v"))
      val gm = GridMapping(400, 120, 0.0, 0.0, 1.0, 1.0)
      RectifyExactOps.rectify(swath, "si", "sj", "xc", "yc", "v", gm, "triangular")
        .select(col("dst_i"), col("dst_j"), round(col("v"), 6).as("v"))
    }),

    // GridMapping.transform (base.py:714, transform.py:41-120): a 40×30
    // CRS84 grid over UTM zone 32 re-expressed in EPSG:32632 — every
    // pixel center projected (distributed, O(pixels)) plus the covering
    // regular grid from the transformed bbox at the given xy_res. The
    // oracle recomputes the same transverse-mercator series (shared
    // constants, bit-for-bit) and the same covering formula
    "q_gm_transform" -> ((s, d) => {
      val gm = GridMapping(40, 30, 6.0, 44.0, 0.05, 0.05, crs = "CRS84")
      val t = graft.cube.GmTransform.transform(s, gm, "EPSG:32632",
        xyRes = Some(4000.0))
      t.coords.select(col("i"), col("j"), col("x").as("tx"),
        col("y").as("ty"))
        .withColumn("gw", lit(t.gm.width))
        .withColumn("gh", lit(t.gm.height))
    })
  )

  /** Shared source-cell CTE body (events mean per unit cell). */
  private val cellsCte: String =
    """cells AS (
         SELECT floor(CAST(event_id % 360 AS DOUBLE) + 0.5)::BIGINT AS i,
                floor(CAST(user_id % 100 AS DOUBLE) + 0.5)::BIGINT AS j,
                round(sum(value::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
         FROM events GROUP BY i, j)"""

  /** Oracle for the 89×24 offset-grid spline queries (fx = fy = 0.75):
    * tap weights are generated from the operator's plain-double kernel
    * twin and embedded as literals — Double.toString is shortest-round-trip,
    * so DuckDB parses back the bit-identical double. Taps whose weight is
    * exactly 0 (outside the kernel support) are omitted, mirroring the
    * plan's zero-weight pre-join filter.
    */
  private def splineOracle(weight: Double => Double): String = {
    val taps = (-2 to 3)
      .map(di => di -> weight(math.abs(di.toDouble - 0.75)))
      .filter(_._2 != 0.0)
      .map { case (di, w) => s"($di, $w)" }.mkString(", ")
    s"""WITH cells AS (
           SELECT floor(CAST(event_id % 360 AS DOUBLE) + 0.5)::BIGINT AS i,
                  floor(CAST(user_id % 100 AS DOUBLE) + 0.5)::BIGINT AS j,
                  round(sum(value::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
           FROM events GROUP BY i, j),
         tgt AS (SELECT ti.tgt_i, tj.tgt_j
                 FROM (SELECT unnest(range(0, 89)) AS tgt_i) ti
                 CROSS JOIN (SELECT unnest(range(0, 24)) AS tgt_j) tj),
         interp AS (
           SELECT tgt.tgt_i, tgt.tgt_j,
                  sum(ox.wx * oy.wy * c.v) / sum(ox.wx * oy.wy) AS v
           FROM tgt
           CROSS JOIN (VALUES $taps) AS ox(di, wx)
           CROSS JOIN (VALUES $taps) AS oy(dj, wy)
           JOIN cells c ON c.i = 4 * tgt.tgt_i + 1 + ox.di
                       AND c.j = 4 * tgt.tgt_j + 1 + oy.dj
           GROUP BY tgt.tgt_i, tgt.tgt_j)
         SELECT tgt_j, count(*) AS n,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v
         FROM interp GROUP BY tgt_j"""
  }

  /** Shared oracle of the CF auto-derivation gates (NetCDF + Zarr): it
    * re-derives the AUTO-DERIVED grid's arithmetic — cell centers off
    * 698000/6602000 ∓ half-res (what fromCoords must produce from the
    * granule's coordinate values), the fixture's own v formula, then the
    * inverse-LCC closed forms with the same Scala doubles the Column
    * expression embeds — so a wrong derivation cannot hash-match. */
  private lazy val cfGridMappingOracle: String = {
      val lc = PolarOps.lccForCrs("EPSG:2154").get
      import PolarOps.{A => PA, E => PE, C2, C4, C6, C8}
      val hpi = math.Pi / 2
      s"""WITH cells AS (
           SELECT (k % 20) AS i, (k // 20) AS j,
                  CAST(k % 97 AS DOUBLE) / 4.0 AS v
           FROM range(0, 320) r(k)),
         src AS (SELECT 698000.0 + (i + 0.5) * 4000.0 AS x,
                        6602000.0 - (j + 0.5) * 4000.0 AS y, v
                 FROM cells),
         u1 AS (SELECT x - 700000.0 AS xr,
                       ${lc.rho0} - (y - 6600000.0) AS yr, v
                FROM src),
         u2 AS (SELECT pow(sqrt(xr * xr + yr * yr) / ${PA * lc.f},
                         ${1.0 / lc.n}) AS t,
                       atan2(xr, yr) / ${lc.n} AS lam, v
                FROM u1),
         u3 AS (SELECT t, lam, v, $hpi - 2.0 * atan(t) AS chi FROM u2),
         u4 AS (SELECT t, lam, v,
                       $PE * sin(chi + $C2 * sin(2.0 * chi)
                         + $C4 * sin(4.0 * chi) + $C6 * sin(6.0 * chi)
                         + $C8 * sin(8.0 * chi)) AS es
                FROM u3),
         u5 AS (SELECT degrees(lam) + 3.0 AS tx,
                       degrees($hpi - 2.0 * atan(t
                         * pow((1.0 - es) / (1.0 + es), ${PE / 2}))) AS ty,
                       v
                FROM u4),
         b AS (SELECT floor((tx - 2.94) / 0.06)::BIGINT AS bi,
                      floor((ty - 45.9) / 0.06)::BIGINT AS bj,
                      avg(tx) AS ax, avg(ty) AS ay,
                      sum(v::DECIMAL(28,12))::DOUBLE / count(*) AS v
               FROM u5 GROUP BY bi, bj)
         SELECT floor((ax - 2.94) / 0.06)::BIGINT AS i,
                floor((ay - 45.9) / 0.06)::BIGINT AS j,
                round(v, 6) AS v
         FROM b
         WHERE ax >= 2.94 AND ax < ${2.94 + 19 * 0.06}
           AND ay >= 45.9 AND ay < ${45.9 + 11 * 0.06}"""
  }

  override def oracleSql: Map[String, String] = Map(
    "q_resample_space" ->
      s"""WITH $cellsCte
         SELECT floor((i + 0.5) / 4)::BIGINT AS i,
                floor((j + 0.5) / 4)::BIGINT AS j,
                sum(v::DECIMAL(28,12))::DOUBLE / count(*) AS v
         FROM cells GROUP BY 1, 2""",
    "q_resample_space_crs" ->
      s"""WITH $cellsCte,
         g AS (SELECT 6378137.0 * radians(-180.0 + (i + 0.5) * 1.0) AS mx,
                      6378137.0 * ln(tan(pi() / 4 + radians(-45.0 + (j + 0.5) * 0.9) / 2)) AS my,
                      v
               FROM cells),
         b AS (SELECT floor((mx - (-20037600.0)) / 445280.0)::BIGINT AS bi,
                      floor((my - (-5621600.0)) / 449728.0)::BIGINT AS bj,
                      avg(mx) AS ax, avg(my) AS ay,
                      sum(v::DECIMAL(28,12))::DOUBLE / count(*) AS v
               FROM g GROUP BY bi, bj)
         SELECT floor((ax - (-20037600.0)) / 445280.0)::BIGINT AS i,
                floor((ay - (-5621600.0)) / 449728.0)::BIGINT AS j,
                v
         FROM b
         WHERE ax >= -20037600.0 AND ax < 20037600.0
           AND ay >= -5621600.0 AND ay < 5621600.0""",
    "q_resample_space_utm" -> {
      // the SAME Scala doubles the projection kernel uses, interpolated
      // into the SQL so both engines share every series constant bit-for-bit
      val utm = UtmOps.UtmZone(32, north = true).tm
      import utm.{a => UA, e2 => E2, ep2 => Ep2, k0 => K0, m0 => M0,
        m2 => M2, m4 => M4, m6 => M6}
      s"""WITH $cellsCte,
         g AS (SELECT 6.0 + (i + 0.5) * 0.01 AS lon,
                      44.0 + (j + 0.5) * 0.02 AS lat, v
               FROM cells),
         t1 AS (SELECT radians(lat) AS phi, radians(lon - 9.0) AS lam, v FROM g),
         t2 AS (SELECT phi, lam, sin(phi) AS sinphi, cos(phi) AS cosphi,
                       tan(phi) AS tanphi, v
                FROM t1),
         t3 AS (SELECT phi, lam, sinphi, cosphi, tanphi, v,
                       $UA / sqrt(1.0 - $E2 * sinphi * sinphi) AS n,
                       tanphi * tanphi AS t,
                       $Ep2 * cosphi * cosphi AS c,
                       lam * cosphi AS a1,
                       $UA * ($M0 * phi - $M2 * sin(2.0 * phi)
                              + $M4 * sin(4.0 * phi) - $M6 * sin(6.0 * phi)) AS m
                FROM t2),
         t4 AS (SELECT v,
                       $K0 * n * (a1 + (1.0 - t + c) * (a1 * a1 * a1) / 6.0
                         + (5.0 - 18.0 * t + t * t + 72.0 * c - 58.0 * $Ep2)
                           * ((a1 * a1) * (a1 * a1) * a1) / 120.0) + 500000.0 AS tx,
                       $K0 * (m + n * tanphi * ((a1 * a1) / 2.0
                         + (5.0 - t + 9.0 * c + 4.0 * c * c)
                           * ((a1 * a1) * (a1 * a1)) / 24.0
                         + (61.0 - 58.0 * t + t * t + 600.0 * c - 330.0 * $Ep2)
                           * ((a1 * a1) * (a1 * a1) * (a1 * a1)) / 720.0)) + 0.0 AS ty
                FROM t3),
         b AS (SELECT floor((tx - 250000.0) / 4000.0)::BIGINT AS bi,
                      floor((ty - 4860000.0) / 4000.0)::BIGINT AS bj,
                      avg(tx) AS ax, avg(ty) AS ay,
                      sum(v::DECIMAL(28,12))::DOUBLE / count(*) AS v
               FROM t4 GROUP BY bi, bj)
         SELECT floor((ax - 250000.0) / 4000.0)::BIGINT AS i,
                floor((ay - 4860000.0) / 4000.0)::BIGINT AS j,
                v
         FROM b
         WHERE ax >= 250000.0 AND ax < 570000.0
           AND ay >= 4860000.0 AND ay < 5100000.0"""
    },
    "q_resample_space_ps" -> {
      // the SAME Scala doubles the projection kernel uses
      // (PolarOps.PolarStereo forward on EPSG:3413), interpolated so both
      // engines share every series constant bit-for-bit
      val ps = PolarOps.stereoForCrs("EPSG:3413").get
      import PolarOps.{E => PE}
      s"""WITH $cellsCte,
         g AS (SELECT -60.0 + (i + 0.5) * 0.05 AS lon,
                      70.0 + (j + 0.5) * 0.02 AS lat, v
               FROM cells),
         t1 AS (SELECT radians(lat) AS phi, radians(lon - (-45.0)) AS lam, v
                FROM g),
         t2 AS (SELECT phi, lam, v, $PE * sin(phi) AS es FROM t1),
         t3 AS (SELECT lam, v,
                       ${ps.rhoK} * tan(pi() / 4.0 - phi / 2.0)
                         * pow((1.0 + es) / (1.0 - es), ${PE / 2}) AS rho
                FROM t2),
         t4 AS (SELECT rho * sin(lam) + 0.0 AS tx,
                       -(rho * cos(lam)) + 0.0 AS ty, v
                FROM t3),
         b AS (SELECT floor((tx - (-570000.0)) / 8000.0)::BIGINT AS bi,
                      floor((ty - (-2190000.0)) / 5000.0)::BIGINT AS bj,
                      avg(tx) AS ax, avg(ty) AS ay,
                      sum(v::DECIMAL(28,12))::DOUBLE / count(*) AS v
               FROM t4 GROUP BY bi, bj)
         SELECT floor((ax - (-570000.0)) / 8000.0)::BIGINT AS i,
                floor((ay - (-2190000.0)) / 5000.0)::BIGINT AS j,
                v
         FROM b
         WHERE ax >= -570000.0 AND ax < 118000.0
           AND ay >= -2190000.0 AND ay < -1890000.0"""
    },
    "q_resample_space_laea" -> {
      val la = PolarOps.laeaForCrs("EPSG:3035").get
      import PolarOps.{E => PE, E2 => PE2, Qp}
      val sinB1 = math.sin(la.beta1)
      val cosB1 = math.cos(la.beta1)
      s"""WITH $cellsCte,
         g AS (SELECT 5.0 + (i + 0.5) * 0.01 AS lon,
                      48.0 + (j + 0.5) * 0.02 AS lat, v
               FROM cells),
         t1 AS (SELECT radians(lat) AS phi, radians(lon - 10.0) AS lam, v
                FROM g),
         t2 AS (SELECT lam, v, sin(phi) AS s FROM t1),
         t3 AS (SELECT lam, v,
                       ${1 - PE2} * (s / (1.0 - $PE2 * s * s)
                         - ${1.0 / (2 * PE)}
                           * ln((1.0 - $PE * s) / (1.0 + $PE * s))) AS q
                FROM t2),
         t4 AS (SELECT lam, v, asin(q / $Qp) AS beta FROM t3),
         t5 AS (SELECT lam, v, beta,
                       ${la.rq} * sqrt(2.0 / (1.0 + $sinB1 * sin(beta)
                         + $cosB1 * cos(beta) * cos(lam))) AS bb
                FROM t4),
         t6 AS (SELECT bb * ${la.d} * cos(beta) * sin(lam) + 4321000.0 AS tx,
                       (bb / ${la.d}) * ($cosB1 * sin(beta)
                         - $sinB1 * cos(beta) * cos(lam)) + 3210000.0 AS ty,
                       v
                FROM t5),
         b AS (SELECT floor((tx - 3948000.0) / 4000.0)::BIGINT AS bi,
                      floor((ty - 2767000.0) / 4000.0)::BIGINT AS bj,
                      avg(tx) AS ax, avg(ty) AS ay,
                      sum(v::DECIMAL(28,12))::DOUBLE / count(*) AS v
               FROM t6 GROUP BY bi, bj)
         SELECT floor((ax - 3948000.0) / 4000.0)::BIGINT AS i,
                floor((ay - 2767000.0) / 4000.0)::BIGINT AS j,
                v
         FROM b
         WHERE ax >= 3948000.0 AND ax < 4220000.0
           AND ay >= 2767000.0 AND ay < 2999000.0"""
    },
    "q_resample_space_sinu" -> {
      import PolarOps.{ModisSphereR => MR}
      s"""WITH $cellsCte,
         g AS (SELECT 5.0 + (i + 0.5) * 0.01 AS lon,
                      45.0 + (j + 0.5) * 0.02 AS lat, v
               FROM cells),
         t4 AS (SELECT $MR * radians(lon) * cos(radians(lat)) AS tx,
                       $MR * radians(lat) AS ty, v
                FROM g),
         b AS (SELECT floor((tx - 375000.0) / 5000.0)::BIGINT AS bi,
                      floor((ty - 5000000.0) / 5000.0)::BIGINT AS bj,
                      avg(tx) AS ax, avg(ty) AS ay,
                      sum(v::DECIMAL(28,12))::DOUBLE / count(*) AS v
               FROM t4 GROUP BY bi, bj)
         SELECT floor((ax - 375000.0) / 5000.0)::BIGINT AS i,
                floor((ay - 5000000.0) / 5000.0)::BIGINT AS j,
                v
         FROM b
         WHERE ax >= 375000.0 AND ax < 685000.0
           AND ay >= 5000000.0 AND ay < 5230000.0"""
    },
    "q_resample_space_lcc" -> {
      // the derived 2SP constants are the SAME Scala doubles the Column
      // expression embeds (PolarOps.Lcc for EPSG:2154)
      val lc = PolarOps.lccForCrs("EPSG:2154").get
      import PolarOps.{A => PA, E => PE}
      s"""WITH $cellsCte,
         g AS (SELECT 2.0 + (i + 0.5) * 0.01 AS lon,
                      45.0 + (j + 0.5) * 0.02 AS lat, v
               FROM cells),
         t1 AS (SELECT radians(lat) AS phi, lon, v FROM g),
         t2 AS (SELECT phi, lon, v, $PE * sin(phi) AS es FROM t1),
         t3 AS (SELECT lon, v,
                       ${PA * lc.f} * pow(tan(pi() / 4.0 - phi / 2.0)
                         * pow((1.0 + es) / (1.0 - es), ${PE / 2}), ${lc.n})
                         AS rho,
                       ${lc.n} * radians(lon - 3.0) AS th
                FROM t2),
         t4 AS (SELECT rho * sin(th) + 700000.0 AS tx,
                       ${lc.rho0} - rho * cos(th) + 6600000.0 AS ty, v
                FROM t3),
         b AS (SELECT floor((tx - 620000.0) / 4000.0)::BIGINT AS bi,
                      floor((ty - 6432000.0) / 4000.0)::BIGINT AS bj,
                      avg(tx) AS ax, avg(ty) AS ay,
                      sum(v::DECIMAL(28,12))::DOUBLE / count(*) AS v
               FROM t4 GROUP BY bi, bj)
         SELECT floor((ax - 620000.0) / 4000.0)::BIGINT AS i,
                floor((ay - 6432000.0) / 4000.0)::BIGINT AS j,
                v
         FROM b
         WHERE ax >= 620000.0 AND ax < 900000.0
           AND ay >= 6432000.0 AND ay < 6652000.0"""
    },
    "q_resample_space_lcc2" -> {
      // the generic-form constants are the SAME Scala doubles the Column
      // expression embeds (PolarOps.Lcc built from the LCC: string)
      val lc = PolarOps.lccForCrs("LCC:33.0:45.0:39.0:-96.0:0.0:0.0").get
      import PolarOps.{A => PA, E => PE}
      s"""WITH $cellsCte,
         g AS (SELECT -100.0 + (i + 0.5) * 0.01 AS lon,
                      38.0 + (j + 0.5) * 0.02 AS lat, v
               FROM cells),
         t1 AS (SELECT radians(lat) AS phi, lon, v FROM g),
         t2 AS (SELECT phi, lon, v, $PE * sin(phi) AS es FROM t1),
         t3 AS (SELECT lon, v,
                       ${PA * lc.f} * pow(tan(pi() / 4.0 - phi / 2.0)
                         * pow((1.0 + es) / (1.0 - es), ${PE / 2}), ${lc.n})
                         AS rho,
                       ${lc.n} * radians(lon - ${lc.lon0}) AS th
                FROM t2),
         t4 AS (SELECT rho * sin(th) + ${lc.x0} AS tx,
                       ${lc.rho0} - rho * cos(th) + ${lc.y0} AS ty, v
                FROM t3),
         b AS (SELECT floor((tx - -348000.0) / 5000.0)::BIGINT AS bi,
                      floor((ty - -108000.0) / 5000.0)::BIGINT AS bj,
                      avg(tx) AS ax, avg(ty) AS ay,
                      sum(v::DECIMAL(28,12))::DOUBLE / count(*) AS v
               FROM t4 GROUP BY bi, bj)
         SELECT floor((ax - -348000.0) / 5000.0)::BIGINT AS i,
                floor((ay - -108000.0) / 5000.0)::BIGINT AS j,
                v
         FROM b
         WHERE ax >= -348000.0 AND ax < -38000.0
           AND ay >= -108000.0 AND ay < 112000.0"""
    },
    "q_resample_space_albers" -> {
      val ab = PolarOps.albersForCrs("EPSG:5070").get
      import PolarOps.{A => PA, E => PE, E2 => PE2}
      s"""WITH $cellsCte,
         g AS (SELECT -100.0 + (i + 0.5) * 0.01 AS lon,
                      38.0 + (j + 0.5) * 0.02 AS lat, v
               FROM cells),
         t1 AS (SELECT sin(radians(lat)) AS s, lon, v FROM g),
         t2 AS (SELECT lon, v,
                       ${1 - PE2} * (s / (1.0 - $PE2 * s * s)
                         - ${1.0 / (2 * PE)}
                           * ln((1.0 - $PE * s) / (1.0 + $PE * s))) AS q
                FROM t1),
         t3 AS (SELECT lon, v,
                       $PA * sqrt(${ab.c} - ${ab.n} * q) / ${ab.n} AS rho,
                       ${ab.n} * radians(lon - (-96.0)) AS th
                FROM t2),
         t4 AS (SELECT rho * sin(th) + 0.0 AS tx,
                       ${ab.rho0} - rho * cos(th) + 0.0 AS ty, v
                FROM t3),
         b AS (SELECT floor((tx - (-348000.0)) / 4000.0)::BIGINT AS bi,
                      floor((ty - 1662000.0) / 4000.0)::BIGINT AS bj,
                      avg(tx) AS ax, avg(ty) AS ay,
                      sum(v::DECIMAL(28,12))::DOUBLE / count(*) AS v
               FROM t4 GROUP BY bi, bj)
         SELECT floor((ax - (-348000.0)) / 4000.0)::BIGINT AS i,
                floor((ay - 1662000.0) / 4000.0)::BIGINT AS j,
                v
         FROM b
         WHERE ax >= -348000.0 AND ax < -36000.0
           AND ay >= 1662000.0 AND ay < 1890000.0"""
    },
    "q_resample_space_rotpole" -> {
      val rp = PolarOps.rotPoleForCrs("ROTPOLE:40.0:-170.0").get
      s"""WITH $cellsCte,
         g AS (SELECT 5.0 + (i + 0.5) * 0.01 AS lon,
                      45.0 + (j + 0.5) * 0.02 AS lat, v
               FROM cells),
         t1 AS (SELECT radians(lat) AS phi, radians(lon - (-170.0)) AS lam, v
                FROM g),
         t2 AS (SELECT cos(phi) * cos(lam) AS x1, cos(phi) * sin(lam) AS y1,
                       sin(phi) AS z1, v
                FROM t1),
         t4 AS (SELECT degrees(atan2(-y1,
                         -(x1 * ${rp.cosT} + z1 * ${rp.sinT}))) AS tx,
                       degrees(asin(-(x1 * ${rp.sinT}) + z1 * ${rp.cosT}))
                         AS ty,
                       v
                FROM t2),
         b AS (SELECT floor((tx - (-3.55)) / 0.05)::BIGINT AS bi,
                      floor((ty - (-5.0)) / 0.05)::BIGINT AS bj,
                      avg(tx) AS ax, avg(ty) AS ay,
                      sum(v::DECIMAL(28,12))::DOUBLE / count(*) AS v
               FROM t4 GROUP BY bi, bj)
         SELECT floor((ax - (-3.55)) / 0.05)::BIGINT AS i,
                floor((ay - (-5.0)) / 0.05)::BIGINT AS j,
                v
         FROM b
         WHERE ax >= -3.55 AND ax < -0.85
           AND ay >= -5.0 AND ay < -2.8"""
    },
    "q_resample_space_moll" -> {
      import PolarOps.{ModisSphereR => MR, MollSqrt2, MollXScale}
      s"""WITH $cellsCte,
         g AS (SELECT 5.0 + (i + 0.5) * 0.01 AS lon,
                      48.0 + (j + 0.5) * 0.02 AS lat, v
               FROM cells),
         n0 AS (SELECT lon, v, radians(lat) AS th0,
                       ${math.Pi} * sin(radians(lat)) AS tgt
                FROM g),
         n1 AS (SELECT lon, v, tgt,
                      CASE WHEN 2.0 + 2.0 * cos(2.0 * th0) > 1e-14
                           THEN th0 - (2.0 * th0 + sin(2.0 * th0)
                             - tgt) / (2.0 + 2.0 * cos(2.0 * th0))
                           ELSE th0 END AS th1
                FROM n0),
         n2 AS (SELECT lon, v, tgt,
                      CASE WHEN 2.0 + 2.0 * cos(2.0 * th1) > 1e-14
                           THEN th1 - (2.0 * th1 + sin(2.0 * th1)
                             - tgt) / (2.0 + 2.0 * cos(2.0 * th1))
                           ELSE th1 END AS th2
                FROM n1),
         n3 AS (SELECT lon, v, tgt,
                      CASE WHEN 2.0 + 2.0 * cos(2.0 * th2) > 1e-14
                           THEN th2 - (2.0 * th2 + sin(2.0 * th2)
                             - tgt) / (2.0 + 2.0 * cos(2.0 * th2))
                           ELSE th2 END AS th3
                FROM n2),
         n4 AS (SELECT lon, v, tgt,
                      CASE WHEN 2.0 + 2.0 * cos(2.0 * th3) > 1e-14
                           THEN th3 - (2.0 * th3 + sin(2.0 * th3)
                             - tgt) / (2.0 + 2.0 * cos(2.0 * th3))
                           ELSE th3 END AS th4
                FROM n3),
         n5 AS (SELECT lon, v, tgt,
                      CASE WHEN 2.0 + 2.0 * cos(2.0 * th4) > 1e-14
                           THEN th4 - (2.0 * th4 + sin(2.0 * th4)
                             - tgt) / (2.0 + 2.0 * cos(2.0 * th4))
                           ELSE th4 END AS th5
                FROM n4),
         n6 AS (SELECT lon, v, tgt,
                      CASE WHEN 2.0 + 2.0 * cos(2.0 * th5) > 1e-14
                           THEN th5 - (2.0 * th5 + sin(2.0 * th5)
                             - tgt) / (2.0 + 2.0 * cos(2.0 * th5))
                           ELSE th5 END AS th6
                FROM n5),
         n7 AS (SELECT lon, v, tgt,
                      CASE WHEN 2.0 + 2.0 * cos(2.0 * th6) > 1e-14
                           THEN th6 - (2.0 * th6 + sin(2.0 * th6)
                             - tgt) / (2.0 + 2.0 * cos(2.0 * th6))
                           ELSE th6 END AS th7
                FROM n6),
         n8 AS (SELECT lon, v, tgt,
                      CASE WHEN 2.0 + 2.0 * cos(2.0 * th7) > 1e-14
                           THEN th7 - (2.0 * th7 + sin(2.0 * th7)
                             - tgt) / (2.0 + 2.0 * cos(2.0 * th7))
                           ELSE th7 END AS th8
                FROM n7),
         t4 AS (SELECT ${MR * MollXScale} * radians(lon - 0.0)
                         * cos(th8) AS tx,
                       ${MR * MollSqrt2} * sin(th8) AS ty, v
                FROM n8),
         b AS (SELECT floor((tx - 376000.0) / 7000.0)::BIGINT AS bi,
                      floor((ty - 5652000.0) / 7000.0)::BIGINT AS bj,
                      avg(tx) AS ax, avg(ty) AS ay,
                      sum(v::DECIMAL(28,12))::DOUBLE / count(*) AS v
               FROM t4 GROUP BY bi, bj)
         SELECT floor((ax - 376000.0) / 7000.0)::BIGINT AS i,
                floor((ay - 5652000.0) / 7000.0)::BIGINT AS j,
                v
         FROM b
         WHERE ax >= 376000.0 AND ax < 677000.0
           AND ay >= 5652000.0 AND ay < 5876000.0"""
    },
    "q_resample_space_ease" -> {
      import PolarOps.{A => PA, E => PE, E2 => PE2, Ease2K0}
      s"""WITH $cellsCte,
         g AS (SELECT 5.0 + (i + 0.5) * 0.01 AS lon,
                      48.0 + (j + 0.5) * 0.02 AS lat, v
               FROM cells),
         t1 AS (SELECT sin(radians(lat)) AS s, lon, v FROM g),
         t2 AS (SELECT lon, v,
                       ${1 - PE2} * (s / (1.0 - $PE2 * s * s)
                         - ${1.0 / (2 * PE)}
                           * ln((1.0 - $PE * s) / (1.0 + $PE * s))) AS q
                FROM t1),
         t4 AS (SELECT ${PA * Ease2K0} * radians(lon) AS tx,
                       ${PA / (2.0 * Ease2K0)} * q AS ty, v
                FROM t2),
         b AS (SELECT floor((tx - 478000.0) / 6000.0)::BIGINT AS bi,
                      floor((ty - 5440000.0) / 6000.0)::BIGINT AS bj,
                      avg(tx) AS ax, avg(ty) AS ay,
                      sum(v::DECIMAL(28,12))::DOUBLE / count(*) AS v
               FROM t4 GROUP BY bi, bj)
         SELECT floor((ax - 478000.0) / 6000.0)::BIGINT AS i,
                floor((ay - 5440000.0) / 6000.0)::BIGINT AS j,
                v
         FROM b
         WHERE ax >= 478000.0 AND ax < 838000.0
           AND ay >= 5440000.0 AND ay < 5620000.0"""
    },
    "q_resample_space_ortho" -> {
      val o = PolarOps.orthoForCrs("ORTHO:50.0:10.0").get
      val r = PolarOps.ModisSphereR
      s"""WITH $cellsCte,
         g AS (SELECT 5.0 + (i + 0.5) * 0.01 AS lon,
                      48.0 + (j + 0.5) * 0.02 AS lat, v
               FROM cells),
         t1 AS (SELECT radians(lat) AS phi, radians(lon - 10.0) AS dl, v
                FROM g),
         t4 AS (SELECT $r * cos(phi) * sin(dl) AS tx,
                       $r * (${o.cos0} * sin(phi)
                         - ${o.sin0} * cos(phi) * cos(dl)) AS ty, v
                FROM t1),
         b AS (SELECT floor((tx - (-376000.0)) / 5000.0)::BIGINT AS bi,
                      floor((ty - (-226000.0)) / 5000.0)::BIGINT AS bj,
                      avg(tx) AS ax, avg(ty) AS ay,
                      sum(v::DECIMAL(28,12))::DOUBLE / count(*) AS v
               FROM t4 GROUP BY bi, bj)
         SELECT floor((ax - (-376000.0)) / 5000.0)::BIGINT AS i,
                floor((ay - (-226000.0)) / 5000.0)::BIGINT AS j,
                v
         FROM b
         WHERE ax >= -376000.0 AND ax < -96000.0
           AND ay >= -226000.0 AND ay < 19000.0"""
    },
    "q_resample_space_geos" -> {
      // the GRS80 constants are the SAME Scala doubles the Column
      // expression embeds (PolarOps.Geos; PUG-verified closed forms)
      val g = PolarOps.geosForCrs("GEOS:-75.0:3.5786023E7:x").get
      s"""WITH $cellsCte,
         g AS (SELECT -85.0 + (i + 0.5) * 0.01 AS lon,
                      30.0 + (j + 0.5) * 0.02 AS lat, v
               FROM cells),
         t1 AS (SELECT atan(${1.0 / g.invFlat2} * tan(radians(lat)))
                         AS latc,
                       radians(lon - (-75.0)) AS dlon, v
                FROM g),
         t2 AS (SELECT latc, dlon, v,
                       ${g.rPol} / sqrt(1.0 - ${g.e2} * cos(latc)
                         * cos(latc)) AS rc
                FROM t1),
         t3 AS (SELECT ${g.bigH} - rc * cos(latc) * cos(dlon) AS sx,
                       -(rc * cos(latc) * sin(dlon)) AS sy,
                       rc * sin(latc) AS sz, v
                FROM t2),
         t4 AS (SELECT ${g.h} * asin(-sy / sqrt(sx * sx + sy * sy
                         + sz * sz)) AS tx,
                       ${g.h} * atan(sz / sx) AS ty, v
                FROM t3),
         b AS (SELECT floor((tx - (-940000.0)) / 5000.0)::BIGINT AS bi,
                      floor((ty - 3076000.0) / 5000.0)::BIGINT AS bj,
                      avg(tx) AS ax, avg(ty) AS ay,
                      sum(v::DECIMAL(28,12))::DOUBLE / count(*) AS v
               FROM t4 GROUP BY bi, bj)
         SELECT floor((ax - (-940000.0)) / 5000.0)::BIGINT AS i,
                floor((ay - 3076000.0) / 5000.0)::BIGINT AS j,
                v
         FROM b
         WHERE ax >= -940000.0 AND ax < -580000.0
           AND ay >= 3076000.0 AND ay < 3266000.0"""
    },
    "q_cf_gridmapping" -> cfGridMappingOracle,
    // the zarr and WKT routes derive the SAME grid from the SAME cell
    // formula — one oracle body serves all three discovery routes
    "q_cf_gridmapping_zarr" -> cfGridMappingOracle,
    "q_cf_gridmapping_wkt" -> cfGridMappingOracle,
    "q_cf_gridmapping_tiff" -> cfGridMappingOracle,
    "q_rectify_from_coords" ->
      s"""WITH sw AS (
           SELECT (k % 360) AS i, (k // 360) AS j,
                  (CAST(k % 360 AS DOUBLE) + 0.5)
                    + 0.1 * CAST(k // 360 AS DOUBLE) AS xc,
                  (CAST(k // 360 AS DOUBLE) + 0.5)
                    + 0.05 * CAST(k % 360 AS DOUBLE) AS yc,
                  CAST(((k % 360) * 7 + (k // 360) * 13) % 400 AS DOUBLE)
                    / 8.0 AS v,
                  (k % 360) * 1000 + (k // 360) AS tb
           FROM range(0, 36000) r(k)),
         f AS (SELECT floor(xc)::BIGINT AS ti, floor(yc)::BIGINT AS tj,
                      xc, yc, v, tb
               FROM sw WHERE xc >= 0.0 AND xc < 370.0
                 AND yc >= 0.0 AND yc < 118.0),
         d AS (SELECT *,
                      (xc - (ti + 0.5)) * (xc - (ti + 0.5)) +
                      (yc - (tj + 0.5)) * (yc - (tj + 0.5)) AS d2
               FROM f),
         r AS (SELECT *, row_number() OVER (PARTITION BY ti, tj
                         ORDER BY d2, tb) AS rn FROM d)
         SELECT (tj // 10)::BIGINT AS jband, count(*) AS n_cells,
                round(sum(v), 6) AS sum_v
         FROM r WHERE rn = 1 GROUP BY jband""",
    "q_rectify_triangular" ->
      s"""WITH $cellsCte,
         sw AS (SELECT i AS si, j AS sj,
                       (i + 0.5) + 0.2 * j + 0.001 * j * j AS xc,
                       (j + 0.5) + 0.05 * i AS yc, v
                FROM cells),
         q AS (SELECT a.si AS qi, a.sj AS qj,
                      a.xc AS x0, a.yc AS y0, a.v AS v0,
                      b.xc AS x1, b.yc AS y1, b.v AS v1,
                      c.xc AS x2, c.yc AS y2, c.v AS v2,
                      d.xc AS x3, d.yc AS y3, d.v AS v3
               FROM sw a
               JOIN sw b ON b.si = a.si + 1 AND b.sj = a.sj
               JOIN sw c ON c.si = a.si AND c.sj = a.sj + 1
               JOIN sw d ON d.si = a.si + 1 AND d.sj = a.sj + 1),
         boxed AS (SELECT *,
                greatest(least(floor(x0), floor(x1), floor(x2), floor(x3))::BIGINT, 0) AS di_min,
                least(greatest(floor(x0), floor(x1), floor(x2), floor(x3))::BIGINT, 399) AS di_max,
                greatest(least(floor(y0), floor(y1), floor(y2), floor(y3))::BIGINT, 0) AS dj_min,
                least(greatest(floor(y0), floor(y1), floor(y2), floor(y3))::BIGINT, 119) AS dj_max,
                (x0 - x1) * (y0 - y2) - (x0 - x2) * (y0 - y1) AS det_a,
                (x3 - x2) * (y3 - y1) - (x3 - x1) * (y3 - y2) AS det_b
           FROM q),
         cand AS (SELECT boxed.*, ti.dst_i, tj.dst_j,
                         dst_i + 0.5 AS dx, dst_j + 0.5 AS dy
           FROM boxed,
                unnest(range(di_min, di_max + 1)) AS ti(dst_i),
                unnest(range(dj_min, dj_max + 1)) AS tj(dst_j)
           WHERE di_min <= di_max AND dj_min <= dj_max
             AND (det_a != 0 OR det_b != 0)),
         uv AS (SELECT *,
                ((x0 - dx) * (y0 - y2) - (y0 - dy) * (x0 - x2)) / det_a AS u_a,
                ((y0 - dy) * (x0 - x1) - (x0 - dx) * (y0 - y1)) / det_a AS v_a,
                ((x3 - dx) * (y3 - y1) - (y3 - dy) * (x3 - x1)) / det_b AS u_b,
                ((y3 - dy) * (x3 - x2) - (x3 - dx) * (y3 - y2)) / det_b AS v_b
           FROM cand),
         hit AS (SELECT *,
                (det_a != 0 AND u_a >= -0.001 AND v_a >= -0.001
                 AND u_a + v_a <= (1.0 + 2 * 0.001)) AS in_a,
                (det_b != 0 AND u_b >= -0.001 AND v_b >= -0.001
                 AND u_b + v_b <= (1.0 + 2 * 0.001)) AS in_b
           FROM uv),
         sel AS (SELECT dst_i, dst_j, qi, qj, v0, v1, v2, v3,
                CASE WHEN in_a THEN 0 ELSE 1 END AS tri,
                CASE WHEN in_a THEN greatest(least(u_a, 1.0), 0.0)
                     ELSE 1.0 - greatest(least(u_b, 1.0), 0.0) END AS u,
                CASE WHEN in_a THEN greatest(least(v_a, 1.0), 0.0)
                     ELSE 1.0 - greatest(least(v_b, 1.0), 0.0) END AS v
           FROM hit WHERE in_a OR in_b),
         vals AS (SELECT dst_i, dst_j, qi, qj, tri,
                CASE WHEN u + v < 1.0
                     THEN v0 + u * (v1 - v0) + v * (v2 - v0)
                     ELSE v3 + (1.0 - u) * (v2 - v3) + (1.0 - v) * (v1 - v3)
                END AS val
           FROM sel),
         r AS (SELECT *, row_number() OVER (PARTITION BY dst_i, dst_j
                         ORDER BY qj, qi, tri) AS rn FROM vals)
         SELECT dst_i, dst_j, round(val, 6) AS v FROM r WHERE rn = 1""",
    "q_affine_nearest" ->
      """WITH cells AS (
           SELECT floor(CAST(event_id % 360 AS DOUBLE) + 0.5)::BIGINT AS i,
                  floor(CAST(user_id % 100 AS DOUBLE) + 0.5)::BIGINT AS j,
                  round(sum(value::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
           FROM events GROUP BY i, j),
         tgt AS (SELECT ti.tgt_i, tj.tgt_j
                 FROM (SELECT unnest(range(0, 90)) AS tgt_i) ti
                 CROSS JOIN (SELECT unnest(range(0, 25)) AS tgt_j) tj)
         SELECT tgt_j, count(c.v) AS n_found,
                round(sum(coalesce(c.v, 0)), 6) AS sum_v
         FROM tgt LEFT JOIN cells c
           ON c.i = 4 * tgt.tgt_i + 2 AND c.j = 4 * tgt.tgt_j + 2
         GROUP BY tgt_j""",
    "q_affine_bilinear" ->
      """WITH cells AS (
           SELECT floor(CAST(event_id % 360 AS DOUBLE) + 0.5)::BIGINT AS i,
                  floor(CAST(user_id % 100 AS DOUBLE) + 0.5)::BIGINT AS j,
                  round(sum(value::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
           FROM events GROUP BY i, j),
         tgt AS (SELECT ti.tgt_i, tj.tgt_j
                 FROM (SELECT unnest(range(0, 90)) AS tgt_i) ti
                 CROSS JOIN (SELECT unnest(range(0, 25)) AS tgt_j) tj),
         interp AS (
           SELECT tgt.tgt_i, tgt.tgt_j,
                  sum(0.25 * c.v) / sum(0.25) AS v
           FROM tgt
           CROSS JOIN (VALUES (0, 0), (1, 0), (0, 1), (1, 1)) AS o(di, dj)
           JOIN cells c ON c.i = 4 * tgt.tgt_i + 1 + o.di
                       AND c.j = 4 * tgt.tgt_j + 1 + o.dj
           GROUP BY tgt.tgt_i, tgt.tgt_j)
         SELECT tgt_j, count(*) AS n,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v
         FROM interp GROUP BY tgt_j""",
    "q_affine_quadratic" ->
      """WITH cells AS (
           SELECT floor(CAST(event_id % 360 AS DOUBLE) + 0.5)::BIGINT AS i,
                  floor(CAST(user_id % 100 AS DOUBLE) + 0.5)::BIGINT AS j,
                  round(sum(value::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
           FROM events GROUP BY i, j),
         tgt AS (SELECT ti.tgt_i, tj.tgt_j
                 FROM (SELECT unnest(range(0, 89)) AS tgt_i) ti
                 CROSS JOIN (SELECT unnest(range(0, 24)) AS tgt_j) tj),
         interp AS (
           SELECT tgt.tgt_i, tgt.tgt_j,
                  sum(ox.wx * oy.wy * c.v) / sum(ox.wx * oy.wy) AS v
           FROM tgt
           CROSS JOIN (VALUES (0, 0.28125), (1, 0.6875), (2, 0.03125)) AS ox(di, wx)
           CROSS JOIN (VALUES (0, 0.28125), (1, 0.6875), (2, 0.03125)) AS oy(dj, wy)
           JOIN cells c ON c.i = 4 * tgt.tgt_i + 1 + ox.di
                       AND c.j = 4 * tgt.tgt_j + 1 + oy.dj
           GROUP BY tgt.tgt_i, tgt.tgt_j)
         SELECT tgt_j, count(*) AS n,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v
         FROM interp GROUP BY tgt_j""",
    "q_affine_quartic" -> splineOracle(AffineOps.quarticWeight),
    "q_affine_quintic" -> splineOracle(AffineOps.quinticWeight),
    "q_affine_recover_nan" ->
      """WITH cells AS (
           SELECT floor(CAST(event_id % 360 AS DOUBLE) + 0.5)::BIGINT AS i,
                  floor(CAST(user_id % 100 AS DOUBLE) + 0.5)::BIGINT AS j,
                  round(sum(value::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
           FROM events GROUP BY i, j),
         nc AS (SELECT i, j,
                       CASE WHEN (i + j) % 5 = 0 THEN 'NaN'::DOUBLE ELSE v END AS v
                FROM cells),
         tgt AS (SELECT ti.tgt_i, tj.tgt_j
                 FROM (SELECT unnest(range(0, 90)) AS tgt_i) ti
                 CROSS JOIN (SELECT unnest(range(0, 25)) AS tgt_j) tj),
         interp AS (
           SELECT tgt.tgt_i, tgt.tgt_j,
                  CASE WHEN abs(coalesce(
                         sum(CASE WHEN NOT isnan(c.v) THEN 0.25 END), 0.0)) <= 1e-8
                       THEN 'NaN'::DOUBLE
                       ELSE sum(CASE WHEN NOT isnan(c.v) THEN 0.25 * c.v END) /
                            sum(CASE WHEN NOT isnan(c.v) THEN 0.25 END)
                  END AS v
           FROM tgt
           CROSS JOIN (VALUES (0, 0), (1, 0), (0, 1), (1, 1)) AS o(di, dj)
           JOIN nc c ON c.i = 4 * tgt.tgt_i + 1 + o.di
                    AND c.j = 4 * tgt.tgt_j + 1 + o.dj
           GROUP BY tgt.tgt_i, tgt.tgt_j)
         SELECT tgt_j, count(*) AS n,
                sum(CASE WHEN isnan(v) THEN 1 ELSE 0 END)::BIGINT AS n_nan,
                round(sum((CASE WHEN NOT isnan(v) THEN v * 12.0 ELSE 0 END)::DECIMAL(28,10)),
                      6)::DOUBLE AS sum_v12
         FROM interp GROUP BY tgt_j""",
    "q_affine_bicubic" ->
      """WITH cells AS (
           SELECT floor(CAST(event_id % 360 AS DOUBLE) + 0.5)::BIGINT AS i,
                  floor(CAST(user_id % 100 AS DOUBLE) + 0.5)::BIGINT AS j,
                  round(sum(value::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
           FROM events GROUP BY i, j),
         tgt AS (SELECT ti.tgt_i, tj.tgt_j
                 FROM (SELECT unnest(range(0, 90)) AS tgt_i) ti
                 CROSS JOIN (SELECT unnest(range(0, 25)) AS tgt_j) tj),
         interp AS (
           SELECT tgt.tgt_i, tgt.tgt_j,
                  sum(ox.wx * oy.wy * c.v) / sum(ox.wx * oy.wy) AS v
           FROM tgt
           CROSS JOIN (VALUES (-1, -0.0625), (0, 0.5625),
                              (1, 0.5625), (2, -0.0625)) AS ox(di, wx)
           CROSS JOIN (VALUES (-1, -0.0625), (0, 0.5625),
                              (1, 0.5625), (2, -0.0625)) AS oy(dj, wy)
           JOIN cells c ON c.i = 4 * tgt.tgt_i + 1 + ox.di
                       AND c.j = 4 * tgt.tgt_j + 1 + oy.dj
           GROUP BY tgt.tgt_i, tgt.tgt_j)
         SELECT tgt_j, count(*) AS n,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v
         FROM interp GROUP BY tgt_j""",
    "q_reproject_mercator" ->
      s"""WITH ${CubePack.cubeCte},
         g AS (SELECT event_type,
                      6378137.0 * radians(x - 180.0) AS mx,
                      6378137.0 * ln(tan(pi() / 4 + radians((y - 50.0) * 0.9) / 2)) AS my
               FROM cube)
         SELECT event_type, count(*) AS n,
                round(avg(mx), 4) AS avg_mx,
                round(avg(my), 4) AS avg_my
         FROM g GROUP BY event_type""",
    "q_rectify" ->
      """WITH sw AS (
           SELECT (CAST(event_id % 360 AS DOUBLE) + 0.5) +
                    CAST((event_id % 7) - 3 AS DOUBLE) * 0.1 AS xc,
                  (CAST(user_id % 100 AS DOUBLE) + 0.5) +
                    CAST((event_id % 5) - 2 AS DOUBLE) * 0.1 AS yc,
                  value AS v, event_id
           FROM events),
         f AS (SELECT floor(xc)::BIGINT AS i, floor(yc)::BIGINT AS j, xc, yc, v, event_id
               FROM sw WHERE xc >= 0 AND xc < 360 AND yc >= 0 AND yc < 100),
         d AS (SELECT *,
                      (xc - (i + 0.5)) * (xc - (i + 0.5)) +
                      (yc - (j + 0.5)) * (yc - (j + 0.5)) AS d2
               FROM f),
         r AS (SELECT *, row_number() OVER (PARTITION BY i, j
                         ORDER BY d2, event_id) AS rn FROM d)
         SELECT (j // 10)::BIGINT AS jband, count(*) AS n_cells,
                round(sum(v), 6) AS sum_v
         FROM r WHERE rn = 1 GROUP BY jband""",
    "q_rectify_idw" ->
      """WITH sw AS (
           SELECT (CAST(event_id % 360 AS DOUBLE) + 0.5) +
                    CAST((event_id % 7) - 3 AS DOUBLE) * 0.1 AS xc,
                  (CAST(user_id % 100 AS DOUBLE) + 0.5) +
                    CAST((event_id % 5) - 2 AS DOUBLE) * 0.1 AS yc,
                  value AS v
           FROM events),
         ex AS (
           SELECT floor(xc)::BIGINT + o.di AS i, floor(yc)::BIGINT + o.dj AS j,
                  xc, yc, v
           FROM sw CROSS JOIN (VALUES (-1, -1), (-1, 0), (-1, 1),
                                      (0, -1), (0, 0), (0, 1),
                                      (1, -1), (1, 0), (1, 1)) AS o(di, dj)
           WHERE floor(xc)::BIGINT + o.di >= 0 AND floor(xc)::BIGINT + o.di < 360
             AND floor(yc)::BIGINT + o.dj >= 0 AND floor(yc)::BIGINT + o.dj < 100),
         wgt AS (
           SELECT i, j, v,
                  1.0 / ((xc - (i + 0.5)) * (xc - (i + 0.5)) +
                         (yc - (j + 0.5)) * (yc - (j + 0.5)) + 1e-9) AS w
           FROM ex),
         cells AS (
           SELECT i, j, round(sum(w * v) / sum(w), 6) AS v
           FROM wgt GROUP BY i, j)
         SELECT (j // 10)::BIGINT AS jband, count(*) AS n_cells,
                round(sum(v), 6) AS sum_v
         FROM cells GROUP BY jband""",
    "q_resample_space_eqearth" -> {
      // the SAME Scala doubles the projection kernel uses
      // (PolarOps.EqualEarth — authalic q like the EASE twin, then
      // the published polynomial), interpolated for bit-parity
      import PolarOps.{AuthalicR, E => PE, E2 => PE2, EqEarthM, Qp}
      import PolarOps.{EqEarthA1 => A1, EqEarthA2 => A2, EqEarthA3 => A3,
        EqEarthA4 => A4}
      s"""WITH $cellsCte,
         g AS (SELECT 5.0 + (i + 0.5) * 0.01 AS lon,
                      48.0 + (j + 0.5) * 0.02 AS lat, v
               FROM cells),
         t1 AS (SELECT sin(radians(lat)) AS sp, lon, v FROM g),
         t2 AS (SELECT lon, v,
                       asin((${1 - PE2} * (sp / (1.0 - $PE2 * sp * sp)
                         - ${1.0 / (2 * PE)}
                           * ln((1.0 - $PE * sp) / (1.0 + $PE * sp))))
                         / $Qp) AS beta
                FROM t1),
         t3 AS (SELECT lon, v,
                       asin($EqEarthM * sin(beta)) AS theta
                FROM t2),
         t4 AS (SELECT lon, v, theta,
                       theta * theta AS tt,
                       (theta * theta) * (theta * theta)
                         * (theta * theta) AS t6
                FROM t3),
         t5 AS (SELECT v,
                       $AuthalicR * radians(lon - 0.0) * cos(theta)
                         / ($EqEarthM * ($A1 + ${3.0 * A2} * tt
                            + t6 * (${7.0 * A3} + ${9.0 * A4} * tt))) AS tx,
                       $AuthalicR * theta * ($A1 + $A2 * tt
                         + t6 * ($A3 + $A4 * tt)) AS ty
                FROM t4),
         b AS (SELECT floor((tx - 396000.0) / 4000.0)::BIGINT AS bi,
                      floor((ty - 5774000.0) / 4000.0)::BIGINT AS bj,
                      avg(tx) AS ax, avg(ty) AS ay,
                      sum(v::DECIMAL(28,12))::DOUBLE / count(*) AS v
               FROM t5 GROUP BY bi, bj)
         SELECT floor((ax - 396000.0) / 4000.0)::BIGINT AS i,
                floor((ay - 5774000.0) / 4000.0)::BIGINT AS j,
                v
         FROM b
         WHERE ax >= 396000.0 AND ax < 684000.0
           AND ay >= 5774000.0 AND ay < 5982000.0"""
    },
    "q_resample_space_hom" -> {
      // the SAME Scala doubles the projection kernel uses
      // (PolarOps.HotineOm forward on EPSG:29873 — per-CRS Everest 1830
      // constants), interpolated for bit-parity
      val h = PolarOps.hotineForCrs("EPSG:29873").get
      s"""WITH $cellsCte,
         g AS (SELECT 113.0 + (i + 0.5) * 0.01 AS lon,
                      2.0 + (j + 0.5) * 0.02 AS lat, v
               FROM cells),
         t1 AS (SELECT radians(lat) AS phi,
                       ${h.bB} * (radians(lon) - ${h.lam0}) AS dl, v
                FROM g),
         t2 AS (SELECT phi, dl, v, ${h.e} * sin(phi) AS es FROM t1),
         t3 AS (SELECT dl, v,
                       ${h.hH} / pow(tan(pi() / 4.0 - phi / 2.0)
                         / pow((1.0 - es) / (1.0 + es), ${h.e / 2}),
                         ${h.bB}) AS q
                FROM t2),
         t4 AS (SELECT dl, v,
                       (q - 1.0 / q) / 2.0 AS sq,
                       (q + 1.0 / q) / 2.0 AS tq,
                       sin(dl) AS vs
                FROM t3),
         t5 AS (SELECT dl, v, sq, vs,
                       (-vs * ${h.cosG0} + sq * ${h.sinG0}) / tq AS uu
                FROM t4),
         t6 AS (SELECT v,
                       ${h.bA} * ln((1.0 - uu) / (1.0 + uu))
                         / ${2 * h.bB} AS vv,
                       ${h.bA} * atan2(sq * ${h.cosG0} + vs * ${h.sinG0},
                           cos(dl)) / ${h.bB} - ${h.uC} AS uh
                FROM t5),
         t7 AS (SELECT v,
                       vv * ${h.cosGc} + uh * ${h.sinGc} + ${h.x0} AS tx,
                       uh * ${h.cosGc} - vv * ${h.sinGc} + ${h.y0} AS ty
                FROM t6),
         b AS (SELECT floor((tx - 370000.0) / 6000.0)::BIGINT AS bi,
                      floor((ty - 222000.0) / 6000.0)::BIGINT AS bj,
                      avg(tx) AS ax, avg(ty) AS ay,
                      sum(v::DECIMAL(28,12))::DOUBLE / count(*) AS v
               FROM t7 GROUP BY bi, bj)
         SELECT floor((ax - 370000.0) / 6000.0)::BIGINT AS i,
                floor((ay - 222000.0) / 6000.0)::BIGINT AS j,
                v
         FROM b
         WHERE ax >= 370000.0 AND ax < 766000.0
           AND ay >= 222000.0 AND ay < 438000.0"""
    },
    "q_resample_space_stereo" -> {
      // the SAME Scala doubles the projection kernel uses
      // (PolarOps.ObliqueStereo forward on EPSG:28992 — per-CRS Bessel
      // constants), interpolated so both engines share every constant
      // bit-for-bit
      val os = PolarOps.obliqueStereoForCrs("EPSG:28992").get
      s"""WITH $cellsCte,
         g AS (SELECT 4.0 + (i + 0.5) * 0.01 AS lon,
                      51.0 + (j + 0.5) * 0.02 AS lat, v
               FROM cells),
         t1 AS (SELECT radians(lat) AS phi,
                       ${os.n} * (radians(lon) - ${os.lam0}) AS dlam, v
                FROM g),
         t2 AS (SELECT phi, dlam, v, sin(phi) AS sp,
                       ${os.e} * sin(phi) AS es
                FROM t1),
         t3 AS (SELECT dlam, v,
                       (${os.c} * pow(((1.0 + sp) / (1.0 - sp))
                          * pow((1.0 - es) / (1.0 + es), ${os.e}),
                          ${os.n}) - 1.0)
                       / (${os.c} * pow(((1.0 + sp) / (1.0 - sp))
                          * pow((1.0 - es) / (1.0 + es), ${os.e}),
                          ${os.n}) + 1.0) AS sinchi
                FROM t2),
         t4 AS (SELECT dlam, v, sinchi,
                       sqrt(1.0 - sinchi * sinchi) AS coschi
                FROM t3),
         t5 AS (SELECT v,
                       ${os.x0} + ${os.twoRk} * coschi * sin(dlam)
                         / (1.0 + sinchi * ${os.sinChi0}
                            + coschi * ${os.cosChi0} * cos(dlam)) AS tx,
                       ${os.y0} + ${os.twoRk} * (sinchi * ${os.cosChi0}
                            - coschi * ${os.sinChi0} * cos(dlam))
                         / (1.0 + sinchi * ${os.sinChi0}
                            + coschi * ${os.cosChi0} * cos(dlam)) AS ty
                FROM t4),
         b AS (SELECT floor((tx - 60000.0) / 4000.0)::BIGINT AS bi,
                      floor((ty - 334000.0) / 4000.0)::BIGINT AS bj,
                      avg(tx) AS ax, avg(ty) AS ay,
                      sum(v::DECIMAL(28,12))::DOUBLE / count(*) AS v
               FROM t5 GROUP BY bi, bj)
         SELECT floor((ax - 60000.0) / 4000.0)::BIGINT AS i,
                floor((ay - 334000.0) / 4000.0)::BIGINT AS j,
                v
         FROM b
         WHERE ax >= 60000.0 AND ax < 308000.0
           AND ay >= 334000.0 AND ay < 558000.0"""
    },
    "q_ij_transform" -> {
      // the affine RECOMPUTED from the two grid definitions (unit grid
      // 360x100 at (0,0) res 1, y-up -> 89x24 at (2,1) res 4, y-down
      // with yMax = 1 + 24*4 = 97), NOT copied from the Scala result —
      // a wrong ijTransformTo derivation cannot match
      s"""WITH $cellsCte,
         t AS (SELECT 1.0 / 4.0 AS sx, (0.0 - 2.0) / 4.0 AS ox,
                      -(1.0 / 4.0) AS sy, (97.0 - 0.0) / 4.0 AS oy),
         m AS (SELECT floor(t.sx * (c.i + 0.5) + t.ox)::BIGINT AS bi,
                      floor(t.sy * (c.j + 0.5) + t.oy)::BIGINT AS bj,
                      c.v
               FROM cells c CROSS JOIN t)
         SELECT bj, count(*) AS n,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v
         FROM m
         WHERE bi >= 0 AND bi < 89 AND bj >= 0 AND bj < 24
         GROUP BY bj"""
    },
    "q_resample_space_merc" -> {
      // the SAME Scala doubles the projection kernel uses
      // (PolarOps.Merc forward on EPSG:3002 — per-CRS Bessel 1841
      // constants), interpolated for bit-parity
      val mc = PolarOps.mercForCrs("EPSG:3002").get
      s"""WITH $cellsCte,
         g AS (SELECT 118.0 + (i + 0.5) * 0.01 AS lon,
                      -6.0 + (j + 0.5) * 0.02 AS lat, v
               FROM cells),
         t1 AS (SELECT radians(lat) AS phi, lon, v FROM g),
         t2 AS (SELECT phi, lon, v, ${mc.e} * sin(phi) AS es FROM t1),
         t3 AS (SELECT v,
                       ${mc.x0} + ${mc.aK} * (radians(lon) - ${mc.lam0})
                         AS tx,
                       ${mc.y0} - ${mc.aK} * ln(tan(pi() / 4.0 - phi / 2.0)
                         * pow((1.0 + es) / (1.0 - es), ${mc.e / 2})) AS ty
                FROM t2),
         b AS (SELECT floor((tx - 4790000.0) / 6000.0)::BIGINT AS bi,
                      floor((ty - 238000.0) / 6000.0)::BIGINT AS bj,
                      avg(tx) AS ax, avg(ty) AS ay,
                      sum(v::DECIMAL(28,12))::DOUBLE / count(*) AS v
               FROM t3 GROUP BY bi, bj)
         SELECT floor((ax - 4790000.0) / 6000.0)::BIGINT AS i,
                floor((ay - 238000.0) / 6000.0)::BIGINT AS j,
                v
         FROM b
         WHERE ax >= 4790000.0 AND ax < 5186000.0
           AND ay >= 238000.0 AND ay < 454000.0"""
    },
    "q_resample_space_eqc" -> {
      // the SAME Scala doubles the projection kernel uses
      // (PolarOps.Eqc forward on EPSG:4087 — WGS84 meridian-arc series),
      // interpolated for bit-parity
      val q = PolarOps.eqcForCrs("EPSG:4087").get
      s"""WITH $cellsCte,
         g AS (SELECT 5.0 + (i + 0.5) * 0.01 AS lon,
                      48.0 + (j + 0.5) * 0.02 AS lat, v
               FROM cells),
         t1 AS (SELECT radians(lat) AS phi, lon, v FROM g),
         t2 AS (SELECT v,
                       ${q.x0} + ${q.nu1Cos} * (radians(lon) - ${q.lam0})
                         AS tx,
                       ${q.y0} + ${q.a} * (${q.m0} * phi
                         - ${q.m2} * sin(2.0 * phi)
                         + ${q.m4} * sin(4.0 * phi)
                         - ${q.m6} * sin(6.0 * phi)) AS ty
                FROM t1),
         b AS (SELECT floor((tx - 558000.0) / 6000.0)::BIGINT AS bi,
                      floor((ty - 5320000.0) / 6000.0)::BIGINT AS bj,
                      avg(tx) AS ax, avg(ty) AS ay,
                      sum(v::DECIMAL(28,12))::DOUBLE / count(*) AS v
               FROM t2 GROUP BY bi, bj)
         SELECT floor((ax - 558000.0) / 6000.0)::BIGINT AS i,
                floor((ay - 5320000.0) / 6000.0)::BIGINT AS j,
                v
         FROM b
         WHERE ax >= 558000.0 AND ax < 954000.0
           AND ay >= 5320000.0 AND ay < 5536000.0"""
    },
    "q_resample_space_gk" -> {
      // the SAME Scala doubles the projection kernel uses
      // (PolarOps.Tmerc forward on EPSG:27700 — per-CRS Airy 1830
      // constants, the Snyder 8-9..8-14 series), interpolated for
      // bit-parity
      val tm = PolarOps.tmercForCrs("EPSG:27700").get
      s"""WITH $cellsCte,
         g AS (SELECT -2.5 + (i + 0.5) * 0.01 AS lon,
                      50.5 + (j + 0.5) * 0.02 AS lat, v
               FROM cells),
         t1 AS (SELECT radians(lat) AS phi,
                       radians(lon - ${tm.lon0}) AS lam, v
                FROM g),
         t2 AS (SELECT phi, lam, v, sin(phi) AS sinphi, cos(phi) AS cosphi,
                       tan(phi) AS tanphi
                FROM t1),
         t3 AS (SELECT phi, v, sinphi, tanphi,
                       ${tm.a} / sqrt(1.0 - ${tm.e2} * sinphi * sinphi) AS n,
                       tanphi * tanphi AS t,
                       ${tm.ep2} * cosphi * cosphi AS c,
                       lam * cosphi AS a1
                FROM t2),
         t4 AS (SELECT v, n, t, c, tanphi, a1,
                       a1 * a1 AS a2,
                       (a1 * a1) * a1 AS a3,
                       (a1 * a1) * (a1 * a1) AS a4,
                       ((a1 * a1) * (a1 * a1)) * a1 AS a5,
                       ((a1 * a1) * (a1 * a1)) * (a1 * a1) AS a6,
                       ${tm.a} * (${tm.m0} * phi - ${tm.m2} * sin(2.0 * phi)
                         + ${tm.m4} * sin(4.0 * phi)
                         - ${tm.m6} * sin(6.0 * phi)) AS m
                FROM t3),
         t5 AS (SELECT v,
                       ${tm.k0} * n * (a1 + (1.0 - t + c) * a3 / 6.0
                         + (5.0 - 18.0 * t + t * t + 72.0 * c
                            - 58.0 * ${tm.ep2}) * a5 / 120.0)
                         + ${tm.x0} AS tx,
                       ${tm.k0} * (m - ${tm.mArc0} + n * tanphi
                         * (a2 / 2.0
                            + (5.0 - t + 9.0 * c + 4.0 * c * c) * a4 / 24.0
                            + (61.0 - 58.0 * t + t * t + 600.0 * c
                               - 330.0 * ${tm.ep2}) * a6 / 720.0))
                         + ${tm.y0} AS ty
                FROM t4),
         b AS (SELECT floor((tx - 366000.0) / 4000.0)::BIGINT AS bi,
                      floor((ty - 68000.0) / 4000.0)::BIGINT AS bj,
                      avg(tx) AS ax, avg(ty) AS ay,
                      sum(v::DECIMAL(28,12))::DOUBLE / count(*) AS v
               FROM t5 GROUP BY bi, bj)
         SELECT floor((ax - 366000.0) / 4000.0)::BIGINT AS i,
                floor((ay - 68000.0) / 4000.0)::BIGINT AS j,
                v
         FROM b
         WHERE ax >= 366000.0 AND ax < 618000.0
           AND ay >= 68000.0 AND ay < 292000.0"""
    },
    "q_gm_transform" -> {
      // the SAME Scala doubles the projection kernel uses (UtmOps
      // zone-32 forward + the covering-grid formula), interpolated so
      // both engines share every constant bit-for-bit
      val utm = UtmOps.UtmZone(32, north = true).tm
      import utm.{a => UA, e2 => E2, ep2 => Ep2, k0 => K0, m0 => M0,
        m2 => M2, m4 => M4, m6 => M6}
      s"""WITH g AS (SELECT (id % 40)::BIGINT AS i, (id // 40)::BIGINT AS j,
                      6.0 + ((id % 40) + 0.5) * 0.05 AS lon,
                      44.0 + ((id // 40) + 0.5) * 0.05 AS lat
               FROM range(1200) t(id)),
         t1 AS (SELECT i, j, radians(lat) AS phi, radians(lon - 9.0) AS lam
                FROM g),
         t2 AS (SELECT i, j, phi, lam, sin(phi) AS sinphi, cos(phi) AS cosphi,
                       tan(phi) AS tanphi
                FROM t1),
         t3 AS (SELECT i, j, phi, lam, sinphi, cosphi, tanphi,
                       $UA / sqrt(1.0 - $E2 * sinphi * sinphi) AS n,
                       tanphi * tanphi AS t,
                       $Ep2 * cosphi * cosphi AS c,
                       lam * cosphi AS a1,
                       $UA * ($M0 * phi - $M2 * sin(2.0 * phi)
                              + $M4 * sin(4.0 * phi) - $M6 * sin(6.0 * phi)) AS m
                FROM t2),
         t4 AS (SELECT i, j,
                       $K0 * n * (a1 + (1.0 - t + c) * (a1 * a1 * a1) / 6.0
                         + (5.0 - 18.0 * t + t * t + 72.0 * c - 58.0 * $Ep2)
                           * ((a1 * a1) * (a1 * a1) * a1) / 120.0) + 500000.0 AS tx,
                       $K0 * (m + n * tanphi * ((a1 * a1) / 2.0
                         + (5.0 - t + 9.0 * c + 4.0 * c * c)
                           * ((a1 * a1) * (a1 * a1)) / 24.0
                         + (61.0 - 58.0 * t + t * t + 600.0 * c - 330.0 * $Ep2)
                           * ((a1 * a1) * (a1 * a1) * (a1 * a1)) / 720.0)) + 0.0 AS ty
                FROM t3)
         SELECT i, j, tx, ty,
                GREATEST(2, round((max(tx) OVER () + 2000.0
                  - (min(tx) OVER () - 2000.0)) / 4000.0))::BIGINT AS gw,
                GREATEST(2, round((max(ty) OVER () + 2000.0
                  - (min(ty) OVER () - 2000.0)) / 4000.0))::BIGINT AS gh
         FROM t4"""
    }
  )
}
