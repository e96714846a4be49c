package graft.ops

import graft.{Fixtures, GraftSession, QueryPack}
import graft.cube.{Cube, GridMapping}
import graft.functions.MaskSet
import graft.operators.{Evaluate, GeomOps, SelectOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

/** Cube-model operators (SURVEY.md §2.2): spatial/temporal subsetting,
  * geometry masking, CF flag expansion, safe variable expressions — all
  * driven over a deterministic grid derived from the `events` table so the
  * DuckDB oracle can mirror the arithmetic exactly.
  *
  * The derived cube: time = ts, y = (user_id % 100) + 0.5,
  * x = (event_id % 360) + 0.5, v = value — i.e. a 360×100 regular grid with
  * unit resolution anchored at (0, 0).
  */
object CubePack extends QueryPack {

  /** GridMapping of the derived events grid. */
  val gm: GridMapping = GridMapping(360, 100, 0.0, 0.0, 1.0, 1.0)

  def eventsCube(s: SparkSession, d: String): Cube = {
    val df = GraftSession.events(s, d).select(
      col("ts").as("time"),
      ((col("user_id") % 100).cast("double") + lit(0.5)).as("y"),
      ((col("event_id") % 360).cast("double") + lit(0.5)).as("x"),
      col("value").as("v"),
      col("event_type"))
    Cube(df, gm)
  }

  /** SQL CTE mirroring eventsCube. */
  val cubeCte: String =
    """cube AS (
         SELECT ts AS time,
                CAST(user_id % 100 AS DOUBLE) + 0.5 AS y,
                CAST(event_id % 360 AS DOUBLE) + 0.5 AS x,
                value AS v,
                event_type
         FROM events)"""

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // select_spatial_subset (select.py:87-163) world-coord bbox + skipna agg
    "q_spatial_subset" -> ((s, d) => {
      val c = SelectOps.spatialSubset(eventsCube(s, d), 30.0, 10.0, 99.0, 49.0)
      c.df.groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum(col("v")), 6).as("sum_v"))
    }),

    // pixel-coord subset (ij_bbox with border, select.py:100-120)
    "q_spatial_subset_ij" -> ((s, d) => {
      val c = SelectOps.spatialSubsetIj(eventsCube(s, d), 100L, 20L, 199L, 59L, border = 2L)
      c.df.groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum(col("v")), 6).as("sum_v"))
    }),

    // mask_dataset_by_geometry (geom.py:284-423): triangle mask, NaN
    // outside, skipna aggregation (NaN-as-missing, timeseries.py:182-191)
    "q_geom_mask" -> ((s, d) => {
      val wkt = "POLYGON ((0 0, 101 0, 0 101, 0 0))"
      val c = GeomOps.maskByGeometry(eventsCube(s, d), wkt)
      c.df.groupBy("event_type").agg(
        sum(when(!isnan(col("v")), 1).otherwise(0)).as("n_valid"),
        round(sum(when(!isnan(col("v")), col("v")).otherwise(0.0)), 6).as("sum_v"))
    }),

    // Zonal statistics over a LARGE feature layer (the server's
    // per-feature statistics endpoint at scale): 120 rectangle zones tile
    // the grid, which forces rasterizeFeatures onto its JOIN form
    // (> ExprFormMaxFeatures — broadcast spatial join + max_by, the shape
    // that survives thousand-feature layers), then one aggregation per
    // zone. The oracle recomputes zone membership in closed form, so a
    // bbox/containment slip in the join path cannot reproduce the sums.
    "q_zonal_stats" -> ((s, d) => {
      import s.implicits._
      val features = (for {
        zy <- 0 until 10; zx <- 0 until 12
      } yield {
        val (x0, y0) = (zx * 30, zy * 10)
        (s"POLYGON (($x0 $y0, ${x0 + 30} $y0, ${x0 + 30} ${y0 + 10}, " +
          s"$x0 ${y0 + 10}, $x0 $y0))", (zx + 12 * zy).toDouble)
      }).toDF("geometry", "zone")
      val burned = GeomOps.rasterizeFeatures(eventsCube(s, d), features,
        "geometry", Seq("zone"))
      burned.df.filter(!isnan(col("zone")))
        .groupBy(col("zone").cast("long").as("zone"))
        .agg(count(lit(1)).as("n_cells"),
          round(sum(col("v").cast("decimal(28,10)")), 6).cast("double").as("sum_v"))
    }),

    // MaskSet flag expansion (maskset.py:165-196) incl. "Nb" bit syntax
    // new_cube (reference new.py:13-268) under the ORACLE gate: the
    // synthesized fixture generator itself — bin-center time labels,
    // pixel-center coordinates, bounds columns, function-of-index
    // variables — aggregated per time step and recomputed closed-form by
    // DuckDB. Dyadic i/1024 keeps the sums order-independent exact.
    "q_new_cube" -> ((s, d) => {
      val cube = graft.cube.NewCube(s, timePeriods = 3,
        variables = Map(
          "r" -> (col("time_idx") * 100.0 + col("j_idx") +
            col("i_idx") / 1024.0),
          "c" -> lit(0.5)),
        withBounds = true)
      cube.df.groupBy(col("time"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("r")), 6).as("sum_r"),
          round(sum(col("c")), 6).as("sum_c"),
          min(col("y_lower")).as("y_lo"), max(col("x_upper")).as("x_hi"),
          min(col("time_lower")).as("t_lo"),
          max(col("time_upper")).as("t_hi"))
    }),

    "q_maskset" -> ((s, d) => {
      val md = new MetadataBuilder()
        .putString("flag_meanings", "land water cloud invalid")
        .putStringArray("flag_masks", Array("0b", "1b", "2b", "3b"))
        .build()
      val df = GraftSession.events(s, d)
        .withColumn("flags", (col("event_id") % 16).cast("int").as("flags", md))
      MaskSet.expand(df, "flags")
        .filter(col("flags_water") && !col("flags_cloud"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("sum_value"))
    }),

    // gen2 pipeline (gen2/local/generator.py:117-241): declarative config →
    // subset → weekly temporal resample → 4×4 spatial subsample, ONE DAG
    "q_gen_pipeline" -> ((s, d) => {
      val cfg = graft.gen.CubeConfig(
        varNames = Some(Seq("v")),
        bbox = Some((0.0, 0.0, 180.0, 80.0)),
        timeRange = Some(("2024-01-05", "2024-01-19")),
        timePeriod = Some("1W"),
        spatialK = Some(4))
      val out = graft.gen.CubeGenerator.generate(eventsCube(s, d), cfg)
      // exact decimal checksum (midpoint-safe, see ResamplePack)
      out.df.groupBy("time")
        .agg(count(lit(1)).as("n_blocks"),
          round(sum(col("v").cast("decimal(28,10)")), 6).cast("double").as("sum_v"))
    }),

    // gen1 InputProcessor plugin surface (gen/iproc.py:126-551): a
    // registered per-format processor drives the slice generator —
    // pre_process MASKS low values (a pushable filter), the spatial step
    // mean-downsamples 2x onto the target grid, post_process rescales,
    // and the granule's time label derives from the processor's own
    // get_time_range. Two granules, every hook exercised, per-granule
    // plan branches with no cross-granule shuffle.
    "q_gen_iproc" -> ((s, d) => {
      import graft.gen.{DefaultInputProcessor, InputProcessors}
      import graft.sources.NetcdfSource
      import NetcdfSource.NcDim
      val base = Fixtures.layout(d, "geniproc",
        "2 granules, 10x20, day-stamped") { base =>
        (0 to 1).foreach { g =>
          NetcdfSource.write(s"$base/granule$g.nc",
            Seq(NcDim("time", 1), NcDim("y", 10), NcDim("x", 20)),
            Seq(("time", Array(g * 86400.0)),
              ("y", Array.tabulate(10)(_ + 0.5)),
              ("x", Array.tabulate(20)(_ + 0.5))),
            Seq(("v", Seq("time", "y", "x"),
              Array.tabulate(200)(c => ((c + g) % 32).toDouble / 4.0))))
        }
      }
      val paths = (0 to 1).map(g => s"$base/granule$g.nc")
      val srcGm = GridMapping(20, 10, 0.0, 0.0, 1.0, 1.0)
      val tgtGm = GridMapping(10, 5, 0.0, 0.0, 2.0, 2.0)
      InputProcessors.register(new DefaultInputProcessor("netcdf", "time") {
        override def name: String = "mask-low-rescale"
        override def preProcess(df: DataFrame): DataFrame =
          df.filter(col("v") >= 1.0)
        override def postProcess(df: DataFrame): DataFrame =
          df.withColumn("v", col("v") * 2.0)
      })
      val out = InputProcessors.genCube(s, paths, "mask-low-rescale",
        srcGm, tgtGm, Seq("v"),
        toIj = df => df.select(srcGm.iExpr(col("x")).as("i"),
          srcGm.jExpr(col("y")).as("j"), col("v")))
      out.groupBy("time")
        .agg(count(lit(1)).as("n_cells"),
          round(sum(round(col("v"), 6).cast("decimal(28,10)")), 6)
            .cast("double").as("sum_v"))
    }),

    // clip_dataset_by_geometry (geom.py:445-529): rows outside the
    // geometry's envelope dropped — pure prunable filter
    "q_clip" -> ((s, d) => {
      val c = GeomOps.clipByGeometry(eventsCube(s, d),
        "POLYGON ((40 15, 120 15, 120 75, 40 75, 40 15))")
      c.df.groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum(col("v")), 6).as("sum_v"))
    }),

    // "name = expr" assignment form (varexpr splitting, timeseries.py:122)
    "q_evaluate_assign" -> ((s, d) => {
      val (df, name) = Evaluate.withAssignment(eventsCube(s, d).df,
        "chl = where(v > 100.0, sqrt(v), v / 2.0)")
      df.groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum(col(name)), 6).as("sum_chl"))
    }),

    // rasterize_features (geom.py:51-281): three overlapping features burned
    // with last-feature-wins precedence, no cube-side shuffle
    "q_rasterize" -> ((s, d) => {
      import s.implicits._
      val features = Seq(
        ("POLYGON ((0 0, 100 0, 100 50, 0 50, 0 0))", 1.0),
        ("POLYGON ((50 20, 150 20, 150 80, 50 80, 50 20))", 2.0),
        ("POLYGON ((200 0, 300 0, 200 100, 200 0))", 3.0)
      ).toDF("geometry", "cls")
      val burned = GeomOps.rasterizeFeatures(eventsCube(s, d), features, "geometry", Seq("cls"))
      burned.df.groupBy("event_type").agg(
        sum(when(col("cls") === 1.0, 1).otherwise(0)).as("n_cls1"),
        sum(when(col("cls") === 2.0, 1).otherwise(0)).as("n_cls2"),
        sum(when(col("cls") === 3.0, 1).otherwise(0)).as("n_cls3"),
        sum(when(!isnan(col("cls")), 1).otherwise(0)).as("n_burned"),
        count(lit(1)).as("n"))
    }),

    // varexpr attribute/subscript/slice trailers (varexpr.py:16-309): an
    // array band column indexed 0-based/negative/sliced plus a struct
    // attribute, all inside one compiled expression
    "q_evaluate_subscript" -> ((s, d) => {
      import graft.functions.VarExpr
      val df = eventsCube(s, d).df
        .withColumn("bands", array(col("v"), col("v") * 2, col("v") + 100))
        .withColumn("info", struct(col("v").as("raw"), (col("v") * 0.5).as("half")))
      df.withColumn("chl", VarExpr.onColumns(
          "bands[1] * 0.1 + bands[-1] + info.half + bands[0:2][1] * 0.01"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum(col("chl")), 6).as("sum_chl"))
    }),

    // evaluate_dataset + varexpr (evaluate.py:16-152, varexpr.py:16-309):
    // computed var with where/log10/ternary + valid-pixel mask, skipna agg
    "q_evaluate" -> ((s, d) => {
      val df0 = eventsCube(s, d).df
      val df = Evaluate.evaluateDataset(df0, Seq(
        Evaluate.VarConfig("chl",
          expression = Some("where(v > 50.0, log10(v) * 10.0, nan)"),
          validPixelExpression = Some("x < 300.0 and y < 90.0")),
        Evaluate.VarConfig("band", expression = Some("floor(v / 100.0)"))))
      df.groupBy("band").agg(
        sum(when(!isnan(col("chl")), 1).otherwise(0)).as("n_valid"),
        round(sum(when(!isnan(col("chl")), col("chl")).otherwise(0.0)), 6).as("sum_chl"))
    })
  )

  override def oracleSql: Map[String, String] = Map(
    "q_spatial_subset" ->
      s"""WITH $cubeCte
         SELECT event_type, count(*) AS n, round(sum(v), 6) AS sum_v
         FROM cube
         WHERE x BETWEEN 30.0 AND 99.0 AND y BETWEEN 10.0 AND 49.0
         GROUP BY event_type""",
    "q_spatial_subset_ij" ->
      s"""WITH $cubeCte
         SELECT event_type, count(*) AS n, round(sum(v), 6) AS sum_v
         FROM cube
         WHERE floor(x) BETWEEN 98 AND 201 AND floor(y) BETWEEN 18 AND 61
         GROUP BY event_type""",
    "q_geom_mask" ->
      s"""WITH $cubeCte
         SELECT event_type,
                count(CASE WHEN x >= 0 AND y >= 0 AND x + y <= 101 THEN 1 END) AS n_valid,
                round(sum(CASE WHEN x >= 0 AND y >= 0 AND x + y <= 101 THEN v ELSE 0 END), 6) AS sum_v
         FROM cube GROUP BY event_type""",
    "q_zonal_stats" ->
      s"""WITH $cubeCte
         SELECT (floor(x / 30) + 12 * floor(y / 10))::BIGINT AS zone,
                count(*) AS n_cells,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v
         FROM cube
         WHERE x >= 0 AND x < 360 AND y >= 0 AND y < 100
         GROUP BY zone""",
    "q_new_cube" ->
      """WITH g AS (SELECT t.k AS tk, j.k AS j, i.k AS i
                    FROM range(0, 3) t(k), range(0, 180) j(k),
                         range(0, 360) i(k))
         SELECT TIMESTAMP '2010-01-01 12:00:00'
                  + tk * INTERVAL 1 DAY AS time,
                count(*) AS n,
                round(sum(tk * 100 + j + i / 1024.0), 6) AS sum_r,
                round(sum(0.5), 6) AS sum_c,
                -90.0 AS y_lo, 180.0 AS x_hi,
                min(TIMESTAMP '2010-01-01' + tk * INTERVAL 1 DAY) AS t_lo,
                max(TIMESTAMP '2010-01-01' + (tk + 1) * INTERVAL 1 DAY) AS t_hi
         FROM g GROUP BY tk""",
    "q_maskset" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
         FROM events
         WHERE ((event_id % 16) & 2) != 0 AND ((event_id % 16) & 4) = 0
         GROUP BY event_type""",
    "q_gen_pipeline" ->
      s"""WITH $cubeCte,
         sub AS (
           SELECT time, y, x, v FROM cube
           WHERE x BETWEEN 0.0 AND 180.0 AND y BETWEEN 0.0 AND 80.0
             AND time >= TIMESTAMP '2024-01-05'
             AND time < TIMESTAMP '2024-01-19' + INTERVAL 1 DAY),
         wk AS (
           SELECT make_timestamp((floor(epoch(time) / 604800) * 604800 * 1000000)::BIGINT) AS time,
                  y, x, avg(v) AS v
           FROM sub GROUP BY 1, y, x),
         blk AS (
           SELECT time, floor(y)::BIGINT // 4 AS bj, floor(x)::BIGINT // 4 AS bi,
                  avg(v) AS v
           FROM wk GROUP BY time, bj, bi)
         SELECT time, count(*) AS n_blocks,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v
         FROM blk GROUP BY time""",
    // the fixture's cell formula + every processor hook recomputed: mask
    // v < 1, per-target-cell DECIMAL mean over the 2x2 block, rescale,
    // time label from the granule's own day stamp
    "q_gen_iproc" ->
      """WITH cells AS (
           SELECT gg, (c % 20) AS i, (c // 20) AS j,
                  CAST((c + gg) % 32 AS DOUBLE) / 4.0 AS v
           FROM range(0, 200) r(c), range(0, 2) s(gg)),
         kept AS (SELECT * FROM cells WHERE v >= 1.0),
         tgt AS (SELECT gg, i // 2 AS ti, j // 2 AS tj,
                        sum(v::DECIMAL(28,12))::DOUBLE / count(*) AS v
                 FROM kept GROUP BY gg, ti, tj)
         SELECT make_timestamp((gg * 86400 * 1000000)::BIGINT) AS time,
                count(*) AS n_cells,
                round(sum(round(v * 2.0, 6)::DECIMAL(28,10)), 6)::DOUBLE
                  AS sum_v
         FROM tgt GROUP BY gg""",
    "q_clip" ->
      s"""WITH $cubeCte
         SELECT event_type, count(*) AS n, round(sum(v), 6) AS sum_v
         FROM cube
         WHERE x BETWEEN 40.0 AND 120.0 AND y BETWEEN 15.0 AND 75.0
         GROUP BY event_type""",
    "q_evaluate_assign" ->
      s"""WITH $cubeCte
         SELECT event_type, count(*) AS n,
                round(sum(CASE WHEN v > 100.0 THEN sqrt(v) ELSE v / 2.0 END), 6) AS sum_chl
         FROM cube GROUP BY event_type""",
    "q_rasterize" ->
      s"""WITH $cubeCte,
         r AS (
           SELECT event_type,
                  CASE WHEN x >= 200 AND y >= 0 AND (x + y) <= 300 THEN 3.0
                       WHEN x BETWEEN 50 AND 150 AND y BETWEEN 20 AND 80 THEN 2.0
                       WHEN x BETWEEN 0 AND 100 AND y BETWEEN 0 AND 50 THEN 1.0
                  END AS cls
           FROM cube)
         SELECT event_type,
                count(CASE WHEN cls = 1.0 THEN 1 END) AS n_cls1,
                count(CASE WHEN cls = 2.0 THEN 1 END) AS n_cls2,
                count(CASE WHEN cls = 3.0 THEN 1 END) AS n_cls3,
                count(cls) AS n_burned,
                count(*) AS n
         FROM r GROUP BY event_type""",
    "q_evaluate_subscript" ->
      s"""WITH $cubeCte
         SELECT event_type, count(*) AS n,
                round(sum((v * 2) * 0.1 + (v + 100) + v * 0.5 + (v * 2) * 0.01), 6) AS sum_chl
         FROM cube GROUP BY event_type""",
    "q_evaluate" ->
      s"""WITH $cubeCte,
         ev AS (
           SELECT CAST(floor(v / 100.0) AS BIGINT) AS band,
                  CASE WHEN x < 300.0 AND y < 90.0 AND v > 50.0
                       THEN log10(v) * 10.0 END AS chl
           FROM cube)
         SELECT band, count(chl) AS n_valid,
                round(sum(coalesce(chl, 0.0)), 6) AS sum_chl
         FROM ev GROUP BY band"""
  )
}
