package graft.ops

import graft.{Fixtures, GraftSession, QueryPack}
import graft.cube.Cube
import graft.operators.{QuantileOps, StatsOps, SubsampleOps, TimeSeriesOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Aggregation-suite pack (SURVEY §2.4): k×k block subsampling with the
  * custom `mode` Aggregator, pyramid decimation levels, one-pass statistics
  * and the 2-pass 100-bin density histogram.
  */
object AggPack extends QueryPack {

  /** Day-bucketed events cube with a discrete `band` class variable (the
    * mode target) — subsampling needs a categorical-ish var.
    */
  private def dailyCube(s: SparkSession, d: String): Cube = {
    val c0 = CubePack.eventsCube(s, d)
    c0.copy(df = c0.df
      .withColumn("time", date_trunc("DAY", col("time")))
      .withColumn("band", floor(col("v") / 50.0).cast("double"))
      .drop("event_type"))
  }

  /** Time-collapsed per-cell mean field as a Cube (for pyramid levels). */
  private def cellCube(s: SparkSession, d: String): Cube = {
    val c0 = CubePack.eventsCube(s, d)
    val gm = c0.gm
    val cells = c0.df.groupBy(gm.iExpr(c0.x).as("i"), gm.jExpr(c0.y).as("j"))
      .agg(round(avg(col("v")), 6).as("v"))
      .select(lit("2024-01-01").cast("timestamp").as("time"),
        (col("j").cast("double") + 0.5).as("y"),
        (col("i").cast("double") + 0.5).as("x"),
        col("v"))
    Cube(cells, gm)
  }

  /** The materialized pyramid fixture (L0..L3 + `_levels.json` sidecar),
    * shared by q_pyramid and q_pyramid_rewrite.
    */
  private def levelsFixture(s: SparkSession, d: String): String =
    Fixtures.layout(d, "levels", "levels=3,agg=mean,meta,schema") { root =>
      graft.sources.LevelStore.writeLevels(cellCube(s, d), root, 3)
    }

  /** A MIN-built pyramid over the same cells (aggregator recorded in the
    * `_levels.json` sidecar), for the aggregator-aware rewrite gate. */
  private def minLevelsFixture(s: SparkSession, d: String): String =
    Fixtures.layout(d, "levelsmin", "levels=3,agg=min,meta,schema") { root =>
      graft.sources.LevelStore.writeLevels(cellCube(s, d), root, 3,
        methods = Seq("v" -> "min"))
    }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // aggregator-aware pyramid rewrite: a 4x4 block MIN over a MIN-built
    // pyramid retargets to its L2 materialization (min composes
    // progressively, so the retargeted answer equals the direct block min
    // exactly — the plan-level fire/bail matrix is pinned in
    // PyramidRewriteSpec; an avg over this same pyramid bails).
    "q_pyramid_rewrite_min" -> ((s, d) => {
      val root = minLevelsFixture(s, d)
      s.read.parquet(s"$root/L0")
        .groupBy(floor(col("x") / 4.0).cast("long").as("bi"),
          floor(col("y") / 4.0).cast("long").as("bj"))
        .agg(min(col("v")).as("v"))
        .agg(count(lit(1)).as("n_blocks"),
          round(sum(col("v").cast("decimal(28,10)")), 6)
            .cast("double").as("sum_v"),
          sum(col("bi") + col("bj") * 7).as("idx_checksum"))
    }),

    // the pyramid-rewrite Catalyst rule END-TO-END: a 4×4 block mean over
    // the L0 base table is retargeted by the optimizer to the L2
    // materialization (plans/PyramidRewrite.scala — the relational form of
    // mldataset/abc.py:136-149). The oracle computes the PROGRESSIVE 2×2
    // means, i.e. exactly what L2 stores: on a sparse grid direct L0 block
    // means weight cells differently, so this row passing at small SF also
    // certifies the rewrite actually fired.
    "q_pyramid_rewrite" -> ((s, d) => {
      val root = levelsFixture(s, d)
      s.read.parquet(s"$root/L0")
        .groupBy(floor(col("x") / 4.0).cast("long").as("bi"),
          floor(col("y") / 4.0).cast("long").as("bj"))
        .agg(avg(col("v")).as("v"))
        .agg(count(lit(1)).as("n_blocks"),
          round(sum(col("v").cast("decimal(28,10)")), 6)
            .cast("double").as("sum_v"),
          sum(col("bi") + col("bj") * 7).as("idx_checksum"))
    }),

    // the rule firing THROUGH a Filter: a time + block-aligned bbox subset
    // (select_subset then aggregate — the most common real query shape)
    // between the Aggregate and the L0 scan no longer defeats the
    // retarget. The oracle computes progressive 2×2 means over the bbox'd
    // L2 cells, so passing certifies the rewrite fired: direct L0 block
    // means differ on sparse grids.
    "q_pyramid_rewrite_filtered" -> ((s, d) => {
      val root = levelsFixture(s, d)
      s.read.parquet(s"$root/L0")
        .filter(col("time") === lit("2024-01-01").cast("timestamp") &&
          col("x") >= 8.0 && col("x") < 200.0)
        .groupBy(floor(col("x") / 4.0).cast("long").as("bi"),
          floor(col("y") / 4.0).cast("long").as("bj"))
        .agg(avg(col("v")).as("v"))
        .agg(count(lit(1)).as("n_blocks"),
          round(sum(col("v").cast("decimal(28,10)")), 6)
            .cast("double").as("sum_v"),
          sum(col("bi") + col("bj") * 7).as("idx_checksum"))
    }),

    // the `.levels` pyramid as a RELATIONAL source —
    // spark.read.format("levels") resolves the level on the driver from
    // the `_levels.json` sidecar: `resolution` picks the coarsest level
    // still at least as fine as asked (mldataset/abc.py:136-149),
    // `level` picks explicitly, no option = the base. The relation IS
    // the level's parquet HadoopFsRelation, so parquet pushdown and the
    // PyramidRewrite rule compose untouched.
    "q_levels_dsv2" -> ((s, d) => {
      val root = levelsFixture(s, d)
      def summarize(df: DataFrame, lvl: Int): DataFrame =
        df.agg(count(lit(1)).as("n_cells"),
          round(sum(col("v").cast("decimal(28,10)")), 6)
            .cast("double").as("sum_v"))
          .select(lit(lvl).cast("long").as("level"), col("n_cells"),
            col("sum_v"))
      // resolution 2.5 -> L1 (xRes 2 is the coarsest still <= 2.5)
      summarize(s.read.format("levels").load(root), 0)
        .unionByName(summarize(
          s.read.format("levels").option("resolution", "2.5").load(root), 1))
        .unionByName(summarize(
          s.read.format("levels").option("level", "2").load(root), 2))
    }),

    // 8×8 block subsample: mean + count of the float var, custom-Aggregator
    // mode of the class var (deterministic smallest-value tiebreak)
    "q_subsample" -> ((s, d) => {
      val (out, _) = SubsampleOps.subsample(dailyCube(s, d), 8,
        Seq("v" -> "mean", "band" -> "mode", "v" -> "count"))
      out.select(col("time"), col("block_j"), col("block_i"),
        round(col("v_mean"), 6).as("v_mean"), col("band_mode"), col("v_count"))
    }),

    // pyramid levels 1..3 by ::2^l decimation (level.py:107): per level the
    // surviving cell count and value checksum
    "q_levels" -> ((s, d) => {
      val c2 = cellCube(s, d)
      SubsampleOps.computeLevels(c2, 3).zipWithIndex.map { case (lc, i) =>
        lc.df.agg(count(lit(1)).as("n_cells"), round(sum(col("v")), 6).as("sum_v"))
          .select(lit(i + 1).cast("long").as("level"), col("n_cells"), col("sum_v"))
      }.reduce(_ unionByName _)
    }),

    // one-pass statistics over a bbox subset (controllers.py:45-129)
    "q_statistics" -> ((s, d) => {
      val c = CubePack.eventsCube(s, d)
      StatsOps.statistics(c.df.filter(c.x < 180.0), "v")
    }),

    // 2-pass 100-bin density histogram, empty bins included
    "q_histogram" -> ((s, d) =>
      StatsOps.histogram(CubePack.eventsCube(s, d).df, "v", 100)),

    // extra non-spatial dim (reference 1.13.3 #1213): the cube carries a
    // depth label column; statistics are computed PER depth label, and a
    // nearest-label .sel (target 9.0 → label 10.0, ties → smaller) marks
    // the selected row. depth = (event_id % 3)·10 via floor(x) (3 | 360,
    // so x already encodes event_id mod 3).
    "q_extra_dim_stats" -> ((s, d) => {
      val df = CubePack.eventsCube(s, d).df
        .withColumn("depth", (floor(col("x")).cast("long") % 3).cast("double") * 10.0)
      val (chosen, _) = graft.operators.SelectOps.nearestDimLabel(df, "depth", 9.0)
      StatsOps.statisticsBy(df, "v", Seq("depth"))
        .withColumn("is_selected", col("depth") === chosen)
    }),

    // per-label time series over the extra dim: daily series × depth label
    // in ONE map-side-combined shuffle (groupBy(time, depth))
    "q_extra_dim_series" -> ((s, d) => {
      val c0 = CubePack.eventsCube(s, d)
      val c = c0.copy(df = c0.df
        .withColumn("time", date_trunc("DAY", col("time")))
        .withColumn("depth", (floor(col("x")).cast("long") % 3).cast("double") * 10.0))
      TimeSeriesOps.getTimeSeries(c, "v", methods = Seq("mean", "count"),
          extraDims = Seq("depth"))
        .select(col("time"), col("depth"),
          round(col("v_mean"), 6).as("v_mean"), col("v_count"))
    }),

    // materialized .levels pyramid: write L0..L3 (each a 2x2 mean of the
    // previous), read the stored tables back and checksum them
    "q_pyramid" -> ((s, d) => {
      val root = levelsFixture(s, d)
      (1 to 3).map { l =>
        // exact decimal checksum — see q_affine_bilinear midpoint note
        graft.sources.LevelStore.openLevel(s, root, l)
          .agg(count(lit(1)).as("n_cells"),
            round(sum(col("v").cast("decimal(28,10)")), 6).cast("double").as("sum_v"))
          .select(lit(l).cast("long").as("level"), col("n_cells"), col("sum_v"))
      }.reduce(_ unionByName _)
    }),

    // EXACT quantiles without a global sort (two-pass histogram-refinement
    // selection): pass 1 buckets values by high bits into a data-
    // independent histogram, pass 2 rescans only the straddling buckets.
    // The windows run over HISTOGRAM rows, never the data — the shape that
    // replaces ORDER BY + OFFSET at 100 TB. Values are exact integer cents.
    "q_quantile_exact" -> ((s, d) => {
      val li = GraftSession.table(s, d, "lineitem")
        .select(round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
      QuantileOps.exactQuantiles(li, "cents", Seq(0.25, 0.5, 0.9, 0.99),
        coarseShift = 12)
    }),

    // the GROUPED form: exact per-event-type p50/p95/p99 through the same
    // two-pass histogram refinement — per-group windows see histogram rows
    // only; replaces per-group sort/percentile state that grows with the
    // group at scale
    "q_group_quantiles" -> ((s, d) => {
      val ev = GraftSession.events(s, d)
        .select(col("event_type"),
          round(col("value") * 100, 0).cast("long").as("cents"))
      QuantileOps.exactQuantilesBy(ev, Seq("event_type"), "cents",
        Seq(0.5, 0.95, 0.99), coarseShift = 8)
    }),

    // DOUBLE-typed grouped exact quantiles by ARBITRARY keys — the
    // per-source percentile-cut shape (corpus length/score cuts per
    // domain), via the shared keyed quantile fold: all fractions share
    // the three passes, no per-group sort state. l_quantity values are
    // integers, so the dyadic quartile interpolation is engine-exact.
    "q_grouped_quantile_fold" -> ((s, d) => {
      graft.operators.TemporalOps.groupedQuantileFold(
        GraftSession.table(s, d, "lineitem"), Seq("l_returnflag"),
        "l_quantity", Seq(0.25, 0.5, 0.75))
    })
  )

  override def oracleSql: Map[String, String] = Map(
    "q_pyramid_rewrite_min" ->
      """WITH cells AS (
           SELECT floor(CAST(event_id % 360 AS DOUBLE) + 0.5)::BIGINT AS i,
                  floor(CAST(user_id % 100 AS DOUBLE) + 0.5)::BIGINT AS j,
                  round(avg(value), 6) AS v
           FROM events GROUP BY i, j),
         b AS (SELECT i // 4 AS bi, j // 4 AS bj, min(v) AS v
               FROM cells GROUP BY 1, 2)
         SELECT count(*) AS n_blocks,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v,
                sum(bi + bj * 7)::BIGINT AS idx_checksum
         FROM b""",
    "q_pyramid_rewrite" ->
      """WITH cells AS (
           SELECT floor(CAST(event_id % 360 AS DOUBLE) + 0.5)::BIGINT AS i,
                  floor(CAST(user_id % 100 AS DOUBLE) + 0.5)::BIGINT AS j,
                  round(avg(value), 6) AS v
           FROM events GROUP BY i, j),
         l1 AS (SELECT i // 2 AS i, j // 2 AS j, avg(v) AS v FROM cells GROUP BY 1, 2),
         l2 AS (SELECT i // 2 AS i, j // 2 AS j, avg(v) AS v FROM l1 GROUP BY 1, 2)
         SELECT count(*) AS n_blocks,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v,
                sum(i + j * 7)::BIGINT AS idx_checksum
         FROM l2""",
    "q_pyramid_rewrite_filtered" ->
      """WITH cells AS (
           SELECT floor(CAST(event_id % 360 AS DOUBLE) + 0.5)::BIGINT AS i,
                  floor(CAST(user_id % 100 AS DOUBLE) + 0.5)::BIGINT AS j,
                  round(avg(value), 6) AS v
           FROM events GROUP BY i, j),
         l1 AS (SELECT i // 2 AS i, j // 2 AS j, avg(v) AS v FROM cells GROUP BY 1, 2),
         l2 AS (SELECT i // 2 AS i, j // 2 AS j, avg(v) AS v FROM l1 GROUP BY 1, 2)
         SELECT count(*) AS n_blocks,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v,
                sum(i + j * 7)::BIGINT AS idx_checksum
         FROM l2 WHERE i >= 2 AND i < 50""",
    "q_quantile_exact" ->
      """WITH c AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v
                    FROM lineitem),
         n AS (SELECT count(*) AS n FROM c),
         ranks AS (SELECT CAST(t.p AS DOUBLE) AS p,
                          CAST(floor(CAST(t.p AS DOUBLE) * (n - 1)) AS BIGINT) + 1
                            AS rank
                   FROM n, (VALUES (0.25),(0.5),(0.9),(0.99)) t(p)),
         o AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM c)
         SELECT r.p, r.rank, o.v AS value
         FROM ranks r JOIN o ON o.rn = r.rank""",
    "q_group_quantiles" ->
      """WITH c AS (SELECT event_type AS g,
                           CAST(round(value * 100) AS BIGINT) AS v
                    FROM events),
         n AS (SELECT g, count(*) AS n FROM c GROUP BY g),
         ranks AS (SELECT g, CAST(t.p AS DOUBLE) AS p,
                          CAST(floor(CAST(t.p AS DOUBLE) * (n - 1)) AS BIGINT) + 1
                            AS rank
                   FROM n, (VALUES (0.5),(0.95),(0.99)) t(p)),
         o AS (SELECT g, v,
                      row_number() OVER (PARTITION BY g ORDER BY v) AS rn
               FROM c)
         SELECT r.g AS event_type, r.p, r.rank, o.v AS value
         FROM ranks r JOIN o ON o.g = r.g AND o.rn = r.rank""",
    "q_grouped_quantile_fold" ->
      """SELECT l_returnflag,
                quantile_cont(l_quantity, 0.25)::DOUBLE
                  AS l_quantity_percentile_25,
                quantile_cont(l_quantity, 0.5)::DOUBLE AS l_quantity_median,
                quantile_cont(l_quantity, 0.75)::DOUBLE
                  AS l_quantity_percentile_75
         FROM lineitem GROUP BY l_returnflag""",
    "q_subsample" ->
      s"""WITH ${CubePack.cubeCte},
         b AS (SELECT date_trunc('day', time) AS time,
                      floor(y)::BIGINT // 8 AS block_j,
                      floor(x)::BIGINT // 8 AS block_i,
                      v, floor(v / 50.0) AS band
               FROM cube),
         m AS (SELECT time, block_j, block_i,
                      round(avg(v), 6) AS v_mean, count(v) AS v_count
               FROM b GROUP BY time, block_j, block_i),
         mc AS (SELECT time, block_j, block_i, band, count(*) AS n
                FROM b GROUP BY time, block_j, block_i, band),
         mr AS (SELECT *, row_number() OVER (PARTITION BY time, block_j, block_i
                         ORDER BY n DESC, band ASC) AS rn
                FROM mc)
         SELECT m.time, m.block_j, m.block_i, m.v_mean,
                mr.band::DOUBLE AS band_mode, m.v_count
         FROM m JOIN mr ON mr.time = m.time AND mr.block_j = m.block_j
                       AND mr.block_i = m.block_i AND mr.rn = 1""",
    "q_levels" ->
      """WITH cells AS (
           SELECT floor(CAST(event_id % 360 AS DOUBLE) + 0.5)::BIGINT AS i,
                  floor(CAST(user_id % 100 AS DOUBLE) + 0.5)::BIGINT AS j,
                  round(avg(value), 6) AS v
           FROM events GROUP BY i, j),
         lv AS (SELECT unnest(range(1, 4)) AS level)
         SELECT lv.level, count(*) AS n_cells, round(sum(v), 6) AS sum_v
         FROM cells CROSS JOIN lv
         WHERE i % (1 << lv.level) = 0 AND j % (1 << lv.level) = 0
         GROUP BY lv.level""",
    "q_statistics" ->
      """SELECT count(value) AS n, min(value) AS v_min, max(value) AS v_max,
                round(avg(value), 6) AS v_mean,
                round(stddev_samp(value), 6) AS v_std
         FROM events WHERE CAST(event_id % 360 AS DOUBLE) + 0.5 < 180.0""",
    "q_extra_dim_stats" ->
      """WITH c AS (SELECT (event_id % 3) * 10.0 AS depth, value AS v FROM events)
         SELECT depth, count(v) AS n, min(v) AS v_min, max(v) AS v_max,
                round(avg(v), 6) AS v_mean, round(stddev_samp(v), 6) AS v_std,
                depth = 10.0 AS is_selected
         FROM c GROUP BY depth""",
    "q_extra_dim_series" ->
      """SELECT date_trunc('day', ts) AS time, (event_id % 3) * 10.0 AS depth,
                round(avg(value), 6) AS v_mean, count(value) AS v_count
         FROM events GROUP BY time, depth""",
    "q_histogram" ->
      """WITH s AS (SELECT min(value) AS lo, max(value) AS hi,
                           count(value)::DOUBLE AS n FROM events),
         b AS (SELECT least(floor(((value - s.lo) / (s.hi - s.lo)) * 100), 99)::BIGINT AS bucket,
                      count(*) AS cnt
               FROM events, s GROUP BY bucket),
         g AS (SELECT unnest(range(0, 100)) AS bucket)
         SELECT g.bucket,
                coalesce(b.cnt, 0)::BIGINT AS n,
                round(coalesce(b.cnt, 0)::DOUBLE /
                      (s.n * ((s.hi - s.lo) / 100)), 6) AS density
         FROM g LEFT JOIN b USING (bucket) CROSS JOIN s""",
    "q_levels_dsv2" ->
      """WITH cells AS (
           SELECT floor(CAST(event_id % 360 AS DOUBLE) + 0.5)::BIGINT AS i,
                  floor(CAST(user_id % 100 AS DOUBLE) + 0.5)::BIGINT AS j,
                  round(avg(value), 6) AS v
           FROM events GROUP BY i, j),
         l1 AS (SELECT i // 2 AS i, j // 2 AS j, avg(v) AS v FROM cells GROUP BY 1, 2),
         l2 AS (SELECT i // 2 AS i, j // 2 AS j, avg(v) AS v FROM l1 GROUP BY 1, 2)
         SELECT 0::BIGINT AS level, count(*) AS n_cells,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v FROM cells
         UNION ALL
         SELECT 1::BIGINT, count(*), round(sum(v::DECIMAL(28,10)), 6)::DOUBLE FROM l1
         UNION ALL
         SELECT 2::BIGINT, count(*), round(sum(v::DECIMAL(28,10)), 6)::DOUBLE FROM l2""",
    "q_pyramid" ->
      """WITH cells AS (
           SELECT floor(CAST(event_id % 360 AS DOUBLE) + 0.5)::BIGINT AS i,
                  floor(CAST(user_id % 100 AS DOUBLE) + 0.5)::BIGINT AS j,
                  round(avg(value), 6) AS v
           FROM events GROUP BY i, j),
         l1 AS (SELECT i // 2 AS i, j // 2 AS j, avg(v) AS v FROM cells GROUP BY 1, 2),
         l2 AS (SELECT i // 2 AS i, j // 2 AS j, avg(v) AS v FROM l1 GROUP BY 1, 2),
         l3 AS (SELECT i // 2 AS i, j // 2 AS j, avg(v) AS v FROM l2 GROUP BY 1, 2)
         SELECT 1::BIGINT AS level, count(*) AS n_cells,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v FROM l1
         UNION ALL
         SELECT 2::BIGINT, count(*), round(sum(v::DECIMAL(28,10)), 6)::DOUBLE FROM l2
         UNION ALL
         SELECT 3::BIGINT, count(*), round(sum(v::DECIMAL(28,10)), 6)::DOUBLE FROM l3"""
  )
}
