package graft.ops

import graft.{Fixtures, GraftSession, QueryPack}
import graft.cube.{Cube, GridMapping, TilingScheme}
import graft.functions.{GeomFunctions, VarExpr}
import graft.operators.{CoverageOps, ExtractOps, IvfOps, MaintenanceOps, TileOps, VolumeOps}
import graft.sources.{ComputedLevels, CubeWriter, GeoJsonSource, GeoTiffSource, Hdf5Source, KerchunkSource, LevelStore, MemoryDataStore, NetcdfSource, Sentinel3Source, ShapefileSource, ZarrSource, ZarrV3Source}
import graft.streaming.TimeSliceOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Serving / extraction / maintenance pack: oracle rows for the operator
  * families that were previously unit-tested only (round-2 VERDICT item 1) —
  * tile gather, volume bricks, streaming upsert convergence, geometry
  * normalization (incl. anti-meridian), bounds-based indexing, nearest-cell
  * snap, maintenance invariants, IVF ANN, GeoJSON + in-memory stores, and
  * longitude monotonicity normalization.
  *
  * Driver-side gathers here (tile, volume) are bounded by tileSize² /
  * maxVoxels exactly like the reference's own serving layer collects; the
  * result is re-exposed as rows so the DuckDB oracle can hash-compare it.
  */
object ServingPack extends QueryPack {

  private def embs(s: SparkSession, d: String) = GraftSession.table(s, d, "embeddings")

  /** The IVF index over the whole corpus, shared by q_ivf_ann and
    * q_ivf_ann_batch; returns its directory. */
  private def ivfFixture(s: SparkSession, d: String): String =
    Fixtures.layout(d, "ivf", "cells=4,seed=42,iter=5") { path =>
      IvfOps.save(IvfOps.build(embs(s, d), "vec_id", "embedding", nCells = 4), path)
    }

  /** Daily decimal-mean grid of the events cube for one day: dense 100×360
    * row-major [j * 360 + i], NaN where the day has no events in a cell —
    * the shared raster-fixture builder for q_netcdf / q_geotiff (one
    * definition so the mean convention cannot silently diverge between
    * their oracles).
    */
  private def dailyMeanGrid(s: SparkSession, d: String, day: String): Array[Double] = {
    val rows = CubePack.eventsCube(s, d).df
      .filter(to_date(col("time")) === lit(day).cast("date"))
      .groupBy(floor(col("y")).cast("int").as("j"),
        floor(col("x")).cast("int").as("i"))
      .agg(round(sum(col("v").cast("decimal(28,12)")).cast("double") /
        count(lit(1)), 6).as("v"))
      .collect()
    val arr = Array.fill(100 * 360)(Double.NaN)
    rows.foreach(r => arr(r.getInt(0) * 360 + r.getInt(1)) = r.getDouble(2))
    arr
  }

  /** Build (once per sf) the two daily-mean NetCDF granules; returns their
    * paths. Shared by q_netcdf and q_kerchunk.
    */
  private def netcdfFixture(s: SparkSession, d: String): Seq[String] = {
    import NetcdfSource.NcDim
    val days = Seq("2024-01-01", "2024-01-02")
    val base = Fixtures.layout(d, "netcdf", "days=2,grid=360x100,mean6") { base =>
      for (day <- days) {
        NetcdfSource.write(s"$base/$day.nc",
          Seq(NcDim("y", 100), NcDim("x", 360)),
          Seq(("y", Array.tabulate(100)(_ + 0.5)),
            ("x", Array.tabulate(360)(_ + 0.5))),
          Seq(("v", Seq("y", "x"), dailyMeanGrid(s, d, day))))
      }
    }
    days.map(day => s"$base/$day.nc")
  }

  /** Build (once per sf) the two daily-mean NetCDF-4 (HDF5) granules —
    * chunked 50×90 with shuffle+deflate. Shared by q_netcdf4,
    * q_kerchunk_hdf5 and q_netcdf_dsv2. Returns the fixture dir.
    */
  private def netcdf4Fixture(s: SparkSession, d: String): String = {
    import NetcdfSource.NcDim
    val days = Seq("2024-01-01", "2024-01-02")
    val base = Fixtures.layout(d, "netcdf4",
      "days=2,grid=360x100,hdf5,chunks=50x90,shuffle+deflate,mean6") { base =>
      for (day <- days) {
        Hdf5Source.write(s"$base/$day.nc",
          Seq(NcDim("y", 100), NcDim("x", 360)),
          Seq(("y", Array.tabulate(100)(_ + 0.5)),
            ("x", Array.tabulate(360)(_ + 0.5))),
          Seq(("v", Seq("y", "x"), dailyMeanGrid(s, d, day))),
          chunkOf = Map("v" -> Seq(50, 90)))
      }
    }
    base
  }

  /** Build (once per sf) a Sentinel-3-style product DIRECTORY: per-band
    * granules + `geo_coordinates.nc` with the 2-D lon/lat rasters, plus
    * three decoys the opener must reject — a tie-point grid (wrong dim
    * sizes), a same-size raster over differently-NAMED dims, and a 1-D
    * vector (ndim < 2). Band payloads are the q_netcdf daily-mean grids,
    * so the oracle recomputes them from the events table.
    */
  private def sentinel3Fixture(s: SparkSession, d: String): String = {
    import NetcdfSource.NcDim
    val product = "S3A_OL_2_TEST.SEN3"
    val base = Fixtures.layout(d, "sentinel3",
      "grid=360x100,bands=chl+tsm,decoys=tp+named+1d,mean6") { base =>
      val prod = s"$base/$product"
      new java.io.File(prod).mkdirs()
      val grid = Seq(NcDim("rows", 100), NcDim("columns", 360))
      NetcdfSource.write(s"$prod/geo_coordinates.nc", grid, Nil,
        Seq(("longitude", Seq("rows", "columns"),
            Array.tabulate(100 * 360)(k => (k % 360) + 0.5 - 180.0)),
          ("latitude", Seq("rows", "columns"),
            Array.tabulate(100 * 360)(k => (k / 360) + 0.5 - 50.0))))
      NetcdfSource.write(s"$prod/chl_nn.nc", grid, Nil,
        Seq(("conc_chl", Seq("rows", "columns"),
          dailyMeanGrid(s, d, "2024-01-01"))))
      NetcdfSource.write(s"$prod/tsm_nn.nc", grid, Nil,
        Seq(("conc_tsm", Seq("rows", "columns"),
            dailyMeanGrid(s, d, "2024-01-02")),
          ("row_time", Seq("rows"), Array.tabulate(100)(_.toDouble))))
      NetcdfSource.write(s"$prod/tie_geo.nc",
        Seq(NcDim("tp_rows", 10), NcDim("tp_columns", 36),
          NcDim("lines", 100), NcDim("samples", 360)), Nil,
        Seq(("TP_latitude", Seq("tp_rows", "tp_columns"), Array.fill(360)(1.0)),
          ("fake_band", Seq("lines", "samples"), Array.fill(36000)(2.0))))
    }
    s"$base/$product"
  }

  /** Build (once per sf) the 4x100x360 dyadic-valued zarr cube (chunks
    * 1x50x90, v = ((j*360 + i + 7t) % 4096)/64 so double sums are
    * order-free exact); returns the group dir. Shared by every agg /
    * interval / top-n pushdown gate over format("zarr").
    */
  private def zarrAggPushFixture(s: SparkSession, d: String,
                                 tag: String = "zarraggpush"): String = {
    val base = Fixtures.layout(d, tag,
      "t=4,grid=100x360,chunks=1x50x90,dyadic64") { base =>
      val cells = s.range(4L * 100 * 360).select(
        (col("id") / (100L * 360)).cast("long").as("ti"),
        ((col("id") / 360) % 100).cast("long").as("j"),
        (col("id") % 360).cast("long").as("i"))
        .select(col("ti").cast("double").as("t"),
          (col("j") + 0.5).cast("double").as("y"),
          (col("i") + 0.5).cast("double").as("x"),
          (((col("j") * 360 + col("i") + col("ti") * 7) % 4096) / 64.0).as("v"))
      ZarrSource.writeCube(cells, s"$base/cube.zarr", "v",
        Seq("t" -> Array.tabulate(4)(_.toDouble),
          "y" -> Array.tabulate(100)(_ + 0.5),
          "x" -> Array.tabulate(360)(_ + 0.5)),
        chunks = Seq(1, 50, 90))
    }
    s"$base/cube.zarr"
  }

  /** [[zarrAggPushFixture]]'s cell formula plus a spatially-monotone
    * second variable `m = k/64` (k the row-major cell ordinal), ANALYZEd
    * into a `_graft_stats.json` sidecar — the fixture behind the
    * zone-map / masked-statistics / argmax gates. `m`'s per-chunk value
    * ranges are disjoint, so a selective value predicate on it prunes to
    * a handful of chunks; `v` cycles everywhere, so aggregates on it
    * exercise the mixed decode path. */
  private def zarrStatsFixture(s: SparkSession, d: String): String = {
    val base = Fixtures.layout(d, "zarrstats",
      "t=4,grid=100x360,chunks=1x50x90,dyadic64+monotone,analyzed") { base =>
      val cells = s.range(4L * 100 * 360).select(
        col("id"),
        (col("id") / (100L * 360)).cast("long").as("ti"),
        ((col("id") / 360) % 100).cast("long").as("j"),
        (col("id") % 360).cast("long").as("i"))
        .select(col("ti").cast("double").as("t"),
          (col("j") + 0.5).cast("double").as("y"),
          (col("i") + 0.5).cast("double").as("x"),
          (((col("j") * 360 + col("i") + col("ti") * 7) % 4096) / 64.0).as("v"),
          (col("id") / 64.0).as("m"))
      ZarrSource.writeCubeVars(cells, s"$base/cube.zarr", Seq("v", "m"),
        Seq("t" -> Array.tabulate(4)(_.toDouble),
          "y" -> Array.tabulate(100)(_ + 0.5),
          "x" -> Array.tabulate(360)(_ + 0.5)),
        chunks = Seq(1, 50, 90))
      graft.sources.zarr.ChunkStats.analyze(s, s"$base/cube.zarr")
      ()
    }
    s"$base/cube.zarr"
  }

  /** Serving-shaped SHARDED v3 cube — 1×2048×2048 in 1×512×512 shards
    * (16) of 1×128×128 inner chunks (16 per shard), written with
    * `stats = true` so per-inner-chunk zone maps ride the write. Values
    * are BLOCK-ALIGNED — a cell carries its 128² block id plus a dyadic
    * fraction — so a block-range predicate prunes exactly at
    * inner-chunk granularity while shard ranges overlap (the case
    * chunk-granular zone maps cannot prune). */
  private def zarrSubchunkFixture(s: SparkSession, d: String): String = {
    val base = Fixtures.layout(d, "zarrsubchunk",
      "grid=1x2048x2048,shards=512,inner=128,blockaligned,stats") { base =>
      val cells = s.range(2048L * 2048).select(
        (col("id") / 2048L).cast("long").as("j"),
        (col("id") % 2048L).cast("long").as("i"))
        .select(lit(0.0).as("t"),
          (col("j") + 0.5).cast("double").as("y"),
          (col("i") + 0.5).cast("double").as("x"),
          (expr("(j div 128) * 16 + (i div 128)").cast("double") +
            expr("(j % 128) * 128 + (i % 128)").cast("double") / 32768.0)
            .as("v"))
      graft.sources.ZarrV3Source.writeCube(cells, s"$base/cube.zarr", "v",
        Seq("t" -> Array(0.0),
          "y" -> Array.tabulate(2048)(_ + 0.5),
          "x" -> Array.tabulate(2048)(_ + 0.5)),
        chunks = Seq(1, 512, 512), shardInner = Some(Seq(1, 128, 128)),
        stats = true)
    }
    s"$base/cube.zarr"
  }

  /** Build (once per sf) the 2-D cell-mean field of the events cube as a
    * zarr group — the lookup target of q_points_dsv2 (same cell means the
    * parquet-path q_points_extract joins against; eventless cells are
    * NaN-fill). */
  private def pointsZarrFixture(s: SparkSession, d: String): String = {
    val base = Fixtures.layout(d, "pointszarr",
      "grid=100x360,cellmeans6,chunks=50x90") { base =>
      val cube = CubePack.eventsCube(s, d)
      val cells = graft.operators.ExtractOps.cellMeans(
        cube.copy(df = cube.df.drop("event_type")), Seq("v"))
      val df = cells.select((col("j").cast("double") + 0.5).as("y"),
        (col("i").cast("double") + 0.5).as("x"), col("v"))
      ZarrSource.writeCube(df, s"$base/cells.zarr", "v",
        Seq("y" -> Array.tabulate(100)(_ + 0.5),
          "x" -> Array.tabulate(360)(_ + 0.5)),
        chunks = Seq(50, 90))
    }
    s"$base/cells.zarr"
  }

  /** Shared oracle of q_sentinel3 AND q_sentinel3_dsv2 — the two openers
    * (RDD-path pivot vs DSv2 refs table) must hash-match each other. */
  private def sentinel3OracleSql: String =
    s"""WITH ${CubePack.cubeCte},
       chl AS (SELECT floor(y)::BIGINT AS j, floor(x)::BIGINT AS i,
                      round(sum(v::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
               FROM cube WHERE CAST(time AS DATE) = DATE '2024-01-01'
               GROUP BY j, i),
       tsm AS (SELECT floor(y)::BIGINT AS j, floor(x)::BIGINT AS i,
                      round(sum(v::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
               FROM cube WHERE CAST(time AS DATE) = DATE '2024-01-02'
               GROUP BY j, i),
       grid AS (SELECT t.j, t2.i,
                       ((t2.i + 0.5 - 180) + (t.j + 0.5 - 50)) AS geo
                FROM range(0, 100) t(j) CROSS JOIN range(0, 360) t2(i))
       SELECT (SELECT count(*) FROM grid) AS n_cells,
              (SELECT round(sum(geo::DECIMAL(28,10)), 6)::DOUBLE FROM grid) AS sum_geo,
              (SELECT count(*) FROM chl) AS n_chl,
              (SELECT round(sum(v::DECIMAL(28,10)), 6)::DOUBLE FROM chl) AS sum_chl,
              (SELECT round(sum(g.geo::DECIMAL(28,10)), 6)::DOUBLE
               FROM chl JOIN grid g USING (j, i)) AS geo_chl,
              (SELECT count(*) FROM tsm) AS n_tsm,
              (SELECT round(sum(v::DECIMAL(28,10)), 6)::DOUBLE FROM tsm) AS sum_tsm,
              (SELECT round(sum(g.geo::DECIMAL(28,10)), 6)::DOUBLE
               FROM tsm JOIN grid g USING (j, i)) AS geo_tsm"""

  /** Build (once per sf) the 2-day Zarr group; returns the group dir.
    * Shared by q_zarr and q_kerchunk.
    */
  /** The 2-day daily-mean cube as (t, y, x, v) rows — the shared payload of
    * every zarr-store fixture (v2, v3, sharded).
    */
  private def dailyCubeDf(s: SparkSession, d: String, days: Seq[String]): org.apache.spark.sql.DataFrame =
    CubePack.eventsCube(s, d).df
      .filter(to_date(col("time")) === lit(days(0)).cast("date") ||
              to_date(col("time")) === lit(days(1)).cast("date"))
      .groupBy(to_date(col("time")).cast("string").as("day"),
        floor(col("y")).cast("int").as("j"),
        floor(col("x")).cast("int").as("i"))
      .agg(round(sum(col("v").cast("decimal(28,12)")).cast("double") /
        count(lit(1)), 6).as("v"))
      .select(
        when(col("day") === days(0), 0.0).otherwise(1.0).as("t"),
        (col("j").cast("double") + 0.5).as("y"),
        (col("i").cast("double") + 0.5).as("x"),
        col("v"))

  private val cubeDims: Seq[(String, Array[Double])] =
    Seq("t" -> Array(0.0, 1.0),
      "y" -> Array.tabulate(100)(_ + 0.5),
      "x" -> Array.tabulate(360)(_ + 0.5))

  private def zarrFixture(s: SparkSession, d: String,
                          codec: ZarrSource.Codec = ZarrSource.Zlib(),
                          tag: String = ""): String = {
    val days = Seq("2024-01-01", "2024-01-02")
    val base = Fixtures.layout(d, s"zarr$tag",
      s"days=2,grid=2x100x360,chunks=1x50x90,$codec,mean6") { base =>
      ZarrSource.writeCube(dailyCubeDf(s, d, days), s"$base/cube.zarr", "v",
        cubeDims, chunks = Seq(1, 50, 90), codec = codec)
    }
    s"$base/cube.zarr"
  }

  /** The consolidated 2-day cube that q_zarr_http and q_zarr_ftp mount on
    * their emulators; returns the directory holding `cube.zarr`. */
  private def zarrServedFixture(s: SparkSession, d: String): String =
    Fixtures.layout(d, "zarrhttp", "days=2,chunks=1x50x90,mean6,consolidated") { base =>
      ZarrSource.writeCube(dailyCubeDf(s, d, Seq("2024-01-01", "2024-01-02")),
        s"$base/cube.zarr", "v", cubeDims, chunks = Seq(1, 50, 90))
    }

  /** v3 variant of [[zarrFixture]] — same payload, v3 metadata + codec
    * chains; `shardInner` switches on `sharding_indexed` objects.
    */
  private def zarrV3Fixture(s: SparkSession, d: String,
                            steps: Seq[ZarrSource.Codec], chunks: Seq[Int],
                            shardInner: Option[Seq[Int]], tag: String): String = {
    val days = Seq("2024-01-01", "2024-01-02")
    val base = Fixtures.layout(d, s"zarrv3$tag",
      s"days=2,grid=2x100x360,chunks=${chunks.mkString("x")},v3,$steps,shard=$shardInner,mean6") { base =>
      ZarrV3Source.writeCube(dailyCubeDf(s, d, days), s"$base/cube.zarr", "v",
        cubeDims, chunks = chunks, steps = steps, shardInner = shardInner)
    }
    s"$base/cube.zarr"
  }

  /** Build (once per sf) the day-1 daily-mean GeoTIFF; returns its path.
    * Shared by q_geotiff and q_kerchunk.
    */
  private def geotiffFixture(s: SparkSession, d: String): String = {
    val base = Fixtures.layout(d, "geotiff",
      "day=2024-01-01,grid=360x100,deflate,mean6") { base =>
      val grid = dailyMeanGrid(s, d, "2024-01-01")
      // north-up: raster row 0 is the TOP (max y) grid row
      val arr = Array.tabulate(100 * 360)(k =>
        grid((99 - k / 360) * 360 + k % 360))
      GeoTiffSource.write(s"$base/day1.tif",
        GeoTiffSource.Raster(360, 100, arr, 1.0, 1.0, 0.0, 100.0),
        deflate = true)
    }
    s"$base/day1.tif"
  }

  /** Build (once per sf) the day-1 event-COUNT grid as a lossless
    * (reversible 5/3) multi-tile JPEG 2000: counts are exact integers, so
    * the decode must reproduce them bit-for-bit, and the 90×50 tiling
    * exercises odd-origin subband geometry at every decomposition level.
    * Shared with q_store_catalog's extension map.
    */
  private def jp2Fixture(s: SparkSession, d: String): String = {
    val base = Fixtures.layout(d, "jp2",
      "day=2024-01-01,grid=360x100,counts,tiles=90x50,rev53") { base =>
      val rows = CubePack.eventsCube(s, d).df
        .filter(to_date(col("time")) === lit("2024-01-01").cast("date"))
        .groupBy(floor(col("y")).cast("int").as("j"),
          floor(col("x")).cast("int").as("i"))
        .agg(count(lit(1)).cast("int").as("n"))
        .collect()
      val grid = new Array[Int](100 * 360)
      rows.foreach(r => grid(r.getInt(0) * 360 + r.getInt(1)) = r.getInt(2))
      val maxN = grid.max
      val depth = math.max(8, 33 - Integer.numberOfLeadingZeros(math.max(1, maxN)))
      graft.sources.jp2.Jp2Source.write(s"$base/day1_counts.jp2", 360, 100, depth, signed = false,
        Vector(grid), nLevels = 3, tileW = 90, tileH = 50)
    }
    s"$base/day1_counts.jp2"
  }

  /** Build (once per sf) THREE daily count-grid granules for the
    * collection-ingest query; returns the paths (file name = the day).
    */
  private def jp2SeriesFixture(s: SparkSession, d: String): Seq[String] = {
    val days = Seq("2024-01-01", "2024-01-02", "2024-01-03")
    val base = Fixtures.layout(d, "jp2s",
      "days=3,grid=360x100,counts,tiles=90x50,rev53") { base =>
      val rows = CubePack.eventsCube(s, d).df
        .filter(to_date(col("time")).isin(days.map(lit(_).cast("date")): _*))
        .groupBy(to_date(col("time")).cast("string").as("day"),
          floor(col("y")).cast("int").as("j"),
          floor(col("x")).cast("int").as("i"))
        .agg(count(lit(1)).cast("int").as("n"))
        .collect()
      val grids = days.map(day => day -> new Array[Int](100 * 360)).toMap
      rows.foreach(r => grids(r.getString(0))(r.getInt(1) * 360 + r.getInt(2)) = r.getInt(3))
      val maxN = math.max(1, grids.valuesIterator.map(_.max).max)
      val depth = math.max(8, 33 - Integer.numberOfLeadingZeros(maxN))
      for (day <- days)
        graft.sources.jp2.Jp2Source.write(s"$base/$day.jp2", 360, 100, depth,
          signed = false, Vector(grids(day)), nLevels = 3, tileW = 90, tileH = 50)
    }
    days.map(day => s"$base/$day.jp2")
  }

  /** Build (once per sf) the day-1 GeoTIFF with a GDAL_NODATA sentinel:
    * every 97th grid cell is forced NaN, so the file stores -9999 there
    * and a reader that ignores the tag poisons every aggregate.
    */
  private def geotiffNodataFixture(s: SparkSession, d: String): String = {
    val base = Fixtures.layout(d, "geotiff_nd",
      "day=2024-01-01,grid=360x100,deflate,mean6,nodata=-9999,drop97") { base =>
      val grid = dailyMeanGrid(s, d, "2024-01-01")
      // north-up: raster row 0 is the TOP (max y) grid row
      val arr = Array.tabulate(100 * 360) { k =>
        val j = 99 - k / 360; val i = k % 360
        if ((j * 360 + i) % 97 == 0) Double.NaN else grid(j * 360 + i)
      }
      GeoTiffSource.write(s"$base/day1_nd.tif",
        GeoTiffSource.Raster(360, 100, arr, 1.0, 1.0, 0.0, 100.0),
        deflate = true, nodata = Some(-9999.0))
    }
    s"$base/day1_nd.tif"
  }

  /** Fixed per-sf scratch dir for regenerated kerchunk refs documents
    * (overwritten per run, never cached — see q_kerchunk).
    */
  private def refsDir(d: String): java.nio.file.Path =
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(Fixtures.path(d, "kerchunk_refs")))

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // compute_tiles (tile.py:39-354): level-1 tile (0,0) of the cell-mean
    // cube on a 2×1 local pyramid; tile pixels re-emitted as (py, px, v)
    // rows. Tile extent x∈[0,90), y∈[50,100); 128px tile → pixel ≤ 1 cell.
    "q_tile_gather" -> ((s, d) => {
      import s.implicits._
      val cube = CubePack.eventsCube(s, d)
      val cells = cube.df.groupBy(col("y"), col("x"))
        .agg(round(sum(col("v").cast("decimal(28,12)")).cast("double") /
          count(lit(1)), 6).as("vm"))
      val scheme = TilingScheme(2, 1, "local", 0.0, 0.0, 360.0, 100.0, tileSize = 128)
      val tile = TileOps.computeTile(cells, CubePack.gm, scheme, 1, 0L, 0L, "vm")
      val ts = scheme.tileSize
      tile.zipWithIndex.collect { case (v, i) if !v.isNaN =>
        ((i / ts).toLong, (i % ts).toLong, v)
      }.toSeq.toDF("py", "px", "v")
    }),

    // compute_rgba_tile (tile.py:355-763 + util/cmaps.py): the q_tile_gather
    // tile normalized lin 0..500 through the viridis ramp; non-transparent
    // pixels re-emitted as (py, px, argb) rows. The colormap lerp is pure
    // integer/dyadic arithmetic mirrored term-for-term in SQL (floor(x+0.5)
    // = java Math.round for the positive channel values).
    "q_rgba_tile" -> ((s, d) => {
      import s.implicits._
      val cube = CubePack.eventsCube(s, d)
      val cells = cube.df.groupBy(col("y"), col("x"))
        .agg(round(sum(col("v").cast("decimal(28,12)")).cast("double") /
          count(lit(1)), 6).as("vm"))
      val scheme = TilingScheme(2, 1, "local", 0.0, 0.0, 360.0, 100.0, tileSize = 128)
      val tile = TileOps.computeTile(cells, CubePack.gm, scheme, 1, 0L, 0L, "vm")
      val rgba = TileOps.renderRgba(tile, vmin = 0.0, vmax = 500.0)
      val ts = scheme.tileSize
      rgba.zipWithIndex.collect { case (px, i) if px != 0 =>
        ((i / ts).toLong, (i % ts).toLong, px.toLong & 0xffffffffL)
      }.toSeq.toDF("py", "px", "argb")
    }),

    // volumes endpoint (webapi/volumes/routes.py:26-182): 2-day daily-mean
    // brick over bbox (10,10)-(110,60) with a 5000-voxel budget → stride 2;
    // non-NaN voxels re-emitted as (ti, bj, bi, v) rows.
    "q_volume_brick" -> ((s, d) => {
      import s.implicits._
      val base = CubePack.eventsCube(s, d)
      val daily = base.df
        .groupBy(date_trunc("DAY", col("time")).as("time"), col("y"), col("x"))
        .agg(round(sum(col("v").cast("decimal(28,12)")).cast("double") /
          count(lit(1)), 6).as("v"))
      val cube = Cube(daily, CubePack.gm)
      val times = daily.select(col("time")).distinct().orderBy(col("time"))
        .limit(2).collect().map(_.getTimestamp(0)).toSeq
      val b = VolumeOps.brick(cube, "v", 10.0, 10.0, 110.0, 60.0, times, maxVoxels = 5000L)
      val rows = for {
        t <- 0 until b.nt
        j <- 0L until b.ny
        i <- 0L until b.nx
        v = b.values(((t * b.ny + j) * b.nx + i).toInt) if !v.isNaN
      } yield (t.toLong, j, i, v)
      rows.toDF("ti", "bj", "bi", "v").withColumn("stride", lit(b.stride.toLong))
    }),

    // normalize_geometry with an anti-meridian bbox (geom.py:559-638,
    // 720-738): (150,-50,-150,50) splits into two polygons; the mask is the
    // OR of the two geometry predicates over a ±180-longitude cube.
    "q_antimeridian" -> ((s, d) => {
      val cube = CubePack.eventsCube(s, d)
      val df = cube.df
        .withColumn("lon", col("x") - 180.0)
        .withColumn("lat", col("y") - 50.0)
      val wkts = GeomFunctions.normalizeGeometry((150.0, -50.0, -150.0, 50.0))
      val mask = wkts.map(w => GeomFunctions.geomMask(w)(col("lon"), col("lat")))
        .reduce(_ || _)
      df.filter(mask).groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum(col("v")), 6).as("sum_v"))
    }),

    // get_dataset_indexes over irregular cell BOUNDS (extract.py:321-414):
    // left-closed (lower, upper) bins, −1 where no bin contains the
    // coordinate (the gap [120,200) and the tails).
    "q_bounds_indexes" -> ((s, d) => {
      import s.implicits._
      val bounds = Seq((0L, 0.0, 50.0), (1L, 50.0, 120.0), (2L, 200.0, 300.0))
        .toDF("idx", "lower", "upper")
      val pts = CubePack.eventsCube(s, d).df.select(col("x"), col("v"))
      ExtractOps.indexesFromBounds(pts, bounds, "x", "x_index")
        .groupBy("x_index")
        .agg(count(lit(1)).as("n"), round(sum(col("v")), 6).as("sum_v"))
    }),

    // nearest-cell lookup (.sel Nearest, extract.py regular-grid fast path):
    // off-center probes snap back to their containing cell's center; the
    // snap arithmetic (floor + half-res) is mirrored exactly in SQL.
    "q_nearest_cell" -> ((s, d) => {
      val cube = CubePack.eventsCube(s, d)
      val gm = cube.gm
      val probes = cube.df.select(col("event_type"), col("v"),
        (col("x") + 0.25).as("px"), (col("y") - 0.25).as("py"))
      probes.select(col("event_type"), col("v"),
          gm.snapXExpr(col("px")).as("sx"), gm.snapYExpr(col("py")).as("sy"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(sum(col("sx") + col("sy")), 6).as("sum_snap"),
          round(sum(col("v")), 6).as("sum_v"))
    }),

    // rechunk_cube (chunk.py:15-46): repartition by (date, spatial block) is
    // a pure physical op — row set and values are invariant.
    "q_rechunk" -> ((s, d) => {
      val c0 = CubePack.eventsCube(s, d)
      val rc = MaintenanceOps.rechunk(
        c0.copy(gm = c0.gm.copy(tileWidth = 64, tileHeight = 64)))
      rc.df.groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum(col("v")), 6).as("sum_v"))
    }),

    // optimize_dataset / unchunk (optimize.py:15-79): compact a daily
    // aggregate layout to 2 files; data unchanged, file count = target.
    "q_optimize" -> ((s, d) => {
      val path = Fixtures.layout(d, "optimize",
        "daily-agg,files=2,repartition") { path =>
        val daily = GraftSession.events(s, d)
          .groupBy(date_trunc("DAY", col("ts")).as("day"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("sum_value"))
        daily.write.mode("overwrite").parquet(path)
        MaintenanceOps.optimize(s, path, numFiles = 2)
      }
      val nFiles = Option(new java.io.File(path).listFiles()).map(
        _.count(_.getName.endsWith(".parquet"))).getOrElse(0)
      s.read.parquet(path)
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("sum_value")), 6).as("total"))
        .withColumn("n_files", lit(nFiles.toLong))
    }),

    // IVF ANN (IvfOps): with nProbe = nCells the probed set is the whole
    // corpus, so the index search must equal exact brute-force top-k — an
    // oracle for the search machinery that needs no SQL k-means. The index
    // build is a write-once fixture (an IVF codebook is trained once and
    // served many times); the query measures load + probe + top-k, all in
    // ONE plan via searchBatch (the single-query IvfOps.search stays for
    // point-lookup serving and its unit spec).
    "q_ivf_ann" -> ((s, d) => {
      val idx = IvfOps.load(s, ivfFixture(s, d))
      val qs = embs(s, d).filter(col("vec_id") < 3)
      IvfOps.searchBatch(idx, qs, "vec_id", "embedding", "vec_id", "embedding",
          k = 5, nProbe = 4)
        .select("query_id", "vec_id", "cos_sim")
    }),

    // batch IVF ANN: 10 queries resolved in ONE plan (searchBatch — no
    // per-query driver loop). Same oracle trick as q_ivf_ann: with
    // nProbe = nCells every cell is probed, so the result must equal the
    // exact brute-force top-k. Cell pruning (nProbe < nCells) is covered
    // by the unit spec.
    "q_ivf_ann_batch" -> ((s, d) => {
      val idx = IvfOps.load(s, ivfFixture(s, d))
      val qs = embs(s, d).filter(col("vec_id") < 10)
      IvfOps.searchBatch(idx, qs, "vec_id", "embedding", "vec_id", "embedding",
        k = 5, nProbe = 4)
    }),

    // IVF index MAINTENANCE (the FAISS add() contract): the codebook is
    // trained ONCE on the base corpus (vec_id % 10 != 0 — a write-once
    // fixture, like a served index in production); the delta
    // (vec_id % 10 == 0) is folded in by fixed-centroid assignment — no
    // retrain, no rebuild, one zero-shuffle pass over the delta only.
    // With nProbe = nCells the maintained index must return the exact
    // brute-force top-k over base ∪ delta, which is the SQL oracle; the
    // stronger property — maintained list table == rebuilt-by-assignment
    // over the whole corpus — is asserted in PipelineOpsSpec (assignment
    // against a fixed codebook is a pure per-row function). Query 10 is
    // itself a delta row, so appended vectors are exercised as corpus
    // AND as queries.
    "q_ivf_incremental" -> ((s, d) => {
      val path = Fixtures.layout(d, "ivfbase",
        "cells=4,seed=42,iter=5,split=mod10") { path =>
        IvfOps.save(IvfOps.build(
          embs(s, d).filter(col("vec_id") % 10 =!= 0),
          "vec_id", "embedding", nCells = 4), path)
      }
      val idx = IvfOps.append(IvfOps.load(s, path),
        embs(s, d).filter(col("vec_id") % 10 === 0), "vec_id", "embedding")
      val qs = embs(s, d).filter(col("vec_id").isin(3L, 10L, 17L))
      IvfOps.searchBatch(idx, qs, "vec_id", "embedding", "vec_id", "embedding",
        k = 5, nProbe = 4)
    }),

    // GeoJSON FeatureCollection source (store/fs/impl/geodataframe.py:19-96):
    // geometry → WKT + typed property columns, including a missing property.
    "q_geojson" -> ((s, d) => {
      val json =
        """{"type":"FeatureCollection","features":[
          {"type":"Feature","geometry":{"type":"Point","coordinates":[10.0,20.0]},
           "properties":{"name":"alpha","score":1}},
          {"type":"Feature","geometry":{"type":"Polygon",
           "coordinates":[[[0.0,0.0],[10.0,0.0],[10.0,10.0],[0.0,0.0]]]},
           "properties":{"name":"beta","score":2}},
          {"type":"Feature","geometry":{"type":"LineString","coordinates":[[0.0,0.0],[5.0,5.0]]},
           "properties":{"name":"gamma"}}]}"""
      val f = java.io.File.createTempFile("graft_geojson", ".geojson")
      f.deleteOnExit()
      java.nio.file.Files.write(f.toPath, json.getBytes)
      GeoJsonSource.readFeatures(s, f.getAbsolutePath)
        .select(col("geometry"), col("name"), col("score"))
    }),

    // NetCDF classic ingest (dsio.py:359-408): two daily-mean granules are
    // written through the pure-JVM CDF-1 writer, decoded back DISTRIBUTED
    // (one granule per task — the archive-conversion shape), and
    // checksummed per day; the coordinate variables are bound into the
    // checksum so a transposed or mis-strided decode cannot pass.
    "q_netcdf" -> ((s, d) => {
      NetcdfSource.readCubeFiles(s, netcdfFixture(s, d), "v")
        .withColumn("day", regexp_extract(col("file"), "([0-9-]+)\\.nc$", 1))
        .filter(!isnan(col("v")))
        .groupBy("day")
        .agg(count(lit(1)).as("n_cells"),
          round(sum((col("y") + col("x")).cast("decimal(28,10)")), 6)
            .cast("double").as("sum_coord"),
          round(sum(col("v").cast("decimal(28,10)")), 6).cast("double").as("sum_v"))
    }),

    // NetCDF-4 (HDF5 container) IO — what most real satellite/climate
    // archives ship (reference opens via store/fs/impl/dataset.py:231-288).
    // The same two daily-mean grids as q_netcdf are written as HDF5:
    // superblock v0, dimension-scale coords bound via DIMENSION_LIST,
    // chunked B-tree layout with the netCDF-4 shuffle+deflate filter stack —
    // then read back DISTRIBUTED through the SAME NetcdfSource entry point
    // (routed by magic). Identical oracle to q_netcdf: a decode bug in the
    // HDF5 substrate (stride, chunk scatter, filter order, dim binding)
    // cannot produce the same checksums.
    "q_netcdf4" -> ((s, d) => {
      val days = Seq("2024-01-01", "2024-01-02")
      val base = netcdf4Fixture(s, d)
      NetcdfSource.readCubeFiles(s, days.map(day => s"$base/$day.nc"), "v")
        .withColumn("day", regexp_extract(col("file"), "([0-9-]+)\\.nc$", 1))
        .filter(!isnan(col("v")))
        .groupBy("day")
        .agg(count(lit(1)).as("n_cells"),
          round(sum((col("y") + col("x")).cast("decimal(28,10)")), 6)
            .cast("double").as("sum_coord"),
          round(sum(col("v").cast("decimal(28,10)")), 6).cast("double").as("sum_v"))
    }),

    // Sentinel-3 directory-product opener (sentinel3.py:12-99): per-band
    // granules + geo_coordinates.nc assembled into ONE wide cube — band
    // vars bound by the trailing-dims rule (the fixture's tie-point grid,
    // renamed-dims raster and 1-D vector must all fall out), geo rasters
    // joined on the shared measurement grid via the single pivot shuffle.
    // Both band sums AND the per-band geo sums enter the checksum, so a
    // transposed decode, a mis-bound grid, or a decoy leaking in all fail.
    "q_sentinel3" -> ((s, d) => {
      val cube = Sentinel3Source.open(s, sentinel3Fixture(s, d))
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(28,10)")
      cube.agg(
        count(lit(1)).as("n_cells"),
        round(sum(dec(col("longitude") + col("latitude"))), 6)
          .cast("double").as("sum_geo"),
        count(when(!isnan(col("conc_chl")), 1)).as("n_chl"),
        round(sum(dec(when(!isnan(col("conc_chl")), col("conc_chl")))), 6)
          .cast("double").as("sum_chl"),
        round(sum(dec(when(!isnan(col("conc_chl")),
          col("longitude") + col("latitude")))), 6)
          .cast("double").as("geo_chl"),
        count(when(!isnan(col("conc_tsm")), 1)).as("n_tsm"),
        round(sum(dec(when(!isnan(col("conc_tsm")), col("conc_tsm")))), 6)
          .cast("double").as("sum_tsm"),
        round(sum(dec(when(!isnan(col("conc_tsm")),
          col("longitude") + col("latitude")))), 6)
          .cast("double").as("geo_tsm"))
    }),

    // the SAME product through the DataSourceV2 scan engine
    // (format("sentinel3"): per-granule headers assembled into a refs
    // table on the measurement grid — variable pruning and the columnar
    // path on swath reads). Hash-matches q_sentinel3's oracle: the two
    // openers must agree cell for cell.
    "q_sentinel3_dsv2" -> ((s, d) => {
      val cube = s.read.format("sentinel3").load(sentinel3Fixture(s, d))
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(28,10)")
      cube.agg(
        count(lit(1)).as("n_cells"),
        round(sum(dec(col("longitude") + col("latitude"))), 6)
          .cast("double").as("sum_geo"),
        count(when(!isnan(col("conc_chl")), 1)).as("n_chl"),
        round(sum(dec(when(!isnan(col("conc_chl")), col("conc_chl")))), 6)
          .cast("double").as("sum_chl"),
        round(sum(dec(when(!isnan(col("conc_chl")),
          col("longitude") + col("latitude")))), 6)
          .cast("double").as("geo_chl"),
        count(when(!isnan(col("conc_tsm")), 1)).as("n_tsm"),
        round(sum(dec(when(!isnan(col("conc_tsm")), col("conc_tsm")))), 6)
          .cast("double").as("sum_tsm"),
        round(sum(dec(when(!isnan(col("conc_tsm")),
          col("longitude") + col("latitude")))), 6)
          .cast("double").as("geo_tsm"))
    }),

    // The same granules with COMPACT-layout coordinates (HDF5 layout
    // class 0: raw data inline in the object header — what H5D_COMPACT
    // produces for small datasets). Identical oracle to q_netcdf4: a
    // compact-layout decode bug shows up as a coordinate-sum mismatch.
    "q_netcdf4_compact" -> ((s, d) => {
      import NetcdfSource.NcDim
      val days = Seq("2024-01-01", "2024-01-02")
      val base = Fixtures.layout(d, "netcdf4_compact",
        "days=2,grid=360x100,hdf5,compact-coords,mean6") { base =>
        for (day <- days) {
          Hdf5Source.write(s"$base/$day.nc",
            Seq(NcDim("y", 100), NcDim("x", 360)),
            Seq(("y", Array.tabulate(100)(_ + 0.5)),
              ("x", Array.tabulate(360)(_ + 0.5))),
            Seq(("v", Seq("y", "x"), dailyMeanGrid(s, d, day))),
            chunkOf = Map("v" -> Seq(50, 90)),
            compactCoords = true)
        }
      }
      NetcdfSource.readCubeFiles(s, days.map(day => s"$base/$day.nc"), "v")
        .withColumn("day", regexp_extract(col("file"), "([0-9-]+)\\.nc$", 1))
        .filter(!isnan(col("v")))
        .groupBy("day")
        .agg(count(lit(1)).as("n_cells"),
          round(sum((col("y") + col("x")).cast("decimal(28,10)")), 6)
            .cast("double").as("sum_coord"),
          round(sum(col("v").cast("decimal(28,10)")), 6).cast("double").as("sum_v"))
    }),

    // The same granules in the H5F_LIBVER_LATEST physical layout —
    // superblock v3, OHDR v2 object headers, compact link-message groups,
    // data layout v4 (fixed-array chunk index under shuffle+deflate) —
    // read back through the SAME NetcdfSource entry point. Identical
    // oracle to q_netcdf4: a modern-format decode bug (OHDR walk, link
    // resolution, v4 index, filter pipeline v2) cannot reproduce the
    // checksums.
    "q_netcdf4_latest" -> ((s, d) => {
      import NetcdfSource.NcDim
      val days = Seq("2024-01-01", "2024-01-02")
      val base = Fixtures.layout(d, "netcdf4latest",
        "days=2,grid=360x100,hdf5-latest,chunks=50x90,shuffle+deflate,mean6") { base =>
        for (day <- days) {
          Hdf5Source.writeLatest(s"$base/$day.nc",
            Seq(NcDim("y", 100), NcDim("x", 360)),
            Seq(("y", Array.tabulate(100)(_ + 0.5)),
              ("x", Array.tabulate(360)(_ + 0.5))),
            Seq(("v", Seq("y", "x"), dailyMeanGrid(s, d, day))),
            chunkOf = Map("v" -> Seq(50, 90)))
        }
      }
      NetcdfSource.readCubeFiles(s, days.map(day => s"$base/$day.nc"), "v")
        .withColumn("day", regexp_extract(col("file"), "([0-9-]+)\\.nc$", 1))
        .filter(!isnan(col("v")))
        .groupBy("day")
        .agg(count(lit(1)).as("n_cells"),
          round(sum((col("y") + col("x")).cast("decimal(28,10)")), 6)
            .cast("double").as("sum_coord"),
          round(sum(col("v").cast("decimal(28,10)")), 6).cast("double").as("sum_v"))
    }),

    // A 12-variable latest-format granule — one coord + 12 data vars is
    // past libhdf5's 8-link compact maximum, so the root group goes DENSE
    // (fractal heap + lookup3 name-hash v2 B-tree). Three of the twelve
    // variables (vk = daily-mean grid + k) are read back distributed;
    // identical checksum discipline to q_netcdf4, so a link mis-resolved
    // through the heap/B-tree path cannot reproduce the sums.
    "q_netcdf4_dense" -> ((s, d) => {
      import NetcdfSource.NcDim
      val day = "2024-01-01"
      val base = Fixtures.layout(d, "netcdf4dense",
        "grid=360x100,hdf5-latest-dense,12vars,chunks=50x90,mean6") { base =>
        val g = dailyMeanGrid(s, d, day)
        Hdf5Source.writeLatest(s"$base/$day.nc",
          Seq(NcDim("y", 100), NcDim("x", 360)),
          Seq(("y", Array.tabulate(100)(_ + 0.5)),
            ("x", Array.tabulate(360)(_ + 0.5))),
          (1 to 12).map(k => (s"v$k", Seq("y", "x"), g.map(_ + k))),
          chunkOf = (1 to 12).map(k => s"v$k" -> Seq(50, 90)).toMap)
      }
      Seq(3, 7, 11).map { k =>
        NetcdfSource.readCube(s, s"$base/$day.nc", s"v$k")
          .withColumnRenamed(s"v$k", "v").withColumn("k", lit(k.toLong))
      }.reduce(_ unionByName _)
        .filter(!isnan(col("v")))
        .groupBy("k")
        .agg(count(lit(1)).as("n_cells"),
          round(sum((col("y") + col("x")).cast("decimal(28,10)")), 6)
            .cast("double").as("sum_coord"),
          round(sum(col("v").cast("decimal(28,10)")), 6).cast("double").as("sum_v"))
    }),

    // kerchunk over NetCDF-4: both HDF5 granules are indexed into
    // byte-range reference documents (SingleHdf5ToZarr shape — chunk
    // B-trees walked, shuffle+deflate translated to zarr codecs, NO
    // payload copied) and read back THROUGH the refs. Oracle identical to
    // q_netcdf4, so a wrong chunk offset/size/codec mapping cannot pass.
    "q_kerchunk_hdf5" -> ((s, d) => {
      val base = netcdf4Fixture(s, d)
      Seq("2024-01-01", "2024-01-02").map { day =>
        val refsPath = s"$base/$day.refs.json"
        if (!new java.io.File(refsPath).exists())
          java.nio.file.Files.writeString(java.nio.file.Paths.get(refsPath),
            KerchunkSource.scanHdf5(s"$base/$day.nc"))
        s.read.format("kerchunk").option("vars", "v").load(refsPath)
          .withColumn("day", lit(day))
      }.reduce(_ unionByName _)
        .filter(!isnan(col("v")))
        .groupBy("day")
        .agg(count(lit(1)).as("n_cells"),
          round(sum((col("y") + col("x")).cast("decimal(28,10)")), 6)
            .cast("double").as("sum_coord"),
          round(sum(col("v").cast("decimal(28,10)")), 6).cast("double").as("sum_v"))
    }),

    // Zarr v2 group IO (the reference's NATIVE cube format — dsio.py:411-533
    // writes via to_zarr, zarrstore/generic.py:560-660 emits the metadata):
    // a 3-D (time, y, x) daily-mean cube written DISTRIBUTED (one shuffle by
    // chunk id, chunk files assembled+zlib'd per task) and read back
    // DISTRIBUTED (one chunk per task), with the coordinates bound into the
    // checksum so a transposed / mis-strided / mis-chunked decode cannot
    // pass. 1×50×90 chunks → 16 chunk files across 2 days.
    "q_zarr" -> ((s, d) => {
      s.read.format("zarr").option("vars", "v").load(zarrFixture(s, d))
        .filter(!isnan(col("v")))
        .groupBy(col("t").cast("long").as("day_idx"))
        .agg(count(lit(1)).as("n_cells"),
          round(sum((col("y") + col("x")).cast("decimal(28,10)")), 6)
            .cast("double").as("sum_coord"),
          round(sum(col("v").cast("decimal(28,10)")), 6).cast("double").as("sum_v"))
    }),

    // Multi-VARIABLE cube (to_zarr writes whole datasets, not one array):
    // per-cell mean AND count written as two arrays of one group in ONE
    // pass/shuffle (writeCubeVars), read back independently and re-joined
    // on the grid — a lost or cross-wired chunk object in either variable
    // flips the hash.
    "q_zarr_multivar" -> ((s, d) => {
      val days = Seq("2024-01-01", "2024-01-02")
      val base = Fixtures.layout(d, "zarr_multivar",
        "days=2,vars=v+w,chunks=1x50x90,mean6") { base =>
        val df = CubePack.eventsCube(s, d).df
          .filter(to_date(col("time")) === lit(days(0)).cast("date") ||
                  to_date(col("time")) === lit(days(1)).cast("date"))
          .groupBy(to_date(col("time")).cast("string").as("day"),
            floor(col("y")).cast("int").as("j"),
            floor(col("x")).cast("int").as("i"))
          .agg(round(sum(col("v").cast("decimal(28,12)")).cast("double") /
            count(lit(1)), 6).as("v"),
            count(lit(1)).cast("double").as("w"))
          .select(
            when(col("day") === days(0), 0.0).otherwise(1.0).as("t"),
            (col("j").cast("double") + 0.5).as("y"),
            (col("i").cast("double") + 0.5).as("x"),
            col("v"), col("w"))
        ZarrSource.writeCubeVars(df, s"$base/cube.zarr", Seq("v", "w"),
          cubeDims, chunks = Seq(1, 50, 90))
      }
      val group = s"$base/cube.zarr"
      // one scan of both variables: a chunk task decodes v's and w's
      // objects for its key — one pass over the chunk grid, no join
      s.read.format("zarr").option("vars", "v,w").load(group)
        .filter(!isnan(col("v")) && !isnan(col("w")))
        .groupBy(col("t").cast("long").as("day_idx"))
        .agg(count(lit(1)).as("n_cells"),
          round(sum(col("v").cast("decimal(28,10)")), 6).cast("double").as("sum_v"),
          sum(col("w")).cast("long").as("n_events"))
    }),

    // the store catalog as a Spark TableCatalog (store/store.py
    // list/describe/open re-expressed as SQL): the fixture group queried
    // THROUGH spark.sql over the registered catalog — catalog resolution,
    // connector scan and pushdown all sit inside the checked path. Same
    // oracle as q_zarr.
    "q_sql_catalog" -> ((s, d) => {
      val base = new java.io.File(zarrFixture(s, d)).getParent
      s.conf.set("spark.sql.catalog.graftstore",
        classOf[graft.sources.zarr.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graftstore.path", base)
      s.sql(
        """SELECT CAST(t AS BIGINT) AS day_idx, count(1) AS n_cells,
          |  CAST(round(sum(CAST(y + x AS DECIMAL(28,10))), 6) AS DOUBLE)
          |    AS sum_coord,
          |  CAST(round(sum(CAST(v AS DECIMAL(28,10))), 6) AS DOUBLE) AS sum_v
          |FROM graftstore.`cube.zarr`
          |WHERE NOT isnan(v)
          |GROUP BY CAST(t AS BIGINT)""".stripMargin)
    }),

    // PARTIAL aggregate pushdown over data variables: min/max/sum/count
    // of actual cell values grouped by a dim fold INSIDE the partition
    // reader (one partial row per chunk-group crosses the exchange, not
    // one row per cell — dask's blockwise tree-reduction surfaced through
    // Catalyst). The fixture's cells are dyadic rationals (k/64) so the
    // double sums are order-free EXACT and the oracle recomputes them
    // closed-form; the y <= 49.5 predicate is consumed by the reader and
    // prunes half the chunks first. ZarrDsv2Spec pins the plan shape
    // (ZarrVarAggScan, 1 partial row per surviving chunk).
    "q_zarr_agg_push" -> ((s, d) => {
      val group = zarrAggPushFixture(s, d)
      s.read.format("zarr").load(group)
        .filter(col("y") <= 49.5)
        .groupBy(col("t"))
        .agg(count(lit(1)).as("n_cells"), min(col("v")).as("min_v"),
          max(col("v")).as("max_v"), sum(col("v")).as("sum_v"))
        .select(col("t").cast("long").as("t"), col("n_cells"),
          col("min_v"), col("max_v"), col("sum_v"))
    }),

    // archive-directory-as-a-table: a directory of NetCDF granules opens
    // as ONE relational table through format("kerchunk") — first open
    // fleet-scans headers once into a persisted _refs.json index beside
    // the granules; re-opens do zero header IO; a granule that lands
    // AFTER the index exists is scanned alone and stream-merged in. The
    // fixture builds the index over 3 granules, then writes a 4th, so
    // this query's correctness PROVES the incremental merge (t >= 1 also
    // elides granule 0's chunks via concat-dim pruning).
    "q_archive_dsv2" -> ((s, d) => {
      import NetcdfSource.NcDim
      val base = Fixtures.layout(d, "archive",
        "granules=3+1,x=24,incremental-merge") { base =>
        val dir = s"$base/daily.archive"
        new java.io.File(dir).mkdirs()
        def granule(i: Int): Unit =
          NetcdfSource.write(s"$dir/day$i.nc", Seq(NcDim("x", 24)),
            Seq(("x", Array.tabulate(24)(_ + 0.5))),
            Seq(("v", Seq("x"), Array.tabulate(24)(k => i * 100.0 + k))))
        (0 until 3).foreach(granule)
        KerchunkSource.ensureArchiveIndex(s, dir) // fleet scan -> index
        granule(3) // lands after the index: picked up incrementally
      }
      val dir = s"$base/daily.archive"
      s.read.format("kerchunk").load(dir)
        .filter(col("t") >= 1.0)
        .groupBy(col("t").cast("long").as("t"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"))
    }),

    // SUB-chunk zone maps on LARGE-CHUNK granules: each NetCDF granule
    // of this archive is ONE whole-map record (a 256×512 chunk), where
    // chunk-granular stats can only prune whole granules. ANALYZE
    // emits per-strip block rows under a virtual grid (64 strips of
    // 2048 cells), so a narrow value filter fetches the one straddling
    // granule (one ref — IO is chunk-granular regardless) but DECODES
    // only the admitted strips; excluded strips skip the element-wise
    // conversion and carry a fail value (ArchiveSubchunkSpec proves the
    // skip by corrupting excluded strips with in-interval doubles and
    // by the decoded-cell counter). This gate pins the arithmetic.
    "q_archive_subchunk" -> ((s, d) => {
      import NetcdfSource.NcDim
      val base = Fixtures.layout(d, "archivesub",
        "granules=3,maps=256x512,block-analyzed") { base =>
        val dir = s"$base/maps.archive"
        new java.io.File(dir).mkdirs()
        def granule(g: Int): Unit =
          NetcdfSource.write(s"$dir/map$g.nc",
            Seq(NcDim("y", 256), NcDim("x", 512)),
            Seq(("y", Array.tabulate(256)(_.toDouble)),
              ("x", Array.tabulate(512)(_.toDouble))),
            Seq(("v", Seq("y", "x"),
              Array.tabulate(256 * 512)(k => g * 1e6 + k))))
        (0 until 3).foreach(granule)
        graft.sources.zarr.ChunkStats.analyzeArchive(s, dir)
        ()
      }
      val dir = s"$base/maps.archive"
      s.read.format("kerchunk").load(dir)
        .filter(col("v") >= 1010000.0 && col("v") < 1014096.0)
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"),
          min(col("v")).as("min_v"), max(col("v")).as("max_v"))
    }),

    // the PARQUET archive index: data-chunk refs live in a distributed
    // side table (the kerchunk parquet-refs evolution) and planning
    // broadcast-joins the pruned key set against it — driver memory is
    // the query's own refs at ANY archive size. Same incremental-merge
    // proof shape as q_archive_dsv2: the fixture indexes 3 granules then
    // drops a 4th, so a green result certifies the parquet append path.
    "q_archive_parquet" -> ((s, d) => {
      import NetcdfSource.NcDim
      val base = Fixtures.layout(d, "archivepq",
        "granules=3+1,x=24,parquet-index") { base =>
        val dir = s"$base/daily.archive"
        new java.io.File(dir).mkdirs()
        def granule(i: Int): Unit =
          NetcdfSource.write(s"$dir/day$i.nc", Seq(NcDim("x", 24)),
            Seq(("x", Array.tabulate(24)(_ + 0.5))),
            Seq(("v", Seq("x"), Array.tabulate(24)(k => i * 100.0 + k))))
        (0 until 3).foreach(granule)
        KerchunkSource.ensureArchiveIndex(s, dir,
          indexFormat = "parquet") // fleet scan -> distributed index
        granule(3) // lands after the index: appended as new part files
      }
      val dir = s"$base/daily.archive"
      s.read.format("kerchunk").option("indexFormat", "parquet").load(dir)
        .filter(col("t") >= 1.0)
        .groupBy(col("t").cast("long").as("t"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"))
    }),

    // block-key GROUP BY over DIMS is metadata-only: the whole answer is
    // driver math over the resident coordinate arrays (per-key buckets of
    // each dim's in-range values, combos multiplied across keys) — ZERO
    // chunk reads, the pyramid-planning query shape at 100 TB. The spec
    // proves the zero-IO claim by corrupting every chunk; this gate pins
    // the arithmetic against DuckDB (all sums exact: halves and integers).
    "q_zarr_block_meta" -> ((s, d) => {
      val group = zarrAggPushFixture(s, d)
      s.read.format("zarr").load(group)
        .filter(col("x") <= 179.5)
        .groupBy(floor(col("t") / 2.0).as("bt"),
          floor(col("y") / 25.0).as("bj"))
        .agg(count(lit(1)).as("n_cells"), min(col("y")).as("min_y"),
          max(col("y")).as("max_y"), sum(col("x")).as("sum_x"),
          avg(col("t")).as("avg_t"))
    }),

    // top-n over a DATA VARIABLE — the "hottest cells" peek: no slab
    // structure to cut on, so the connector folds each task's best k rows
    // in a bounded heap over the FULL sort tuple (ZarrTopNScan) and the
    // exchange carries O(tasks x k) rows, never O(cells); Spark re-sorts
    // the partials above. Ties on v break deterministically on (t, y, x).
    "q_zarr_topn_var" -> ((s, d) => {
      val group = zarrAggPushFixture(s, d)
      s.read.format("zarr").load(group)
        .orderBy(col("v").desc, col("t"), col("y"), col("x"))
        .limit(100)
        .select(col("t").cast("long").as("t"), col("y"), col("x"), col("v"))
    }),

    // BLOCK-KEY grouped aggregate pushdown — the subsample / pyramid-build
    // / resample shape (reference subsampling.py:25-135, level.py:107):
    // GROUP BY t, floor(y/10), floor(x/60) with var aggregates folds
    // per chunk INSIDE the reader (ZarrVarAggScan block keys), so building
    // a level from a 10^7-chunk archive exchanges O(chunks x groups)
    // partial rows, never O(cells). Cells are dyadic (k/64) -> sums are
    // order-free exact; avg rides Spark's avg->sum/count partial rewrite
    // and is recomputed in the oracle as sum/count (one exact division).
    "q_zarr_block_agg" -> ((s, d) => {
      val group = zarrAggPushFixture(s, d)
      s.read.format("zarr").load(group)
        .groupBy(col("t"), floor(col("y") / 10.0).as("bj"),
          floor(col("x") / 60.0).as("bi"))
        .agg(count(lit(1)).as("n_cells"), sum(col("v")).as("sum_v"),
          min(col("v")).as("min_v"), max(col("v")).as("max_v"),
          avg(col("v")).as("avg_v"))
        .select(col("t").cast("long").as("t"), col("bj"), col("bi"),
          col("n_cells"), col("sum_v"), col("min_v"), col("max_v"),
          col("avg_v"))
    }),

    // CALENDAR group-key pushdown — resample_in_time("1M") FROM the
    // connector (reference resampling/temporal.py:17-161): the time dim
    // scaled to epoch seconds and cast to timestamp, grouped by
    // year/month. The EXTRACT keys fold per chunk inside the reader
    // (ZarrVarAggScan Extract kind, Spark-exact cast truncation +
    // session-timezone calendar), so a "1M" resample over a 10^7-chunk
    // archive exchanges O(chunks x months) partial rows, never O(cells).
    // t x 31 days puts the 4 slices in Jan..Apr 1970; sums stay dyadic
    // exact. ZarrDsv2Spec pins the plan (12 partial rows for 12 chunks).
    "q_zarr_time_agg" -> ((s, d) => {
      val group = zarrAggPushFixture(s, d)
      val ts = (col("t") * 2678400.0).cast("timestamp")
      s.read.format("zarr").load(group)
        .groupBy(year(ts).as("yr"), month(ts).as("mo"))
        .agg(count(lit(1)).as("n_cells"), sum(col("v")).as("sum_v"),
          min(col("v")).as("min_v"), max(col("v")).as("max_v"))
        .select(col("yr").cast("long").as("yr"),
          col("mo").cast("long").as("mo"), col("n_cells"), col("sum_v"),
          col("min_v"), col("max_v"))
    }),

    // polygon TIME SERIES from the connector, chunk-pruned: clipToBbox
    // drops rows outside the geometry's bounding box with a RECTANGULAR
    // filter the scan consumes — 16 of 32 chunks plan; the exact JTS
    // point-in-polygon mask runs Spark-side on the survivors (it cannot
    // fold into a chunk reader; the bbox can). The most common serving
    // query (webapi/timeseries/controllers.py) at archive scale.
    "q_zarr_timeseries" -> ((s, d) => {
      import graft.cube.{Cube, GridMapping}
      val group = zarrAggPushFixture(s, d)
      val gm = GridMapping(360, 100, 0.0, 0.0, 1.0, 1.0)
      val cube = Cube(s.read.format("zarr").load(group), gm, "t", "y", "x")
      graft.operators.TimeSeriesOps.getTimeSeries(cube, "v",
          geometryWkt = Some("POLYGON ((0 0, 120 0, 0 60, 0 0))"),
          methods = Seq("mean", "count", "min", "max"), clipToBbox = true)
        .select(col("time").cast("long").as("time"), col("v_mean"),
          col("v_count"), col("v_min"), col("v_max"))
    }),

    // the calendar INVENTORY — GROUP BY year, month with dim-only
    // aggregates is METADATA-ONLY (ZarrAggScan: same-dim extract keys
    // bucket jointly over the resident time coordinate, zero chunk IO)
    // — "how many slices does each month hold" over a 100 TB archive is
    // driver math. ZarrDsv2Spec proves the zero-IO claim by corrupting
    // every chunk.
    "q_zarr_time_meta" -> ((s, d) => {
      val group = zarrAggPushFixture(s, d)
      val ts = (col("t") * 2678400.0).cast("timestamp")
      s.read.format("zarr").load(group)
        .groupBy(year(ts).as("yr"), month(ts).as("mo"))
        .agg(count(lit(1)).as("n_cells"), min(col("t")).as("min_t"),
          max(col("t")).as("max_t"))
        .select(col("yr").cast("long").as("yr"),
          col("mo").cast("long").as("mo"), col("n_cells"), col("min_t"),
          col("max_t"))
    }),

    // VALUE-DERIVED group-key pushdown — compute_statistics' histogram
    // FROM the connector (reference webapi/statistics/controllers.py:
    // 114-117): GROUP BY floor((v - lo)/w) over the DATA variable. The
    // bucket is computable from the decoded cell, so the fold is per
    // chunk — O(chunks x bins) partial rows cross the exchange, never
    // O(cells). ZarrDsv2Spec pins the plan + partial-row bound.
    "q_zarr_histogram" -> ((s, d) => {
      val group = zarrAggPushFixture(s, d)
      s.read.format("zarr").load(group)
        .groupBy(floor((col("v") - 2.0) / 4.0).as("bin"))
        .agg(count(lit(1)).as("n_cells"), min(col("v")).as("min_v"),
          max(col("v")).as("max_v"))
    }),

    // SECOND-MOMENT pushdown — compute_statistics FROM the connector
    // through the OPERATOR (StatsOps.statisticsFold): Spark
    // partial-pushes only Min/Max/Sum/Count, so the sample std ships as
    // NaN-guarded count/sum/sum-of-squares partials (ZarrVarAggScan
    // squared specs) and the moment math finishes above the scan. The
    // finishing ops (+, -, x, /, sqrt) are IEEE correctly-rounded in
    // both engines over the same exact dyadic sums.
    "q_zarr_stats" -> ((s, d) => {
      val group = zarrAggPushFixture(s, d)
      graft.operators.StatsOps.statisticsFold(
        s.read.format("zarr").load(group), "v")
    }),

    // compute_statistics' density HISTOGRAM from the connector through
    // the OPERATOR (StatsOps.histogramFold): pass 1 (guarded
    // min/max/count) folds per chunk, pass 2 groups by the pushed
    // floor((v - lo)/w) bucket key — O(chunks x bins) partial rows, the
    // half-open top edge restored above the aggregate.
    "q_zarr_histogram_op" -> ((s, d) => {
      val group = zarrAggPushFixture(s, d)
      graft.operators.StatsOps.histogramFold(
        s.read.format("zarr").load(group), "v", 16)
    }),

    // resample_in_time("1M") from the connector through the OPERATOR
    // (TemporalOps.resampleInTimeNumeric over the CF-decoded numeric
    // time axis): year/month extract keys fold per chunk, the
    // month-start label is rebuilt above the aggregate from the pushed
    // key columns. Spark's avg rides the sum/count partial rewrite, so
    // the mean is exact over the dyadic fixture.
    "q_zarr_resample_num" -> ((s, d) => {
      val group = zarrAggPushFixture(s, d)
      graft.operators.TemporalOps.resampleInTimeNumeric(
        s.read.format("zarr").load(group), "t", 2678400.0, "1M",
        Seq("v" -> "mean", "v" -> "count", "v" -> "max"))
    }),

    // values_for_points THROUGH the connector, chunk-pruned: the points'
    // snapped cell coordinates ship as In filters the scan consumes into
    // per-dim interval sets (ExtractOps.pruneCellsForIndexes — Spark's
    // own DPP cannot plant this because double join keys get wrapped in
    // NormalizeNaNAndZero), so a 400-point lookup against a 10^7-chunk
    // archive decodes only the chunks the points live in; the broadcast
    // gather join then matches exactly. Out-of-range points keep index
    // −1 and the NaN-fill cells of eventless grid positions report
    // found=false, exactly like the parquet-path q_points_extract (same
    // oracle). ZarrDsv2Spec proves the pruning by corrupting every chunk
    // the points do NOT touch.
    "q_points_dsv2" -> ((s, d) => {
      import graft.operators.ExtractOps
      val group = pointsZarrFixture(s, d)
      val zc = s.read.format("zarr").load(group) // (y, x, v)
      val points = GraftSession.table(s, d, "orders")
        .filter(col("o_orderkey") < 400)
        .select(col("o_orderkey").as("point_id"),
          ((col("o_orderkey") % 500) * 0.9 - 20.0).as("px"),
          ((col("o_custkey") % 130) - 10.0).cast("double").as("py"))
      val idx = ExtractOps.pointIndexes(points, CubePack.gm, "px", "py")
        .select(col("point_id"), col("x_index"), col("y_index"))
      val pruned = ExtractOps.pruneCellsForIndexes(zc, CubePack.gm, idx)
      val gathered = pruned.join(
          broadcast(idx.filter(col("x_index") >= 0L && col("y_index") >= 0L)),
          pruned("x") === col("x_index") + 0.5 &&
            pruned("y") === col("y_index") + 0.5)
        .select(col("point_id"), col("v"))
      idx.join(gathered, Seq("point_id"), "left_outer")
        .select(col("point_id"), col("x_index"), col("y_index"),
          (col("v").isNotNull && !isnan(col("v"))).as("found"),
          when(col("v").isNull || isnan(col("v")), lit(-9999.0))
            .otherwise(col("v")).as("v_out"))
    }),

    // subsample MODE from the connector in the two-stage foldable form
    // (SubsampleOps.subsampleModeFold): stage 1 — (t, blockJ, blockI,
    // value) counts — pushes as block keys + the raw-value key and folds
    // per chunk; stage 2 picks most-frequent-ties-to-smallest over
    // O(blocks x values) rows. The ModeAgg UDAF path stays for dense
    // all-NaN-block grids; this is the scan-shaped alternative.
    "q_zarr_subsample_mode" -> ((s, d) => {
      import graft.cube.{Cube, GridMapping}
      val group = zarrAggPushFixture(s, d)
      val gm = GridMapping(360, 100, 0.0, 0.0, 1.0, 1.0)
      val cube = Cube(s.read.format("zarr").load(group), gm, "t", "y", "x")
      val (out, _) = graft.operators.SubsampleOps.subsampleModeFold(
        cube, 50, "v")
      out
    }),

    // int-variable subsample (auto rule int→first, reference
    // subsampling.py:210-229) FROM the connector: first-of-each-block in
    // row-major order IS the block's origin cell, so the whole operator
    // is a stride-k gather — the kept coordinate values ship as In
    // filters the scan consumes and prunes chunks with (Spark cannot
    // push FIRST as a DSv2 aggregate; it never needs to). k=120 over the
    // 100x360 grid keeps 3 cells/slice and plans 12 of 32 chunks
    // (ZarrDsv2Spec pins the pruning).
    "q_zarr_subsample_first" -> ((s, d) => {
      import graft.cube.{Cube, GridMapping}
      val group = zarrAggPushFixture(s, d)
      val gm = GridMapping(360, 100, 0.0, 0.0, 1.0, 1.0)
      val cube = Cube(s.read.format("zarr").load(group), gm, "t", "y", "x")
      val (out, _) = graft.operators.SubsampleOps.subsampleFirst(
        cube, 120, Seq("v"))
      out.select(col("t").cast("long").as("t"), col("block_j"),
        col("block_i"), col("v_first"))
    }),

    // VALUE-predicate chunk pruning through the ANALYZE sidecar — the
    // zone maps parquet row groups get for free, for cube stores: WHERE
    // m > 2200 over the analyzed group plans ONLY the chunks whose
    // per-chunk [min,max] can reach it (m is spatially monotone, so the
    // trailing 2 of 32 chunks). On a 10^7-chunk archive a selective
    // value filter reads its answer's chunks, not the archive
    // (ChunkStatsSpec proves the elision by corrupting pruned chunks).
    "q_zarr_value_prune" -> ((s, d) => {
      val group = zarrStatsFixture(s, d)
      s.read.format("zarr").load(group)
        .filter(col("m") > 2200.0)
        .select(col("t").cast("long").as("t"), col("y"), col("x"),
          col("v"), col("m"))
    }),

    // MASKED statistics — the compute_statistics valid-range shape: the
    // value mask is a CONSUMED predicate (the cursor re-evaluates it per
    // decoded cell), so the aggregate still pushes below the scan and
    // folds per chunk; the sidecar prunes chunks the mask provably
    // excludes. Mask on m, aggregate v: the scan decodes both, outputs
    // one.
    "q_zarr_masked_stats" -> ((s, d) => {
      val group = zarrStatsFixture(s, d)
      s.read.format("zarr").load(group)
        .filter(col("m") > 500.0 && col("m") <= 1500.0)
        .groupBy(col("t"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"),
          min(col("v")).as("min_v"), max(col("v")).as("max_v"))
        .select(col("t").cast("long").as("t"), col("n"), col("sum_v"),
          col("min_v"), col("max_v"))
    }),

    // compute_statistics answered from the sidecar alone: every chunk is
    // fully selected with derivable moments, so the partial rows are
    // planning-time stat rows — ZERO chunk IO (ChunkStatsSpec corrupts
    // every chunk to prove it); this gate pins the ANALYZE arithmetic
    // against DuckDB.
    "q_zarr_stats_meta" -> ((s, d) => {
      val group = zarrStatsFixture(s, d)
      graft.operators.StatsOps.statisticsFold(
        s.read.format("zarr").load(group), "v")
    }),

    // exact MEDIAN through the connector — the one reference aggregation
    // xcube MUST_LOAD the whole array for (core/timeseries.py:40-47,
    // resampling/temporal.py:17-161 median): pass 0 (guarded
    // count/min/max) folds per chunk, each refinement round is a pushed
    // bucket histogram under a CONSUMED value-interval filter (rounds
    // ≥ 2 rescan straddling chunks only — QuantileFoldSpec corruption
    // proof), and the finish is the pushed raw-value key. Driver work is
    // O(rounds × bins) histogram rows, never O(cells).
    "q_zarr_median" -> ((s, d) => {
      val group = zarrAggPushFixture(s, d)
      graft.operators.QuantileOps.quantileFold(
        s.read.format("zarr").load(group), "v", Seq(0.5))
        .select(col("p"), round(col("value"), 6).as("value"))
    }),

    // ANALYZE through SQL: Spark refuses ANALYZE TABLE on v2 tables, so
    // the stats tier's SQL face is a DSv2 PROCEDURE on the store catalog
    // — CALL <catalog>.analyze(entry => ...). The gate runs the CALL on
    // its own fixture store (a sidecar would change the shared fixture's
    // plan audits), then answers compute_statistics' aggregate pass from
    // the sidecar it just wrote — planning-time stat rows, zero chunk IO
    // (SqlAnalyzeSpec proves zero-IO by corrupting every payload; this
    // gate pins the CALL plumbing + arithmetic against DuckDB).
    "q_sql_analyze" -> ((s, d) => {
      val group = zarrAggPushFixture(s, d, tag = "sqlanalyze")
      val root = new java.io.File(group).getParent
      s.conf.set("spark.sql.catalog.graftsql",
        "graft.sources.zarr.GraftCatalog")
      s.conf.set("spark.sql.catalog.graftsql.path", root)
      s.sql("CALL graftsql.analyze(entry => 'cube.zarr')").collect()
      s.sql("SELECT count(v) AS n, min(v) AS v_min, max(v) AS v_max, " +
        "round(sum(v) / count(v), 6) AS v_mean FROM graftsql.`cube.zarr`")
    }),

    // resample_in_time MEDIAN through the connector — the grouped
    // companion of q_zarr_median (TemporalOps.resampleQuantileFold):
    // per-bucket count + global min/max fold per chunk, the (bucket ×
    // value-bucket) histogram folds per chunk, and the exact finish
    // rescans only the straddling value buckets under a consumed
    // same-column Or of their bit-exact intervals. The last
    // resample_in_time method without a pushed form.
    "q_zarr_resample_median" -> ((s, d) => {
      val group = zarrAggPushFixture(s, d)
      graft.operators.TemporalOps.resampleQuantileFold(
        s.read.format("zarr").load(group), "t", 86400.0, "2D", "v", 0.5)
        .select(col("t"), round(col("v_median"), 6).as("v_median"))
    }),

    // a per-bucket PERCENTILE TABLE in one shot: quartiles share pass 0,
    // the single pass-1 value-bucket histogram and one straddler rescan
    // (resampleQuantileFoldMulti) — the cost of one median, not 3×
    // (ResampleFoldSpec proves the sharing by decoded-cell counts)
    "q_zarr_resample_quartiles" -> ((s, d) => {
      val group = zarrAggPushFixture(s, d)
      graft.operators.TemporalOps.resampleQuantileFoldMulti(
        s.read.format("zarr").load(group), "t", 86400.0, "2D", "v",
        Seq(0.25, 0.5, 0.75))
        .select(col("t"), round(col("v_percentile_25"), 6).as("q1"),
          round(col("v_median"), 6).as("q2"),
          round(col("v_percentile_75"), 6).as("q3"))
    }),

    // get_time_series MEDIAN per time step through the connector — THE
    // MUST_LOAD aggregate (reference timeseries.py:40-47: the one method
    // xcube loads the whole array for): a per-slice exact median via the
    // calendar-keyed grouped quantile fold (each month bucket == one
    // time slice on this fixture), calendar + value-bucket composite
    // keys folding per chunk.
    "q_zarr_timeseries_median" -> ((s, d) => {
      val group = zarrAggPushFixture(s, d)
      graft.operators.TemporalOps.resampleQuantileFold(
        s.read.format("zarr").load(group), "t", 2678400.0, "1M", "v", 0.5,
        labelCol = "time")
        .select(col("time"), round(col("v_median"), 6).as("v_median"))
    }),

    // exact PERCENTILES over the ANALYZEd monotone variable: pass 0
    // answers count/min/max from the sidecar with zero chunk IO, the
    // round-1 histogram answers every single-bucket chunk from its
    // moments alone, and deeper rounds decode only the straddling
    // chunks the zone maps admit. Dyadic fractions keep the
    // percentile_cont interpolation bit-exact across engines.
    "q_zarr_percentile" -> ((s, d) => {
      val group = zarrStatsFixture(s, d)
      graft.operators.QuantileOps.quantileFold(
        s.read.format("zarr").load(group), "m", Seq(0.25, 0.75, 0.96875))
        .select(col("p"), round(col("value"), 6).as("value"))
    }),

    // SUB-chunk zone maps on a serving-shaped layout: a 1×2048×2048
    // sharded v3 cube (1×512×512 shards of 1×128×128 inner chunks, born
    // with per-inner-chunk stat rows) answers a selective value filter by
    // fetching the shard index plus ONLY the admitted inner chunks' byte
    // ranges — chunk-granular zone maps cannot prune here (shard value
    // ranges overlap); block rows prune 255 of 256 inner chunks.
    // SubchunkStatsSpec proves the IO elision by corrupting every
    // excluded inner chunk in place; this gate pins the arithmetic.
    "q_zarr_subchunk" -> ((s, d) => {
      val group = zarrSubchunkFixture(s, d)
      s.read.format("zarr").load(group)
        .filter(col("v") >= 37.0 && col("v") < 38.0)
        .agg(count(lit(1)).as("n"), round(sum(col("v")), 6).as("sum_v"),
          min(col("v")).as("min_v"), max(col("v")).as("max_v"))
    }),

    // multi-feature ZONAL STATISTICS from the connector, chunk-pruned:
    // the feature layer's per-dim bbox UNIONS ship as consumed
    // same-column Or filters (interval sets the scan prunes chunks
    // with — chunks between features never read in the pruned dims),
    // the exact Or-of-rectangles runs as a residual codegen filter on
    // the survivors, and the per-zone aggregate runs above. The server's
    // per-feature statistics endpoint over an archive
    // (webapi/statistics/controllers.py + geom.py:51-281 shape).
    // ZonalPruneSpec proves the pruning by corrupting all chunks the
    // unions exclude.
    "q_zarr_zonal" -> ((s, d) => {
      import graft.cube.{Cube, GridMapping}
      val group = zarrStatsFixture(s, d)
      val gm = GridMapping(360, 100, 0.0, 0.0, 1.0, 1.0)
      val cube = Cube(s.read.format("zarr").load(group), gm, "t", "y", "x")
      val clipped = graft.operators.GeomOps.clipToFeatureBboxes(cube, Seq(
        "POLYGON ((5 5, 40 5, 40 40, 5 40, 5 5))",
        "POLYGON ((200 60, 260 60, 260 90, 200 90, 200 60))"))
      val zone =
        when(col("x").between(5.0, 40.0) && col("y").between(5.0, 40.0), 0L)
          .when(col("x").between(200.0, 260.0) &&
            col("y").between(60.0, 90.0), 1L)
      clipped.df.withColumn("zone", zone)
        .groupBy("zone")
        .agg(count(lit(1)).as("n_cells"), round(sum(col("v")), 6).as("sum_v"))
    }),

    // get_time_series MEDIAN under a GEOMETRY mask — the reference's
    // actual endpoint shape (timeseries.py:154-172 masks by geometry,
    // :40-47 MUST_LOADs for the median): the feature layer's per-dim
    // bbox unions ship as consumed interval sets (chunks between the
    // islands never read — MaskedMedianPruneSpec corruption proof), the
    // exact triangle/box containment runs as a residual codegen filter
    // BELOW the fold's aggregates, and the per-slice exact median runs
    // as the grouped quantile fold over the survivors.
    "q_zarr_timeseries_median_geom" -> ((s, d) => {
      import graft.cube.{Cube, GridMapping}
      val group = zarrStatsFixture(s, d)
      val gm = GridMapping(360, 100, 0.0, 0.0, 1.0, 1.0)
      val cube = Cube(s.read.format("zarr").load(group), gm, "t", "y", "x")
      val wkts = Seq(
        "POLYGON ((5 5, 45 5, 5 45, 5 5))", // triangle: mask ≠ its bbox
        "POLYGON ((200 60, 260 60, 260 90, 200 90, 200 60))")
      val clipped = graft.operators.GeomOps.clipToFeatureBboxes(cube, wkts)
      val inGeom = wkts.map(w =>
        graft.functions.GeomFunctions.geomMask(w)(col("x"), col("y")))
        .reduce(_ || _)
      graft.operators.TemporalOps.resampleQuantileFold(
        clipped.df.filter(inGeom), "t", 2678400.0, "1M", "v", 0.5,
        labelCol = "time")
        .select(col("time"), round(col("v_median"), 6).as("v_median"))
    }),

    // resample argmax FROM the connector, two-phase: the per-bucket
    // extreme folds per chunk, then a `v IN (extremes)` gather — a
    // consumed value predicate the sidecar prunes on — finishes with the
    // exact (value, time)-struct argmax; ties break to the LATEST time,
    // deterministically (reference resample method argmax,
    // cli/resample.py:18-41).
    "q_zarr_argmax" -> ((s, d) => {
      val group = zarrStatsFixture(s, d)
      graft.operators.TemporalOps.resampleArgFold(
        s.read.format("zarr").load(group), "t", 2678400.0, "1Q", "v",
        argmax = true, extraKeys = Seq("y"))
    }),

    // resample FIRST from the connector: the first-valid-time partial
    // (min of the cross-guarded time) folds per chunk, then only those
    // time slices are gathered back (dim In filter -> chunk pruning) —
    // O(buckets) exchange, O(selected slices) IO.
    "q_zarr_first" -> ((s, d) => {
      val group = zarrStatsFixture(s, d)
      graft.operators.TemporalOps.resampleFirstLastFold(
        s.read.format("zarr").load(group), "t", 2678400.0, "1Q",
        Seq("v"), last = false, extraKeys = Seq("y", "x"))
    }),

    // ZONE-MAP top-n: ORDER BY m DESC LIMIT 50 over the analyzed store
    // skips every chunk whose per-chunk max provably loses to the 50th
    // guaranteed value — the "hottest cells" query reads 1 chunk of 32
    // on this fixture (m is spatially monotone; ChunkStatsSpec proves
    // the elision by corrupting every losing chunk). m is cell-unique,
    // so the result is tie-free deterministic.
    "q_zarr_topn_stats" -> ((s, d) => {
      val group = zarrStatsFixture(s, d)
      s.read.format("zarr").load(group)
        .orderBy(col("m").desc, col("t"), col("y"), col("x"))
        .limit(50)
        .select(col("t").cast("long").as("t"), col("y"), col("x"), col("m"))
    }),

    // resample std/var from the connector: the sample moments ship as
    // NaN-guarded count/sum/sum-of-squares partials (Spark only
    // partial-pushes Min/Max/Sum/Count) and the moment math finishes
    // above the scan — every finishing op (+, −, ×, ÷, sqrt) is IEEE
    // correctly-rounded in both engines over the same exact dyadic sums.
    "q_zarr_resample_std" -> ((s, d) => {
      val group = zarrStatsFixture(s, d)
      graft.operators.TemporalOps.resampleInTimeNumeric(
          s.read.format("zarr").load(group), "t", 2678400.0, "1M",
          Seq("v" -> "std", "v" -> "var", "v" -> "mean", "v" -> "count"))
        .select(col("t"), round(col("v_std"), 6).as("v_std"),
          round(col("v_var"), 6).as("v_var"),
          round(col("v_mean"), 6).as("v_mean"), col("v_count"))
    }),

    // resample any/all from the connector: truthiness ships as min/max
    // of the guarded SQUARE (v ≠ 0 ⇔ v·v > 0 — the only all/any form
    // the DSv2 aggregate surface can fold), finished above the scan.
    "q_zarr_anyall" -> ((s, d) => {
      val group = zarrStatsFixture(s, d)
      graft.operators.TemporalOps.resampleInTimeNumeric(
        s.read.format("zarr").load(group), "t", 2678400.0, "1Q",
        Seq("v" -> "any", "v" -> "all"), extraKeys = Seq("y"))
    }),

    // interval-set pushdown through the connector: In on t prunes per
    // VALUE (the middle t-slices never plan), a same-dim Or on x prunes
    // to the union of branch rectangles (2 of 4 x-chunks), and != on y is
    // consumed via interval complement — all three evaluated by the
    // reader with Spark's own double semantics, no Spark-side Filter
    // node, which is what lets the aggregate push below the scan
    // (ZarrVarAggScan: per-chunk partial fold; avg(x) rides Spark's
    // avg→sum/count pushdown rewrite). Cells are dyadic so every sum is
    // order-free exact; the oracle recomputes the selection closed-form.
    "q_zarr_interval_scan" -> ((s, d) => {
      val group = zarrAggPushFixture(s, d)
      s.read.format("zarr").load(group)
        .filter(col("t").isin(0.0, 2.0) && col("y") =!= 50.5 &&
          (col("x") < 90.5 || col("x") > 269.5))
        .groupBy(col("t"))
        .agg(count(lit(1)).as("n_cells"), sum(col("y")).as("sum_y"),
          avg(col("x")).as("avg_x"), sum(col("v")).as("sum_v"))
        .select(col("t").cast("long").as("t"), col("n_cells"),
          col("sum_y"), col("avg_x"), col("sum_v"))
    }),

    // top-n pushdown through the connector — the "latest slices" peek:
    // ORDER BY t DESC LIMIT n plans only the trailing time slabs (the
    // scan cuts at slab boundaries, so the superset always contains the
    // true top-n; Spark's TakeOrdered re-applies the full sort above).
    // Unique (t,y,x) triples make the result deterministic.
    "q_zarr_topn" -> ((s, d) => {
      val group = zarrAggPushFixture(s, d)
      s.read.format("zarr").load(group)
        .orderBy(col("t").desc, col("y").desc, col("x").desc)
        .limit(500)
        .select(col("t").cast("long").as("t"), col("y"), col("x"), col("v"))
    }),

    // mixed-grid groups through the connector: one group holding two
    // grids opens per grid with option("vars", ...) — the whole-group
    // open is rejected loudly (asserted in ZarrDsv2Spec); here both
    // grids' aggregates come back from one store through two tables.
    "q_zarr_vars" -> ((s, d) => {
      val tmp = Fixtures.scratch(d, "zvars")
      val g = s"$tmp/mixed.zarr"
      val t = Array.tabulate(6)(_.toDouble)
      val xa = Array.tabulate(4)(_.toDouble)
      ZarrSource.writeCube(
        s.range(24).select((col("id") / 4).cast("long").cast("double").as("t"),
          (col("id") % 4).cast("double").as("xa"),
          (col("id") * 3 + 1).cast("double").as("v")),
        g, "v", Seq("t" -> t, "xa" -> xa), chunks = Seq(2, 4))
      val yb = Array.tabulate(3)(_ + 0.5)
      val xb = Array.tabulate(5)(_ + 0.5)
      ZarrSource.writeCube(
        s.range(15).select((col("id") / 5).cast("long").cast("double") + 0.5,
          (col("id") % 5).cast("double") + 0.5,
          (col("id") * 2).cast("double"))
          .toDF("yb", "xb", "w"),
        g, "w", Seq("yb" -> yb, "xb" -> xb), chunks = Seq(3, 5))
      val a = s.read.format("zarr").option("vars", "v").load(g)
        .filter(col("t") >= 2.0)
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
        .select(lit("a").as("grid"), col("n"), col("sv"))
      val b = s.read.format("zarr").option("vars", "w").load(g)
        .agg(count(lit(1)).as("n"), sum(col("w")).as("sv"))
        .select(lit("b").as("grid"), col("n"), col("sv"))
      a.unionByName(b)
    }),

    // SQL DELETE as trailing-slice truncation (the rolling-archive
    // maintenance op): a fresh group loses its t >= 6 slices through
    // the catalog, in place — shapes shrink, beyond-cut chunks delete —
    // and the connector reads back exactly the surviving cells. Dyadic
    // values keep the sum exact.
    "q_zarr_delete" -> ((s, d) => {
      val tmp = Fixtures.scratch(d, "zdelq")
      val g = s"$tmp/series.zarr"
      val t = Array.tabulate(10)(_.toDouble)
      val x = Array.tabulate(5)(_.toDouble)
      val cells = s.range(50).select(
        (col("id") / 5).cast("long").cast("double").as("t"),
        (col("id") % 5).cast("double").as("x"),
        (col("id") * 2 + 1).cast("double").as("v"))
      ZarrSource.writeCube(cells, g, "v", Seq("t" -> t, "x" -> x),
        chunks = Seq(3, 5))
      s.conf.set("spark.sql.catalog.zdelq",
        classOf[graft.sources.zarr.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.zdelq.path", tmp)
      s.sql("DELETE FROM zdelq.`series.zarr` WHERE t >= 6.0")
      s.read.format("zarr").load(g)
        .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v"),
          max(col("t")).as("max_t"), max(col("v")).as("max_v"))
    }),

    // the STREAMING source twin of q_zarr (spark.readStream.format("zarr")
    // — the relational form of the reference's dataset polling): the
    // group starts with day 1, a micro-batch drains it, day 2 is appended
    // IN PLACE, and a restarted query on the same checkpoint emits only
    // the new slice. The parquet sink then holds exactly the whole cube —
    // a replayed or skipped slice flips n_cells and the hash.
    "q_zarr_stream_read" -> ((s, d) => {
      val days = Seq("2024-01-01", "2024-01-02")
      val tmp = Fixtures.scratch(d, "zstreamread")
      val group = s"$tmp/cube.zarr"
      val sink = s"$tmp/sink"
      val ckpt = s"$tmp/ckpt"
      val both = dailyCubeDf(s, d, days)
      ZarrSource.writeCube(both.filter(col("t") === 0.0), group, "v",
        Seq("t" -> Array(0.0)) ++ cubeDims.tail, chunks = Seq(1, 50, 90))
      def drain(): Unit = {
        val q = s.readStream.format("zarr").load(group)
          .writeStream.format("parquet").option("path", sink)
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      drain() // day 1
      ZarrSource.appendCube(both.filter(col("t") === 1.0), group, "v",
        Array(1.0))
      drain() // only the appended day
      s.read.parquet(sink)
        .filter(!isnan(col("v")))
        .groupBy(col("t").cast("long").as("day_idx"))
        .agg(count(lit(1)).as("n_cells"),
          round(sum((col("y") + col("x")).cast("decimal(28,10)")), 6)
            .cast("double").as("sum_coord"),
          round(sum(col("v").cast("decimal(28,10)")), 6)
            .cast("double").as("sum_v"))
    }),

    // the connector's WRITE half: the same multi-variable daily cube as
    // q_zarr_multivar goes through df.write.format("zarr") (the V1 write
    // bridge routing into writeCubeVars' one-shuffle one-object-per-chunk
    // layout) and comes back through spark.read.format("zarr") — same
    // oracle, so a chunk lost or cross-wired anywhere in the relational
    // round trip flips the hash. Written fresh each run: the round trip
    // IS the measured operation.
    "q_zarr_dsv2_write" -> ((s, d) => {
      val days = Seq("2024-01-01", "2024-01-02")
      val group = s"${Fixtures.path(d, "zarr_dsv2w")}/cube.zarr"
      val df = CubePack.eventsCube(s, d).df
        .filter(to_date(col("time")) === lit(days(0)).cast("date") ||
                to_date(col("time")) === lit(days(1)).cast("date"))
        .groupBy(to_date(col("time")).cast("string").as("day"),
          floor(col("y")).cast("int").as("j"),
          floor(col("x")).cast("int").as("i"))
        .agg(round(sum(col("v").cast("decimal(28,12)")).cast("double") /
          count(lit(1)), 6).as("v"),
          count(lit(1)).cast("double").as("w"))
        .select(
          when(col("day") === days(0), 0.0).otherwise(1.0).as("t"),
          (col("j").cast("double") + 0.5).as("y"),
          (col("i").cast("double") + 0.5).as("x"),
          col("v"), col("w"))
      df.write.format("zarr").option("dims", "t,y,x")
        .option("chunks", "1,50,90").mode("overwrite").save(group)
      s.read.format("zarr").load(group)
        .filter(!isnan(col("v")) && !isnan(col("w")))
        .groupBy(col("t").cast("long").as("day_idx"))
        .agg(count(lit(1)).as("n_cells"),
          round(sum(col("v").cast("decimal(28,10)")), 6)
            .cast("double").as("sum_v"),
          sum(col("w")).cast("long").as("n_events"))
    }),

    // The SAME cube written as a Zarr group of OBJECTS in the in-JVM S3
    // bucket (chunk-per-task writes PUT objects, the read path GETs them
    // through the consolidated metadata) — the reference's cloud-native
    // deployment shape (zarr on S3), same oracle as q_zarr so any byte
    // corruption in the object path flips the hash. Written fresh each run:
    // the bucket is in-memory per JVM, so this measures the full
    // write+read round-trip over the object protocol.
    "q_zarr_s3" -> ((s, d) => {
      graft.sources.s3.S3Support.enable(s)
      val days = Seq("2024-01-01", "2024-01-02")
      val sfName = new java.io.File(d).getName
      val group = s"s3g://zarrcube/$sfName/cube.zarr"
      ZarrSource.writeCube(dailyCubeDf(s, d, days), group, "v",
        cubeDims, chunks = Seq(1, 50, 90))
      s.read.format("zarr").option("vars", "v").load(group)
        .filter(!isnan(col("v")))
        .groupBy(col("t").cast("long").as("day_idx"))
        .agg(count(lit(1)).as("n_cells"),
          round(sum((col("y") + col("x")).cast("decimal(28,10)")), 6)
            .cast("double").as("sum_coord"),
          round(sum(col("v").cast("decimal(28,10)")), 6).cast("double").as("sum_v"))
    }),

    // The SAME cube served over plain HTTP: the zarr group is a write-once
    // local fixture, mounted read-only on the in-JVM HTTP server, and
    // opened by URL — consolidated-metadata open + ranged chunk GETs, no
    // listing (the web-archive shape the reference reaches through
    // fsspec's HTTPFileSystem). Same oracle as q_zarr_s3, so a wrong byte
    // anywhere in the http path flips the hash.
    "q_zarr_http" -> ((s, d) => {
      val base = zarrServedFixture(s, d)
      val sfName = new java.io.File(d).getName
      val emu = graft.sources.s3.S3Emulator.shared
      emu.mountDir(s"zarrhttp-$sfName", base)
      val url = s"${emu.endpoint}/zarrhttp-$sfName/cube.zarr"
      s.read.format("zarr").option("vars", "v").load(url)
        .filter(!isnan(col("v")))
        .groupBy(col("t").cast("long").as("day_idx"))
        .agg(count(lit(1)).as("n_cells"),
          round(sum((col("y") + col("x")).cast("decimal(28,10)")), 6)
            .cast("double").as("sum_coord"),
          round(sum(col("v").cast("decimal(28,10)")), 6).cast("double").as("sum_v"))
    }),

    // The SAME cube served over FTP: the write-once zarr fixture mounted
    // on the in-JVM passive-mode FTP emulator and opened by ftp:// URL —
    // anonymous login, SIZE/RETR with REST ranges for the chunk reads
    // (the one reference store protocol, plugin.py:82-89, that was
    // recorded untestable offline through r19; the S3Emulator treatment
    // closes it). Same oracle as q_zarr_http, so a wrong byte anywhere
    // in the protocol path flips the hash.
    "q_zarr_ftp" -> ((s, d) => {
      val base = zarrServedFixture(s, d)
      val sfName = new java.io.File(d).getName
      val emu = graft.sources.ftp.FtpEmulator.shared
      emu.mountDir(s"zarrftp-$sfName", base)
      val url = s"${emu.endpoint}/zarrftp-$sfName/cube.zarr"
      s.read.format("zarr").option("vars", "v").load(url)
        .filter(!isnan(col("v")))
        .groupBy(col("t").cast("long").as("day_idx"))
        .agg(count(lit(1)).as("n_cells"),
          round(sum((col("y") + col("x")).cast("decimal(28,10)")), 6)
            .cast("double").as("sum_coord"),
          round(sum(col("v").cast("decimal(28,10)")), 6).cast("double").as("sum_v"))
    }),

    // The relational zarr scan (DataSourceV2): the 2-day cube opened with
    // spark.read.format("zarr") and filtered to day 1 BY PREDICATE — the
    // t = 0.0 filter is pushed into the scan and prunes the day-2 chunks
    // before any byte is fetched (ZarrDsv2Spec pins the partition counts;
    // here the ORACLE pins that the pruned read returns exactly the day-1
    // cells). This is the 100 TB read shape: any relational query over the
    // cube elides chunks via Catalyst, not via a bespoke subset API.
    "q_zarr_dsv2" -> ((s, d) => {
      val days = Seq("2024-01-01", "2024-01-02")
      val base = Fixtures.layout(d, "zarrdsv2",
        "days=2,chunks=1x50x90,mean6,t-as-index") { base =>
        ZarrSource.writeCube(dailyCubeDf(s, d, days), s"$base/cube.zarr", "v",
          cubeDims, chunks = Seq(1, 50, 90))
      }
      val group = s"$base/cube.zarr"
      s.read.format("zarr").load(group)
        .filter(col("t") === 0.0 && !isnan(col("v")))
        .agg(count(lit(1)).as("n_cells"),
          round(sum((col("y") + col("x")).cast("decimal(28,10)")), 6)
            .cast("double").as("sum_coord"),
          round(sum(col("v").cast("decimal(28,10)")), 6).cast("double").as("sum_v"))
    }),

    // The relational NetCDF-4 scan (DataSourceV2 over the kerchunk HDF5
    // index): the q_netcdf4 granule opened with spark.read.format(
    // "netcdf"), filtered to the southern half BY PREDICATE — y <= 49.5
    // prunes the northern 50×90 HDF5 chunks at planning time (4 of 8
    // chunk refs survive; RefsDsv2Spec pins partition counts), and only
    // the surviving chunks' byte ranges are ever read. The reference
    // prunes reads through every backend via lazy label indexing
    // (core/select.py:87-163); this is that behavior optimizer-driven.
    "q_netcdf_dsv2" -> ((s, d) => {
      val base = netcdf4Fixture(s, d)
      s.read.format("netcdf").load(s"$base/2024-01-01.nc")
        .filter(col("y") <= 49.5 && !isnan(col("v")))
        .agg(count(lit(1)).as("n_cells"),
          round(sum((col("y") + col("x")).cast("decimal(28,10)")), 6)
            .cast("double").as("sum_coord"),
          round(sum(col("v").cast("decimal(28,10)")), 6).cast("double").as("sum_v"))
    }),

    // The relational GeoTIFF scan (DataSourceV2 over the kerchunk TIFF
    // index): a TILED deflate COG-interior layout (64×64 tiles) opened
    // with spark.read.format("geotiff"); the y < 36 predicate keeps only
    // the bottom tile row (north-up: raster rows 64..99) — 6 of 12 tiles
    // are fetched, the rest are elided before any byte IO. Same oracle
    // family as q_geotiff, restricted to the unpruned rows, so a wrong
    // tile-grid → chunk mapping or an over-eager prune cannot hash-match.
    "q_geotiff_dsv2" -> ((s, d) => {
      val base = Fixtures.layout(d, "geotifftiled",
        "day=2024-01-01,grid=360x100,tiles=64,deflate,mean6") { base =>
        val grid = dailyMeanGrid(s, d, "2024-01-01")
        val arr = Array.tabulate(100 * 360)(k =>
          grid((99 - k / 360) * 360 + k % 360))
        GeoTiffSource.write(s"$base/day1.tif",
          GeoTiffSource.Raster(360, 100, arr, 1.0, 1.0, 0.0, 100.0),
          deflate = true, tileSize = 64)
      }
      val path = s"$base/day1.tif"
      s.read.format("geotiff").load(path)
        .filter(col("y") < 36.0 && !isnan(col("v")))
        .groupBy((col("y") / 10).cast("long").as("jband"))
        .agg(count(lit(1)).as("n_cells"),
          round(sum((col("y") + col("x")).cast("decimal(28,10)")), 6)
            .cast("double").as("sum_coord"),
          round(sum(col("v").cast("decimal(28,10)")), 6).cast("double").as("sum_v"))
    }),

    // The relational multi-granule archive scan (DataSourceV2 over a
    // COMBINED kerchunk document): the two classic NetCDF granules
    // indexed per-file, concatenated along a new t dimension, opened as
    // ONE table with spark.read.format("kerchunk"), and filtered to
    // t = 1 — granule 0's refs never join the plan. This is the 100 TB
    // archive read shape: scan once (fleet-parallel), then every query
    // prunes whole granules through Catalyst.
    "q_kerchunk_dsv2" -> ((s, d) => {
      val paths = netcdfFixture(s, d)
      val base = Fixtures.layout(d, "kerchunkdsv2",
        "granules=2,concat=t,classic") { base =>
        val docs = paths.map(KerchunkSource.scanNetcdf(_))
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$base/combined.json"),
          KerchunkSource.combineRefs(docs, "t", Array(0.0, 1.0)).getBytes("UTF-8"))
      }
      val refsPath = s"$base/combined.json"
      s.read.format("kerchunk").load(refsPath)
        .filter(col("t") === 1.0 && !isnan(col("v")))
        .agg(count(lit(1)).as("n_cells"),
          round(sum((col("y") + col("x")).cast("decimal(28,10)")), 6)
            .cast("double").as("sum_coord"),
          round(sum(col("v").cast("decimal(28,10)")), 6).cast("double").as("sum_v"))
    }),

    // unchunk_dataset (unchunk.py:15-80): the same 2-day cube written
    // chunked, then consolidated IN PLACE to one chunk per array (data
    // var + all coords) with the consolidated metadata refreshed — read
    // back through the normal chunk-per-task path. Identical oracle to
    // q_zarr: a wrong rewrite (lost edge chunk, stale .zarray/.zmetadata)
    // cannot hash-match.
    "q_unchunk" -> ((s, d) => {
      val days = Seq("2024-01-01", "2024-01-02")
      val base = Fixtures.layout(d, "zarrunchunk",
        "days=2,chunks=1x50x90,then-unchunked,mean6") { base =>
        ZarrSource.writeCube(dailyCubeDf(s, d, days), s"$base/cube.zarr", "v",
          cubeDims, chunks = Seq(1, 50, 90), codec = ZarrSource.Zlib())
        ZarrSource.unchunkGroup(s"$base/cube.zarr")
      }
      val group = s"$base/cube.zarr"
      s.read.format("zarr").option("vars", "v").load(group)
        .filter(!isnan(col("v")))
        .groupBy(col("t").cast("long").as("day_idx"))
        .agg(count(lit(1)).as("n_cells"),
          round(sum((col("y") + col("x")).cast("decimal(28,10)")), 6)
            .cast("double").as("sum_coord"),
          round(sum(col("v").cast("decimal(28,10)")), 6).cast("double").as("sum_v"))
    }),

    // Zarr append-along-time (dsio.py append mode): the fixture writes DAY 1
    // only, then appendCube extends the store in place with day 2 — shape
    // grown in .zarray, only new chunks written, coordinate array and
    // consolidated metadata patched. The oracle is the SAME 2-day aggregate
    // as q_zarr, so a lost/duplicated slice or a stale shape cannot pass.
    "q_zarr_append" -> ((s, d) => {
      val base = Fixtures.layout(d, "zarrappend",
        "day1-write,day2-append,blosc-lz4,mean6") { base =>
        def daily(day: String, tIdx: Double) = CubePack.eventsCube(s, d).df
          .filter(to_date(col("time")) === lit(day).cast("date"))
          .groupBy(floor(col("y")).cast("int").as("j"),
            floor(col("x")).cast("int").as("i"))
          .agg(round(sum(col("v").cast("decimal(28,12)")).cast("double") /
            count(lit(1)), 6).as("v"))
          .select(lit(tIdx).as("t"), (col("j").cast("double") + 0.5).as("y"),
            (col("i").cast("double") + 0.5).as("x"), col("v"))
        ZarrSource.writeCube(daily("2024-01-01", 0.0), s"$base/cube.zarr", "v",
          Seq("t" -> Array(0.0),
            "y" -> Array.tabulate(100)(_ + 0.5),
            "x" -> Array.tabulate(360)(_ + 0.5)),
          chunks = Seq(1, 50, 90), codec = ZarrSource.Blosc("lz4"))
        ZarrSource.appendCube(daily("2024-01-02", 1.0), s"$base/cube.zarr", "v", Array(1.0))
      }
      val group = s"$base/cube.zarr"
      s.read.format("zarr").option("vars", "v").load(group)
        .filter(!isnan(col("v")))
        .groupBy(col("t").cast("long").as("day_idx"))
        .agg(count(lit(1)).as("n_cells"),
          round(sum((col("y") + col("x")).cast("decimal(28,10)")), 6)
            .cast("double").as("sum_coord"),
          round(sum(col("v").cast("decimal(28,10)")), 6).cast("double").as("sum_v"))
    }),

    // Same cube written with zarr-python's DEFAULT compressor — blosc with
    // lz4 inner codec and byte-shuffle (BloscCodec encodes; the chunk-per-
    // task reader decodes the self-describing frames). Values must match
    // the zlib store's oracle bit-for-bit: the codec is lossless and the
    // pipeline above it identical.
    "q_zarr_blosc" -> ((s, d) => {
      s.read.format("zarr").option("vars", "v")
        .load(zarrFixture(s, d, ZarrSource.Blosc("lz4", 5, shuffle = 1), tag = "blosc"))
        .filter(!isnan(col("v")))
        .groupBy(col("t").cast("long").as("day_idx"))
        .agg(count(lit(1)).as("n_cells"),
          round(sum((col("y") + col("x")).cast("decimal(28,10)")), 6)
            .cast("double").as("sum_coord"),
          round(sum(col("v").cast("decimal(28,10)")), 6).cast("double").as("sum_v"))
    }),

    // Zarr V3 store (core spec v3 — where the reference is HEADED: its pin
    // is zarr<3 "until we can ensure zarr 3 compatibility", issue #1102):
    // per-node zarr.json, chunk objects under c/, zstd+crc32c codec chain,
    // inline consolidated metadata. Same distributed write (one shuffle by
    // chunk id) and chunk-per-task read as v2; same 2-day oracle, so a key-
    // encoding, codec-chain or checksum bug cannot pass.
    "q_zarr_v3" -> ((s, d) => {
      s.read.format("zarr").option("vars", "v")
        .load(zarrV3Fixture(s, d, Seq(ZarrSource.ZstdC(3), ZarrSource.Crc32c),
          chunks = Seq(1, 50, 90), shardInner = None, tag = ""))
        .filter(!isnan(col("v")))
        .groupBy(col("t").cast("long").as("day_idx"))
        .agg(count(lit(1)).as("n_cells"),
          round(sum((col("y") + col("x")).cast("decimal(28,10)")), 6)
            .cast("double").as("sum_coord"),
          round(sum(col("v").cast("decimal(28,10)")), 6).cast("double").as("sum_v"))
    }),

    // Zarr V3 SHARDED store (sharding_indexed — v3's answer to the object-
    // count wall at 100 TB: a 1 MiB-chunk v2 store needs ~10^8 objects,
    // shards cut that by the shard/chunk volume ratio while the inner chunk
    // stays the decode unit). 1×100×180 shards of 1×25×45 inner chunks →
    // 4 shard objects × 16 inner chunks, crc32c'd index footers. The SHARD
    // is the task unit both ways; the same oracle pins the index walk,
    // missing-inner-chunk fill and inner decode bit-for-bit.
    "q_zarr_v3_sharded" -> ((s, d) => {
      s.read.format("zarr").option("vars", "v")
        .load(zarrV3Fixture(s, d, Seq(ZarrSource.ZstdC(3)),
          chunks = Seq(1, 100, 180), shardInner = Some(Seq(1, 25, 45)),
          tag = "shard"))
        .filter(!isnan(col("v")))
        .groupBy(col("t").cast("long").as("day_idx"))
        .agg(count(lit(1)).as("n_cells"),
          round(sum((col("y") + col("x")).cast("decimal(28,10)")), 6)
            .cast("double").as("sum_coord"),
          round(sum(col("v").cast("decimal(28,10)")), 6).cast("double").as("sum_v"))
    }),

    // Kerchunk virtual datasets (store/fs/impl/dataset.py kerchunk route;
    // fsspec ReferenceFileSystem spec v1): the Zarr group AND the first
    // NetCDF granule are indexed into byte-range reference documents
    // WITHOUT copying any payload (the NetCDF scan reads only the header),
    // then read back THROUGH the refs — zarr chunks as whole-file refs,
    // NetCDF variables as (offset, length) range reads into the original
    // .nc — and checksummed against the same daily-mean oracle as the
    // direct readers, coordinates bound in.
    "q_kerchunk" -> ((s, d) => {
      val group = zarrFixture(s, d)
      val nc0 = netcdfFixture(s, d).head
      val tif = geotiffFixture(s, d)
      // re-scanned and OVERWRITTEN on every run (cheap: header + listing,
      // no payload) — refs embed content-dependent offsets/lengths, so
      // caching them could go stale against a rebuilt upstream fixture; a
      // fixed path avoids accumulating temp dirs across repeated runs in
      // one JVM (bench reps, soak)
      val base = refsDir(d)
      val zarrRefs = base.resolve("zarr.refs.json")
      val ncRefs = base.resolve("nc.refs.json")
      val tifRefs = base.resolve("tif.refs.json")
      val jp2Refs = base.resolve("jp2.refs.json")
      java.nio.file.Files.write(zarrRefs,
        KerchunkSource.scanZarr(group).getBytes("UTF-8"))
      java.nio.file.Files.write(ncRefs,
        KerchunkSource.scanNetcdf(nc0).getBytes("UTF-8"))
      java.nio.file.Files.write(tifRefs,
        KerchunkSource.scanGeoTiff(tif).getBytes("UTF-8"))
      // JP2 tiles map 1:1 to chunks: [url, sotOffset, psot] range refs +
      // the graft_jp2 codec carrying the detached main header
      java.nio.file.Files.write(jp2Refs,
        KerchunkSource.scanJp2(jp2Fixture(s, d)).getBytes("UTF-8"))
      def sums(df: DataFrame, src: org.apache.spark.sql.Column) = df
        .filter(!isnan(col("v")))
        .groupBy(src.as("src"))
        .agg(count(lit(1)).as("n_cells"),
          round(sum((col("y") + col("x")).cast("decimal(28,10)")), 6)
            .cast("double").as("sum_coord"),
          round(sum(col("v").cast("decimal(28,10)")), 6).cast("double").as("sum_v"))
      sums(s.read.format("kerchunk").option("vars", "v").load(zarrRefs.toString),
          concat(lit("zarr_day"), col("t").cast("long").cast("string")))
        .unionByName(
          sums(s.read.format("kerchunk").option("vars", "v").load(ncRefs.toString),
            lit("nc_2024-01-01")))
        .unionByName(
          sums(s.read.format("kerchunk").option("vars", "v").load(tifRefs.toString),
            lit("tif_2024-01-01")))
        .unionByName(
          // the jp2 granule stores day-1 event COUNTS dense over the full
          // grid (0 where no events), so all 100×360 cells survive the
          // NaN filter and sum_v is the day's event count
          sums(s.read.format("kerchunk").option("vars", "v").load(jp2Refs.toString),
            lit("jp2_2024-01-01")))
    }),

    // the lazy-reference read path (store/ref/store.py:49-53 contract)
    // over the SAME zarr refs doc as q_kerchunk: metadata and coords
    // stream in bounded passes and only the chunks that survive pruning
    // have their refs resolved, so a 10^8-ref archive opens with
    // O(metadata) driver memory. Hash-matches the direct reader's
    // daily-mean checksum.
    "q_kerchunk_lazy" -> ((s, d) => {
      val group = zarrFixture(s, d)
      val base = refsDir(d)
      val zarrRefs = base.resolve("zarr_lazy.refs.json")
      java.nio.file.Files.write(zarrRefs,
        KerchunkSource.scanZarr(group).getBytes("UTF-8"))
      s.read.format("kerchunk").option("vars", "v").load(zarrRefs.toString)
        .filter(!isnan(col("v")))
        .groupBy(concat(lit("zarr_day"),
          col("t").cast("long").cast("string")).as("src"))
        .agg(count(lit(1)).as("n_cells"),
          round(sum((col("y") + col("x")).cast("decimal(28,10)")), 6)
            .cast("double").as("sum_coord"),
          round(sum(col("v").cast("decimal(28,10)")), 6)
            .cast("double").as("sum_v"))
    }),

    // cell-level dataset version diff (the operational "what changed
    // between yesterday's cube and today's"): the two daily-mean grids are
    // full-outer joined on the cell key and every cell classified
    // added/removed/changed/same, with the per-status signed value delta
    // summed in DECIMAL.
    "q_cube_diff" -> ((s, d) => {
      // BOTH daily grids come from one shared (day, j, i) aggregation
      // subtree, so ReuseExchange collapses them to ONE events scan + ONE
      // big shuffle (plan-asserted in PlanAuditSpec) — previously two full
      // scans. The day filter compares the AGGREGATE first(day), not the
      // grouping column: a grouping-column predicate would be pushed below
      // the aggregate and re-split the branches into two distinct scans.
      val daily = CubePack.eventsCube(s, d).df
        .filter(to_date(col("time")) === lit("2024-01-01").cast("date") ||
          to_date(col("time")) === lit("2024-01-02").cast("date"))
        .groupBy(to_date(col("time")).as("__day"),
          floor(col("y")).cast("long").as("j"),
          floor(col("x")).cast("long").as("i"))
        .agg(round(sum(col("v").cast("decimal(28,12)")).cast("double") /
          count(lit(1)), 6).as("v"),
          first(to_date(col("time"))).as("__d"))
      def day(dd: String) =
        daily.filter(col("__d") === lit(dd).cast("date")).select("j", "i", "v")
      MaintenanceOps.diffDatasets(
          day("2024-01-01"), day("2024-01-02"), Seq("j", "i"), "v")
        .groupBy("status")
        .agg(count(lit(1)).as("n_cells"),
          round(sum(coalesce(col("value_after"), lit(0.0)).cast("decimal(28,10)") -
            coalesce(col("value_before"), lit(0.0)).cast("decimal(28,10)")), 6)
            .cast("double").as("sum_delta"))
    }),

    // MultiZarrToZarr-style combine (the kerchunk archive workflow): BOTH
    // daily NetCDF granules are scanned and merged into ONE virtual 3-D
    // dataset with a new leading `t` dimension — no payload byte is read
    // or copied, the per-day grids become chunks t=0/t=1 of one cube —
    // then read back through the combined refs and checksummed per day.
    "q_kerchunk_combine" -> ((s, d) => {
      val ncs = netcdfFixture(s, d)
      // fleet scan: one executor task per granule (magic-sniffed), the
      // driver collects only metadata-sized refs docs — at archive scale
      // a driver-side scan loop is the ingest bottleneck
      val combined = KerchunkSource.combineRefs(
        KerchunkSource.scanGranules(s, ncs), "t", Array(0.0, 1.0))
      val refsPath = refsDir(d).resolve("combined.refs.json")
      java.nio.file.Files.write(refsPath, combined.getBytes("UTF-8"))
      s.read.format("kerchunk").option("vars", "v").load(refsPath.toString)
        .filter(!isnan(col("v")))
        .groupBy(col("t").cast("long").as("day_idx"))
        .agg(count(lit(1)).as("n_cells"),
          round(sum((col("y") + col("x")).cast("decimal(28,10)")), 6)
            .cast("double").as("sum_coord"),
          round(sum(col("v").cast("decimal(28,10)")), 6).cast("double").as("sum_v"))
    }),

    // GeoTIFF ingest (store/fs/impl/rasterio.py:81-330): a Deflate-
    // compressed north-up float64 raster written through the minimal
    // baseline-TIFF writer, decoded back through the binary parser, and
    // band-checksummed with the coordinates bound in — a mis-strided,
    // transposed or wrongly-georeferenced decode cannot pass.
    "q_geotiff" -> ((s, d) => {
      GeoTiffSource.readRaster(s, geotiffFixture(s, d))
        .filter(!isnan(col("v")))
        .groupBy((col("y") / 10).cast("long").as("jband"))
        .agg(count(lit(1)).as("n_cells"),
          round(sum((col("y") + col("x")).cast("decimal(28,10)")), 6)
            .cast("double").as("sum_coord"),
          round(sum(col("v").cast("decimal(28,10)")), 6).cast("double").as("sum_v"))
    }),

    // GDAL_NODATA masking (rioxarray's default masked read, which the
    // reference inherits — store/fs/impl/rasterio.py:81-330): the fixture
    // stores -9999 at every 97th grid cell; the reader must surface those
    // as NaN or the sentinels poison every aggregate below.
    "q_geotiff_nodata" -> ((s, d) => {
      GeoTiffSource.readRaster(s, geotiffNodataFixture(s, d))
        .filter(!isnan(col("v")))
        .groupBy((col("y") / 10).cast("long").as("jband"))
        .agg(count(lit(1)).as("n_cells"),
          round(sum((col("y") + col("x")).cast("decimal(28,10)")), 6)
            .cast("double").as("sum_coord"),
          round(sum(col("v").cast("decimal(28,10)")), 6).cast("double").as("sum_v"))
    }),

    // JPEG-in-TIFF (Compression 7, TIFF TN2 — the GDAL COMPRESS=JPEG
    // aerial/basemap layout): 8-bit tiles hold abbreviated JPEG streams
    // with the shared DQT/DHT in a JPEGTables tag, spliced per tile on
    // read. The fixture's 8×8 blocks are DC-constant, so the lossy decode
    // is the closed-form DC reconstruction the oracle computes exactly
    // (the q_jpeg discipline) — integer sums, untoleranced hash match.
    "q_geotiff_jpeg" -> ((s, d) => {
      val base = Fixtures.layout(d, "geotiff_jpeg",
        "96x64,block8-constant,tile16,q85,tables") { base =>
        val (w, h) = (96, 64)
        val data = Array.tabulate(w * h) { i =>
          val (bx, by) = ((i % w) / 8, (i / w) / 8)
          ((bx * 7 + by * 13) % 256).toDouble
        }
        GeoTiffSource.writeJpegTiled(s"$base/blocks.tif",
          GeoTiffSource.Raster(w, h, IndexedSeq(data), 1.0, 1.0, 0.0, 0.0),
          tileSize = 16, quality = 85, useTablesTag = true)
      }
      val p = s"$base/blocks.tif"
      GeoTiffSource.readRaster(s, p)
        .groupBy(expr("row div 8").as("by"))
        .agg(count(lit(1)).as("n_cells"),
          sum(col("v").cast("long")).as("sum_v"))
    }),

    // JPEG 2000 ingest (store/fs/impl/rasterio.py:81-330 opens .jp2 via
    // rasterio→GDAL→openjpeg): the day-1 count grid written through the
    // from-spec lossless 5/3 writer, decoded back tile-per-task through the
    // full Part-1 pipeline (MQ/EBCOT/tag-tree packets/DWT), and
    // band-checksummed with coordinates bound in — counts are integers, so
    // any decode defect is a hash mismatch, not a tolerance judgement. The
    // lossy 9/7 path is cross-validated against the reference's own demo
    // granule in Jp2Spec (vs the independently-tested GeoTIFF reader).
    "q_jp2" -> ((s, d) => {
      graft.sources.jp2.Jp2Source.readRaster(s, jp2Fixture(s, d))
        .filter(col("v") > 0)
        .groupBy((col("y") / 10).cast("long").as("jband"))
        .agg(count(lit(1)).as("n_cells"),
          round(sum((col("y") + col("x")).cast("decimal(28,10)")), 6)
            .cast("double").as("sum_coord"),
          sum(col("v").cast("long")).as("n_events"))
    }),

    // JPEG 2000 granule COLLECTION ingest: three daily count granules read
    // as one distributed (file × tile)-per-task scan with the granule name
    // bound to the day — the 10^5-granule collection shape. Per-day
    // band checksums must match the cube exactly (integer counts).
    "q_jp2_series" -> ((s, d) => {
      graft.sources.jp2.Jp2Source.readRasterFiles(s, jp2SeriesFixture(s, d))
        .filter(col("v") > 0)
        .select(regexp_replace(col("src"), "\\.jp2$", "").as("day"),
          col("y"), col("x"), col("v"))
        .groupBy(col("day"), (col("y") / 10).cast("long").as("jband"))
        .agg(count(lit(1)).as("n_cells"),
          sum(col("v").cast("long")).as("n_events"))
    }),

    // COG overview chain (the cloud-optimized GeoTIFF organization GDAL's
    // gdaladdo produces): the daily-mean raster written TILED with two
    // chained ::2 overview IFDs, read back level by level, each level
    // checksummed with its OWN georeferencing (origin fixed, scale 2^k,
    // pixel centers at block centers) — a mis-chained, mis-decimated or
    // mis-georeferenced overview cannot pass.
    "q_cog_levels" -> ((s, d) => {
      val base = Fixtures.layout(d, "cog",
        "day=2024-01-01,grid=360x100,ov=2,tiled16,deflate,mean6") { base =>
        val grid = dailyMeanGrid(s, d, "2024-01-01")
        val arr = Array.tabulate(100 * 360)(k =>
          grid((99 - k / 360) * 360 + k % 360))
        GeoTiffSource.writeWithOverviews(s"$base/day1_cog.tif",
          GeoTiffSource.Raster(360, 100, arr, 1.0, 1.0, 0.0, 100.0),
          nOverviews = 2, deflate = true, tileSize = 16)
      }
      val path = s"$base/day1_cog.tif"
      GeoTiffSource.readRasterLevels(s, path)
        .filter(!isnan(col("v")))
        .groupBy(col("level"))
        .agg(count(lit(1)).as("n_cells"),
          round(sum(col("x").cast("decimal(28,10)")), 6).cast("double").as("sum_x"),
          round(sum(col("y").cast("decimal(28,10)")), 6).cast("double").as("sum_y"),
          round(sum(col("v").cast("decimal(28,10)")), 6).cast("double").as("sum_v"))
    }),

    // Shapefile vector source (geodataframe.py:19-96 reads GeoJSON AND
    // Shapefile): point + polygon layers written with the minimal spec
    // writer, read back through the binary parser — WKT geometry plus
    // typed dbf attribute columns, same contract as q_geojson.
    "q_shapefile" -> ((s, d) => {
      import ShapefileSource.{DbfField, ShpPoint, ShpPolygon}
      val dir = s"${Fixtures.root}/shapefile"
      val pts = s"$dir/pts.shp"
      val polys = s"$dir/polys.shp"
      Fixtures.ensureWritten(dir, "pts=3,polys=2,v1") {
        new java.io.File(dir).mkdirs()
        val fields = Seq(DbfField("name", 'C', 10, 0), DbfField("pop", 'N', 10, 0))
        ShapefileSource.writeFeatures(pts,
          Seq(ShpPoint(10.0, 20.0), ShpPoint(45.0, 25.0), ShpPoint(30.0, 5.0)),
          fields,
          Seq(Seq("alpha", 500L), Seq("beta", 80L), Seq("gamma", 900L)))
        ShapefileSource.writeFeatures(polys,
          Seq(ShpPolygon(Seq(Seq((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 0.0)))),
            ShpPolygon(Seq(Seq((20.0, 20.0), (30.0, 20.0), (20.0, 30.0), (20.0, 20.0))))),
          fields,
          Seq(Seq("pg1", 7L), Seq("pg2", 9L)))
      }
      ShapefileSource.readFeatures(s, pts)
        .unionByName(ShapefileSource.readFeatures(s, polys))
    }),

    // places endpoint (webapi/places/controllers.py:25-90 find_places):
    // GeoJSON point features filtered by a bbox query-geometry and a
    // property predicate — coordinates pulled from the WKT with codegen'd
    // regexp extraction, no geometry library on the filter path
    "q_places" -> ((s, d) => {
      val json =
        """{"type":"FeatureCollection","features":[
          {"type":"Feature","geometry":{"type":"Point","coordinates":[10.0,20.0]},
           "properties":{"name":"alpha","pop":500}},
          {"type":"Feature","geometry":{"type":"Point","coordinates":[45.0,25.0]},
           "properties":{"name":"beta","pop":80}},
          {"type":"Feature","geometry":{"type":"Point","coordinates":[30.0,5.0]},
           "properties":{"name":"gamma","pop":900}},
          {"type":"Feature","geometry":{"type":"Point","coordinates":[70.0,10.0]},
           "properties":{"name":"delta","pop":1200}},
          {"type":"Feature","geometry":{"type":"Point","coordinates":[20.0,29.0]},
           "properties":{"name":"epsilon","pop":150}}]}"""
      val f = java.io.File.createTempFile("graft_places", ".geojson")
      f.deleteOnExit()
      java.nio.file.Files.write(f.toPath, json.getBytes)
      val places = GeoJsonSource.readFeatures(s, f.getAbsolutePath)
      val ptRe = "POINT \\(([-0-9.]+) ([-0-9.]+)\\)"
      places
        .withColumn("x", regexp_extract(col("geometry"), ptRe, 1).cast("double"))
        .withColumn("y", regexp_extract(col("geometry"), ptRe, 2).cast("double"))
        .filter(col("x").between(0.0, 50.0) && col("y").between(0.0, 30.0) &&
          col("pop") >= 100)
        .select(col("name"), col("x"), col("y"), col("pop"))
    }),

    // verify_cube (verify.py:34-238): the validity report AS ROWS — a
    // deliberately broken cube (string time, integer y coordinate, string
    // variable), a cube with no data variables, and the healthy events cube
    // (which must contribute zero rows).
    "q_verify_cube" -> ((s, d) => {
      import s.implicits._
      val ev = GraftSession.events(s, d)
      val broken = ev.select(
        col("ts").cast("string").as("time"),
        (col("user_id") % 100).cast("int").as("y"),
        ((col("event_id") % 360).cast("double") + 0.5).as("x"),
        col("event_type").as("v"))
      val noVars = ev.select(
        col("ts").as("time"),
        ((col("user_id") % 100).cast("double") + 0.5).as("y"),
        ((col("event_id") % 360).cast("double") + 0.5).as("x"))
      val healthy = CubePack.eventsCube(s, d).df.select("time", "y", "x", "v")
      val issues =
        Cube(broken, CubePack.gm).verify().map(("broken", _)) ++
          Cube(noVars, CubePack.gm).verify().map(("novars", _)) ++
          Cube(healthy, CubePack.gm).verify().map(("ok", _))
      issues.toDF("cube", "issue")
    }),

    // update_dataset_attrs coverage recompute (update.py:268): the CF
    // geospatial/temporal attributes as key/value rows, mirrored by the
    // same min/max aggregation in SQL. Time is day-truncated so the
    // ISO-instant rendering is fraction-free in both engines.
    "q_cube_attrs" -> ((s, d) => {
      import s.implicits._
      val c0 = CubePack.eventsCube(s, d)
      val daily = c0.copy(df =
        c0.df.withColumn("time", date_trunc("DAY", col("time"))))
      MaintenanceOps.computeCubeAttrs(daily).toSeq.toDF("key", "value")
    }),

    // ComputedMultiLevelDataset (mldataset/computed.py:24-160): levels
    // defined by a FUNCTION (here ::2^l coordinate decimation — the
    // compute_levels rule), evaluated lazily and summarized per level.
    "q_computed_levels" -> ((s, d) => {
      val base = CubePack.eventsCube(s, d)
      val levels = new ComputedLevels(base, 2, (c, l) => {
        val k = 1L << l
        val gm2 = c.gm.copy(width = (c.gm.width + k - 1) / k,
          height = (c.gm.height + k - 1) / k,
          xRes = c.gm.xRes * k, yRes = c.gm.yRes * k)
        Cube(c.df.filter(
          floor(col("x")).cast("long") % k === 0 &&
            floor(col("y")).cast("long") % k === 0), gm2)
      })
      (0 to 2).map { l =>
        val c = levels.level(l)
        c.df.agg(count(lit(1)).as("n"), round(sum(col("v")), 6).as("sum_v"))
          .select(lit(l.toLong).as("level"), lit(c.gm.xRes).as("x_res"),
            col("n"), col("sum_v"))
      }.reduce(_ unionByName _)
    }),

    // pyramid-level pruning (mldataset/abc.py:136-149): the coarsest level
    // still at least as fine as the requested resolution, tabulated over a
    // 3-level pyramid with resolutions 1, 2, 4.
    "q_level_for_res" -> ((s, d) => {
      import s.implicits._
      val gms = Seq(
        CubePack.gm,
        CubePack.gm.copy(width = 180, height = 50, xRes = 2.0, yRes = 2.0),
        CubePack.gm.copy(width = 90, height = 25, xRes = 4.0, yRes = 4.0))
      (1 to 5).map(r =>
          (r.toLong, LevelStore.levelForResolution(gms, r.toDouble).toLong))
        .toDF("res", "level")
    }),

    // expressions validate endpoint (webapi/expressions/routes.py:21-42):
    // accept/reject decisions over a fixed expression list against the
    // cube's variable set.
    "q_varexpr_validate" -> ((s, d) => {
      import s.implicits._
      val vars = Set("v", "x", "y")
      val exprs = Seq(
        "sqrt(v) + x",
        "where(v > 50.0, log10(v), nan)",
        "v ** 2 > y and x < 10.0",
        "unknown_var + 1",
        "foo(v)",
        "v +")
      exprs.map(e => (e, VarExpr.validate(e, vars).isRight)).toDF("expr", "ok")
    }),

    // in-memory store round-trip (dsio.py:308-356): write an aggregate as a
    // temp view, open it back through the store API. The opened DataFrame
    // holds the view's plan, so the view is dropped before returning.
    "q_memory_store" -> ((s, d) => {
      val store = new MemoryDataStore(s)
      val agg = GraftSession.events(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("sum_value"))
      store.write("mem_events_agg", agg, mode = "overwrite")
      try store.open("mem_events_agg")
      finally s.catalog.dropTempView("mem_events_agg")
    }),

    // OWS coverage request composition (controllers.py:54-178): variable
    // subset + bbox + datetime + scale-factor 4 downscale in one plan
    "q_coverage" -> ((s, d) => {
      val out = CoverageOps.getCoverageData(CubePack.eventsCube(s, d),
        CoverageOps.CoverageRequest(
          properties = Some(Seq("v")),
          bbox = Some((20.0, 10.0, 180.0, 70.0)),
          datetime = Some(("2024-01-03", "2024-01-10")),
          scaleFactor = Some(4.0)))
      out.df.select(col("time"), col("y"), col("x"), round(col("v"), 6).as("v"))
    }),

    // coordinate monotonicity normalization (normalize.py:45-88): a 0..360
    // longitude axis mapped onto ±180, summarized per hemisphere.
    "q_lon360" -> ((s, d) => {
      val df = CubePack.eventsCube(s, d).df
        .withColumn("lon", GeomFunctions.normalizeLon360(col("x")))
      df.groupBy((col("lon") < 0.0).as("west"))
        .agg(count(lit(1)).as("n"),
          round(min(col("lon")), 6).as("lon_min"),
          round(max(col("lon")), 6).as("lon_max"),
          round(sum(col("v")), 6).as("sum_v"))
    }),

    // find_time_slice (timeslice.py:19-60): classify where a slice lands
    // relative to the stored cube's daily time coverage — exact hit →
    // Replace, beyond the end → Append, in a gap → Insert
    "q_find_slice" -> ((s, d) => {
      import s.implicits._
      val daily = CubePack.eventsCube(s, d).df
        .select(date_trunc("DAY", col("time")).as("time")).distinct()
      val probes = Seq("2024-01-15 00:00:00", "2024-02-05 00:00:00",
        "2024-01-15 12:00:00")
      probes.map { p =>
        val pos = TimeSliceOps.findTimeSlice(daily, "time",
          java.sql.Timestamp.valueOf(p)).toString
        (p, pos)
      }.toDF("probe", "position")
    }),

    // drop_vars (select.py:81-84 complement): the surviving columns feed an
    // aggregate — schema_match in the driver verifies the projection
    "q_drop_vars" -> ((s, d) => {
      val dropped = graft.operators.SelectOps.dropVars(
        CubePack.eventsCube(s, d), Seq("event_type"))
      dropped.df.agg(count(lit(1)).as("n"),
        round(sum(col("v")), 6).as("sum_v"),
        round(sum(col("x") + col("y")), 6).as("sum_xy"))
    }),

    // update_time_slice per-variable update (timeslice.py:131-192): a
    // 2-day daily cube with variables (v, v2); day 1's v2 is updated in
    // place (+1000), v and day 2 must keep their stored values — only the
    // touched partitions are rewritten (dynamic partition overwrite).
    "q_update_slice" -> ((s, d) => {
      val base = Fixtures.layout(d, "update_slice",
        "days=2;v2=v*10;day1:v2+=1000") { base =>
        val dest = s"$base/cube"
        val c0 = CubePack.eventsCube(s, d)
        val gm = c0.gm.copy(tileWidth = 64, tileHeight = 64)
        val daily = c0.df
          .groupBy(date_trunc("DAY", col("time")).as("time"), col("y"), col("x"))
          .agg(round(sum(col("v").cast("decimal(28,12)")).cast("double") /
            count(lit(1)), 6).as("v"))
          .withColumn("v2", col("v") * 10.0)
          .filter(to_date(col("time")).isin("2024-01-01", "2024-01-02"))
        CubeWriter.writePartitioned(Cube(daily, gm), dest)
        val upd = daily.filter(to_date(col("time")) === "2024-01-01")
          .select(col("time"), col("y"), col("x"), (col("v2") + 1000.0).as("v2"))
        TimeSliceOps.updateTimeSlice(s, dest, Cube(upd, gm), Seq("v2"))
      }
      s.read.parquet(s"$base/cube")
        .groupBy(col("p_date").cast("string").as("day"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("v").cast("decimal(28,10)")), 6).cast("double").as("sum_v"),
          round(sum(col("v2").cast("decimal(28,10)")), 6).cast("double").as("sum_v2"))
    }),

    // streaming time-slice upsert (timeslice.py:19-192 + §2.9): three
    // AvailableNow micro-ingests — day 1, day 2, then a LATE day-1
    // replacement (v×2) — converge via dynamic partition overwrite; the
    // stored cube must equal replace-then-union semantics.
    "q_stream_upsert" -> ((s, d) => {
      val base = Fixtures.layout(d, "stream_upsert", "slices=d1,d2,d1x2") { base =>
        val cube = CubePack.eventsCube(s, d)
        val gm = cube.gm.copy(tileWidth = 64, tileHeight = 64)
        val schema = cube.df.schema
        def slice(day: String, scale: Double) =
          cube.df.filter(to_date(col("time")) === lit(day).cast("date"))
            .withColumn("v", col("v") * scale)
        def push(n: Int, df: DataFrame): Unit = {
          df.write.mode("overwrite").parquet(s"$base/src/slice_$n")
          val q = TimeSliceOps.streamUpsert(s, schema, s"$base/src", s"$base/cube",
            b => Cube(b, gm))
          q.awaitTermination()
        }
        push(1, slice("2024-01-01", 1.0))
        push(2, slice("2024-01-02", 1.0))
        push(3, slice("2024-01-01", 2.0))
      }
      s.read.parquet(s"$base/cube")
        .groupBy(col("p_date").cast("string").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("v")), 6).as("sum_v"))
    }),

    // streaming append INTO the native Zarr format (the reference's gen
    // append mode writes its cube slice-by-slice through to_zarr append):
    // two AvailableNow micro-ingests — day 1 creates the group, day 2
    // appends along time in place — then the stored Zarr store must equal
    // the same 2-day aggregate as q_zarr/q_zarr_append.
    "q_stream_zarr" -> ((s, d) => {
      val base = Fixtures.layout(d, "stream_zarr",
        "slices=d1,d2,append,blosc-zstd,mean6") { base =>
        def daily(day: String, tIdx: Double) = CubePack.eventsCube(s, d).df
          .filter(to_date(col("time")) === lit(day).cast("date"))
          .groupBy(floor(col("y")).cast("int").as("j"),
            floor(col("x")).cast("int").as("i"))
          .agg(round(sum(col("v").cast("decimal(28,12)")).cast("double") /
            count(lit(1)), 6).as("v"))
          .select(lit(tIdx).as("t"), (col("j").cast("double") + 0.5).as("y"),
            (col("i").cast("double") + 0.5).as("x"), col("v"))
        val schema = daily("2024-01-01", 0.0).schema
        def push(n: Int, df: DataFrame): Unit = {
          df.write.mode("overwrite").parquet(s"$base/src/slice_$n")
          TimeSliceOps.streamZarrAppend(s, schema, s"$base/src", s"$base/cube.zarr", "v", "t",
            Seq("y" -> Array.tabulate(100)(_ + 0.5),
              "x" -> Array.tabulate(360)(_ + 0.5)),
            chunks = Seq(1, 50, 90), codec = ZarrSource.Blosc("zstd", 3))
            .awaitTermination()
        }
        push(1, daily("2024-01-01", 0.0))
        push(2, daily("2024-01-02", 1.0))
      }
      val group = s"$base/cube.zarr"
      s.read.format("zarr").option("vars", "v").load(group)
        .filter(!isnan(col("v")))
        .groupBy(col("t").cast("long").as("day_idx"))
        .agg(count(lit(1)).as("n_cells"),
          round(sum((col("y") + col("x")).cast("decimal(28,10)")), 6)
            .cast("double").as("sum_coord"),
          round(sum(col("v").cast("decimal(28,10)")), 6).cast("double").as("sum_v"))
    })
  )

  private def dotCos(qe: String, e: String): String =
    s"""round(
        list_sum(list_transform(range(1, len($e) + 1), i -> $qe[i]::DOUBLE * $e[i]::DOUBLE)) /
        (sqrt(list_sum(list_transform(range(1, len($qe) + 1), i -> $qe[i]::DOUBLE * $qe[i]::DOUBLE))) *
         sqrt(list_sum(list_transform(range(1, len($e) + 1), i -> $e[i]::DOUBLE * $e[i]::DOUBLE)))), 6)"""

  override def oracleSql: Map[String, String] = Map(
    "q_tile_gather" ->
      s"""WITH ${CubePack.cubeCte},
         cm AS (SELECT y, x, round(sum(v::DECIMAL(28,12))::DOUBLE / count(*), 6) AS vm FROM cube GROUP BY y, x)
         SELECT floor((100.0 - y) * 128 / 50)::BIGINT AS py,
                floor(x * 128 / 90)::BIGINT AS px,
                vm AS v
         FROM cm
         WHERE x >= 0 AND x < 90 AND y >= 50 AND y < 100""",
    "q_rgba_tile" ->
      s"""WITH ${CubePack.cubeCte},
         cm AS (SELECT y, x, round(sum(v::DECIMAL(28,12))::DOUBLE / count(*), 6) AS vm FROM cube GROUP BY y, x),
         t1 AS (SELECT floor((100.0 - y) * 128 / 50)::BIGINT AS py,
                       floor(x * 128 / 90)::BIGINT AS px,
                       greatest(least((vm - 0.0) / (500.0 - 0.0), 1.0), 0.0) AS t
                FROM cm WHERE x >= 0 AND x < 90 AND y >= 50 AND y < 100),
         t2 AS (SELECT py, px, t,
                       ((0.25 < t)::INT + (0.5 < t)::INT + (0.75 < t)::INT) AS k
                FROM t1),
         t3 AS (SELECT py, px, k, (t - k * 0.25) / 0.25 AS f FROM t2),
         ch AS (SELECT py, px,
                floor((CASE k WHEN 0 THEN 68 WHEN 1 THEN 59 WHEN 2 THEN 33 ELSE 94 END) +
                  f * ((CASE k WHEN 0 THEN 59 WHEN 1 THEN 33 WHEN 2 THEN 94 ELSE 253 END) -
                       (CASE k WHEN 0 THEN 68 WHEN 1 THEN 59 WHEN 2 THEN 33 ELSE 94 END)) + 0.5)::BIGINT AS r,
                floor((CASE k WHEN 0 THEN 1 WHEN 1 THEN 82 WHEN 2 THEN 145 ELSE 201 END) +
                  f * ((CASE k WHEN 0 THEN 82 WHEN 1 THEN 145 WHEN 2 THEN 201 ELSE 231 END) -
                       (CASE k WHEN 0 THEN 1 WHEN 1 THEN 82 WHEN 2 THEN 145 ELSE 201 END)) + 0.5)::BIGINT AS g,
                floor((CASE k WHEN 0 THEN 84 WHEN 1 THEN 139 WHEN 2 THEN 140 ELSE 98 END) +
                  f * ((CASE k WHEN 0 THEN 139 WHEN 1 THEN 140 WHEN 2 THEN 98 ELSE 37 END) -
                       (CASE k WHEN 0 THEN 84 WHEN 1 THEN 139 WHEN 2 THEN 140 ELSE 98 END)) + 0.5)::BIGINT AS b
                FROM t3)
         SELECT py, px, 4278190080 + r * 65536 + g * 256 + b AS argb
         FROM ch""",
    "q_volume_brick" ->
      s"""WITH ${CubePack.cubeCte},
         daily AS (SELECT date_trunc('day', time) AS day, y, x,
                          round(sum(v::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
                   FROM cube GROUP BY day, y, x),
         d2 AS (SELECT DISTINCT day FROM daily ORDER BY day LIMIT 2)
         SELECT (CASE WHEN day = (SELECT min(day) FROM d2) THEN 0 ELSE 1 END)::BIGINT AS ti,
                ((floor(y)::BIGINT - 10) // 2) AS bj,
                ((floor(x)::BIGINT - 10) // 2) AS bi,
                v,
                2::BIGINT AS stride
         FROM daily
         WHERE day IN (SELECT day FROM d2)
           AND x BETWEEN 10.0 AND 110.0 AND y BETWEEN 10.0 AND 60.0
           AND (floor(x)::BIGINT - 10) % 2 = 0
           AND (floor(y)::BIGINT - 10) % 2 = 0""",
    "q_antimeridian" ->
      s"""WITH ${CubePack.cubeCte}
         SELECT event_type, count(*) AS n, round(sum(v), 6) AS sum_v
         FROM cube
         WHERE ((x - 180.0 BETWEEN 150.0 AND 180.0) OR
                (x - 180.0 BETWEEN -180.0 AND -150.0))
           AND (y - 50.0 BETWEEN -50.0 AND 50.0)
         GROUP BY event_type""",
    "q_bounds_indexes" ->
      s"""WITH ${CubePack.cubeCte}
         SELECT (CASE WHEN x >= 0.0 AND x < 50.0 THEN 0
                      WHEN x >= 50.0 AND x < 120.0 THEN 1
                      WHEN x >= 200.0 AND x < 300.0 THEN 2
                      ELSE -1 END)::BIGINT AS x_index,
                count(*) AS n, round(sum(v), 6) AS sum_v
         FROM cube GROUP BY x_index""",
    "q_nearest_cell" ->
      s"""WITH ${CubePack.cubeCte}
         SELECT event_type, count(*) AS n,
                round(sum((floor(x + 0.25) + 0.5) + (floor(y - 0.25) + 0.5)), 6) AS sum_snap,
                round(sum(v), 6) AS sum_v
         FROM cube GROUP BY event_type""",
    "q_rechunk" ->
      s"""WITH ${CubePack.cubeCte}
         SELECT event_type, count(*) AS n, round(sum(v), 6) AS sum_v
         FROM cube GROUP BY event_type""",
    "q_optimize" ->
      """WITH daily AS (
           SELECT date_trunc('day', ts) AS day, event_type,
                  count(*) AS n, round(sum(value), 6) AS sum_value
           FROM events GROUP BY day, event_type)
         SELECT count(*) AS n_rows, round(sum(sum_value), 6) AS total,
                2::BIGINT AS n_files
         FROM daily""",
    "q_ivf_ann" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                     FROM embeddings WHERE vec_id < 3),
         p AS (SELECT q.query_id, e.vec_id, ${dotCos("q.qe", "e.embedding")} AS cos_sim
               FROM q CROSS JOIN embeddings e),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                         ORDER BY cos_sim DESC, vec_id ASC) AS rn FROM p)
         SELECT query_id, vec_id, cos_sim FROM r WHERE rn <= 5""",
    "q_ivf_incremental" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                     FROM embeddings WHERE vec_id IN (3, 10, 17)),
         p AS (SELECT q.query_id, e.vec_id, ${dotCos("q.qe", "e.embedding")} AS cos_sim
               FROM q CROSS JOIN embeddings e),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                         ORDER BY cos_sim DESC, vec_id ASC) AS rank FROM p)
         SELECT query_id, rank, vec_id, cos_sim FROM r WHERE rank <= 5""",
    "q_ivf_ann_batch" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                     FROM embeddings WHERE vec_id < 10),
         p AS (SELECT q.query_id, e.vec_id, ${dotCos("q.qe", "e.embedding")} AS cos_sim
               FROM q CROSS JOIN embeddings e),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                         ORDER BY cos_sim DESC, vec_id ASC) AS rank FROM p)
         SELECT query_id, rank, vec_id, cos_sim FROM r WHERE rank <= 5""",
    "q_geojson" ->
      """SELECT * FROM (VALUES
           ('POINT (10.0 20.0)', 'alpha', 1::BIGINT),
           ('POLYGON ((0.0 0.0, 10.0 0.0, 10.0 10.0, 0.0 0.0))', 'beta', 2::BIGINT),
           ('LINESTRING (0.0 0.0, 5.0 5.0)', 'gamma', NULL::BIGINT))
         AS t(geometry, name, score)""",
    "q_geotiff" ->
      s"""WITH ${CubePack.cubeCte},
         daily AS (SELECT floor(y)::BIGINT AS j, floor(x)::BIGINT AS i,
                          round(sum(v::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
                   FROM cube
                   WHERE CAST(time AS DATE) = DATE '2024-01-01'
                   GROUP BY j, i)
         SELECT j // 10 AS jband, count(*) AS n_cells,
                round(sum(((j + 0.5) + (i + 0.5))::DECIMAL(28,10)), 6)::DOUBLE AS sum_coord,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v
         FROM daily GROUP BY jband""",
    "q_geotiff_nodata" ->
      s"""WITH ${CubePack.cubeCte},
         daily AS (SELECT floor(y)::BIGINT AS j, floor(x)::BIGINT AS i,
                          round(sum(v::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
                   FROM cube
                   WHERE CAST(time AS DATE) = DATE '2024-01-01'
                   GROUP BY j, i),
         live AS (SELECT j, i, v FROM daily WHERE (j * 360 + i) % 97 <> 0)
         SELECT j // 10 AS jband, count(*) AS n_cells,
                round(sum(((j + 0.5) + (i + 0.5))::DECIMAL(28,10)), 6)::DOUBLE AS sum_coord,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v
         FROM live GROUP BY jband""",
    "q_jp2" ->
      s"""WITH ${CubePack.cubeCte},
         daily AS (SELECT floor(y)::BIGINT AS j, floor(x)::BIGINT AS i,
                          count(*) AS n
                   FROM cube
                   WHERE CAST(time AS DATE) = DATE '2024-01-01'
                   GROUP BY j, i)
         SELECT j // 10 AS jband, count(*) AS n_cells,
                round(sum(((j + 0.5) + (i + 0.5))::DECIMAL(28,10)), 6)::DOUBLE AS sum_coord,
                sum(n)::BIGINT AS n_events
         FROM daily GROUP BY jband""",
    "q_geotiff_jpeg" -> {
      // DC-only closed form, the q_jpeg discipline (quality 85 → odd DC
      // quant, no representable rounding ties)
      val qL = graft.operators.JpegCodec.scaleQuant(
        graft.operators.JpegCodec.StdLumaQuant, 85)(0)
      def clamp(x: String) = s"greatest(0, least(255, $x))"
      def recon(v: String, q: Int): String = {
        val a = s"(8 * (($v) - 128))"
        val s0 = s"(CASE WHEN $a >= 0 THEN ($a + ${q / 2}) // $q " +
          s"ELSE -((-$a + ${q / 2}) // $q) END)"
        clamp(s"128 + CAST(floor((($s0 * $q) + 4) / 8.0) AS BIGINT)")
      }
      s"""WITH bxs AS (SELECT unnest(range(0, 12)) AS bx),
         bys AS (SELECT unnest(range(0, 8)) AS by),
         cell AS (SELECT by, bx,
                         ${recon("(bx*7 + by*13) % 256", qL)} AS rec
                  FROM bxs, bys)
         SELECT by::BIGINT AS by, 768::BIGINT AS n_cells,
                (64 * sum(rec))::BIGINT AS sum_v
         FROM cell GROUP BY by"""
    },
    "q_jp2_series" ->
      s"""WITH ${CubePack.cubeCte},
         daily AS (SELECT CAST(time AS DATE)::VARCHAR AS day,
                          floor(y)::BIGINT AS j, floor(x)::BIGINT AS i,
                          count(*) AS n
                   FROM cube
                   WHERE CAST(time AS DATE) = DATE '2024-01-01'
                      OR CAST(time AS DATE) = DATE '2024-01-02'
                      OR CAST(time AS DATE) = DATE '2024-01-03'
                   GROUP BY 1, 2, 3)
         SELECT day, j // 10 AS jband, count(*) AS n_cells,
                sum(n)::BIGINT AS n_events
         FROM daily GROUP BY day, jband""",
    // level-k cell (r, c) holds grid cell (j = 99 - (2^k)r, i = (2^k)c) —
    // gdaladdo-nearest: value is the block's top-left sample, coordinate is
    // the block center (x = i + 2^(k-1), y = j + 1 - 2^(k-1))
    "q_cog_levels" ->
      s"""WITH ${CubePack.cubeCte},
         daily AS (SELECT floor(y)::BIGINT AS j, floor(x)::BIGINT AS i,
                          round(sum(v::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
                   FROM cube
                   WHERE CAST(time AS DATE) = DATE '2024-01-01'
                   GROUP BY j, i)
         SELECT 0::BIGINT AS level, count(*) AS n_cells,
                round(sum((i + 0.5)::DECIMAL(28,10)), 6)::DOUBLE AS sum_x,
                round(sum((j + 0.5)::DECIMAL(28,10)), 6)::DOUBLE AS sum_y,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v
         FROM daily HAVING count(*) > 0
         UNION ALL
         SELECT 1, count(*),
                round(sum((i + 1.0)::DECIMAL(28,10)), 6)::DOUBLE,
                round(sum((j + 0.0)::DECIMAL(28,10)), 6)::DOUBLE,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE
         FROM daily WHERE (99 - j) % 2 = 0 AND i % 2 = 0 HAVING count(*) > 0
         UNION ALL
         SELECT 2, count(*),
                round(sum((i + 2.0)::DECIMAL(28,10)), 6)::DOUBLE,
                round(sum((j - 1.0)::DECIMAL(28,10)), 6)::DOUBLE,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE
         FROM daily WHERE (99 - j) % 4 = 0 AND i % 4 = 0 HAVING count(*) > 0""",
    "q_zarr" ->
      s"""WITH ${CubePack.cubeCte},
         daily AS (SELECT CASE WHEN CAST(time AS DATE) = DATE '2024-01-01'
                               THEN 0 ELSE 1 END AS day_idx,
                          floor(y)::BIGINT AS j, floor(x)::BIGINT AS i,
                          round(sum(v::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
                   FROM cube
                   WHERE CAST(time AS DATE) = DATE '2024-01-01'
                      OR CAST(time AS DATE) = DATE '2024-01-02'
                   GROUP BY day_idx, j, i)
         SELECT day_idx::BIGINT AS day_idx, count(*) AS n_cells,
                round(sum(((j + 0.5) + (i + 0.5))::DECIMAL(28,10)), 6)::DOUBLE AS sum_coord,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v
         FROM daily GROUP BY day_idx""",
    "q_sql_catalog" ->
      s"""WITH ${CubePack.cubeCte},
         daily AS (SELECT CASE WHEN CAST(time AS DATE) = DATE '2024-01-01'
                               THEN 0 ELSE 1 END AS day_idx,
                          floor(y)::BIGINT AS j, floor(x)::BIGINT AS i,
                          round(sum(v::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
                   FROM cube
                   WHERE CAST(time AS DATE) = DATE '2024-01-01'
                      OR CAST(time AS DATE) = DATE '2024-01-02'
                   GROUP BY day_idx, j, i)
         SELECT day_idx::BIGINT AS day_idx, count(*) AS n_cells,
                round(sum(((j + 0.5) + (i + 0.5))::DECIMAL(28,10)), 6)::DOUBLE AS sum_coord,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v
         FROM daily GROUP BY day_idx""",
    "q_zarr_agg_push" ->
      """SELECT (k // 36000)::BIGINT AS t, count(*) AS n_cells,
                min(v) AS min_v, max(v) AS max_v, sum(v) AS sum_v
         FROM (SELECT k,
                      (((k // 360) % 100) * 360 + (k % 360)
                        + (k // 36000) * 7) % 4096 / 64.0 AS v
               FROM range(0, 144000) r(k))
         WHERE ((k // 360) % 100) <= 49
         GROUP BY 1""",
    "q_archive_dsv2" ->
      """SELECT g::BIGINT AS t, count(*) AS n, sum(g * 100.0 + i) AS sum_v
         FROM range(1, 4) r(g), range(0, 24) s(i)
         GROUP BY 1""",
    "q_archive_parquet" ->
      """SELECT g::BIGINT AS t, count(*) AS n, sum(g * 100.0 + i) AS sum_v
         FROM range(1, 4) r(g), range(0, 24) s(i)
         GROUP BY 1""",
    // granule 1's cells are exactly the integers 1e6..1e6+131071; the
    // filter keeps 1010000..1014095 (all sums < 2^53: order-free exact)
    "q_archive_subchunk" ->
      """SELECT count(*) AS n, sum(k::DOUBLE) AS sum_v,
                min(k::DOUBLE) AS min_v, max(k::DOUBLE) AS max_v
         FROM range(1010000, 1014096) r(k)""",
    "q_zarr_block_meta" ->
      """SELECT (k // 36000) // 2 AS bt,
                ((k // 360) % 100) // 25 AS bj,
                count(*) AS n_cells,
                min(((k // 360) % 100) + 0.5) AS min_y,
                max(((k // 360) % 100) + 0.5) AS max_y,
                sum((k % 360) + 0.5) AS sum_x,
                avg((k // 36000)::DOUBLE) AS avg_t
         FROM range(0, 144000) r(k)
         WHERE (k % 360) + 0.5 <= 179.5
         GROUP BY 1, 2""",
    "q_zarr_topn_var" ->
      """SELECT (k // 36000)::BIGINT AS t,
                ((k // 360) % 100) + 0.5 AS y, (k % 360) + 0.5 AS x,
                (((k // 360) % 100) * 360 + (k % 360)
                  + (k // 36000) * 7) % 4096 / 64.0 AS v
         FROM range(0, 144000) r(k)
         ORDER BY 4 DESC, 1, 2, 3 LIMIT 100""",
    "q_zarr_block_agg" ->
      """SELECT (k // 36000)::BIGINT AS t,
                ((k // 360) % 100) // 10 AS bj,
                (k % 360) // 60 AS bi,
                count(*) AS n_cells,
                sum(v) AS sum_v, min(v) AS min_v, max(v) AS max_v,
                sum(v) / count(*) AS avg_v
         FROM (SELECT k,
                      (((k // 360) % 100) * 360 + (k % 360)
                        + (k // 36000) * 7) % 4096 / 64.0 AS v
               FROM range(0, 144000) r(k))
         GROUP BY 1, 2, 3""",
    "q_zarr_time_agg" ->
      """SELECT year(make_timestamp((k // 36000) * 2678400000000))::BIGINT AS yr,
                month(make_timestamp((k // 36000) * 2678400000000))::BIGINT AS mo,
                count(*) AS n_cells, sum(v) AS sum_v,
                min(v) AS min_v, max(v) AS max_v
         FROM (SELECT k,
                      (((k // 360) % 100) * 360 + (k % 360)
                        + (k // 36000) * 7) % 4096 / 64.0 AS v
               FROM range(0, 144000) r(k))
         GROUP BY 1, 2""",
    "q_zarr_timeseries" ->
      """SELECT g::BIGINT AS time, sum(v) / count(*) AS v_mean,
                count(*) AS v_count, min(v) AS v_min, max(v) AS v_max
         FROM (SELECT k // 36000 AS g,
                      ((k // 360) % 100) + 0.5 AS yc, (k % 360) + 0.5 AS xc,
                      (((k // 360) % 100) * 360 + (k % 360)
                        + (k // 36000) * 7) % 4096 / 64.0 AS v
               FROM range(0, 144000) r(k))
         WHERE xc / 120 + yc / 60 < 1
         GROUP BY g""",
    "q_zarr_time_meta" ->
      """SELECT 1970::BIGINT AS yr, (g + 1)::BIGINT AS mo,
                count(*) AS n_cells, min(g::DOUBLE) AS min_t,
                max(g::DOUBLE) AS max_t
         FROM (SELECT k // 36000 AS g FROM range(0, 144000) r(k))
         GROUP BY g""",
    "q_zarr_histogram" ->
      """SELECT floor((v - 2.0) / 4.0)::BIGINT AS bin, count(*) AS n_cells,
                min(v) AS min_v, max(v) AS max_v
         FROM (SELECT (((k // 360) % 100) * 360 + (k % 360)
                        + (k // 36000) * 7) % 4096 / 64.0 AS v
               FROM range(0, 144000) r(k))
         GROUP BY 1""",
    "q_zarr_stats" ->
      """WITH c AS (SELECT (((k // 360) % 100) * 360 + (k % 360)
                             + (k // 36000) * 7) % 4096 / 64.0 AS v
                    FROM range(0, 144000) r(k)),
            m AS (SELECT count(*) AS n, sum(v) AS s1, sum(v * v) AS s2,
                         min(v) AS min_v, max(v) AS max_v FROM c)
         SELECT n, min_v AS v_min, max_v AS v_max,
                round(s1 / n, 6) AS v_mean,
                round(sqrt((s2 - s1 * s1 / n) / (n - 1)), 6) AS v_std
         FROM m""",
    "q_zarr_histogram_op" ->
      """WITH c AS (SELECT (((k // 360) % 100) * 360 + (k % 360)
                             + (k // 36000) * 7) % 4096 / 64.0 AS v
                    FROM range(0, 144000) r(k)),
            m AS (SELECT min(v) AS lo, max(v) AS hi, count(*) AS nn FROM c),
            b AS (SELECT least(floor((v - lo) / ((hi - lo) / 16)),
                               15)::BIGINT AS bucket, count(*) AS cnt
                  FROM c, m GROUP BY 1)
         SELECT r.k AS bucket, coalesce(b.cnt, 0) AS n,
                round(coalesce(b.cnt, 0)::DOUBLE /
                      ((SELECT nn FROM m)::DOUBLE *
                       (SELECT (hi - lo) / 16 FROM m)), 6) AS density
         FROM range(0, 16) r(k) LEFT JOIN b ON b.bucket = r.k""",
    "q_zarr_resample_num" ->
      """SELECT make_timestamp(1970, (g + 1)::BIGINT, 1, 0, 0, 0) AS t,
                sum(v) / count(*) AS v_mean, count(*) AS v_count,
                max(v) AS v_max
         FROM (SELECT k // 36000 AS g,
                      (((k // 360) % 100) * 360 + (k % 360)
                        + (k // 36000) * 7) % 4096 / 64.0 AS v
               FROM range(0, 144000) r(k))
         GROUP BY g""",
    "q_zarr_value_prune" ->
      """SELECT (k // 36000)::BIGINT AS t,
                ((k // 360) % 100) + 0.5 AS y, (k % 360) + 0.5 AS x,
                (((k // 360) % 100) * 360 + (k % 360)
                  + (k // 36000) * 7) % 4096 / 64.0 AS v,
                k / 64.0 AS m
         FROM range(0, 144000) r(k)
         WHERE k / 64.0 > 2200.0""",
    "q_zarr_masked_stats" ->
      """SELECT (k // 36000)::BIGINT AS t, count(*) AS n,
                sum((((k // 360) % 100) * 360 + (k % 360)
                  + (k // 36000) * 7) % 4096 / 64.0) AS sum_v,
                min((((k // 360) % 100) * 360 + (k % 360)
                  + (k // 36000) * 7) % 4096 / 64.0) AS min_v,
                max((((k // 360) % 100) * 360 + (k % 360)
                  + (k // 36000) * 7) % 4096 / 64.0) AS max_v
         FROM range(0, 144000) r(k)
         WHERE k / 64.0 > 500.0 AND k / 64.0 <= 1500.0
         GROUP BY 1""",
    "q_zarr_stats_meta" ->
      """WITH c AS (SELECT (((k // 360) % 100) * 360 + (k % 360)
                             + (k // 36000) * 7) % 4096 / 64.0 AS v
                    FROM range(0, 144000) r(k)),
            m AS (SELECT count(*) AS n, sum(v) AS s1, sum(v * v) AS s2,
                         min(v) AS min_v, max(v) AS max_v FROM c)
         SELECT n, min_v AS v_min, max_v AS v_max,
                round(s1 / n, 6) AS v_mean,
                round(sqrt((s2 - s1 * s1 / n) / (n - 1)), 6) AS v_std
         FROM m""",
    "q_sql_analyze" ->
      """WITH c AS (SELECT (((k // 360) % 100) * 360 + (k % 360)
                             + (k // 36000) * 7) % 4096 / 64.0 AS v
                    FROM range(0, 144000) r(k))
         SELECT count(*) AS n, min(v) AS v_min, max(v) AS v_max,
                round(sum(v) / count(*), 6) AS v_mean FROM c""",
    "q_zarr_median" ->
      """WITH c AS (SELECT (((k // 360) % 100) * 360 + (k % 360)
                             + (k // 36000) * 7) % 4096 / 64.0 AS v
                    FROM range(0, 144000) r(k))
         SELECT 0.5::DOUBLE AS p,
                round(quantile_cont(v, 0.5)::DOUBLE, 6) AS value FROM c""",
    "q_zarr_resample_median" ->
      """WITH c AS (SELECT (k // 36000) // 2 AS g,
                           (((k // 360) % 100) * 360 + (k % 360)
                             + (k // 36000) * 7) % 4096 / 64.0 AS v
                    FROM range(0, 144000) r(k))
         SELECT make_timestamp((g * 172800 * 1000000)::BIGINT) AS t,
                round(quantile_cont(v, 0.5)::DOUBLE, 6) AS v_median
         FROM c GROUP BY g""",
    "q_zarr_resample_quartiles" ->
      """WITH c AS (SELECT (k // 36000) // 2 AS g,
                           (((k // 360) % 100) * 360 + (k % 360)
                             + (k // 36000) * 7) % 4096 / 64.0 AS v
                    FROM range(0, 144000) r(k))
         SELECT make_timestamp((g * 172800 * 1000000)::BIGINT) AS t,
                round(quantile_cont(v, 0.25)::DOUBLE, 6) AS q1,
                round(quantile_cont(v, 0.5)::DOUBLE, 6) AS q2,
                round(quantile_cont(v, 0.75)::DOUBLE, 6) AS q3
         FROM c GROUP BY g""",
    "q_zarr_timeseries_median" ->
      """WITH c AS (SELECT k // 36000 AS g,
                           (((k // 360) % 100) * 360 + (k % 360)
                             + (k // 36000) * 7) % 4096 / 64.0 AS v
                    FROM range(0, 144000) r(k))
         SELECT make_timestamp(1970, (g + 1)::BIGINT, 1, 0, 0, 0) AS time,
                round(quantile_cont(v, 0.5)::DOUBLE, 6) AS v_median
         FROM c GROUP BY g""",
    // exact containment at cell centers (x = i+0.5, y = j+0.5): the
    // triangle (5 5, 45 5, 5 45) covers x ≥ 5 ∧ y ≥ 5 ∧ x + y ≤ 50
    // (boundary-inclusive, like JTS covers); the box is a plain BETWEEN
    "q_zarr_timeseries_median_geom" ->
      """WITH c AS (SELECT k // 36000 AS g,
                           ((k // 360) % 100) AS j, (k % 360) AS i,
                           (((k // 360) % 100) * 360 + (k % 360)
                             + (k // 36000) * 7) % 4096 / 64.0 AS v
                    FROM range(0, 144000) r(k))
         SELECT make_timestamp(1970, (g + 1)::BIGINT, 1, 0, 0, 0) AS time,
                round(quantile_cont(v, 0.5)::DOUBLE, 6) AS v_median
         FROM c
         WHERE (i >= 5 AND j >= 5 AND (i + 0.5) + (j + 0.5) <= 50.0)
            OR (i BETWEEN 200 AND 259 AND j BETWEEN 60 AND 89)
         GROUP BY g""",
    "q_zarr_percentile" ->
      """WITH c AS (SELECT k / 64.0 AS m FROM range(0, 144000) r(k)),
            q AS (SELECT quantile_cont(m, [0.25, 0.75, 0.96875]) AS vs
                  FROM c)
         SELECT unnest([0.25, 0.75, 0.96875]::DOUBLE[]) AS p,
                round(unnest(vs)::DOUBLE, 6) AS value FROM q""",
    "q_zarr_subchunk" ->
      """WITH c AS (SELECT (k // 2048) AS j, (k % 2048) AS i
                    FROM range(0, 4194304) r(k)),
            vv AS (SELECT ((j // 128) * 16 + (i // 128))
                     + ((j % 128) * 128 + (i % 128)) / 32768.0 AS v
                   FROM c)
         SELECT count(*) AS n, round(sum(v), 6) AS sum_v,
                min(v) AS min_v, max(v) AS max_v
         FROM vv WHERE v >= 37.0 AND v < 38.0""",
    "q_zarr_zonal" ->
      """WITH c AS (SELECT ((k // 360) % 100) AS j, (k % 360) AS i,
                           (((k // 360) % 100) * 360 + (k % 360)
                             + (k // 36000) * 7) % 4096 / 64.0 AS v
                    FROM range(0, 144000) r(k))
         SELECT zone::BIGINT AS zone, count(*) AS n_cells,
                round(sum(v), 6) AS sum_v
         FROM (SELECT CASE
                 WHEN i BETWEEN 5 AND 39 AND j BETWEEN 5 AND 39 THEN 0
                 WHEN i BETWEEN 200 AND 259 AND j BETWEEN 60 AND 89 THEN 1
               END AS zone, v FROM c)
         WHERE zone IS NOT NULL
         GROUP BY zone""",
    "q_zarr_argmax" ->
      """WITH c AS (SELECT k // 36000 AS g,
                           ((k // 360) % 100) + 0.5 AS y,
                           (((k // 360) % 100) * 360 + (k % 360)
                             + (k // 36000) * 7) % 4096 / 64.0 AS v
                    FROM range(0, 144000) r(k)),
            r AS (SELECT CASE WHEN g <= 2 THEN 1 ELSE 4 END AS qm, y, g, v,
                         row_number() OVER (
                           PARTITION BY CASE WHEN g <= 2 THEN 1 ELSE 4 END, y
                           ORDER BY v DESC, g DESC) AS rn
                  FROM c)
         SELECT make_timestamp(1970, qm, 1, 0, 0, 0) AS t, y,
                g::DOUBLE AS v_argmax
         FROM r WHERE rn = 1""",
    "q_zarr_first" ->
      """SELECT make_timestamp(1970, CASE WHEN k // 36000 <= 2 THEN 1
                                          ELSE 4 END, 1, 0, 0, 0) AS t,
                ((k // 360) % 100) + 0.5 AS y, (k % 360) + 0.5 AS x,
                (((k // 360) % 100) * 360 + (k % 360)
                  + (k // 36000) * 7) % 4096 / 64.0 AS v_first
         FROM range(0, 144000) r(k)
         WHERE k // 36000 = 0 OR k // 36000 = 3""",
    "q_zarr_topn_stats" ->
      """SELECT (k // 36000)::BIGINT AS t,
                ((k // 360) % 100) + 0.5 AS y, (k % 360) + 0.5 AS x,
                k / 64.0 AS m
         FROM range(0, 144000) r(k)
         ORDER BY 4 DESC, 1, 2, 3 LIMIT 50""",
    "q_zarr_resample_std" ->
      """WITH c AS (SELECT k // 36000 AS g,
                           (((k // 360) % 100) * 360 + (k % 360)
                             + (k // 36000) * 7) % 4096 / 64.0 AS v
                    FROM range(0, 144000) r(k)),
            mo AS (SELECT g, count(*) AS n, sum(v) AS s1, sum(v * v) AS s2
                   FROM c GROUP BY g)
         SELECT make_timestamp(1970, (g + 1)::BIGINT, 1, 0, 0, 0) AS t,
                round(sqrt((s2 - s1 * s1 / n) / (n - 1)), 6) AS v_std,
                round((s2 - s1 * s1 / n) / (n - 1), 6) AS v_var,
                round(s1 / n, 6) AS v_mean, n AS v_count
         FROM mo""",
    "q_zarr_anyall" ->
      """SELECT make_timestamp(1970, CASE WHEN g <= 2 THEN 1 ELSE 4 END,
                               1, 0, 0, 0) AS t,
                y, bool_or(v <> 0) AS v_any, bool_and(v <> 0) AS v_all
         FROM (SELECT k // 36000 AS g, ((k // 360) % 100) + 0.5 AS y,
                      (((k // 360) % 100) * 360 + (k % 360)
                        + (k // 36000) * 7) % 4096 / 64.0 AS v
               FROM range(0, 144000) r(k))
         GROUP BY 1, 2""",
    "q_points_dsv2" ->
      """WITH cells AS (
           SELECT floor(CAST(event_id % 360 AS DOUBLE) + 0.5)::BIGINT AS i,
                  floor(CAST(user_id % 100 AS DOUBLE) + 0.5)::BIGINT AS j,
                  round(avg(value), 6) AS v
           FROM events GROUP BY i, j),
         pts AS (
           SELECT o_orderkey AS point_id,
                  (o_orderkey % 500) * 0.9 - 20.0 AS px,
                  ((o_custkey % 130) - 10.0)::DOUBLE AS py
           FROM orders WHERE o_orderkey < 400),
         idx AS (
           SELECT point_id,
                  CASE WHEN px >= 0 AND px < 360 THEN floor(px)::BIGINT ELSE -1 END AS x_index,
                  CASE WHEN py >= 0 AND py < 100 THEN floor(py)::BIGINT ELSE -1 END AS y_index
           FROM pts)
         SELECT point_id, x_index, y_index,
                (c.v IS NOT NULL) AS found,
                coalesce(c.v, -9999.0) AS v_out
         FROM idx LEFT JOIN cells c ON c.i = idx.x_index AND c.j = idx.y_index""",
    "q_zarr_subsample_mode" ->
      """WITH c AS (SELECT (k // 36000) AS t,
                           ((k // 360) % 100) // 50 AS block_j,
                           (k % 360) // 50 AS block_i,
                           (((k // 360) % 100) * 360 + (k % 360)
                             + (k // 36000) * 7) % 4096 / 64.0 AS v
                    FROM range(0, 144000) r(k)),
            cn AS (SELECT t, block_j, block_i, v, count(*) AS n
                   FROM c GROUP BY 1, 2, 3, 4),
            mx AS (SELECT t, block_j, block_i, max(n) AS top
                   FROM cn GROUP BY 1, 2, 3)
         SELECT cn.t::DOUBLE AS t, cn.block_j, cn.block_i,
                min(cn.v) AS v_mode
         FROM cn JOIN mx USING (t, block_j, block_i)
         WHERE cn.n = mx.top
         GROUP BY 1, 2, 3""",
    "q_zarr_subsample_first" ->
      """SELECT t::BIGINT AS t, CAST(0 AS BIGINT) AS block_j,
                bi AS block_i, ((bi * 120 + t * 7) % 4096) / 64.0 AS v_first
         FROM range(0, 4) r(t), range(0, 3) s(bi)""",
    "q_zarr_vars" ->
      """SELECT 'a' AS grid, count(*) AS n, sum((k * 3 + 1)::DOUBLE) AS sv
         FROM range(0, 24) r(k) WHERE k // 4 >= 2
         UNION ALL
         SELECT 'b', count(*), sum((k * 2)::DOUBLE) FROM range(0, 15) r(k)""",
    "q_zarr_delete" ->
      """SELECT count(*) AS n_rows, sum((k * 2 + 1)::DOUBLE) AS sum_v,
                max(k // 5)::DOUBLE AS max_t,
                max(k * 2 + 1)::DOUBLE AS max_v
         FROM range(0, 50) r(k) WHERE k // 5 < 6""",
    "q_zarr_topn" ->
      """SELECT (k // 36000)::BIGINT AS t,
                ((k // 360) % 100) + 0.5 AS y, (k % 360) + 0.5 AS x,
                (((k // 360) % 100) * 360 + (k % 360)
                  + (k // 36000) * 7) % 4096 / 64.0 AS v
         FROM range(0, 144000) r(k)
         ORDER BY 1 DESC, 2 DESC, 3 DESC LIMIT 500""",
    "q_zarr_interval_scan" ->
      """SELECT (k // 36000)::BIGINT AS t, count(*) AS n_cells,
                sum(((k // 360) % 100) + 0.5) AS sum_y,
                avg((k % 360) + 0.5) AS avg_x,
                sum((((k // 360) % 100) * 360 + (k % 360)
                      + (k // 36000) * 7) % 4096 / 64.0) AS sum_v
         FROM range(0, 144000) r(k)
         WHERE (k // 36000) IN (0, 2)
           AND ((k // 360) % 100) + 0.5 <> 50.5
           AND ((k % 360) + 0.5 < 90.5 OR (k % 360) + 0.5 > 269.5)
         GROUP BY 1""",
    "q_zarr_stream_read" ->
      s"""WITH ${CubePack.cubeCte},
         daily AS (SELECT CASE WHEN CAST(time AS DATE) = DATE '2024-01-01'
                               THEN 0 ELSE 1 END AS day_idx,
                          floor(y)::BIGINT AS j, floor(x)::BIGINT AS i,
                          round(sum(v::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
                   FROM cube
                   WHERE CAST(time AS DATE) = DATE '2024-01-01'
                      OR CAST(time AS DATE) = DATE '2024-01-02'
                   GROUP BY day_idx, j, i)
         SELECT day_idx::BIGINT AS day_idx, count(*) AS n_cells,
                round(sum(((j + 0.5) + (i + 0.5))::DECIMAL(28,10)), 6)::DOUBLE AS sum_coord,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v
         FROM daily GROUP BY day_idx""",
    "q_zarr_multivar" ->
      s"""WITH ${CubePack.cubeCte},
         daily AS (SELECT CASE WHEN CAST(time AS DATE) = DATE '2024-01-01'
                               THEN 0 ELSE 1 END AS day_idx,
                          floor(y)::BIGINT AS j, floor(x)::BIGINT AS i,
                          round(sum(v::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v,
                          count(*) AS w
                   FROM cube
                   WHERE CAST(time AS DATE) = DATE '2024-01-01'
                      OR CAST(time AS DATE) = DATE '2024-01-02'
                   GROUP BY day_idx, j, i)
         SELECT day_idx::BIGINT AS day_idx, count(*) AS n_cells,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v,
                sum(w)::BIGINT AS n_events
         FROM daily GROUP BY day_idx""",
    "q_zarr_dsv2_write" ->
      s"""WITH ${CubePack.cubeCte},
         daily AS (SELECT CASE WHEN CAST(time AS DATE) = DATE '2024-01-01'
                               THEN 0 ELSE 1 END AS day_idx,
                          floor(y)::BIGINT AS j, floor(x)::BIGINT AS i,
                          round(sum(v::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v,
                          count(*) AS w
                   FROM cube
                   WHERE CAST(time AS DATE) = DATE '2024-01-01'
                      OR CAST(time AS DATE) = DATE '2024-01-02'
                   GROUP BY day_idx, j, i)
         SELECT day_idx::BIGINT AS day_idx, count(*) AS n_cells,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v,
                sum(w)::BIGINT AS n_events
         FROM daily GROUP BY day_idx""",
    "q_zarr_s3" ->
      s"""WITH ${CubePack.cubeCte},
         daily AS (SELECT CASE WHEN CAST(time AS DATE) = DATE '2024-01-01'
                               THEN 0 ELSE 1 END AS day_idx,
                          floor(y)::BIGINT AS j, floor(x)::BIGINT AS i,
                          round(sum(v::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
                   FROM cube
                   WHERE CAST(time AS DATE) = DATE '2024-01-01'
                      OR CAST(time AS DATE) = DATE '2024-01-02'
                   GROUP BY day_idx, j, i)
         SELECT day_idx::BIGINT AS day_idx, count(*) AS n_cells,
                round(sum(((j + 0.5) + (i + 0.5))::DECIMAL(28,10)), 6)::DOUBLE AS sum_coord,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v
         FROM daily GROUP BY day_idx""",
    "q_zarr_dsv2" ->
      s"""WITH ${CubePack.cubeCte},
         daily AS (SELECT floor(y)::BIGINT AS j, floor(x)::BIGINT AS i,
                          round(sum(v::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
                   FROM cube
                   WHERE CAST(time AS DATE) = DATE '2024-01-01'
                   GROUP BY j, i)
         SELECT count(*) AS n_cells,
                round(sum(((j + 0.5) + (i + 0.5))::DECIMAL(28,10)), 6)::DOUBLE AS sum_coord,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v
         FROM daily""",
    "q_netcdf_dsv2" ->
      s"""WITH ${CubePack.cubeCte},
         daily AS (SELECT floor(y)::BIGINT AS j, floor(x)::BIGINT AS i,
                          round(sum(v::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
                   FROM cube
                   WHERE CAST(time AS DATE) = DATE '2024-01-01'
                   GROUP BY j, i)
         SELECT count(*) AS n_cells,
                round(sum(((j + 0.5) + (i + 0.5))::DECIMAL(28,10)), 6)::DOUBLE AS sum_coord,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v
         FROM daily WHERE j <= 49""",
    "q_geotiff_dsv2" ->
      s"""WITH ${CubePack.cubeCte},
         daily AS (SELECT floor(y)::BIGINT AS j, floor(x)::BIGINT AS i,
                          round(sum(v::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
                   FROM cube
                   WHERE CAST(time AS DATE) = DATE '2024-01-01'
                   GROUP BY j, i)
         SELECT j // 10 AS jband, count(*) AS n_cells,
                round(sum(((j + 0.5) + (i + 0.5))::DECIMAL(28,10)), 6)::DOUBLE AS sum_coord,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v
         FROM daily WHERE j <= 35 GROUP BY jband""",
    "q_kerchunk_dsv2" ->
      s"""WITH ${CubePack.cubeCte},
         daily AS (SELECT floor(y)::BIGINT AS j, floor(x)::BIGINT AS i,
                          round(sum(v::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
                   FROM cube
                   WHERE CAST(time AS DATE) = DATE '2024-01-02'
                   GROUP BY j, i)
         SELECT count(*) AS n_cells,
                round(sum(((j + 0.5) + (i + 0.5))::DECIMAL(28,10)), 6)::DOUBLE AS sum_coord,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v
         FROM daily""",
    "q_zarr_http" ->
      s"""WITH ${CubePack.cubeCte},
         daily AS (SELECT CASE WHEN CAST(time AS DATE) = DATE '2024-01-01'
                               THEN 0 ELSE 1 END AS day_idx,
                          floor(y)::BIGINT AS j, floor(x)::BIGINT AS i,
                          round(sum(v::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
                   FROM cube
                   WHERE CAST(time AS DATE) = DATE '2024-01-01'
                      OR CAST(time AS DATE) = DATE '2024-01-02'
                   GROUP BY day_idx, j, i)
         SELECT day_idx::BIGINT AS day_idx, count(*) AS n_cells,
                round(sum(((j + 0.5) + (i + 0.5))::DECIMAL(28,10)), 6)::DOUBLE AS sum_coord,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v
         FROM daily GROUP BY day_idx""",
    "q_zarr_ftp" ->
      s"""WITH ${CubePack.cubeCte},
         daily AS (SELECT CASE WHEN CAST(time AS DATE) = DATE '2024-01-01'
                               THEN 0 ELSE 1 END AS day_idx,
                          floor(y)::BIGINT AS j, floor(x)::BIGINT AS i,
                          round(sum(v::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
                   FROM cube
                   WHERE CAST(time AS DATE) = DATE '2024-01-01'
                      OR CAST(time AS DATE) = DATE '2024-01-02'
                   GROUP BY day_idx, j, i)
         SELECT day_idx::BIGINT AS day_idx, count(*) AS n_cells,
                round(sum(((j + 0.5) + (i + 0.5))::DECIMAL(28,10)), 6)::DOUBLE AS sum_coord,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v
         FROM daily GROUP BY day_idx""",
    "q_unchunk" ->
      s"""WITH ${CubePack.cubeCte},
         daily AS (SELECT CASE WHEN CAST(time AS DATE) = DATE '2024-01-01'
                               THEN 0 ELSE 1 END AS day_idx,
                          floor(y)::BIGINT AS j, floor(x)::BIGINT AS i,
                          round(sum(v::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
                   FROM cube
                   WHERE CAST(time AS DATE) = DATE '2024-01-01'
                      OR CAST(time AS DATE) = DATE '2024-01-02'
                   GROUP BY day_idx, j, i)
         SELECT day_idx::BIGINT AS day_idx, count(*) AS n_cells,
                round(sum(((j + 0.5) + (i + 0.5))::DECIMAL(28,10)), 6)::DOUBLE AS sum_coord,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v
         FROM daily GROUP BY day_idx""",
    "q_zarr_append" ->
      s"""WITH ${CubePack.cubeCte},
         daily AS (SELECT CASE WHEN CAST(time AS DATE) = DATE '2024-01-01'
                               THEN 0 ELSE 1 END AS day_idx,
                          floor(y)::BIGINT AS j, floor(x)::BIGINT AS i,
                          round(sum(v::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
                   FROM cube
                   WHERE CAST(time AS DATE) = DATE '2024-01-01'
                      OR CAST(time AS DATE) = DATE '2024-01-02'
                   GROUP BY day_idx, j, i)
         SELECT day_idx::BIGINT AS day_idx, count(*) AS n_cells,
                round(sum(((j + 0.5) + (i + 0.5))::DECIMAL(28,10)), 6)::DOUBLE AS sum_coord,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v
         FROM daily GROUP BY day_idx""",
    "q_zarr_blosc" ->
      s"""WITH ${CubePack.cubeCte},
         daily AS (SELECT CASE WHEN CAST(time AS DATE) = DATE '2024-01-01'
                               THEN 0 ELSE 1 END AS day_idx,
                          floor(y)::BIGINT AS j, floor(x)::BIGINT AS i,
                          round(sum(v::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
                   FROM cube
                   WHERE CAST(time AS DATE) = DATE '2024-01-01'
                      OR CAST(time AS DATE) = DATE '2024-01-02'
                   GROUP BY day_idx, j, i)
         SELECT day_idx::BIGINT AS day_idx, count(*) AS n_cells,
                round(sum(((j + 0.5) + (i + 0.5))::DECIMAL(28,10)), 6)::DOUBLE AS sum_coord,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v
         FROM daily GROUP BY day_idx""",
    "q_zarr_v3" ->
      s"""WITH ${CubePack.cubeCte},
         daily AS (SELECT CASE WHEN CAST(time AS DATE) = DATE '2024-01-01'
                               THEN 0 ELSE 1 END AS day_idx,
                          floor(y)::BIGINT AS j, floor(x)::BIGINT AS i,
                          round(sum(v::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
                   FROM cube
                   WHERE CAST(time AS DATE) = DATE '2024-01-01'
                      OR CAST(time AS DATE) = DATE '2024-01-02'
                   GROUP BY day_idx, j, i)
         SELECT day_idx::BIGINT AS day_idx, count(*) AS n_cells,
                round(sum(((j + 0.5) + (i + 0.5))::DECIMAL(28,10)), 6)::DOUBLE AS sum_coord,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v
         FROM daily GROUP BY day_idx""",
    "q_zarr_v3_sharded" ->
      s"""WITH ${CubePack.cubeCte},
         daily AS (SELECT CASE WHEN CAST(time AS DATE) = DATE '2024-01-01'
                               THEN 0 ELSE 1 END AS day_idx,
                          floor(y)::BIGINT AS j, floor(x)::BIGINT AS i,
                          round(sum(v::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
                   FROM cube
                   WHERE CAST(time AS DATE) = DATE '2024-01-01'
                      OR CAST(time AS DATE) = DATE '2024-01-02'
                   GROUP BY day_idx, j, i)
         SELECT day_idx::BIGINT AS day_idx, count(*) AS n_cells,
                round(sum(((j + 0.5) + (i + 0.5))::DECIMAL(28,10)), 6)::DOUBLE AS sum_coord,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v
         FROM daily GROUP BY day_idx""",
    "q_kerchunk_lazy" ->
      s"""WITH ${CubePack.cubeCte},
         daily AS (SELECT CASE WHEN CAST(time AS DATE) = DATE '2024-01-01'
                               THEN 0 ELSE 1 END AS day_idx,
                          floor(y)::BIGINT AS j, floor(x)::BIGINT AS i,
                          round(sum(v::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
                   FROM cube
                   WHERE CAST(time AS DATE) = DATE '2024-01-01'
                      OR CAST(time AS DATE) = DATE '2024-01-02'
                   GROUP BY day_idx, j, i)
         SELECT 'zarr_day' || day_idx AS src, count(*) AS n_cells,
                round(sum(((j + 0.5) + (i + 0.5))::DECIMAL(28,10)), 6)::DOUBLE AS sum_coord,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v
         FROM daily GROUP BY src""",
    "q_kerchunk" ->
      s"""WITH ${CubePack.cubeCte},
         daily AS (SELECT CASE WHEN CAST(time AS DATE) = DATE '2024-01-01'
                               THEN 0 ELSE 1 END AS day_idx,
                          floor(y)::BIGINT AS j, floor(x)::BIGINT AS i,
                          round(sum(v::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
                   FROM cube
                   WHERE CAST(time AS DATE) = DATE '2024-01-01'
                      OR CAST(time AS DATE) = DATE '2024-01-02'
                   GROUP BY day_idx, j, i)
         SELECT 'zarr_day' || day_idx AS src, count(*) AS n_cells,
                round(sum(((j + 0.5) + (i + 0.5))::DECIMAL(28,10)), 6)::DOUBLE AS sum_coord,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v
         FROM daily GROUP BY src
         UNION ALL
         SELECT 'nc_2024-01-01' AS src, count(*) AS n_cells,
                round(sum(((j + 0.5) + (i + 0.5))::DECIMAL(28,10)), 6)::DOUBLE AS sum_coord,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v
         FROM daily WHERE day_idx = 0 GROUP BY src
         UNION ALL
         SELECT 'tif_2024-01-01' AS src, count(*) AS n_cells,
                round(sum(((j + 0.5) + (i + 0.5))::DECIMAL(28,10)), 6)::DOUBLE AS sum_coord,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v
         FROM daily WHERE day_idx = 0 GROUP BY src
         UNION ALL
         SELECT 'jp2_2024-01-01' AS src,
                (SELECT count(*)
                 FROM range(0, 100) t(j) CROSS JOIN range(0, 360) t2(i)) AS n_cells,
                (SELECT round(sum(((t.j + 0.5) + (t2.i + 0.5))::DECIMAL(28,10)), 6)::DOUBLE
                 FROM range(0, 100) t(j) CROSS JOIN range(0, 360) t2(i)) AS sum_coord,
                (SELECT round(count(*)::DECIMAL(28,10), 6)::DOUBLE FROM cube
                 WHERE CAST(time AS DATE) = DATE '2024-01-01') AS sum_v""",
    "q_cube_diff" ->
      s"""WITH ${CubePack.cubeCte},
         d1 AS (SELECT floor(y)::BIGINT AS j, floor(x)::BIGINT AS i,
                       round(sum(v::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
                FROM cube WHERE CAST(time AS DATE) = DATE '2024-01-01'
                GROUP BY j, i),
         d2 AS (SELECT floor(y)::BIGINT AS j, floor(x)::BIGINT AS i,
                       round(sum(v::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
                FROM cube WHERE CAST(time AS DATE) = DATE '2024-01-02'
                GROUP BY j, i),
         f AS (SELECT d1.v AS va, d2.v AS vb
               FROM d1 FULL OUTER JOIN d2 ON d1.j = d2.j AND d1.i = d2.i),
         c AS (SELECT CASE WHEN va IS NULL THEN 'added'
                           WHEN vb IS NULL THEN 'removed'
                           WHEN va = vb THEN 'same'
                           ELSE 'changed' END AS status,
                      coalesce(vb, 0)::DECIMAL(28,10) -
                        coalesce(va, 0)::DECIMAL(28,10) AS delta
               FROM f)
         SELECT status, count(*) AS n_cells,
                round(sum(delta), 6)::DOUBLE AS sum_delta
         FROM c GROUP BY status""",
    "q_kerchunk_combine" ->
      s"""WITH ${CubePack.cubeCte},
         daily AS (SELECT CASE WHEN CAST(time AS DATE) = DATE '2024-01-01'
                               THEN 0 ELSE 1 END AS day_idx,
                          floor(y)::BIGINT AS j, floor(x)::BIGINT AS i,
                          round(sum(v::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
                   FROM cube
                   WHERE CAST(time AS DATE) = DATE '2024-01-01'
                      OR CAST(time AS DATE) = DATE '2024-01-02'
                   GROUP BY day_idx, j, i)
         SELECT day_idx::BIGINT AS day_idx, count(*) AS n_cells,
                round(sum(((j + 0.5) + (i + 0.5))::DECIMAL(28,10)), 6)::DOUBLE AS sum_coord,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v
         FROM daily GROUP BY day_idx""",
    "q_netcdf" ->
      s"""WITH ${CubePack.cubeCte},
         daily AS (SELECT CAST(time AS DATE)::VARCHAR AS day,
                          floor(y)::BIGINT AS j, floor(x)::BIGINT AS i,
                          round(sum(v::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
                   FROM cube
                   -- NOT `IN (DATE ..., DATE ...)`: DuckDB 1.0 resolves that
                   -- IN-list to zero matches against a CAST(ts AS DATE) LHS
                   WHERE CAST(time AS DATE) = DATE '2024-01-01'
                      OR CAST(time AS DATE) = DATE '2024-01-02'
                   GROUP BY day, j, i)
         SELECT day, count(*) AS n_cells,
                round(sum(((j + 0.5) + (i + 0.5))::DECIMAL(28,10)), 6)::DOUBLE AS sum_coord,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v
         FROM daily GROUP BY day""",
    "q_netcdf4" ->
      s"""WITH ${CubePack.cubeCte},
         daily AS (SELECT CAST(time AS DATE)::VARCHAR AS day,
                          floor(y)::BIGINT AS j, floor(x)::BIGINT AS i,
                          round(sum(v::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
                   FROM cube
                   WHERE CAST(time AS DATE) = DATE '2024-01-01'
                      OR CAST(time AS DATE) = DATE '2024-01-02'
                   GROUP BY day, j, i)
         SELECT day, count(*) AS n_cells,
                round(sum(((j + 0.5) + (i + 0.5))::DECIMAL(28,10)), 6)::DOUBLE AS sum_coord,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v
         FROM daily GROUP BY day""",
    "q_sentinel3" -> sentinel3OracleSql,
    "q_sentinel3_dsv2" -> sentinel3OracleSql,
    "q_netcdf4_compact" ->
      s"""WITH ${CubePack.cubeCte},
         daily AS (SELECT CAST(time AS DATE)::VARCHAR AS day,
                          floor(y)::BIGINT AS j, floor(x)::BIGINT AS i,
                          round(sum(v::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
                   FROM cube
                   WHERE CAST(time AS DATE) = DATE '2024-01-01'
                      OR CAST(time AS DATE) = DATE '2024-01-02'
                   GROUP BY day, j, i)
         SELECT day, count(*) AS n_cells,
                round(sum(((j + 0.5) + (i + 0.5))::DECIMAL(28,10)), 6)::DOUBLE AS sum_coord,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v
         FROM daily GROUP BY day""",
    "q_netcdf4_latest" ->
      s"""WITH ${CubePack.cubeCte},
         daily AS (SELECT CAST(time AS DATE)::VARCHAR AS day,
                          floor(y)::BIGINT AS j, floor(x)::BIGINT AS i,
                          round(sum(v::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
                   FROM cube
                   WHERE CAST(time AS DATE) = DATE '2024-01-01'
                      OR CAST(time AS DATE) = DATE '2024-01-02'
                   GROUP BY day, j, i)
         SELECT day, count(*) AS n_cells,
                round(sum(((j + 0.5) + (i + 0.5))::DECIMAL(28,10)), 6)::DOUBLE AS sum_coord,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v
         FROM daily GROUP BY day""",
    "q_netcdf4_dense" ->
      s"""WITH ${CubePack.cubeCte},
         daily AS (SELECT floor(y)::BIGINT AS j, floor(x)::BIGINT AS i,
                          round(sum(v::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
                   FROM cube
                   WHERE CAST(time AS DATE) = DATE '2024-01-01'
                   GROUP BY j, i),
         ks AS (SELECT unnest([3, 7, 11]) AS k)
         SELECT k::BIGINT AS k, count(*) AS n_cells,
                round(sum(((j + 0.5) + (i + 0.5))::DECIMAL(28,10)), 6)::DOUBLE AS sum_coord,
                round(sum((v + k)::DECIMAL(28,10)), 6)::DOUBLE AS sum_v
         FROM daily CROSS JOIN ks GROUP BY k""",
    "q_kerchunk_hdf5" ->
      s"""WITH ${CubePack.cubeCte},
         daily AS (SELECT CAST(time AS DATE)::VARCHAR AS day,
                          floor(y)::BIGINT AS j, floor(x)::BIGINT AS i,
                          round(sum(v::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
                   FROM cube
                   WHERE CAST(time AS DATE) = DATE '2024-01-01'
                      OR CAST(time AS DATE) = DATE '2024-01-02'
                   GROUP BY day, j, i)
         SELECT day, count(*) AS n_cells,
                round(sum(((j + 0.5) + (i + 0.5))::DECIMAL(28,10)), 6)::DOUBLE AS sum_coord,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v
         FROM daily GROUP BY day""",
    "q_shapefile" ->
      """SELECT * FROM (VALUES
           ('POINT (10.0 20.0)', 'alpha', 500::BIGINT),
           ('POINT (45.0 25.0)', 'beta', 80::BIGINT),
           ('POINT (30.0 5.0)', 'gamma', 900::BIGINT),
           ('POLYGON ((0.0 0.0, 10.0 0.0, 10.0 10.0, 0.0 0.0))', 'pg1', 7::BIGINT),
           ('POLYGON ((20.0 20.0, 30.0 20.0, 20.0 30.0, 20.0 20.0))', 'pg2', 9::BIGINT))
         AS t(geometry, name, pop)""",
    "q_places" ->
      """SELECT name, x, y, pop FROM (VALUES
           ('alpha', 10.0, 20.0, 500::BIGINT),
           ('beta', 45.0, 25.0, 80::BIGINT),
           ('gamma', 30.0, 5.0, 900::BIGINT),
           ('delta', 70.0, 10.0, 1200::BIGINT),
           ('epsilon', 20.0, 29.0, 150::BIGINT)) AS t(name, x, y, pop)
         WHERE x BETWEEN 0.0 AND 50.0 AND y BETWEEN 0.0 AND 30.0
           AND pop >= 100""",
    "q_verify_cube" ->
      """SELECT * FROM (VALUES
           ('broken', 'time column ''time'' is StringType, expected timestamp'),
           ('broken', 'coordinate column ''y'' is IntegerType, expected double'),
           ('broken', 'variable ''v'' has non-numeric type StringType'),
           ('novars', 'cube has no data variables')) AS t(cube, issue)""",
    "q_cube_attrs" ->
      s"""WITH ${CubePack.cubeCte},
         a AS (SELECT min(x) AS xmin, max(x) AS xmax,
                      min(y) AS ymin, max(y) AS ymax,
                      min(date_trunc('day', time)) AS t0,
                      max(date_trunc('day', time)) AS t1
               FROM cube)
         SELECT 'geospatial_lon_min' AS key, xmin::VARCHAR AS value FROM a
         UNION ALL SELECT 'geospatial_lon_max', xmax::VARCHAR FROM a
         UNION ALL SELECT 'geospatial_lat_min', ymin::VARCHAR FROM a
         UNION ALL SELECT 'geospatial_lat_max', ymax::VARCHAR FROM a
         UNION ALL SELECT 'time_coverage_start',
                          strftime(t0, '%Y-%m-%dT%H:%M:%SZ') FROM a
         UNION ALL SELECT 'time_coverage_end',
                          strftime(t1, '%Y-%m-%dT%H:%M:%SZ') FROM a
         UNION ALL SELECT 'geospatial_lon_resolution', '1.0'
         UNION ALL SELECT 'geospatial_lat_resolution', '1.0'""",
    "q_computed_levels" ->
      s"""WITH ${CubePack.cubeCte}
         SELECT 0::BIGINT AS level, 1.0 AS x_res, count(*) AS n,
                round(sum(v), 6) AS sum_v
         FROM cube
         UNION ALL
         SELECT 1, 2.0, count(*), round(sum(v), 6) FROM cube
         WHERE floor(x)::BIGINT % 2 = 0 AND floor(y)::BIGINT % 2 = 0
         UNION ALL
         SELECT 2, 4.0, count(*), round(sum(v), 6) FROM cube
         WHERE floor(x)::BIGINT % 4 = 0 AND floor(y)::BIGINT % 4 = 0""",
    "q_level_for_res" ->
      """SELECT * FROM (VALUES (1::BIGINT, 0::BIGINT), (2, 1), (3, 1),
           (4, 2), (5, 2)) AS t(res, level)""",
    "q_varexpr_validate" ->
      """SELECT * FROM (VALUES
           ('sqrt(v) + x', true),
           ('where(v > 50.0, log10(v), nan)', true),
           ('v ** 2 > y and x < 10.0', true),
           ('unknown_var + 1', false),
           ('foo(v)', false),
           ('v +', false)) AS t(expr, ok)""",
    "q_memory_store" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
         FROM events GROUP BY event_type""",
    "q_coverage" ->
      s"""WITH ${CubePack.cubeCte},
         sub AS (SELECT time, y, x, v FROM cube
                 WHERE x BETWEEN 20.0 AND 180.0 AND y BETWEEN 10.0 AND 70.0
                   AND time >= TIMESTAMP '2024-01-03'
                   AND time < TIMESTAMP '2024-01-10' + INTERVAL 1 DAY),
         blk AS (SELECT time, floor(y)::BIGINT // 4 AS bj, floor(x)::BIGINT // 4 AS bi,
                        round(avg(v), 6) AS v
                 FROM sub GROUP BY time, bj, bi)
         SELECT time, 0.0 + (bj + 0.5) * 4.0 AS y, 0.0 + (bi + 0.5) * 4.0 AS x, v
         FROM blk""",
    "q_lon360" ->
      s"""WITH ${CubePack.cubeCte},
         l AS (SELECT CASE WHEN x > 180.0 THEN x - 360.0 ELSE x END AS lon, v
               FROM cube)
         SELECT lon < 0.0 AS west, count(*) AS n,
                round(min(lon), 6) AS lon_min, round(max(lon), 6) AS lon_max,
                round(sum(v), 6) AS sum_v
         FROM l GROUP BY west""",
    "q_find_slice" ->
      """WITH days AS (SELECT DISTINCT date_trunc('day', ts) AS t FROM events),
         probes(probe) AS (VALUES ('2024-01-15 00:00:00'),
                                  ('2024-02-05 00:00:00'),
                                  ('2024-01-15 12:00:00'))
         SELECT probe,
                CASE WHEN EXISTS(SELECT 1 FROM days WHERE t = probe::TIMESTAMP)
                     THEN 'Replace'
                     WHEN probe::TIMESTAMP > (SELECT max(t) FROM days)
                     THEN 'Append'
                     ELSE 'Insert' END AS position
         FROM probes""",
    "q_drop_vars" ->
      s"""WITH ${CubePack.cubeCte}
         SELECT count(*) AS n, round(sum(v), 6) AS sum_v,
                round(sum(x + y), 6) AS sum_xy
         FROM cube""",
    "q_update_slice" ->
      s"""WITH ${CubePack.cubeCte},
         daily AS (SELECT date_trunc('day', time) AS day, y, x,
                          round(sum(v::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
                   FROM cube GROUP BY day, y, x),
         base AS (SELECT day, v, v * 10.0 AS v2 FROM daily
                  WHERE day IN (TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-02')),
         u AS (SELECT day, v,
                      CASE WHEN day = TIMESTAMP '2024-01-01'
                           THEN v2 + 1000.0 ELSE v2 END AS v2
               FROM base)
         SELECT strftime(day, '%Y-%m-%d') AS day, count(*) AS n,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v,
                round(sum(v2::DECIMAL(28,10)), 6)::DOUBLE AS sum_v2
         FROM u GROUP BY 1""",
    "q_stream_upsert" ->
      s"""WITH ${CubePack.cubeCte},
         u AS (
           SELECT CAST(time AS DATE) AS day, event_type, v * 2 AS v
           FROM cube WHERE CAST(time AS DATE) = DATE '2024-01-01'
           UNION ALL
           SELECT CAST(time AS DATE) AS day, event_type, v
           FROM cube WHERE CAST(time AS DATE) = DATE '2024-01-02')
         SELECT day::VARCHAR AS day, event_type,
                count(*) AS n, round(sum(v), 6) AS sum_v
         FROM u GROUP BY day, event_type""",
    "q_stream_zarr" ->
      s"""WITH ${CubePack.cubeCte},
         daily AS (SELECT CASE WHEN CAST(time AS DATE) = DATE '2024-01-01'
                               THEN 0 ELSE 1 END AS day_idx,
                          floor(y)::BIGINT AS j, floor(x)::BIGINT AS i,
                          round(sum(v::DECIMAL(28,12))::DOUBLE / count(*), 6) AS v
                   FROM cube
                   WHERE CAST(time AS DATE) = DATE '2024-01-01'
                      OR CAST(time AS DATE) = DATE '2024-01-02'
                   GROUP BY day_idx, j, i)
         SELECT day_idx::BIGINT AS day_idx, count(*) AS n_cells,
                round(sum(((j + 0.5) + (i + 0.5))::DECIMAL(28,10)), 6)::DOUBLE AS sum_coord,
                round(sum(v::DECIMAL(28,10)), 6)::DOUBLE AS sum_v
         FROM daily GROUP BY day_idx"""
  )
}
