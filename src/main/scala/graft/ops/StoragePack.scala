package graft.ops

import graft.{Fixtures, GraftSession, QueryPack}
import graft.operators.MaintenanceOps
import graft.sources.{CachedDataStore, CubeWriter, DataStore, FsDataStore}
import graft.streaming.StatePartitioning.drain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout + streaming pack (SURVEY §2.1/§2.9).
  *
  * q_pruned_scan: writes the events cube Parquet-partitioned by
  * (p_date, p_block), then answers a bbox+time query through the pruned
  * layout — same answer as the raw scan, but the plan touches only the
  * intersecting partition directories (PartitionFilters).
  *
  * q_stream_window: genuine Structured Streaming — file source over the
  * events parquet, 1-day event-time windows with a watermark, AvailableNow
  * trigger into a memory sink; the converged result equals the batch
  * day-bucket aggregation, which is what the DuckDB oracle checks.
  */
object StoragePack extends QueryPack {

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_pruned_scan" -> ((s, d) => {
      val cube0 = CubePack.eventsCube(s, d)
      // 64x64 tiles → 6x2 blocks on the 360x100 grid
      val gm = cube0.gm.copy(tileWidth = 64, tileHeight = 64)
      val cube = cube0.copy(gm = gm)
      // layout build is a one-time fixture: the query measures the pruned READ
      val path = Fixtures.layout(d, "cube_parts",
        "tile=64x64,partitioned") { path =>
        CubeWriter.writePartitioned(cube, path)
      }
      CubeWriter.prunedScan(s, path, gm,
          bbox = Some((30.0, 10.0, 99.0, 49.0)),
          dateRange = Some(("2024-01-05", "2024-01-14")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum(col("v")), 6).as("sum_v"))
    }),

    "q_stream_window" -> ((s, d) => {
      val ss = graft.streaming.StatePartitioning.replaySession(
        s, Seq(s"$d/events.parquet"))
      val schema = GraftSession.table(s, d, "events").schema
      val stream = ss.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(d)
        .transform(GraftSession.normalizeTs(_))
        .withWatermark("ts", "1 day")
      val agg = stream
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("sum_value"))
        .select(col("window.start").as("t"), col("event_type"), col("n"), col("sum_value"))
      drain(agg, "complete")
    }),

    // streaming grouped top-k: the bounded-heap CollectTopK aggregate
    // inside a Structured Streaming aggregation — per-key state is k rows
    // (the heap buffer), not the candidate history, so a hot key costs
    // O(k) state where a window-rank formulation would buffer everything.
    // Converged AvailableNow output must equal the batch top-k.
    "q_stream_topk" -> ((s, d) => {
      val ss = graft.streaming.StatePartitioning.replaySession(
        s, Seq(s"$d/events.parquet"))
      val schema = GraftSession.table(s, d, "events").schema
      val stream = ss.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(d)
        .transform(GraftSession.normalizeTs(_))
        .withWatermark("ts", "1 day")
      val agg = stream
        .groupBy(col("event_type"))
        .agg(graft.functions.TopK.bottomK(
          struct(negate(col("value")).as("__o"), col("event_id"),
            col("value")), 5).as("__tk"))
      drain(agg, "complete")
        .select(col("event_type"), posexplode(col("__tk")).as(Seq("__p", "__r")))
        .select(col("event_type"), (col("__p") + 1).cast("long").as("rank"),
          col("__r.event_id").as("event_id"), col("__r.value").as("value"))
    }),

    // custom streaming state (flatMapGroupsWithState): per-user running
    // tracker (count, integer-cent sum, event-time-ordered last value) —
    // converged Update-mode output must equal the batch aggregation because
    // the state transition is arrival-order-independent by construction
    "q_stream_state" -> ((s, d) => {
      import graft.streaming.StatefulOps
      val ss = graft.streaming.StatePartitioning.replaySession(
        s, Seq(s"$d/events.parquet"))
      import ss.implicits._
      val schema = GraftSession.table(s, d, "events").schema
      val obs = ss.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(d)
        .transform(GraftSession.normalizeTs(_))
        .select(col("user_id").as("key"), unix_micros(col("ts")).as("tsMicros"),
          col("value"), col("event_id").as("eventId"))
        .as[StatefulOps.Obs]
      val tracked = StatefulOps.trackKeys(obs)
      // single AvailableNow batch → exactly one Update row per key
      drain(tracked, "update").groupBy((col("key") % 10).as("bucket"))
        .agg(count(lit(1)).as("n_keys"), sum(col("n")).as("n_events"),
          round(sum(col("sum_value")), 6).as("sum_value"),
          round(sum(col("last_value")), 6).as("sum_last"))
    }),

    // streaming exact dedup — the training-data ingest shape: a keyed
    // dropDuplicatesWithinWatermark over the event stream (state bounded by
    // the watermark), converged counts per key bucket. The dedup key is
    // event_id % 5000 so real duplicates exist; only per-bucket distinct
    // counts are emitted, which are deterministic regardless of which
    // duplicate instance survives.
    // STREAMING count-min sketch ingest: CMS counters are ADDITIVE, so the
    // sketch built by a streaming aggregation must equal the batch sketch
    // counter-for-counter once converged — the property that lets a 100 TB
    // pipeline keep one frequency summary continuously updated by ingest
    // instead of rebuilding it. The converged counter table then serves the
    // same top-10 heavy-hitter probe as q_cms, and the DuckDB oracle is the
    // straight batch reproduction — any drift between streamed and batch
    // counters breaks the hash.
    "q_stream_cms" -> ((s, d) => {
      import graft.operators.SketchOps
      val w = 1024L
      val dep = 4
      val ss = graft.streaming.StatePartitioning.replaySession(
        s, Seq(s"$d/events.parquet"))
      val schema = GraftSession.table(s, d, "events").schema
      val stream = ss.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(d)
        .transform(GraftSession.normalizeTs(_))
        .select(col("user_id"))
      val cmsStream = SketchOps.buildCms(stream, "user_id", w, dep)
      val ev = GraftSession.table(s, d, "events").select(col("user_id"))
      val top = ev.groupBy("user_id").agg(count(lit(1)).as("exact_n"))
        .agg(graft.functions.TopK.bottomK(
          struct(negate(col("exact_n")).as("__o"), col("user_id"),
            col("exact_n")), 10).as("__tk"))
        .select(explode(col("__tk")).as("__r"))
        .select(col("__r.user_id").as("user_id"),
          col("__r.exact_n").as("exact_n"))
      SketchOps.probeCms(top, "user_id", drain(cmsStream, "complete"), w, dep)
        .select(col("user_id"), col("exact_n"), col("est_n"),
          (col("est_n") - col("exact_n")).as("overcount"))
    }),

    "q_stream_dedup" -> ((s, d) => {
      val ss = graft.streaming.StatePartitioning.replaySession(
        s, Seq(s"$d/events.parquet"))
      val schema = GraftSession.table(s, d, "events").schema
      val stream = ss.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(d)
        .transform(GraftSession.normalizeTs(_))
        .withColumn("dup_key", col("event_id") % 5000)
        .withWatermark("ts", "40 days")
        .dropDuplicatesWithinWatermark("dup_key")
      drain(stream, "append").groupBy((col("dup_key") % 10).as("bucket"))
        .agg(count(lit(1)).as("n_keys"))
    }),

    // session windows (free in Spark, absent in the reference — SURVEY
    // §2.9): 6-hour-gap sessionization per user, batch form of the
    // streaming session_window
    "q_session_window" -> ((s, d) => {
      GraftSession.events(s, d).filter(col("user_id") < 20)
        .groupBy(session_window(col("ts"), "6 hours"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), sum(col("n")).cast("long").as("n_events"))
    }),

    // DataStore catalog: list the store's data ids and open each
    // (format-inferred) for a row count.
    // NOTE: the driver-side loop-and-union plan is right for this 10-table
    // catalog but quadratic-plan-smelling for a 10k-table one — a huge
    // catalog should hold table STATS in a metastore table and query that,
    // not re-scan every member dataset.
    "q_store_catalog" -> ((s, d) => {
      val store = new FsDataStore(s, d)
      store.listDataIds().map { id =>
        store.open(id).agg(count(lit(1)).as("n_rows"))
          .select(lit(id.stripSuffix(".parquet")).as("id"), col("n_rows"))
      }.reduce(_ unionByName _)
    }),

    // DataStore.search_data (reference store/store.py:139-720 through
    // search.py's list-describe-filter default): a catalog of three zarr
    // cubes at disjoint x-extents plus one flat table; a bbox search must
    // return EXACTLY the two intersecting cubes, with their derived
    // extents and variables — the flat table (no spatial axes) and the
    // out-of-bbox cube must drop. Each hit re-opens and checksums, so a
    // wrong hit set or wrong derived extent cannot hash-match.
    "q_store_search" -> ((s, d) => {
      val base = Fixtures.layout(d, "storesearch",
        "3 cubes @ x+100k offsets, 1 table") { base =>
        import graft.sources.ZarrSource
        (0 to 2).foreach { k =>
          val y = Array.tabulate(10)(_ + 0.5)
          val x = Array.tabulate(20)(i => 100.0 * k + i + 0.5)
          val cells = s.range(200).select(
            (col("id") / 20).cast("long").as("j"),
            (col("id") % 20).as("i"))
            .select((col("j").cast("double") + 0.5).as("y"),
              (lit(100.0 * k) + col("i").cast("double") + 0.5).as("x"),
              (((col("j") * 20 + col("i")) % 64).cast("double") / 4.0 +
                lit(k.toDouble)).as("v"))
          ZarrSource.writeCubeVars(cells, s"$base/cube$k.zarr", Seq("v"),
            Seq("y" -> y, "x" -> x), chunks = Seq(5, 10))
        }
        s.range(100).selectExpr("id", "id * 2 AS v2")
          .coalesce(1).write.parquet(s"$base/flat.parquet")
      }
      val store = new FsDataStore(s, base)
      val hits = store.searchData(bbox = Some((95.0, 0.0, 205.0, 5.0)))
      require(hits.nonEmpty, "bbox search returned no hits")
      hits.map { dd =>
        val (x1, y1, x2, y2) = dd.bbox.get
        store.open(dd.dataId)
          .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v"))
          .select(lit(dd.dataId).as("id"),
            lit(dd.varNames.mkString(",")).as("vars"),
            lit(x1).as("x_min"), lit(y1).as("y_min"),
            lit(x2).as("x_max"), lit(y2).as("y_max"),
            col("n_rows"), round(col("sum_v"), 6).as("sum_v"))
      }.reduce(_ unionByName _)
    }),

    // DataStorePool (reference store/storepool.py): a JSON config names
    // a file store over the scale-factor directory; "@main" resolves
    // through the pool (get_data_store_instance) and the pooled store
    // opens two member tables for checksums — a wrong root, a broken
    // "@" resolution, or a dropped config cannot hash-match
    "q_store_pool" -> ((s, d) => {
      import graft.sources.StorePool
      val base = Fixtures.layout(d, "storepool",
        "pool.json -> file store at sf dir") { base =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$base/pool.json"),
          s"""{"main": {"store_id": "file",
             |  "store_params": {"root": "$d"},
             |  "title": "sf catalog"}}""".stripMargin)
      }
      val pool = StorePool.fromFile(s, s"$base/pool.json")
      val store = StorePool.getDataStoreInstance(s, "@main",
        pool = Some(pool))
      Seq("nation", "region").map { t =>
        store.open(s"$t.parquet")
          .agg(count(lit(1)).as("n_rows"))
          .select(lit(t).as("id"),
            lit(pool.storeInstanceIds.mkString(",")).as("instances"),
            col("n_rows"))
      }.reduce(_ unionByName _)
    }),

    // CSV IO round-trip: write a day aggregate as CSV, read it back with
    // format inference; the oracle recomputes the aggregate independently
    "q_csv_roundtrip" -> ((s, d) => {
      val agg = GraftSession.events(s, d)
        .groupBy(date_trunc("DAY", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("sum_value"))
      val path = Fixtures.path(d, "csv_roundtrip") + ".csv"
      Fixtures.ensureWritten(path, "daily-agg,csv") {
        DataStore.writeDataset(agg, path)
      }
      DataStore.openDataset(s, path).select(
        col("day").cast("timestamp").as("day"), col("event_type"),
        col("n").cast("long").as("n"), col("sum_value").cast("double").as("sum_value"))
    }),

    // ORC round-trip through the DataStore extension map (Spark-native
    // columnar sibling of parquet): the same daily aggregate written as
    // .orc and read back — exact longs plus the DECIMAL-summed value so
    // the oracle is the direct aggregate over events
    "q_orc_roundtrip" -> ((s, d) => {
      val agg = GraftSession.events(s, d)
        .groupBy(date_trunc("DAY", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(18,6)")), 6).cast("double")
            .as("sum_value"))
      val path = Fixtures.path(d, "orc_roundtrip") + ".orc"
      Fixtures.ensureWritten(path, "daily-agg,orc") {
        DataStore.writeDataset(agg, path)
      }
      DataStore.openDataset(s, path)
        .select(col("day"), col("event_type"), col("n"), col("sum_value"))
    }),

    // Preload (store/preload.py): async materialization of store datasets
    // into a parquet cache, then the query is answered FROM THE CACHE.
    // The handle is awaited (blocking), every state must land COMPLETED at
    // progress 1.0, and both inputs must actually be served by the cache —
    // asserted here so the oracle row proves the preload path, not the
    // origin fallthrough.
    "q_preload" -> ((s, d) => {
      val store = new CachedDataStore(s, new FsDataStore(s, d),
        Fixtures.path(d, "preload_cache"))
      val ids = Seq("nation.parquet", "region.parquet")
      val handle = store.preloadData(ids, blocking = true)
      val bad = ids.filter(id =>
        handle.getState(id).status != graft.sources.PreloadStatus.Completed ||
          !store.isPreloaded(id))
      require(bad.isEmpty, s"preload did not complete for: $bad\n${handle.toText}")
      val nation = store.open("nation.parquet")
      val region = store.open("region.parquet")
      nation.join(region, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_nations"),
          sum(col("n_nationkey")).cast("long").as("sum_key"))
    }),

    // Server auto-reload (server/helpers.py ConfigChangeObserver): a
    // dataset registry is seeded from a config file listing only `nation`;
    // the config is then EDITED on disk (adding `region`) and the observer's
    // mtime check picks the change up and hot-swaps the registry. The
    // result is computed from the post-reload registry, so the row proves
    // the reload path end-to-end (the pre-reload registry would be missing
    // the region dataset entirely).
    "q_auto_reload" -> ((s, d) => {
      val dir = Fixtures.scratch(d, "reload")
      val cfg = s"$dir/config.json"
      def putConfig(json: String, mtime: Long): Unit = {
        java.nio.file.Files.write(java.nio.file.Paths.get(cfg), json.getBytes("UTF-8"))
        java.nio.file.Files.setLastModifiedTime(java.nio.file.Paths.get(cfg),
          java.nio.file.attribute.FileTime.fromMillis(mtime)); ()
      }
      putConfig(
        s"""{"Datasets":[{"Identifier":"nation","Path":"$d/nation.parquet"}]}""",
        1000L)
      val ctx = new graft.streaming.ServerContext(s)
      val obs = new graft.streaming.ConfigChangeObserver(ctx, Seq(cfg))
      obs.check()
      require(ctx.datasetIds == Seq("nation"), s"seed load: ${ctx.datasetIds}")
      putConfig(
        s"""{"Datasets":[{"Identifier":"nation","Path":"$d/nation.parquet"},
                         {"Identifier":"region","Path":"$d/region.parquet"}]}""",
        2000L)
      obs.check()
      require(ctx.datasetIds == Seq("nation", "region"),
        s"post-reload: ${ctx.datasetIds}")
      ctx.datasetIds.map { id =>
        ctx.dataset(id).agg(count(lit(1)).as("n_rows"))
          .select(lit(id).as("id"), col("n_rows"))
      }.reduce(_ unionByName _)
    }),

    // S3 object-store round-trip (the reference's moto-backed S3 store
    // tests): the day aggregate is written as parquet to an s3g:// URI —
    // served by the in-JVM S3 emulator through our Hadoop FileSystem
    // speaking the S3 REST protocol (PUT objects, committer renames,
    // ListObjectsV2, ranged GETs for the parquet footer) — and read back.
    // The oracle recomputes the aggregate from the source table, so a
    // corrupted byte anywhere in the protocol path flips the hash.
    "q_s3_store" -> ((s, d) => {
      graft.sources.s3.S3Support.enable(s)
      val agg = GraftSession.events(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(18,6)")), 6).cast("double")
            .as("sum_value"))
      val sfName = new java.io.File(d).getName
      val path = s"s3g://graftcube/$sfName/events_agg.parquet"
      agg.write.mode("overwrite").parquet(path)
      s.read.parquet(path).select(col("event_type"), col("n"), col("sum_value"))
    }),

    // empty-chunk pruning: mask east of x=200, drop blocks that are all-NaN
    // (kept blocks keep their NaN cells — chunk-level semantics)
    "q_prune" -> ((s, d) => {
      val c0 = CubePack.eventsCube(s, d)
      val cube = c0.copy(
        df = c0.df.withColumn("v",
          when(col("x") < 200.0, col("v")).otherwise(lit(Double.NaN))),
        gm = c0.gm.copy(tileWidth = 64, tileHeight = 64))
      val pruned = MaintenanceOps.pruneEmptyBlocks(cube, "v")
      pruned.df.agg(
        count(lit(1)).as("n_rows"),
        sum(when(!isnan(col("v")), 1).otherwise(0)).as("n_valid"),
        round(sum(when(!isnan(col("v")), col("v")).otherwise(0.0)), 6).as("sum_valid"))
    })
  )

  override def oracleSql: Map[String, String] = Map(
    "q_pruned_scan" ->
      s"""WITH ${CubePack.cubeCte}
         SELECT event_type, count(*) AS n, round(sum(v), 6) AS sum_v
         FROM cube
         WHERE x BETWEEN 30.0 AND 99.0 AND y BETWEEN 10.0 AND 49.0
           AND CAST(time AS DATE) >= DATE '2024-01-05'
           AND CAST(time AS DATE) <= DATE '2024-01-14'
         GROUP BY event_type""",
    "q_stream_window" ->
      """SELECT date_trunc('day', ts) AS t, event_type,
                count(*) AS n, round(sum(value), 6) AS sum_value
         FROM events GROUP BY t, event_type""",
    "q_stream_topk" ->
      """WITH r AS (
           SELECT event_type, event_id, value,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY value DESC, event_id) AS rn
           FROM events)
         SELECT event_type, rn AS rank, event_id, value
         FROM r WHERE rn <= 5""",
    "q_stream_state" ->
      """WITH l AS (SELECT user_id, value,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
              FROM events),
         per AS (SELECT user_id, count(*) AS n,
                        sum(round(value * 100)::BIGINT) AS cents
                 FROM events GROUP BY user_id),
         j AS (SELECT per.user_id AS key, per.n,
                      per.cents / 100.0 AS sum_value, l.value AS last_value
               FROM per JOIN l ON l.user_id = per.user_id AND l.rn = 1)
         SELECT key % 10 AS bucket, count(*) AS n_keys,
                sum(n)::BIGINT AS n_events,
                round(sum(sum_value), 6) AS sum_value,
                round(sum(last_value), 6) AS sum_last
         FROM j GROUP BY bucket""",
    "q_stream_dedup" ->
      """WITH k AS (SELECT DISTINCT event_id % 5000 AS dup_key FROM events)
         SELECT dup_key % 10 AS bucket, count(*) AS n_keys
         FROM k GROUP BY bucket""",
    // identical to q_cms by design: the streamed sketch must converge to
    // the batch counters exactly
    "q_stream_cms" ->
      """WITH exact AS (SELECT user_id, count(*)::BIGINT AS exact_n
                        FROM events GROUP BY user_id),
         top AS (SELECT user_id, exact_n FROM exact
                 ORDER BY exact_n DESC, user_id LIMIT 10),
         h AS (SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
               FROM events),
         pw AS (SELECT i.i AS rr,
                       ((h & 1023) + (((h // 1024) & 511) * 2 + 1) * i.i) & 1023 AS pp
                FROM h, (VALUES (0),(1),(2),(3)) i(i)),
         cms AS (SELECT rr, pp, count(*)::BIGINT AS cnt
                 FROM pw GROUP BY rr, pp),
         th AS (SELECT user_id, exact_n,
                       ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
                FROM top),
         tpos AS (SELECT user_id, exact_n, i.i AS rr,
                         ((h & 1023) + (((h // 1024) & 511) * 2 + 1) * i.i) & 1023 AS pp
                  FROM th, (VALUES (0),(1),(2),(3)) i(i)),
         est AS (SELECT user_id, exact_n, min(coalesce(c.cnt, 0)) AS est_n
                 FROM tpos LEFT JOIN cms c USING (rr, pp)
                 GROUP BY user_id, exact_n)
         SELECT user_id, exact_n, est_n, est_n - exact_n AS overcount FROM est""",
    "q_session_window" ->
      """WITH e AS (SELECT user_id, ts FROM events WHERE user_id < 20),
         l AS (SELECT user_id, ts,
                      CASE WHEN lag(ts) OVER w IS NULL
                                OR ts - lag(ts) OVER w >= INTERVAL 6 HOUR
                           THEN 1 ELSE 0 END AS new_s
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts))
         SELECT user_id, sum(new_s)::BIGINT AS n_sessions, count(*) AS n_events
         FROM l GROUP BY user_id""",
    "q_store_catalog" ->
      Seq("customer", "documents", "embeddings", "events", "lineitem",
          "nation", "orders", "part", "region", "supplier")
        .map(t => s"SELECT '$t' AS id, count(*) AS n_rows FROM $t")
        .mkString(" UNION ALL "),
    // the fixture IS the spec: cubes 1 and 2 intersect bbox (95, 0, 205,
    // 5); their extents are the coordinate mins/maxes the search must
    // derive, and the checksums recompute the cubes' cell formula
    "q_store_search" ->
      (1 to 2).map(k =>
        s"""SELECT 'cube$k.zarr' AS id, 'v' AS vars,
                   ${100.0 * k + 0.5} AS x_min, 0.5 AS y_min,
                   ${100.0 * k + 19.5} AS x_max, 9.5 AS y_max,
                   count(*) AS n_rows,
                   round(sum(CAST(c % 64 AS DOUBLE) / 4.0 + $k.0), 6)
                     AS sum_v
            FROM range(0, 200) r(c)""").mkString(" UNION ALL "),
    "q_store_pool" ->
      """SELECT 'nation' AS id, 'main' AS instances, count(*) AS n_rows
         FROM nation
         UNION ALL
         SELECT 'region' AS id, 'main' AS instances, count(*) AS n_rows
         FROM region""",
    "q_csv_roundtrip" ->
      """SELECT date_trunc('day', ts) AS day, event_type,
                count(*) AS n, round(sum(value), 6) AS sum_value
         FROM events GROUP BY day, event_type""",
    "q_orc_roundtrip" ->
      """SELECT date_trunc('day', ts) AS day, event_type,
                count(*) AS n,
                round(sum(value::DECIMAL(18,6)), 6)::DOUBLE AS sum_value
         FROM events GROUP BY day, event_type""",
    "q_auto_reload" ->
      """SELECT 'nation' AS id, count(*) AS n_rows FROM nation
         UNION ALL
         SELECT 'region' AS id, count(*) AS n_rows FROM region""",
    "q_s3_store" ->
      """SELECT event_type, count(*) AS n,
                round(sum(value::DECIMAL(18,6)), 6)::DOUBLE AS sum_value
         FROM events GROUP BY event_type""",
    "q_preload" ->
      """SELECT r_name, count(*) AS n_nations,
                sum(n_nationkey)::BIGINT AS sum_key
         FROM nation JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name""",
    "q_prune" ->
      s"""WITH ${CubePack.cubeCte},
         b AS (SELECT (floor(y)::BIGINT // 64) * 6 + (floor(x)::BIGINT // 64) AS blk,
                      CASE WHEN x < 200.0 THEN v END AS vv
               FROM cube),
         alive AS (SELECT blk FROM b GROUP BY blk HAVING count(vv) > 0)
         SELECT count(*) AS n_rows,
                count(vv) AS n_valid,
                round(sum(coalesce(vv, 0)), 6) AS sum_valid
         FROM b WHERE blk IN (SELECT blk FROM alive)"""
  )
}
