package graft.ops

import graft.{Fixtures, GraftSession, QueryPack}
import graft.operators.EventOps
import graft.streaming.StatePartitioning.drain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Behavioral-analytics pack over the `events` fact table: conversion
  * funnels, epoch-week cohort retention and gaps-and-islands
  * sessionization (graft.operators.EventOps).
  *
  * Every measure is an exact integer (counts, microsecond sums) so the
  * DuckDB comparison is untoleranced. All buckets are epoch-anchored
  * (calendar-free) — the same convention as TemporalPack's fixed
  * frequencies.
  */
object AnalyticsPack extends QueryPack {

  private def ev(s: SparkSession, d: String): DataFrame = GraftSession.events(s, d)

  private val FunnelStages = Seq("view", "click", "purchase")
  private val WeekSec = 604800L
  private val GapSec = 1800L

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // strict-order conversion funnel view -> click -> purchase: stage N's
    // per-user conversion time bounds stage N+1's search window; chain of
    // per-user min aggregations + equi-joins on user_id (exchange reused)
    "q_funnel" -> ((s, d) => EventOps.funnel(ev(s, d), FunnelStages)),

    // epoch-anchored weekly cohort retention: cohort = bucket of the user's
    // first event; two keyed aggs + one equi-join, all on user_id
    "q_retention" -> ((s, d) => EventOps.retention(ev(s, d), WeekSec)),

    // gaps-and-islands sessionization with a 30-minute gap; windows
    // partition by user_id (never a global sort), ties broken on event_id
    "q_sessionize" -> ((s, d) => EventOps.sessionize(ev(s, d), GapSec)),

    // the INCREMENTAL form: the same event log replayed through
    // flatMapGroupsWithState (StatefulOps.streamingSessionize, O(1) state
    // per user) in one AvailableNow micro-batch must equal the batch
    // operator row-for-row — the oracle is literally q_sessionize's SQL
    "q_stream_sessionize" -> ((s, d) => {
      import graft.streaming.StatefulOps
      val fixDir = Fixtures.layout(d, "sess_events",
        "events(user,tsMicros,id),1file") { fixDir =>
        ev(s, d)
          .select(col("user_id").as("userId"),
            unix_micros(col("ts")).as("tsMicros"),
            col("event_id").as("eventId"))
          .coalesce(1) // ONE file → ONE micro-batch → converged summaries
          .write.mode("overwrite").parquet(fixDir)
      }
      val ss = graft.streaming.StatePartitioning.replaySession(s, Seq(fixDir))
      import ss.implicits._
      val rows = ss.readStream
        .schema("userId LONG, tsMicros LONG, eventId LONG")
        .parquet(fixDir)
        .as[StatefulOps.SessEvent]
      drain(StatefulOps.streamingSessionize(rows, GapSec), "update")
    }),

    // LAST-TOUCH attribution: each purchase credits the user's most
    // recent view within a 7-day lookback — one per-user window pass
    // (last_value IGNORE NULLS over strictly-preceding rows picks the
    // attributing view's ts AND id from the same row), never a self-join.
    "q_attribution" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val week7 = 7L * 86400L * 1000000L
      val base = ev(s, d)
        .filter(col("event_type").isin("view", "purchase"))
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("tus"))
      val w = Window.partitionBy("user_id").orderBy(col("tus"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      base
        .withColumn("lv_ts",
          last(when(col("event_type") === "view", col("tus")), ignoreNulls = true).over(w))
        .withColumn("lv_id",
          last(when(col("event_type") === "view", col("event_id")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .withColumn("hit",
          col("lv_ts").isNotNull && col("tus") - col("lv_ts") <= week7)
        .agg(count(lit(1)).as("n_purchases"),
          sum(when(col("hit"), 1L).otherwise(0L)).as("n_attributed"),
          coalesce(sum(when(col("hit"), col("tus") - col("lv_ts"))), lit(0L))
            .as("sum_lag_micros"),
          coalesce(sum(when(col("hit"), col("lv_id"))), lit(0L)).cast("long")
            .as("view_id_checksum"))
    }),

    // the INCREMENTAL last-touch attribution: O(1) per-user state (most
    // recent view + running totals); oracle = q_attribution's SQL verbatim
    "q_stream_attribution" -> ((s, d) => {
      import graft.streaming.StatefulOps
      val fixDir = Fixtures.layout(d, "attr_events",
        "events(user,type,tsMicros,id),1file") { fixDir =>
        ev(s, d)
          .filter(col("event_type").isin("view", "purchase"))
          .select(col("user_id").as("userId"),
            col("event_type").as("eventType"),
            unix_micros(col("ts")).as("tsMicros"),
            col("event_id").as("eventId"))
          .coalesce(1)
          .write.mode("overwrite").parquet(fixDir)
      }
      val ss = graft.streaming.StatePartitioning.replaySession(s, Seq(fixDir))
      import ss.implicits._
      val rows = ss.readStream
        .schema("userId LONG, eventType STRING, tsMicros LONG, eventId LONG")
        .parquet(fixDir)
        .as[StatefulOps.AttrEvent]
      drain(StatefulOps.streamingAttribution(rows, 7L * 86400L), "update")
        .groupBy("user_id")
        .agg(max(col("n_purchases")).as("np"),
          max(col("n_attributed")).as("na"),
          max(col("sum_lag_micros")).as("sl"),
          max(col("view_id_checksum")).as("vc"))
        .agg(sum(col("np")).as("n_purchases"),
          sum(col("na")).as("n_attributed"),
          coalesce(sum(col("sl")), lit(0L)).as("sum_lag_micros"),
          coalesce(sum(col("vc")), lit(0L)).cast("long")
            .as("view_id_checksum"))
    }),

    // INTER-ARRIVAL gaps (traffic/burstiness modeling): per-user lag
    // window → exact microsecond gaps, summarized per event_type of the
    // later event. One window pass + one map-side-combined agg.
    "q_interarrival" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("tus"), col("event_id"))
      ev(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("tus"))
        .withColumn("gap", col("tus") - lag(col("tus"), 1).over(w))
        .filter(col("gap").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_gaps"),
          sum(col("gap")).as("sum_gap_micros"),
          min(col("gap")).as("min_gap"), max(col("gap")).as("max_gap"))
    }),

    // the INCREMENTAL inter-arrival stats: per-user last-event state +
    // alphabet-bounded gap accumulators; converged per-key emissions
    // aggregate to the batch q_interarrival exactly
    "q_stream_interarrival" -> ((s, d) => {
      import graft.streaming.StatefulOps
      val fixDir = Fixtures.layout(d, "gap_events",
        "events(user,type,tsMicros,id),1file") { fixDir =>
        ev(s, d)
          .select(col("user_id").as("userId"),
            col("event_type").as("eventType"),
            unix_micros(col("ts")).as("tsMicros"),
            col("event_id").as("eventId"))
          .coalesce(1)
          .write.mode("overwrite").parquet(fixDir)
      }
      val ss = graft.streaming.StatePartitioning.replaySession(s, Seq(fixDir))
      import ss.implicits._
      val rows = ss.readStream
        .schema("userId LONG, eventType STRING, tsMicros LONG, eventId LONG")
        .parquet(fixDir)
        .as[StatefulOps.GapEvent]
      drain(StatefulOps.streamingInterarrival(rows), "update")
        .groupBy("user_id", "event_type")
        .agg(max(col("n_gaps")).as("n"), max(col("sum_gap_micros")).as("sg"),
          min(col("min_gap")).as("mn"), max(col("max_gap")).as("mx"))
        .groupBy("event_type")
        .agg(sum(col("n")).as("n_gaps"), sum(col("sg")).as("sum_gap_micros"),
          min(col("mn")).as("min_gap"), max(col("mx")).as("max_gap"))
    }),

    // AUDIENCE OVERLAP: distinct users per event-type pair — the segment
    // intersection matrix. Deduplicate (type, user) FIRST (map-side
    // combined), then the self-join on user_id runs over one row per
    // (user, type): per-user fanout is bounded by |types|², never by the
    // user's event count.
    "q_audience_overlap" -> ((s, d) => {
      val tu = ev(s, d).select(col("event_type"), col("user_id")).distinct()
      val a = tu.select(col("event_type").as("type_a"), col("user_id"))
      val b = tu.select(col("event_type").as("type_b"), col("user_id"))
      a.join(b, Seq("user_id"))
        .filter(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(count(lit(1)).as("n_both"))
    }),

    // COHORT VALUE (LTV) curve: per (cohort week, offset), the cumulative
    // per-user-week value in exact integer cents — retention's monetary
    // sibling; the cumulative window runs over the bounded
    // (cohort × offset) table, never the events.
    "q_cohort_value" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val busec = WeekSec * 1000000L
      val bucketed = ev(s, d).select(col("user_id").as("u"),
        expr(s"unix_micros(ts) div ${busec}L").as("bk"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      val cohorts = bucketed.groupBy("u").agg(min(col("bk")).as("cohort_bk"))
      val cells = bucketed.join(cohorts, Seq("u"))
        .groupBy(col("cohort_bk"), (col("bk") - col("cohort_bk")).as("offset"))
        .agg(sum(col("cents")).as("week_cents"),
          countDistinct(col("u")).as("n_users"))
      val w = Window.partitionBy("cohort_bk").orderBy("offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells
        .withColumn("cum_cents", sum(col("week_cents")).over(w))
        .select(timestamp_micros(col("cohort_bk") * busec).as("cohort_start"),
          col("offset"), col("n_users"), col("week_cents"), col("cum_cents"))
    }),

    // STREAM-STATIC enrichment join: the streaming micro-batches join a
    // static dimension (event_type → integer weight) per batch — the
    // standard reference-data enrichment; the dim broadcasts into every
    // micro-batch, so the stream side never shuffles before its agg.
    "q_stream_enrich" -> ((s, d) => {
      val ss = graft.streaming.StatePartitioning.replaySession(
        s, Seq(s"$d/events.parquet"))
      import ss.implicits._
      val weights = Seq("view" -> 1L, "click" -> 3L, "purchase" -> 10L,
        "signup" -> 5L, "error" -> 0L).toDF("event_type", "weight")
      val schema = GraftSession.table(s, d, "events").schema
      val stream = ss.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(d)
        .transform(GraftSession.normalizeTs(_))
        .join(broadcast(weights), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("weight")).as("sum_weight"))
      drain(stream, "complete")
    }),

    // SLIDING window frames, both kinds in one pass: a 4-row ROWS frame
    // (rolling cents sum/max) and a ±30-minute RANGE frame over event
    // time (how many of the user's events fall in the hour around each
    // one) — per-user frames, exact integers, sampled output.
    "q_rolling" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val base = ev(s, d).select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tus"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      val rowsW = Window.partitionBy("user_id").orderBy(col("tus"), col("event_id"))
        .rowsBetween(-3, 0)
      val rangeW = Window.partitionBy("user_id").orderBy(col("tus"))
        .rangeBetween(-1800000000L, 1800000000L)
      base
        .withColumn("roll_sum", sum(col("cents")).over(rowsW))
        .withColumn("roll_max", max(col("cents")).over(rowsW))
        .withColumn("n_nearby", count(lit(1)).over(rangeW))
        .filter(col("event_id") % 97 === 1)
        .select(col("user_id"), col("event_id"), col("roll_sum"),
          col("roll_max"), col("n_nearby"))
    }),

    // Markov transition counts over each user's event-type sequence (the
    // next-event model behind session prediction): one per-user lag window
    // then a map-side-combined count on the (prev, next) pair space —
    // bounded at |event types|², however big the log.
    "q_event_transitions" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      ev(s, d)
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"))
    }),

    // the INCREMENTAL transition matrix: per-user last-event state +
    // bounded (prev,next) counters; converged per-key emissions aggregate
    // to the batch q_event_transitions exactly (n_users = count of users
    // holding the pair, n = sum of their converged counters)
    "q_stream_transitions" -> ((s, d) => {
      import graft.streaming.StatefulOps
      val fixDir = Fixtures.layout(d, "trans_events",
        "events(user,type,tsMicros,id),1file") { fixDir =>
        ev(s, d)
          .select(col("user_id").as("userId"),
            col("event_type").as("eventType"),
            unix_micros(col("ts")).as("tsMicros"),
            col("event_id").as("eventId"))
          .coalesce(1)
          .write.mode("overwrite").parquet(fixDir)
      }
      val ss = graft.streaming.StatePartitioning.replaySession(s, Seq(fixDir))
      import ss.implicits._
      val rows = ss.readStream
        .schema("userId LONG, eventType STRING, tsMicros LONG, eventId LONG")
        .parquet(fixDir)
        .as[StatefulOps.TransEvent]
      drain(StatefulOps.streamingTransitions(rows), "update")
        .groupBy("user_id", "prev_type", "next_type")
        .agg(max(col("n")).as("nn")) // converged value per key
        .groupBy(col("prev_type"), col("next_type"))
        .agg(sum(col("nn")).as("n"), count(lit(1)).as("n_users"))
    }),

    // STREAM-STREAM interval join (the §2.9 surface batch engines fake
    // with range joins): per user, each view joined to the clicks that
    // follow it within 30 minutes — both sides watermarked so Spark can
    // bound the buffered state; one AvailableNow pass over the replayed
    // log must equal the batch interval join (the oracle) row-for-row.
    "q_stream_join" -> ((s, d) => {
      // floor 4, not the default 8: the interval join opens four state
      // stores per partition, so its per-partition commit cost is ~4x an
      // aggregation's (see StatePartitioning.replaySession). The twin
      // also skips the trailing no-data micro-batch (ReplayConfs): an
      // INNER interval join emits every match in the batch where it
      // joins, so that batch only re-executed the join plan on empty
      // input — probed at 0.73 s of the 2.56 s AvailableNow pass.
      val ss = graft.streaming.StatePartitioning.replaySession(
        s, Seq(s"$d/events.parquet"), floor = 4)
      val schema = GraftSession.table(s, d, "events").schema
      def side(et: String, pfx: String) =
        ss.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(d)
          .transform(GraftSession.normalizeTs(_))
          .filter(col("event_type") === et)
          .select(col("user_id").as(s"${pfx}_user"),
            col("event_id").as(s"${pfx}_id"), col("ts").as(s"${pfx}_ts"))
      // lateness bound wider than the replayed fixture's disorder, so the
      // single AvailableNow pass equals the batch interval join exactly;
      // StreamJoinOpsSpec drives a TIGHT bound multi-batch and asserts the
      // late-click drop + state eviction the parameter exists for
      val joined = graft.streaming.StreamJoinOps.viewClickIntervalJoin(
        side("view", "v"), side("click", "c"), watermark = "40 days")
      drain(joined, "append").groupBy(col("v_user").as("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(unix_micros(col("c_ts")) - unix_micros(col("v_ts")))
            .as("sum_lag_micros"),
          sum(col("v_id") * 7 + col("c_id")).cast("long").as("pair_checksum"))
    }),

    // semi-structured extraction: parse the JSON `props` column inside the
    // scan (get_json_object is codegen'd — no UDF) and aggregate the typed
    // value. The 100 TB shape for log/crawl payloads: parse projects ONLY
    // the requested path, never materializes a parsed struct column.
    "q_json_extract" -> ((s, d) => {
      ev(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"),
          sum(when(col("k") >= 50, 1L).otherwise(0L)).as("n_high"))
    }),

    // ranking-window surface over the per-user event stream: rank /
    // dense_rank / ntile / cumulative count in ONE window pass (ties
    // broken on event_id so every engine agrees). Windows partition by
    // user — the only sort is within a user's own events.
    "q_window_rank" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      ev(s, d)
        .withColumn("rn", row_number().over(w))
        .withColumn("quartile", ntile(4).over(w))
        .filter(col("rn") % 97 === 1) // sample the stream, keep rows bounded
        .select(col("user_id"), col("event_id"), col("rn").cast("long").as("rn"),
          col("quartile").cast("long").as("quartile"))
    }),

    // the INCREMENTAL cohort retention: per-user (cohort, offset→count)
    // state; the converged per-key emission aggregates to the batch
    // q_retention result exactly (max(n) per key absorbs multi-batch
    // update-sink appends)
    "q_stream_retention" -> ((s, d) => {
      import graft.streaming.StatefulOps
      val busec = WeekSec * 1000000L
      val fixDir = Fixtures.layout(d, "ret_events",
        "events(user,weekbucket),1file") { fixDir =>
        ev(s, d)
          .select(col("user_id").as("userId"),
            expr(s"unix_micros(ts) div ${busec}L").as("bucket"))
          .coalesce(1)
          .write.mode("overwrite").parquet(fixDir)
      }
      val ss = graft.streaming.StatePartitioning.replaySession(s, Seq(fixDir))
      import ss.implicits._
      val rows = ss.readStream
        .schema("userId LONG, bucket LONG")
        .parquet(fixDir)
        .as[StatefulOps.RetEvent]
      drain(StatefulOps.streamingRetention(rows), "update")
        .groupBy("user_id", "cohort_bk", "offset")
        .agg(max(col("n_events")).as("n"))
        .groupBy(timestamp_micros(col("cohort_bk") * busec).as("cohort_start"),
          col("offset"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          sum(col("n")).as("n_events"))
    }),

    // the INCREMENTAL funnel: per-user stage-time state folded forward
    // (StatefulOps.streamingFunnel) must reproduce the batch chain of
    // sequential per-user mins — oracle is q_funnel's SQL verbatim
    "q_stream_funnel" -> ((s, d) => {
      import graft.streaming.StatefulOps
      val fixDir = Fixtures.layout(d, "funnel_events",
        "events(user,type,tsMicros,id),1file") { fixDir =>
        ev(s, d)
          .select(col("user_id").as("userId"),
            col("event_type").as("eventType"),
            unix_micros(col("ts")).as("tsMicros"),
            col("event_id").as("eventId"))
          .coalesce(1)
          .write.mode("overwrite").parquet(fixDir)
      }
      val ss = graft.streaming.StatePartitioning.replaySession(s, Seq(fixDir))
      import ss.implicits._
      val rows = ss.readStream
        .schema("userId LONG, eventType STRING, tsMicros LONG, eventId LONG")
        .parquet(fixDir)
        .as[StatefulOps.FunnelEvent]
      val st = drain(StatefulOps.streamingFunnel(rows, FunnelStages), "update")
      FunnelStages.zipWithIndex.map { case (stName, i) =>
        val stepSum =
          if (i == 0) sum(lit(0L))
          else sum(col("times").getItem(i) - col("times").getItem(i - 1))
        st.filter(size(col("times")) > i).agg(
          lit((i + 1).toLong).as("stage"), lit(stName).as("event_type"),
          count(lit(1)).as("n_users"),
          coalesce(stepSum, lit(0L)).as("sum_step_micros"))
      }.reduce(_ unionByName _)
    })
  )

  /** q_funnel's oracle — the strict-order stage chain; also the
    * batch-equivalence gate for the incremental q_stream_funnel. */
  private val funnelSql: String =
    """WITH t1 AS (SELECT user_id AS u, min(epoch_us(ts)) AS t
                     FROM events WHERE event_type = 'view' GROUP BY 1),
         t2 AS (SELECT e.user_id AS u, min(epoch_us(e.ts)) AS t,
                       min(t1.t) AS tp
                FROM events e JOIN t1 ON e.user_id = t1.u
                WHERE e.event_type = 'click' AND epoch_us(e.ts) > t1.t
                GROUP BY 1),
         t3 AS (SELECT e.user_id AS u, min(epoch_us(e.ts)) AS t,
                       min(t2.t) AS tp
                FROM events e JOIN t2 ON e.user_id = t2.u
                WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > t2.t
                GROUP BY 1)
         SELECT 1::BIGINT AS stage, 'view' AS event_type,
                count(*)::BIGINT AS n_users, 0::BIGINT AS sum_step_micros
         FROM t1
         UNION ALL
         SELECT 2::BIGINT, 'click', count(*)::BIGINT,
                coalesce(sum(t - tp), 0)::BIGINT FROM t2
         UNION ALL
         SELECT 3::BIGINT, 'purchase', count(*)::BIGINT,
                coalesce(sum(t - tp), 0)::BIGINT FROM t3"""

  /** q_interarrival's oracle — also gates the incremental twin. */
  private val interarrivalSql: String =
    """WITH g AS (SELECT event_type,
                           epoch_us(ts) - lag(epoch_us(ts)) OVER
                             (PARTITION BY user_id ORDER BY epoch_us(ts),
                              event_id) AS gap
                    FROM events)
         SELECT event_type, count(*)::BIGINT AS n_gaps,
                sum(gap)::BIGINT AS sum_gap_micros,
                min(gap)::BIGINT AS min_gap, max(gap)::BIGINT AS max_gap
         FROM g WHERE gap IS NOT NULL
         GROUP BY event_type"""

  /** q_event_transitions' oracle — also gates the incremental twin. */
  private val transitionsSql: String =
    """WITH seq AS (SELECT user_id, event_type,
                             lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
                      FROM events)
         SELECT prev_type, event_type AS next_type,
                count(*)::BIGINT AS n,
                count(DISTINCT user_id)::BIGINT AS n_users
         FROM seq WHERE prev_type IS NOT NULL
         GROUP BY prev_type, next_type"""

  /** q_attribution's oracle — also gates the incremental twin. */
  private val attributionSql: String =
    """WITH e AS (SELECT user_id, event_type, event_id,
                           epoch_us(ts) AS tus
                    FROM events WHERE event_type IN ('view', 'purchase')),
         wv AS (SELECT user_id, event_type, event_id, tus,
                       last_value(CASE WHEN event_type = 'view' THEN tus END
                                  IGNORE NULLS)
                         OVER (PARTITION BY user_id ORDER BY tus, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING) AS lv_ts,
                       last_value(CASE WHEN event_type = 'view'
                                       THEN event_id END IGNORE NULLS)
                         OVER (PARTITION BY user_id ORDER BY tus, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING) AS lv_id
                FROM e),
         p AS (SELECT *, lv_ts IS NOT NULL
                         AND tus - lv_ts <= 604800000000 AS hit
               FROM wv WHERE event_type = 'purchase')
         SELECT count(*)::BIGINT AS n_purchases,
                sum(CASE WHEN hit THEN 1 ELSE 0 END)::BIGINT AS n_attributed,
                coalesce(sum(CASE WHEN hit THEN tus - lv_ts END), 0)::BIGINT
                  AS sum_lag_micros,
                coalesce(sum(CASE WHEN hit THEN lv_id END), 0)::BIGINT
                  AS view_id_checksum
         FROM p"""

  /** q_retention's oracle — also gates the incremental q_stream_retention. */
  private val retentionSql: String =
    """WITH b AS (SELECT user_id AS u,
                           epoch_us(ts) // 604800000000 AS bk FROM events),
         c AS (SELECT u, min(bk) AS cb FROM b GROUP BY u)
         SELECT make_timestamp((cb * 604800000000)::BIGINT) AS cohort_start,
                (bk - cb)::BIGINT AS offset,
                count(DISTINCT u)::BIGINT AS n_users,
                count(*)::BIGINT AS n_events
         FROM b JOIN c USING (u) GROUP BY 1, 2"""

  override def oracleSql: Map[String, String] = Map(

    "q_stream_funnel" -> funnelSql,

    "q_funnel" -> funnelSql,

    "q_retention" -> retentionSql,
    "q_stream_retention" -> retentionSql,

    "q_stream_transitions" -> transitionsSql,
    "q_event_transitions" -> transitionsSql,

    "q_interarrival" -> interarrivalSql,
    "q_stream_interarrival" -> interarrivalSql,

    "q_audience_overlap" ->
      """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events)
         SELECT a.event_type AS type_a, b.event_type AS type_b,
                count(*)::BIGINT AS n_both
         FROM tu a JOIN tu b ON a.user_id = b.user_id
                            AND a.event_type < b.event_type
         GROUP BY type_a, type_b""",

    "q_cohort_value" ->
      """WITH b AS (SELECT user_id AS u,
                           epoch_us(ts) // 604800000000 AS bk,
                           CAST(round(value * 100) AS BIGINT) AS cents
                    FROM events),
         c AS (SELECT u, min(bk) AS cb FROM b GROUP BY u),
         cells AS (SELECT cb AS cohort_bk, (bk - cb) AS off,
                          sum(cents)::BIGINT AS week_cents,
                          count(DISTINCT u)::BIGINT AS n_users
                   FROM b JOIN c USING (u)
                   GROUP BY 1, 2)
         SELECT make_timestamp((cohort_bk * 604800000000)::BIGINT)
                  AS cohort_start,
                off::BIGINT AS offset, n_users, week_cents,
                (sum(week_cents) OVER (PARTITION BY cohort_bk ORDER BY off
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
                  AS cum_cents
         FROM cells""",

    "q_stream_enrich" ->
      """WITH w(event_type, weight) AS (VALUES
           ('view', 1), ('click', 3), ('purchase', 10),
           ('signup', 5), ('error', 0))
         SELECT e.event_type, count(*)::BIGINT AS n,
                sum(w.weight)::BIGINT AS sum_weight
         FROM events e JOIN w USING (event_type)
         GROUP BY e.event_type""",

    "q_rolling" ->
      """WITH b AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
                           CAST(round(value * 100) AS BIGINT) AS cents
                    FROM events),
         w AS (SELECT user_id, event_id,
                      -- DuckDB windowed sum(BIGINT) yields HUGEINT: pin it
                      (sum(cents) OVER (PARTITION BY user_id
                        ORDER BY tus, event_id
                        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW))::BIGINT
                        AS roll_sum,
                      max(cents) OVER (PARTITION BY user_id
                        ORDER BY tus, event_id
                        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS roll_max,
                      count(*) OVER (PARTITION BY user_id ORDER BY tus
                        RANGE BETWEEN 1800000000 PRECEDING
                                  AND 1800000000 FOLLOWING) AS n_nearby
               FROM b)
         SELECT user_id, event_id, roll_sum, roll_max, n_nearby
         FROM w WHERE event_id % 97 = 1""",

    "q_attribution" -> attributionSql,
    "q_stream_attribution" -> attributionSql,

    "q_stream_join" ->
      """WITH v AS (SELECT user_id, event_id, epoch_us(ts) AS tus
                    FROM events WHERE event_type = 'view'),
         c AS (SELECT user_id, event_id, epoch_us(ts) AS tus
               FROM events WHERE event_type = 'click'),
         j AS (SELECT v.user_id, v.event_id AS vid, c.event_id AS cid,
                      c.tus - v.tus AS lag
               FROM v JOIN c ON v.user_id = c.user_id
                            AND c.tus > v.tus
                            AND c.tus <= v.tus + 1800000000)
         SELECT user_id, count(*)::BIGINT AS n_pairs,
                sum(lag)::BIGINT AS sum_lag_micros,
                sum(vid * 7 + cid)::BIGINT AS pair_checksum
         FROM j GROUP BY user_id""",

    "q_json_extract" ->
      """SELECT event_type, count(*)::BIGINT AS n,
                sum(CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT
                  AS sum_k,
                min(CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT
                  AS min_k,
                max(CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT
                  AS max_k,
                sum(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT)
                         >= 50 THEN 1 ELSE 0 END)::BIGINT AS n_high
         FROM events GROUP BY event_type""",

    "q_window_rank" ->
      """WITH w AS (SELECT user_id, event_id,
                           row_number() OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id) AS rn,
                           ntile(4) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS quartile
                    FROM events)
         SELECT user_id, event_id, rn::BIGINT AS rn,
                quartile::BIGINT AS quartile
         FROM w WHERE rn % 97 = 1""",

    "q_sessionize" ->
      """WITH e AS (SELECT user_id AS u, epoch_us(ts) AS tus,
                           event_id AS rk FROM events),
         f AS (SELECT u, tus, rk,
                      CASE WHEN tus - lag(tus) OVER
                             (PARTITION BY u ORDER BY tus, rk)
                           > 1800000000 THEN 1 ELSE 0 END AS ns
               FROM e),
         g AS (SELECT u, tus,
                      sum(ns) OVER (PARTITION BY u ORDER BY tus, rk
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS sid
               FROM f),
         s AS (SELECT u, sid, count(*)::BIGINT AS nev,
                      (max(tus) - min(tus))::BIGINT AS dur
               FROM g GROUP BY u, sid)
         SELECT u AS user_id, count(*)::BIGINT AS n_sessions,
                sum(nev)::BIGINT AS n_events,
                max(nev)::BIGINT AS max_session_events,
                sum(dur)::BIGINT AS sum_session_micros
         FROM s GROUP BY u""",

    // batch-equivalence gate for the incremental operator
    "q_stream_sessionize" ->
      """WITH e AS (SELECT user_id AS u, epoch_us(ts) AS tus,
                           event_id AS rk FROM events),
         f AS (SELECT u, tus, rk,
                      CASE WHEN tus - lag(tus) OVER
                             (PARTITION BY u ORDER BY tus, rk)
                           > 1800000000 THEN 1 ELSE 0 END AS ns
               FROM e),
         g AS (SELECT u, tus,
                      sum(ns) OVER (PARTITION BY u ORDER BY tus, rk
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS sid
               FROM f),
         s AS (SELECT u, sid, count(*)::BIGINT AS nev,
                      (max(tus) - min(tus))::BIGINT AS dur
               FROM g GROUP BY u, sid)
         SELECT u AS user_id, count(*)::BIGINT AS n_sessions,
                sum(nev)::BIGINT AS n_events,
                max(nev)::BIGINT AS max_session_events,
                sum(dur)::BIGINT AS sum_session_micros
         FROM s GROUP BY u"""
  )
}
