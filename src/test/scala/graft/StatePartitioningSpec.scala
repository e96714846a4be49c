package graft

import graft.streaming.StatePartitioning
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The scale-adaptive state-partition derivation: sized by input bytes
  * against the advisory partition size, floored at MinPartitions, capped
  * at the configured shuffle partitions — and a streaming query started
  * from the derived session produces the exact same converged result.
  */
class StatePartitioningSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.get()

  test("derivation: floor, size-proportional middle, configured ceiling") {
    val conf = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val advisory = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    assert(Cuts.partitions(spark, 0L) ===
      math.min(Cuts.MinPartitions, conf))
    assert(Cuts.partitions(spark, advisory * 10) ===
      math.min(10, conf))
    // a 100 TB input saturates the configured count — never sized up
    assert(Cuts.partitions(spark,
      100L * 1024 * 1024 * 1024 * 1024) === conf)
  }

  test("unsizable input fails safe to the configured count, not the floor") {
    // missing local path
    assert(StatePartitioning.inputBytes(spark,
      Seq("/no/such/graft/path")) === Long.MaxValue)
    // remote filesystem that cannot be reached from this sandbox
    assert(StatePartitioning.inputBytes(spark,
      Seq("hdfs://unresolvable-namenode:8020/replay")) === Long.MaxValue)
    // one sizable + one unsizable path: still unbounded (no partial sum)
    assert(StatePartitioning.inputBytes(spark,
      Seq("/root/testdata/sf0.001/events.parquet",
        "s3a://no-such-bucket/replay")) === Long.MaxValue)
    // and the derived SESSION keeps the configured partition count
    val conf = spark.conf.get("spark.sql.shuffle.partitions")
    val ss = StatePartitioning.replaySession(spark,
      Seq("hdfs://unresolvable-namenode:8020/replay"))
    assert(ss.conf.get("spark.sql.shuffle.partitions") === conf)
  }

  test("local sizing: real bytes, monotone sum") {
    val single = StatePartitioning.inputBytes(spark,
      Seq("/root/testdata/sf0.001/events.parquet"))
    assert(single > 0L && single < Long.MaxValue)
    assert(StatePartitioning.inputBytes(spark,
      Seq("/root/testdata/sf0.001/events.parquet",
        "/root/testdata/sf0.001/events.parquet")) === single * 2)
  }

  test("sessionFor overrides only the twin, and the stream result matches") {
    val d = "/root/testdata/sf0.001"
    val parentConfBefore = spark.conf.get("spark.sql.shuffle.partitions")
    val ss = StatePartitioning.replaySession(spark, Seq(s"$d/events.parquet"))
    val expected = Cuts.partitions(spark,
      StatePartitioning.inputBytes(spark, Seq(s"$d/events.parquet")))
    assert(ss.conf.get("spark.sql.shuffle.partitions").toInt === expected)
    if (expected != parentConfBefore.toInt) assert(ss ne spark)
    // replay twins skip the trailing no-data micro-batch (ReplayConfs)
    assert(ss.conf.get(
      "spark.sql.streaming.noDataMicroBatches.enabled") === "false")
    // parent session untouched
    assert(spark.conf.get("spark.sql.shuffle.partitions") === parentConfBefore)
    assert(spark.conf.get(
      "spark.sql.streaming.noDataMicroBatches.enabled", "true") === "true")
    val schema = GraftSession.table(spark, d, "events").schema
    val stream = ss.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(d)
      .transform(GraftSession.normalizeTs(_))
      .withWatermark("ts", "1 day")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    val got = StatePartitioning.drain(stream, "complete").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exp = GraftSession.events(spark, d).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === exp)
  }

  test("drain leaves no temp view, and every drained DataFrame keeps its rows") {
    val d = "/root/testdata/sf0.001"
    val ss = StatePartitioning.replaySession(spark, Seq(s"$d/events.parquet"))
    def views = ss.sessionState.catalog.getTempViewNames().toSet
    val before = views
    val schema = GraftSession.table(spark, d, "events").schema
    def events = ss.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(d)
    val perType = StatePartitioning.drain(
      events.groupBy(col("event_type")).agg(count(lit(1)).as("n")), "complete")
    val ids = StatePartitioning.drain(events.select(col("event_id")), "append")
    assert(views === before)
    val batch = GraftSession.table(spark, d, "events")
    assert(perType.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      batch.groupBy(col("event_type")).agg(count(lit(1)).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
    assert(ids.count() === batch.count())
  }
}
