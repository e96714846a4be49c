package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Scale-adaptive shuffle/state partitioning for STREAMING queries.
  *
  * A stateful streaming query pins its state-store partition count to
  * `spark.sql.shuffle.partitions` at first start, and AQE cannot coalesce
  * it afterwards (AQE is disabled in stateful workloads). With the static
  * local default (= core count) a small replay pays the fixed per-store
  * cost — open + commit + delta-file fsync for every (partition × store)
  * instance per micro-batch — on near-empty stores: the r20 probe measured
  * q_stream_join at 19.9 s wall with 32 state partitions (128 store
  * instances, ~107 s summed commit time in batch 0) vs 6.4 s with 4, with
  * identical results.
  *
  * So the partition count is derived from the stream's INPUT SIZE before
  * the query starts, through [[graft.Cuts.partitions]] (AQE's sizing rule
  * applied at plan time, because runtime coalescing is unavailable for
  * stateful stages; the configured count stays the ceiling). An input that
  * cannot be sized (unreachable filesystem, missing path) counts as
  * unbounded, so the derivation fails safe to the ceiling, never the floor.
  * The default floor is [[graft.Cuts.MinPartitions]] (8); the stream-stream
  * join passes 4 (see [[replaySession]]).
  *
  * Returns a config-twin session ([[org.apache.spark.sql.graft.ConfBridge]])
  * carrying the derived count; the caller builds the stream through it and
  * runs it with [[drain]].
  */
object StatePartitioning {

  /** Total bytes under `paths`, resolved through the Hadoop filesystem of
    * each path's scheme (so hdfs://, s3a:// etc. are sized for real, not
    * as 0 bytes the way a java.io.File walk would report them). Any path
    * that cannot be sized — missing, or on an unreachable/unknown
    * filesystem — counts as [[Long.MaxValue]]: the derivation then fails
    * SAFE to the configured partition count (the pre-derivation behaviour),
    * never to the floor.
    */
  def inputBytes(spark: SparkSession, paths: Seq[String]): Long = {
    val hconf = spark.sessionState.newHadoopConf()
    paths.foldLeft(0L) { (acc, p) =>
      val size =
        try {
          val hp = new org.apache.hadoop.fs.Path(p)
          hp.getFileSystem(hconf).getContentSummary(hp).getLength
        } catch { case scala.util.control.NonFatal(_) => Long.MaxValue }
      if (acc == Long.MaxValue || size == Long.MaxValue ||
        acc + size < 0) Long.MaxValue
      else acc + size
    }
  }

  /** Conf overrides every replay twin carries in addition to the derived
    * partition count.
    *
    * noDataMicroBatches OFF: after the data batch, AvailableNow ran one
    * more NO-DATA micro-batch whose only job is advancing the watermark
    * and evicting state — it re-executes the whole physical plan on empty
    * input (probed at 0.3–0.7 s per query on this host: q_stream_join's
    * empty batch cost 0.73 s of a 2.56 s pass). None of the declared
    * replays emit on watermark advance: the flatMapGroupsWithState
    * operators are Update-mode with NoTimeout (emissions happen in the
    * data batch; no timeout flush), the aggregations are Update/Complete
    * mode (updated keys / full state emitted in the data batch), the
    * stream-stream join is INNER (matches emit where they join) and
    * dropDuplicatesWithinWatermark emits first occurrences immediately —
    * so skipping the empty batch leaves every sink byte-identical
    * (oracle-gated per query). A query whose FINAL emission needs the
    * watermark advance (e.g. an append-mode windowed aggregation) must
    * not start from these twins.
    */
  val ReplayConfs: Map[String, String] =
    Map("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")

  /** The session a streaming REPLAY over `paths` starts from: the cached
    * config twin carrying [[ReplayConfs]] and the partition count
    * [[graft.Cuts.partitions]] derives from the bytes under `paths`, so
    * neither mutates the parent session.
    *
    * `floor` defaults to [[graft.Cuts.MinPartitions]]; a stream-stream join
    * should pass a lower one because it opens FOUR state stores per
    * partition (two keyToNumValues + two keyWithIndexToValue), so its
    * per-partition fixed commit cost is ~4x an aggregation's — the r20
    * probe measured the interval join at 2.7 s wall with 4 partitions vs
    * 4.0 s with 8 vs 16 s with 32 (summed store commit 0.8 s / 4.8 s /
    * 131 s).
    */
  def replaySession(spark: SparkSession, paths: Seq[String],
      floor: Int = graft.Cuts.MinPartitions): SparkSession = {
    val n = graft.Cuts.partitions(spark, inputBytes(spark, paths), floor)
    org.apache.spark.sql.graft.ConfBridge.twinSession(spark,
      ReplayConfs + ("spark.sql.shuffle.partitions" -> n.toString))
  }

  private val drains = new java.util.concurrent.atomic.AtomicLong(0)

  /** Run `stream` in one AvailableNow pass into a memory sink and return
    * the sink's rows. The sink's temp view is dropped before returning (on
    * failure too): the returned DataFrame already holds the sink, while a
    * view left on a cached replay twin would keep every run's rows
    * reachable for the twin's lifetime.
    */
  def drain(stream: Dataset[_], outputMode: String): DataFrame = {
    val name = s"graft_drain_${drains.incrementAndGet()}"
    val ss = stream.sparkSession
    try {
      stream.writeStream.format("memory").queryName(name)
        .outputMode(outputMode).trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
      ss.table(name)
    } finally ss.catalog.dropTempView(name)
  }
}
