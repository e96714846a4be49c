package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Scoped materialization and size-derived partitioning: the one place a
  * query persists an intermediate table, and the one place a partition
  * count is derived from a size.
  *
  * '''Sizing.''' [[partitions]] applies AQE's own sizing rule
  * (`advisoryPartitionSizeInBytes`) at plan time, for plans whose shuffle
  * width AQE cannot coalesce (stateful streaming stages) or that re-plan
  * every round (iterative loops):
  *
  *   n = clamp(ceil(bytes / advisory), min(floor, configured), configured)
  *
  * The configured `spark.sql.shuffle.partitions` stays the CEILING: a
  * 100 TB input saturates it and behaves exactly as without the rule — this
  * only sizes DOWN when the input provably cannot fill the static count.
  * Loops pass `rows * 64` bytes (a conservative row width); results are
  * partition-count invariant, only the shuffle width changes.
  *
  * '''Persistence.''' Every persisted table lives in a [[withCuts]] scope.
  * [[Scope.keep]] persists lazily (MEMORY_AND_DISK), [[Scope.cut]] also
  * materializes eagerly and returns the row count, and [[Scope.release]]
  * drops a superseded loop round early. Whatever is still registered when
  * the body returns OR throws is unpersisted in `finally`, so no cache
  * outlives its query: a lingering plan-keyed CacheManager entry would
  * silently serve the next invocation of a deterministic plan. A small
  * result is collected inside the scope ([[Scope.local]]) so the returned
  * DataFrame no longer reads the released tables.
  *
  * '''Lineage-recovery contract.''' A cut keeps its lineage: it is a
  * persist, not a `localCheckpoint`, so a lost executor's blocks are
  * recomputed from the upstream plan instead of failing the query
  * (`localCheckpoint`'s documented failure mode). Iterated plans that
  * re-expose a cut through `createDataFrame(df.rdd, df.schema)` truncate
  * only the LOGICAL plan; the RDD lineage, and so the recovery path, is
  * unchanged. No test fails a task yet, so this is a design statement,
  * not a checked property.
  */
object Cuts {

  /** Floor for a derived count: parallelism for CPU-dense stages (per-row
    * hashing, signature folds, stateful aggregations) on small inputs,
    * never above the configured count. Measured on the streaming family:
    * 8 beats 4 for the per-row-CPU stateful aggregations and beats 32
    * everywhere the state is small.
    */
  val MinPartitions = 8

  private def configured(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** The partition count for `bytes` of input under `spark`'s conf, by
    * the rule above. */
  def partitions(spark: SparkSession, bytes: Long,
      floor: Int = MinPartitions): Int = {
    val conf = configured(spark)
    val advisory = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m"))
    val bySize = math.ceil(bytes.toDouble / math.max(advisory, 1L)).toLong
    math.min(conf.toLong, math.max(math.min(floor, conf).toLong, bySize)).toInt
  }

  /** `spark` itself when [[partitions]] equals the configured count, else
    * its cached config twin carrying the derived count. */
  def sized(spark: SparkSession, bytes: Long,
      floor: Int = MinPartitions): SparkSession = {
    val n = partitions(spark, bytes, floor)
    if (n == configured(spark)) spark
    else org.apache.spark.sql.graft.ConfBridge.twinSession(spark,
      Map("spark.sql.shuffle.partitions" -> n.toString))
  }

  /** The tables one [[withCuts]] body persisted and has not released. */
  final class Scope private[Cuts] {
    private var kept = List.empty[DataFrame]

    /** Persist `df` lazily (MEMORY_AND_DISK) for the rest of the scope; the
      * first action over it fills the cache. Returns `df`. */
    def keep(df: DataFrame): DataFrame = {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      kept = df :: kept
      df
    }

    /** [[keep]] plus an eager `count()`; returns the count. */
    def cut(df: DataFrame): Long = keep(df).count()

    /** Unpersist `df` now: a superseded loop round. */
    def release(df: DataFrame): Unit = {
      kept = kept.filterNot(_ eq df)
      df.unpersist(false)
      ()
    }

    /** The rows of the small result `df`, collected now while this scope's
      * tables are still cached, as a local DataFrame that reads none of
      * them. Only for results of a few rows. */
    def local(df: DataFrame): DataFrame =
      df.sparkSession.createDataFrame(
        java.util.Arrays.asList(df.collect(): _*), df.schema)

    private[Cuts] def releaseAll(): Unit = kept.foreach(release)
  }

  private val opened = new java.util.concurrent.atomic.AtomicLong

  /** How many scopes have been opened in this JVM (lets a test tell which
    * queries persist anything). */
  private[graft] def scopesOpened: Long = opened.get

  /** Run `body` with a fresh [[Scope]]; every table it still holds is
    * unpersisted when `body` returns or throws. */
  def withCuts[T](body: Scope => T): T = {
    opened.incrementAndGet()
    val c = new Scope
    try body(c) finally c.releaseAll()
  }
}
