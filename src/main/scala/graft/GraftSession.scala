package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory with the settings every entry point (tests, Verify,
  * Bench, driver smoke) must share.
  *
  * Scale notes (designed for a 1000-executor cluster, tested on local):
  *  - AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  *    replaces hand-tuned partition counts at 100 TB.
  *  - shuffle.partitions defaults to the local core count; on a real cluster
  *    AQE's coalescing makes the initial number mostly irrelevant.
  *  - session timezone pinned to UTC so timestamp arithmetic matches the
  *    DuckDB oracle and is cluster-location independent.
  *  - artifact isolation off. Spark caches compiled generated code per
  *    (task context classloader, source), and with isolation on every
  *    session clone (each `StreamingQuery.start()`, each
  *    [[org.apache.spark.sql.graft.ConfBridge]] twin) gets its own
  *    executor classloader, so it recompiles every plan it runs. Measured
  *    on 4 cores (`CodeReuseSpec`): a repeated
  *    [[graft.streaming.TimeSliceOps.streamZarrAppend]] run compiled 19–20
  *    classes with isolation on and 0 with it off, and a twin's first run
  *    of a plan the root already ran compiled 5, now 0. The library adds
  *    no per-session jars or files, so isolation has nothing to isolate.
  *    A session built outside this builder pays a full code-generation
  *    pass on every such run.
  */
object GraftSession {
  def builder(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession.Builder = {
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    SparkSession.builder()
      .master(master)
      .appName("graft")
      // register the library's custom Catalyst expressions as SQL functions
      // (also loadable via spark.sql.extensions=graft.plans.GraftExtensions)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // respect the target partition SIZE when coalescing instead of
      // preserving parallelism (the setting Spark's own docs recommend):
      // with parallelismFirst=true every tiny reduce stage still fans out
      // to `shuffle.partitions` near-empty tasks, and on this host a
      // full-width stage of empty tasks costs ~40-50 ms of scheduler
      // latency — multiplied across a multi-stage query that is the whole
      // runtime of small interactive queries. At 100 TB size-based
      // coalescing is also the right call: tasks sized by bytes, not by a
      // static knob.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      // ...but size-based coalescing needs a target matched to the work
      // per byte: at Spark's default 64 MB advisory, a CPU-DENSE reduce
      // stage over a few tens of MB (the q_curation text funnel, CC/LSH
      // rounds) collapses to 1-2 tasks and serializes — measured 2.98 s
      // vs 1.66 s at 8 MB on the same JVM (round-17 CurationProbe; every
      // probed query improved, none regressed). 8 MB keeps truly tiny
      // stages at 1 task (the empty-stage-latency win above) while
      // data-bound stages stay parallel. The 8 MB figure is a LOCAL
      // measurement, so it applies only under a local master; on a
      // cluster (SPARK_GRAFT_MASTER set) the builder keeps Spark's own
      // 64 MB guidance for IO/throughput-bound scans — an 8x-smaller
      // coalesce target there would multiply task counts on every
      // large shuffle. Runtime-overridable either way.
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        if (master.startsWith("local")) "8m" else "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // overwrite only the partitions present in the written data — the
      // time-slice insert/replace primitive (graft.streaming.TimeSliceOps)
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      // catalog warehouse (bucketed tables) pinned inside the repo
      .config("spark.sql.warehouse.dir", "/root/repo/target/spark-warehouse")
      // testdata parquet stores TIMESTAMP(NANOS) which Spark can't decode;
      // read as Long nanos and convert (see GraftSession.events).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // one executor classloader, and so one compiled-code cache, for the
      // root session and all its clones (see the scaladoc above)
      .config("spark.sql.artifact.isolation.enabled", "false")
  }

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Read one of the driver-generated testdata tables. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** The `events` table with `ts` as a microsecond TimestampType column
    * regardless of how the testdata generation wrote it. Generations have
    * used both TIMESTAMP(NANOS) (surfaced as Long nanos under
    * `nanosAsLong=true`, converted here; DuckDB's read_parquet likewise
    * truncates ns → us) and plain TIMESTAMP(MICROS) (already a Spark
    * TimestampType — passed through). Keeps all other columns untouched.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeTs(table(spark, sfDir, "events"))

  /** Normalize a `ts` column to microsecond TimestampType: Long values are
    * interpreted as epoch nanos (the legacy TIMESTAMP(NANOS) read path);
    * TIMESTAMP_NTZ (pandas-written micros with isAdjustedToUTC=false) is
    * cast to TimestampType — value-preserving because the session timezone
    * is pinned to UTC; TimestampType passes through unchanged.
    */
  def normalizeTs(df: DataFrame, name: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema(name).dataType match {
      case LongType         => df.withColumn(name, timestamp_micros(expr(s"`$name` div 1000")))
      case TimestampNTZType => df.withColumn(name, col(name).cast(TimestampType))
      case _                => df
    }
  }
}
