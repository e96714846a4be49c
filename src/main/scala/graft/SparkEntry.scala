package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The query registry: every declared query with its oracle SQL.
  *
  * Queries are contributed by operator packs (graft.ops.*); each pack pairs
  * Spark DataFrame implementations with DuckDB oracle SQL over the same
  * parquet tables.
  */
object SparkEntry {

  /** All operator packs. Order only affects map merge (keys are unique). */
  def packs: Seq[QueryPack] = Seq(
    ops.RelationalPack,
    ops.CubePack,
    ops.TemporalPack,
    ops.PipelinePack,
    ops.ExtractPack,
    ops.AggPack,
    ops.StoragePack,
    ops.ResamplePack,
    ops.ComputePack,
    ops.ServingPack,
    ops.AnalyticsPack
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Revenue per market segment: fact join + broadcast dim + aggregation.
    */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    val li = spark.read.parquet(s"$d/lineitem.parquet")
    val o = spark.read.parquet(s"$d/orders.parquet")
    val c = spark.read.parquet(s"$d/customer.parquet")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 6).as("revenue"),
           count(lit(1)).as("n_items"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.map(_.queries).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    packs.map(_.oracleSql).reduce(_ ++ _)
}
