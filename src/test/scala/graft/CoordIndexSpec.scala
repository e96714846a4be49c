package graft

import graft.functions.CoordIndex
import graft.sources.{ByteStore, ZarrSource}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The Zarr writers' coordinate → index step ([[CoordIndex]]) against the
  * broadcast inner join it replaced, and the job count of a write. */
class CoordIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()

  // descending, with -0.0 and NaN among the coordinates
  private val coords = Seq(2.5, 1.5, -0.0, -1.5, Double.NaN)
  private val otherNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000123L)
  private val probes: Seq[java.lang.Double] = Seq(2.5, 0.0, -0.0, Double.NaN,
    otherNaN, -1.5, 7.0, 1.5, null, -2.5, 1.5000000000000002, 2.5)

  test("coord_index equals the inner join it replaces (-0.0, NaN, absent, null)") {
    import spark.implicits._
    val lookup = coords.zipWithIndex.map { case (v, i) => (v, i + 10) }
    val rows = probes.zipWithIndex.map { case (v, id) => Row(id, v) }
    // an RDD-backed frame, so the projection runs as generated code
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      StructType(Seq(StructField("id", IntegerType), StructField("v", DoubleType))))
    val joined = df.join(broadcast(lookup.toDF("__v", "__i")),
        col("v") === col("__v"))
      .select(col("id"), col("__i")).as[(Int, Int)].collect().sorted.toSeq
    val byExpr = df.select(col("id"), CoordIndex.col(col("v"), lookup).as("__i"))
      .where(col("__i").isNotNull).as[(Int, Int)].collect().sorted.toSeq
    assert(byExpr == joined)
    assert(byExpr.map(_._1) == Seq(0, 1, 2, 3, 4, 5, 7, 11)) // 7.0, null, ... dropped
    // interpreted eval agrees with the generated code
    val (sorted, index) = CoordIndex.table(lookup)
    val interpreted = probes.zipWithIndex.flatMap { case (v, id) =>
      Option(CoordIndex(Literal.create(v, DoubleType), sorted, index).eval())
        .map(i => (id, i.asInstanceOf[Int]))
    }
    assert(interpreted == byExpr)
  }

  test("writeCubeVars: descending y, a -0.0 x coordinate and stray rows") {
    import spark.implicits._
    val y = Array(3.0, 2.0, 1.0)
    val x = Array(-1.0, -0.0, 1.0, 2.0)
    val cells = for (yi <- y.indices; xi <- x.indices)
      yield (y(yi), if (x(xi) == 0.0) 0.0 else x(xi), (yi * 10 + xi).toDouble)
    // rows off the coordinates (7.0, NaN) write nothing
    val df = (cells ++ Seq((7.0, 1.0, 99.0), (2.0, Double.NaN, 98.0)))
      .toDF("y", "x", "v").repartition(2)
    val g = TestDirs.tmpDir("coordidx")
    ZarrSource.writeCubeVars(df, g, Seq("v"), Seq("y" -> y, "x" -> x), Seq(2, 3))
    val got = ZarrSource.readAll(s"$g/v", ZarrSource.openArray(s"$g/v")).toSeq
    assert(got == cells.map(_._3))
  }

  test("a coordinate array with a repeated value fails before anything is written") {
    import spark.implicits._
    val df = Seq((1.0, 0.0, 1.0)).toDF("y", "x", "v")
    for (y <- Seq(Array(1.0, 1.0), Array(0.0, -0.0), Array(2.0, Double.NaN, 2.0))) {
      val g = TestDirs.tmpDir("coordrep")
      val e = intercept[IllegalArgumentException](
        ZarrSource.writeCubeVars(df, g, Seq("v"), Seq("y" -> y, "x" -> Array(0.0)),
          Seq(1, 1)))
      assert(e.getMessage.contains("occurs more than once"), e.getMessage)
      assert(!ByteStore.current.exists(s"$g/.zgroup"))
    }
  }

  test("a repeated NaN coordinate (missing coordinates) addresses no cell") {
    import spark.implicits._
    val y = Array(1.0, Double.NaN, 2.0, Double.NaN)
    val df = Seq((1.0, 5.0), (Double.NaN, 6.0), (2.0, 7.0)).toDF("y", "v")
      .withColumn("x", lit(0.0))
    val g = TestDirs.tmpDir("coordnan")
    ZarrSource.writeCubeVars(df, g, Seq("v"), Seq("y" -> y, "x" -> Array(0.0)), Seq(2, 1))
    val got = ZarrSource.readAll(s"$g/v", ZarrSource.openArray(s"$g/v")).toSeq
    assert(got.zip(Seq(5.0, Double.NaN, 7.0, Double.NaN))
      .forall { case (a, b) => a == b || (a.isNaN && b.isNaN) }, got)
  }

  test("writeCubeVars looks coordinates up above the input's aggregates, not per input row") {
    import spark.implicits._
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.util.QueryExecutionListener
    // a daily input averaged to 2-day, 2×2 cells: the generator's shape,
    // whose grouping keys are the written cube's dims
    val input = spark.sparkContext.parallelize(
      for (t <- 0 until 4; y <- 0 until 4; x <- 0 until 4)
        yield (t.toDouble, y + 0.5, x + 0.5, (t * 100 + y * 10 + x).toDouble), 2)
      .toDF("t", "y", "x", "v")
    val cube = input.groupBy((floor(col("t") / 2) * 2.0).as("t"),
        (floor(col("y") / 2) * 2.0 + 1.0).as("y"), (floor(col("x") / 2) * 2.0 + 1.0).as("x"))
      .agg(avg(col("v")).as("v"))
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        plans.add(qe); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val g = TestDirs.tmpDir("coordplan")
    spark.listenerManager.register(listener)
    try {
      ZarrSource.writeCubeVars(cube, g, Seq("v"),
        Seq("t" -> Array(0.0, 2.0), "y" -> Array(1.0, 3.0), "x" -> Array(1.0, 3.0)),
        Seq(1, 2, 2))
      org.apache.spark.graftbridge.BusDrain.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    object Aqe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import scala.jdk.CollectionConverters._
    val aggs = plans.asScala.toSeq.flatMap(qe =>
      Aqe.collect(qe.executedPlan) { case a: HashAggregateExec => a })
    assert(aggs.nonEmpty)
    for (a <- aggs; below <- Aqe.collect(a.child) { case n => n }) {
      assert(!below.expressions.exists(_.toString.contains("coord_index")),
        s"coord_index below an aggregate: $below")
    }
    val got = ZarrSource.readAll(s"$g/v", ZarrSource.openArray(s"$g/v")).toSeq
    val want = for (t <- Seq(0, 2); y <- Seq(0, 2); x <- Seq(0, 2)) yield
      (for (dt <- 0 to 1; dy <- 0 to 1; dx <- 0 to 1)
        yield ((t + dt) * 100 + (y + dy) * 10 + (x + dx)).toDouble).sum / 8
    assert(got == want)
  }

  test("writeCubeVars runs two jobs: the chunk shuffle's map stage and the writes") {
    import spark.implicits._
    val y = (0 until 6).map(_ + 0.5).toArray
    val x = (0 until 8).map(_ + 0.5).toArray
    // three input partitions without a shuffle of their own
    val df = spark.sparkContext.parallelize(
      for (yv <- y.toSeq; xv <- x.toSeq) yield (yv, xv, yv * 100 + xv), 3)
      .toDF("y", "x", "v")
    for (stats <- Seq(false, true)) {
      val g = TestDirs.tmpDir("coordjobs")
      val (_, jobs) = JobCount.of(spark) {
        ZarrSource.writeCubeVars(df, g, Seq("v"), Seq("y" -> y, "x" -> x),
          Seq(3, 4), stats = stats)
      }
      assert(jobs == 2, s"stats = $stats: $jobs jobs")
    }
  }
}
