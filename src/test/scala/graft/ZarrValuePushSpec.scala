package graft

import graft.sources.ZarrSource
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestDirs.tmpDir

/** Consumed DATA-VARIABLE predicates in the DSv2 scan engine: `v > c`
  * style filters translate to interval sets the cursor re-evaluates per
  * decoded cell (Spark's double semantics — NaN greatest, zeros equal),
  * which keeps the scan free of post-scan filters and therefore lets
  * aggregates push below a masked selection — the valid-pixel-masked
  * statistics shape (reference webapi/statistics/controllers.py:45-129
  * masks by geometry + validity before aggregating). */
class ZarrValuePushSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = GraftSession.builder("4").getOrCreate()
    s.conf.set("spark.sql.files.minPartitionNum", "100000")
    s
  }

  /** 3×4×6 cube, 1×2×3 chunks; v = ti*1000 + yi*10 + xi, w has NaN at
    * every cell where xi > 3.5 (8 NaN cells per t-slice). */
  private def writeFixture(): String = {
    import spark.implicits._
    val t = Array(0.0, 1.0, 2.0)
    val y = Array(10.0, 20.0, 30.0, 40.0)
    val x = Array.tabulate(6)(_ + 0.5)
    val df = (for { ti <- t; yi <- y; xi <- x } yield
      (ti, yi, xi, ti * 1000 + yi * 10 + xi,
        if (xi > 3.5) Double.NaN else ti + yi + xi))
      .toSeq.toDF("t", "y", "x", "v", "w")
    val g = s"${tmpDir("vpush")}/cube.zarr"
    ZarrSource.writeCubeVars(df, g, Seq("v", "w"),
      Seq("t" -> t, "y" -> y, "x" -> x), chunks = Seq(1, 2, 3))
    g
  }

  test("a variable predicate is consumed and re-evaluated cell-exactly") {
    val g = writeFixture()
    val ds = spark.read.format("zarr").load(g)
    val q = ds.filter(col("v") > 1234.5)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThan(v,1234.5)"), plan.take(1500))
    // consumed: no post-scan Filter node re-applies it
    assert(!plan.contains("Filter "), plan.take(1500))
    val expect = (for { ti <- Seq(0.0, 1.0, 2.0); yi <- Seq(10.0, 20.0, 30.0, 40.0);
                        xi <- 0 to 5 }
      yield ti * 1000 + yi * 10 + xi + 0.5).count(_ > 1234.5)
    assert(expect > 0)
    assert(q.count() === expect)
    // exact double equality through the consumed interval
    assert(ds.filter(col("v") === 100.5).count() === 1)
    // In over variable values
    assert(ds.filter(col("v").isin(100.5, 2300.5, -1.0)).count() === 2)
  }

  test("NaN follows Spark double ordering through the consumed predicate") {
    val g = writeFixture()
    val ds = spark.read.format("zarr").load(g)
    // w has 8 NaN cells per slice; NaN > c is TRUE under Spark semantics
    val hi = ds.filter(col("w") > 1e9)
    assert(hi.count() === 3 * 8) // exactly the NaN cells
    // and NaN < c is FALSE — the complement keeps only finite cells
    assert(ds.filter(col("w") < 1e9).count() === (72 - 24))
    // null tests: the reader never emits null (fill decodes to NaN)
    assert(ds.filter(col("w").isNotNull).count() === 72)
    assert(ds.filter(col("w").isNull).count() === 0)
  }

  test("mixed dim+var conjunction keeps dim chunk pruning") {
    val g = writeFixture()
    val ds = spark.read.format("zarr").load(g)
    val q = ds.filter(col("t") === 1.0 && col("v") > 0.0)
    // t = 1.0 prunes to 4 of 12 chunks even though v rides along
    assert(q.rdd.getNumPartitions === 4)
    assert(q.count() === 24)
  }

  test("aggregates fold per chunk ABOVE a consumed variable mask") {
    val g = writeFixture()
    val ds = spark.read.format("zarr").load(g)
    // masked statistics: mean/count of v where v is in range — the whole
    // thing folds per chunk because the mask was consumed by the scan
    val q = ds.filter(col("v") > 1234.5)
      .groupBy(col("t")).agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
    assert(q.queryExecution.executedPlan.toString.contains("ZarrVarAggScan"),
      q.queryExecution.executedPlan.toString.take(1200))
    val rows = q.collect()
      .map(r => r.getDouble(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val expect = (for { ti <- Seq(0.0, 1.0, 2.0); yi <- Seq(10.0, 20.0, 30.0, 40.0);
                        xi <- 0 to 5 } yield (ti, ti * 1000 + yi * 10 + xi + 0.5))
      .filter(_._2 > 1234.5).groupBy(_._1)
      .map { case (k, vs) => k -> (vs.length.toLong, vs.map(_._2).sum) }
    assert(rows === expect)
  }

  test("metadata-only aggregate path declines under a variable mask") {
    val g = writeFixture()
    val ds = spark.read.format("zarr").load(g)
    // dims-only aggregate WITH a var mask: the coordinate-rectangle math
    // of ZarrAggScan cannot see the mask — it must NOT claim this
    val q = ds.filter(col("v") > 1234.5).groupBy(col("t"))
      .agg(count(lit(1)).as("n"), max(col("y")).as("my"))
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("ZarrAggScan"), plan.take(1200))
    val got = q.collect().map(r => (r.getDouble(0), r.getLong(1), r.getDouble(2))).toSet
    val expect = (for { ti <- Seq(0.0, 1.0, 2.0); yi <- Seq(10.0, 20.0, 30.0, 40.0);
                        xi <- 0 to 5 } yield (ti, yi, ti * 1000 + yi * 10 + xi + 0.5))
      .filter(_._3 > 1234.5).groupBy(_._1)
      .map { case (k, vs) => (k, vs.length.toLong, vs.map(_._2).max) }.toSet
    assert(got === expect)
  }

  test("limit and slab top-n decline under a variable mask; results exact") {
    val g = writeFixture()
    val ds = spark.read.format("zarr").load(g)
    // limit: planning from coordinate cell counts would overcount masked
    // cells and under-plan; the decline keeps it exact
    assert(ds.filter(col("v") > 2400.0).limit(10).count() === 6)
    assert(ds.filter(col("v") > 2403.0).limit(2).count() === 2)
    // slab top-n on t with a var mask: must not cut slabs by coordinate
    // counts; result stays exact
    val top = ds.filter(col("w") < 1e9) // drop NaN w cells
      .orderBy(col("t").desc, col("y").desc, col("x").desc).limit(3)
      .select(col("w")).collect().map(_.getDouble(0)).toSeq
    assert(top === Seq(2.0 + 40.0 + 3.5, 2.0 + 40.0 + 2.5, 2.0 + 40.0 + 1.5))
    // fold top-n ranked on the variable itself, mask consumed
    val tf = ds.filter(col("w") < 1e9)
      .orderBy(col("w").desc, col("t")).limit(2)
      .select(col("w")).collect().map(_.getDouble(0)).toSeq
    assert(tf === Seq(45.5, 44.5))
  }

  test("cross-column Or stays Spark-side and stays correct") {
    val g = writeFixture()
    val ds = spark.read.format("zarr").load(g)
    val q = ds.filter(col("v") > 2400.0 || col("w") < 11.0)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("Filter "), plan.take(1500)) // not consumed
    val expect = (for { ti <- Seq(0.0, 1.0, 2.0); yi <- Seq(10.0, 20.0, 30.0, 40.0);
                        xi <- 0 to 5 } yield {
      val v = ti * 1000 + yi * 10 + xi + 0.5
      val w = if (xi + 0.5 > 3.5) Double.NaN else ti + yi + xi + 0.5
      v > 2400.0 || w < 11.0
    }).count(identity)
    assert(q.count() === expect)
  }
}
