package graft

import graft.cube.{Cube, GridMapping}
import graft.operators.GeomOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

class GeomOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00")

  private def grid(): Cube = {
    import spark.implicits._
    val gm = GridMapping(10, 10, 0.0, 0.0, 1.0, 1.0)
    val rows = for (j <- 0 until 10; i <- 0 until 10)
      yield (t0, j + 0.5, i + 0.5, 1.0)
    Cube(rows.toDF("time", "y", "x", "v"), gm)
  }

  private def features() = {
    import spark.implicits._
    Seq(
      ("POLYGON ((0 0, 6 0, 6 6, 0 6, 0 0))", 10.0),
      ("POLYGON ((4 4, 9 4, 9 9, 4 9, 4 4))", 20.0) // overlaps → wins
    ).toDF("geometry", "cls")
  }

  test("rasterizeFeatures: last feature wins, NaN outside, no shuffle") {
    val burned = GeomOps.rasterizeFeatures(grid(), features(), "geometry", Seq("cls"))
    val m = burned.df.select("x", "y", "cls").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(m((1.5, 1.5)) == 10.0)  // only f1
    assert(m((5.5, 5.5)) == 20.0)  // overlap → later feature
    assert(m((8.5, 8.5)) == 20.0)  // only f2
    assert(m((9.5, 0.5)).isNaN)    // no feature
    // plan must not contain an exchange: pure projection over the scan
    val plan = burned.df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }

  test("maskByGeometry clip: joint envelope when the mask is observable") {
    // two islands with a gap between their part envelopes
    val twoIslands = "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), " +
      "((7 7, 9 7, 9 9, 7 9, 7 7)))"
    // all-numeric, no saveMask: per-part union clip MAY drop the
    // between-island rows (they'd be NaN anyway)
    val tight = GeomOps.maskByGeometry(grid(), twoIslands, clip = true)
    assert(!tight.df.filter(col("x") === 4.5 && col("y") === 4.5)
      .collect().exists(_ => true))
    // saveMask set: between-island rows INSIDE the joint envelope must
    // survive, carrying mask = false (the reference clips to one bbox)
    val masked = GeomOps.maskByGeometry(grid(), twoIslands, clip = true,
      saveMask = Some("m"))
    val mid = masked.df.filter(col("x") === 4.5 && col("y") === 4.5).collect()
    assert(mid.length == 1 && !mid.head.getAs[Boolean]("m"))
    assert(mid.head.getAs[Double]("v").isNaN)
    // rows beyond the joint envelope are still clipped
    assert(masked.df.filter(col("x") === 9.5 && col("y") === 0.5).isEmpty)
    // inside-island rows keep values and mask = true
    val in = masked.df.filter(col("x") === 1.5 && col("y") === 1.5).head()
    assert(in.getAs[Boolean]("m") && in.getAs[Double]("v") == 1.0)
    // non-numeric (unmaskable) column present: same joint-envelope rule
    val g2 = grid()
    val withLabel = g2.copy(df = g2.df.withColumn("lbl", lit("k")))
    val lab = GeomOps.maskByGeometry(withLabel, twoIslands, clip = true)
    assert(lab.df.filter(col("x") === 4.5 && col("y") === 4.5).count() == 1)
  }

  test("inGeom compiles to the native codegen expression, not a ScalaUDF") {
    // parquet-backed so ConvertToLocalRelation can't fold the filter away
    val path = TestDirs.tmpDir("geom") + "/g"
    grid().df.write.parquet(path)
    val df = spark.read.parquet(path).filter(
      graft.functions.GeomFunctions.inGeom("POLYGON ((0 0, 6 0, 6 6, 0 6, 0 0))")(
        col("x"), col("y")))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("point_covered_by"), plan)
    assert(!plan.contains("UDF"), s"ScalaUDF leaked into:\n$plan")
    assert(df.count() == 36)
  }

  test("rasterizeFeaturesJoin agrees with the expression path") {
    val a = GeomOps.rasterizeFeatures(grid(), features(), "geometry", Seq("cls"))
      .df.select("x", "y", "cls")
    val b = GeomOps.rasterizeFeaturesJoin(grid(), features(), "geometry", Seq("cls"))
      .df.select("x", "y", "cls")
    val ma = a.collect().map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val mb = b.collect().map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(ma.keySet == mb.keySet)
    ma.foreach { case (k, va) =>
      val vb = mb(k)
      assert(va == vb || (va.isNaN && vb.isNaN), s"cell $k: $va vs $vb")
    }
  }

  test("rasterizeFeatures auto-switches to the join form above the threshold") {
    import spark.implicits._
    // 150 unit-square features (> ExprFormMaxFeatures) tiling j rows; the
    // op must route to the join plan (visible as an aggregate node) and
    // still burn the right values
    val many = (0 until 150).map { k =>
      val (i, j) = (k % 10, k / 10)
      (s"POLYGON (($i $j, ${i + 1} $j, ${i + 1} ${j + 1}, $i ${j + 1}, $i $j))",
        k.toDouble)
    }.toDF("geometry", "cls")
    assert(many.count() > GeomOps.ExprFormMaxFeatures)
    val burned = GeomOps.rasterizeFeatures(grid(), many, "geometry", Seq("cls"))
    val plan = burned.df.queryExecution.optimizedPlan.toString
    assert(plan.contains("Aggregate"), s"expected the join+aggregate plan:\n$plan")
    // the per-row-WKT predicate is the codegen'd expression, not a ScalaUDF
    val phys = burned.df.queryExecution.executedPlan.toString
    assert(phys.contains("point_covered_by_col"), phys)
    assert(!phys.contains("UDF"), phys)
    val vals = burned.df.select("x", "y", "cls").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    // cell (2.5, 3.5) lies in feature k = 3*10+2 = 32's square... but its
    // corners touch 4 squares; covers() includes boundaries and the LAST
    // feature wins, so the winner is the max feature id covering the center.
    // Centers are interior to exactly one unit square: k = j*10 + i.
    assert(vals((2.5, 3.5)) == 32.0)
    assert(vals((9.5, 9.5)) == 99.0)
    // features only cover j<15 rows of a 10-row grid → all cells burned
    assert(vals.values.forall(!_.isNaN))
  }

  test("LruCache: size-capped, access-ordered eviction (no full-cache thrash)") {
    val c = new graft.functions.LruCache[Int](4)
    var computes = 0
    def load(k: String): Int = { computes += 1; k.length }
    (1 to 4).foreach(i => c.get("k" * i, load))
    assert(c.size == 4 && computes == 4)
    c.get("k", load) // touch k1 → most-recent
    assert(computes == 4, "hit must not recompute")
    c.get("kkkkk", load) // 5th key evicts ONLY the coldest (kk)
    assert(c.size == 4 && computes == 5)
    assert(c.contains("k") && !c.contains("kk"), "LRU must evict kk, keep k")
    assert(c.contains("kkk") && c.contains("kkkk") && c.contains("kkkkk"))
  }

  test("WktBboxCol stays correct past the 4096-entry cache cap") {
    import spark.implicits._
    // >4096 DISTINCT per-row WKTs: with clear()-on-full this thrashed the
    // whole cache per batch; the per-thread LRU just evicts cold entries.
    // Correctness oracle: bbox of POINT(i j) is (i, j, i, j).
    val n = 5000
    val df = (0 until n).map(i => (i, s"POINT ($i ${i % 7})")).toDF("id", "wkt")
      .select(col("id"),
        org.apache.spark.sql.graft.ColumnBridge.column(
          graft.functions.WktBboxCol(
            org.apache.spark.sql.graft.ColumnBridge.expression(col("wkt")))).as("bb"))
    val rows = df.collect()
    assert(rows.length == n)
    rows.foreach { r =>
      val id = r.getInt(0)
      val bb = r.getSeq[Double](1)
      assert(bb == Seq(id.toDouble, (id % 7).toDouble, id.toDouble, (id % 7).toDouble),
        s"id $id → $bb")
    }
  }
}
