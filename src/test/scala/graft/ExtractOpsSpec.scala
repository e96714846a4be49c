package graft

import graft.cube.GridMapping
import graft.operators.ExtractOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ExtractOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()

  val gm: GridMapping = GridMapping(10, 5, 0.0, 0.0, 1.0, 1.0)

  test("pointIndexes: in-range → cell index, out-of-range → -1 (extract.py:321)") {
    import spark.implicits._
    val pts = Seq((1L, 2.5, 3.5), (2L, -0.1, 2.0), (3L, 9.99, 4.99),
                  (4L, 10.0, 2.0), (5L, 2.0, 5.0)).toDF("id", "px", "py")
    val idx = ExtractOps.pointIndexes(pts, gm, "px", "py")
      .select("id", "x_index", "y_index").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(idx(1L) == (2L, 3L))
    assert(idx(2L) == (-1L, 2L))   // x below range
    assert(idx(3L) == (9L, 4L))    // just inside the upper edge
    assert(idx(4L) == (-1L, 2L))   // x at xMax is outside (right-open)
    assert(idx(5L) == (2L, -1L))   // y at yMax is outside
  }

  test("valuesForPoints gathers values, NaN for missing cells and OOR points") {
    import spark.implicits._
    val cells = Seq((2L, 3L, 42.0), (9L, 4L, 7.0)).toDF("i", "j", "v")
    val pts = Seq((1L, 2.5, 3.5), (2L, 0.5, 0.5), (3L, -5.0, 2.0)).toDF("id", "px", "py")
    val out = ExtractOps.valuesForPoints(pts, gm, "px", "py", cells, Seq("v"))
      .select("id", "v").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) == 42.0)
    assert(out(2L).isNaN) // in-range cell with no data
    assert(out(3L).isNaN) // out of range
  }

  test("pruneCellsForIndexes over a local points table runs no Spark job") {
    import spark.implicits._
    val cells = (for (j <- 0 until 5; i <- 0 until 10)
      yield (j + 0.5, i + 0.5, (j * 10 + i).toDouble)).toDF("y", "x", "v")
    // two points share a cell; one is out of range
    val pts = Seq((1L, 2.5, 3.5), (2L, 2.7, 3.2), (3L, 7.5, 0.5), (4L, -1.0, 1.0))
      .toDF("id", "px", "py")
    val indexed = ExtractOps.pointIndexes(pts, gm, "px", "py")
    val (pruned, jobs) = JobCount.of(spark)(
      ExtractOps.pruneCellsForIndexes(cells, gm, indexed))
    assert(jobs == 0, s"$jobs jobs to collect the prune keys")
    // x in {2.5, 7.5} × y in {3.5, 0.5}: the In filters keep their product
    assert(pruned.select("v").as[Double].collect().sorted.toSeq ==
      Seq(2.0, 7.0, 32.0, 37.0))
  }
}

