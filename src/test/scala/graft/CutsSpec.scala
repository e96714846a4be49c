package graft

import org.scalatest.funsuite.AnyFunSuite

/** The persist/release scope and the sizing rule of [[Cuts]]. */
class CutsSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.get()

  private def nothingCached(): Boolean =
    spark.sparkContext.getPersistentRDDs.isEmpty &&
      spark.sharedState.cacheManager.isEmpty

  test("withCuts releases every table when its body throws, and rethrows") {
    val boom = intercept[IllegalStateException] {
      Cuts.withCuts { c =>
        assert(c.cut(spark.range(1000).toDF("id")) === 1000L)
        c.keep(spark.range(10).selectExpr("id * 2 AS x"))
        assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
        assert(!spark.sharedState.cacheManager.isEmpty)
        throw new IllegalStateException("boom")
      }
    }
    assert(boom.getMessage === "boom")
    assert(nothingCached())
  }

  test("release drops a round early; local results outlive the scope") {
    val res = Cuts.withCuts { c =>
      val a = spark.range(100).toDF("id")
      val b = spark.range(50).toDF("id")
      c.cut(a)
      c.cut(b)
      c.release(a)
      assert(spark.sparkContext.getPersistentRDDs.size === 1)
      c.local(b.selectExpr("sum(id) AS s"))
    }
    assert(nothingCached())
    assert(res.collect().head.getLong(0) === 1225L)
  }

  test("sized: the session itself at the configured count, else a twin") {
    val conf = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(Cuts.sized(spark, Long.MaxValue) eq spark)
    val small = Cuts.sized(spark, 0L, floor = 1)
    if (conf > 1) {
      assert(small ne spark)
      assert(small.conf.get("spark.sql.shuffle.partitions") === "1")
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt === conf)
  }
}
