package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

/** No declared query leaves a cache behind. Every query of
  * [[SparkEntry.queries]] runs at sf0.001; afterwards the persistent RDDs
  * and the CacheManager must be empty, and the session's temporary views
  * must be those it had before the query. A query that opens a [[Cuts]] scope
  * runs a second time and must return the same sorted rows, so nothing the
  * first run cached can have served or skewed the second.
  */
class QueryCacheSweepSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.get()
  private val sf = "/root/testdata/sf0.001"

  /** Sorted row strings; byte arrays and nested values by content. */
  private def rows(df: DataFrame): Seq[String] = {
    def norm(v: Any): Any = v match {
      case b: Array[Byte] => b.toSeq
      case r: Row => r.toSeq.map(norm)
      case m: scala.collection.Map[_, _] =>
        m.map { case (k, x) => norm(k) -> norm(x) }
      case s: Iterable[_] => s.map(norm)
      case x => x
    }
    df.collect().map(r => norm(r).toString).toSeq.sorted
  }

  private def assertNothingCached(q: String): Unit = {
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"$q left persisted RDDs: ${spark.sparkContext.getPersistentRDDs}")
    assert(spark.sharedState.cacheManager.isEmpty,
      s"$q left CacheManager entries")
  }

  private def tempViews: Set[String] =
    spark.sessionState.catalog.getTempViewNames().toSet

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (q, fn) =>
    test(s"$q leaves nothing cached") {
      val opened = Cuts.scopesOpened
      val views = tempViews
      val first = rows(fn(spark, sf))
      assertNothingCached(q)
      assert(tempViews === views, s"$q changed the temporary views")
      if (Cuts.scopesOpened > opened) {
        assert(rows(fn(spark, sf)) === first, q)
        assertNothingCached(q)
      }
    }
  }
}
