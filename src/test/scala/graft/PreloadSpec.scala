package graft

import graft.sources._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.CountDownLatch
import graft.TestDirs.tmpDir

/** Preload contract tests (reference `xcube/core/store/preload.py`,
  * `test/core/store/test_preload.py`). */
class PreloadSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()

  test("PreloadState: str rendering and partial update semantics") {
    val st = new PreloadState("test.zip", status = PreloadStatus.Started,
      progress = 0.71, message = "Unzipping")
    assert(st.toString ===
      "data_id=test.zip, status=STARTED, progress=0.71, message=Unzipping")
    // partial event: only non-null fields overwrite
    st.update(new PreloadState("test.zip", progress = 0.9))
    assert(st.status === PreloadStatus.Started)
    assert(st.progress === 0.9)
    assert(st.message === "Unzipping")
    // mismatched data_id is a no-op
    st.update(new PreloadState("other.zip", progress = 0.1))
    assert(st.progress === 0.9)
    assert(PreloadStatus.Cancelled.toString === "CANCELLED")
  }

  test("ExecutorPreloadHandle: blocking run completes every data id") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val handle = new ExecutorPreloadHandle(
      Seq("a", "b", "c"),
      (h, id) => {
        h.notify(new PreloadState(id, progress = 0.5, message = s"work $id"))
        seen.add(id); ()
      })
    assert(seen.size === 3)
    Seq("a", "b", "c").foreach { id =>
      val s = handle.getState(id)
      assert(s.status === PreloadStatus.Completed, s"state for $id: $s")
      assert(s.progress === 1.0)
      assert(s.message === s"work $id")
    }
    assert(!handle.cancelled)
    val txt = handle.toText
    assert(txt.contains("Data ID") && txt.contains("COMPLETED")
      && txt.contains("100%"))
  }

  test("ExecutorPreloadHandle: one failure is FAILED with exception, others complete") {
    val handle = new ExecutorPreloadHandle(
      Seq("good", "bad"),
      (_, id) => if (id == "bad") throw new IllegalStateException("boom"))
    assert(handle.getState("good").status === PreloadStatus.Completed)
    val bad = handle.getState("bad")
    assert(bad.status === PreloadStatus.Failed)
    assert(bad.exception.isInstanceOf[IllegalStateException])
    assert(bad.exception.getMessage === "boom")
    // terminal status is sticky: a late event can't resurrect the task
    handle.notify(new PreloadState("bad", status = PreloadStatus.Started,
      progress = 0.2))
    assert(handle.getState("bad").status === PreloadStatus.Failed)
  }

  test("ExecutorPreloadHandle: cancel stops queued tasks") {
    val gate = new CountDownLatch(1)
    val handle = new ExecutorPreloadHandle(
      (1 to 8).map(i => s"d$i"),
      (h, _) => { gate.await(); if (h.cancelled)
        throw new java.util.concurrent.CancellationException() },
      parallelism = 1, blocking = false)
    handle.cancel()
    gate.countDown()
    handle.awaitDone()
    assert(handle.cancelled)
    val states = (1 to 8).map(i => handle.getState(s"d$i").status).toSet
    assert(states.subsetOf(Set[PreloadStatus.Value](
      PreloadStatus.Cancelled, PreloadStatus.Waiting)),
      s"unexpected states: $states")
    assert(states.contains(PreloadStatus.Cancelled))
  }

  test("NullPreloadHandle: empty states, never cancelled") {
    assert(NullPreloadHandle.getState("x").dataId === "x")
    assert(NullPreloadHandle.getState("x").status === null)
    assert(!NullPreloadHandle.cancelled)
    NullPreloadHandle.cancel()
    assert(!NullPreloadHandle.cancelled)
  }

  test("CachedDataStore: preload materializes cache, open serves it, close drops it") {
    import spark.implicits._
    val root = tmpDir("origin")
    val cache = tmpDir("cache")
    val origin = new FsDataStore(spark, root)
    origin.write("t1.parquet", (1 to 10).toDF("v"))
    origin.write("t2.parquet", (11 to 30).toDF("v"))
    val store = new CachedDataStore(spark, origin, cache)

    assert(!store.isPreloaded("t1.parquet"))
    // fallthrough before preload still answers from the origin
    assert(store.open("t1.parquet").count() === 10)

    val handle = store.preloadData(Seq("t1.parquet", "t2.parquet"))
    assert(store.isPreloaded("t1.parquet") && store.isPreloaded("t2.parquet"))
    assert(handle.getState("t2.parquet").status === PreloadStatus.Completed)

    // the cache dir actually holds the materialized copies...
    val cached = new java.io.File(cache).listFiles().map(_.getName).toSet
    assert(cached.exists(_.contains("t1.parquet")), s"cache dir: $cached")
    // ...and the served data matches the origin
    assert(store.open("t2.parquet").agg(sum($"v")).as[Long].head() === 410L)

    handle.close()
    assert(!new java.io.File(cache).exists())
    assert(!store.isPreloaded("t1.parquet"))
    // after close, open falls back to the origin
    assert(store.open("t1.parquet").count() === 10)
  }
}
