package graft

import graft.streaming.{ConfigChangeObserver, DatasetConfigEntry, ServerConfig, ServerContext}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import graft.TestDirs.tmpDir

/** Server auto-reload tests (reference `xcube/server/helpers.py`
  * ConfigChangeObserver + webapi dataset context update). */
class ConfigReloadSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()

  private def writeConfig(path: String, json: String, mtimeMillis: Long): Unit = {
    Files.write(Paths.get(path), json.getBytes("UTF-8"))
    Files.setLastModifiedTime(Paths.get(path), FileTime.fromMillis(mtimeMillis))
    ()
  }

  test("ServerConfig: parse with relative-path resolution; malformed rejects") {
    val dir = tmpDir("cfg")
    val cfg = s"$dir/config.json"
    writeConfig(cfg,
      """{"Datasets":[{"Identifier":"a","Path":"a.parquet","Title":"A"},
                      {"Identifier":"b","Path":"/abs/b.parquet"}]}""", 1000L)
    val parsed = ServerConfig.parse(cfg)
    assert(parsed === Seq(
      DatasetConfigEntry("a", s"$dir/a.parquet", "A"),
      DatasetConfigEntry("b", "/abs/b.parquet")))
    writeConfig(cfg, """{"Datasets":{"oops":1}}""", 2000L)
    assertThrows[IllegalArgumentException](ServerConfig.parse(cfg))
  }

  test("ServerContext.update: add, reuse-unchanged, remove, all-or-nothing on failure") {
    import spark.implicits._
    val dir = tmpDir("ctx")
    Seq(1, 2, 3).toDF("v").write.parquet(s"$dir/a.parquet")
    Seq(4, 5).toDF("v").write.parquet(s"$dir/b.parquet")
    val ctx = new ServerContext(spark)

    ctx.update(Seq(DatasetConfigEntry("a", s"$dir/a.parquet")))
    assert(ctx.datasetIds === Seq("a"))
    assert(ctx.dataset("a").count() === 3)
    val aHandle = ctx.dataset("a")

    // add b, keep a unchanged → a's DataFrame instance is REUSED
    ctx.update(Seq(
      DatasetConfigEntry("a", s"$dir/a.parquet"),
      DatasetConfigEntry("b", s"$dir/b.parquet")))
    assert(ctx.datasetIds === Seq("a", "b"))
    assert(ctx.dataset("a") eq aHandle)
    assert(ctx.dataset("b").count() === 2)
    assert(ctx.updateCount === 2)

    // remove a
    ctx.update(Seq(DatasetConfigEntry("b", s"$dir/b.parquet")))
    assert(ctx.datasetIds === Seq("b"))

    // a bad path must not clobber the serving registry
    ctx.update(Seq(DatasetConfigEntry("broken", s"$dir/nope.parquet")))
    assert(ctx.datasetIds === Seq("b"))
    assert(ctx.lastUpdateError.isDefined)
    assert(ctx.updateCount === 3)
  }

  test("ConfigChangeObserver: first check loads; mtime change reloads; same mtime is a no-op") {
    import spark.implicits._
    val dir = tmpDir("obs")
    Seq(1, 2, 3).toDF("v").write.parquet(s"$dir/a.parquet")
    Seq(4, 5).toDF("v").write.parquet(s"$dir/b.parquet")
    val cfg = s"$dir/config.json"
    writeConfig(cfg,
      """{"Datasets":[{"Identifier":"a","Path":"a.parquet"}]}""", 1000L)

    val ctx = new ServerContext(spark)
    val obs = new ConfigChangeObserver(ctx, Seq(cfg))
    obs.check()
    assert(ctx.datasetIds === Seq("a"))

    // unchanged mtime: check() must not re-apply
    obs.check()
    assert(ctx.updateCount === 1)

    // edit config (new mtime) → next check picks up dataset b
    writeConfig(cfg,
      """{"Datasets":[{"Identifier":"a","Path":"a.parquet"},
                      {"Identifier":"b","Path":"b.parquet"}]}""", 2000L)
    obs.check()
    assert(ctx.datasetIds === Seq("a", "b"))
    assert(ctx.dataset("b").as[Int].collect().sorted === Array(4, 5))
    assert(ctx.updateCount === 2)

    // malformed edit: check() must not throw (it would cancel the polling
    // loop), must keep serving, and must record the error
    writeConfig(cfg, """{"Datasets": "garbage"}""", 3000L)
    obs.check()
    assert(obs.lastError.isDefined)
    assert(ctx.datasetIds === Seq("a", "b"))
    // a fixed config recovers on the next observation
    writeConfig(cfg,
      """{"Datasets":[{"Identifier":"b","Path":"b.parquet"}]}""", 4000L)
    obs.check()
    assert(obs.lastError.isEmpty)
    assert(ctx.datasetIds === Seq("b"))
  }

  test("ConfigChangeObserver: scheduled polling applies an edit without explicit check") {
    import spark.implicits._
    val dir = tmpDir("poll")
    Seq(7).toDF("v").write.parquet(s"$dir/a.parquet")
    val cfg = s"$dir/config.json"
    writeConfig(cfg,
      """{"Datasets":[{"Identifier":"a","Path":"a.parquet"}]}""", 1000L)
    val ctx = new ServerContext(spark)
    val obs = new ConfigChangeObserver(ctx, Seq(cfg), checkAfterMillis = 50)
    obs.start()
    try {
      val deadline = System.currentTimeMillis() + 10000
      while (ctx.updateCount < 1 && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(ctx.datasetIds === Seq("a"))
      writeConfig(cfg,
        """{"Datasets":[{"Identifier":"renamed","Path":"a.parquet"}]}""", 9999000L)
      while (ctx.updateCount < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(ctx.datasetIds === Seq("renamed"))
    } finally obs.stop()
    // after stop, edits are no longer observed
    val count = ctx.updateCount
    writeConfig(cfg,
      """{"Datasets":[{"Identifier":"late","Path":"a.parquet"}]}""", 99990000L)
    Thread.sleep(200)
    assert(ctx.updateCount === count)
  }
}
