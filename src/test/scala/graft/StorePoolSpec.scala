package graft

import graft.sources.StorePool
import graft.sources.StorePool.{DataStoreConfig, DataStorePool}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.TestDirs.tmpDir

/** Store pool (reference xcube/core/store/storepool.py), mirroring
  * test/core/store/test_storepool.py: empty pool, add/remove configs,
  * instance caching, `@instance` resolution rules, JSON + YAML config
  * files, loud unknowns. */
class StorePoolSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()

  private def writeCatalog(root: String): Unit = {
    import spark.implicits._
    Seq((1, "a"), (2, "b")).toDF("id", "name")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/t1.parquet")
    Seq((3.0, 4.0)).toDF("x", "y")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/t2.parquet")
  }

  test("empty pool, add/remove/has, loud unknown instance") {
    val pool = new DataStorePool(spark)
    assert(pool.isEmpty && pool.storeInstanceIds.isEmpty)
    assert(!pool.hasStoreInstance("dir"))
    val ex = intercept[IllegalArgumentException] { pool.getStore("dir") }
    assert(ex.getMessage.contains("unknown store instance"))
    pool.addStoreConfig("dir",
      DataStoreConfig("file", Map("root" -> "/tmp"), title = Some("t")))
    assert(pool.hasStoreInstance("dir"))
    assert(pool.storeInstanceIds == Seq("dir"))
    assert(pool.getStoreConfig("dir").title.contains("t"))
    pool.removeStoreConfig("dir")
    assert(pool.isEmpty)
  }

  test("getStore caches the instance; re-adding a config drops it") {
    val root = tmpDir("pool")
    writeCatalog(root)
    val pool = new DataStorePool(spark,
      Seq("dir" -> DataStoreConfig("file", Map("root" -> root))))
    val s1 = pool.getStore("dir")
    assert(s1 eq pool.getStore("dir"))
    assert(s1.listDataIds() == Seq("t1.parquet", "t2.parquet"))
    pool.addStoreConfig("dir", DataStoreConfig("file", Map("root" -> root)))
    assert(!(s1 eq pool.getStore("dir")), "new config -> new instance")
  }

  test("@instance resolution rules (get_data_store_instance)") {
    val root = tmpDir("poolat")
    writeCatalog(root)
    val pool = new DataStorePool(spark,
      Seq("main" -> DataStoreConfig("file", Map("root" -> root))))
    val viaPool = StorePool.getDataStoreInstance(spark, "@main",
      pool = Some(pool))
    assert(viaPool.listDataIds().nonEmpty)
    // @ without a pool / with params declines loudly
    intercept[IllegalArgumentException] {
      StorePool.getDataStoreInstance(spark, "@main")
    }
    intercept[IllegalArgumentException] {
      StorePool.getDataStoreInstance(spark, "@main",
        params = Map("root" -> root), pool = Some(pool))
    }
    // non-@ id constructs a fresh store
    val direct = StorePool.getDataStoreInstance(spark, "file",
      Map("root" -> root))
    assert(direct.listDataIds() == Seq("t1.parquet", "t2.parquet"))
    // unknown registry ids / missing params decline loudly
    intercept[IllegalArgumentException] {
      StorePool.newDataStore(spark, "no-such-store")
    }
    intercept[IllegalArgumentException] {
      StorePool.newDataStore(spark, "file") // no root
    }
    ()
  }

  test("JSON and YAML config documents load equivalent pools") {
    val root = tmpDir("poolcfg")
    writeCatalog(root)
    val dir = tmpDir("poolfiles")
    val json =
      s"""{"main": {"store_id": "file", "store_params": {"root": "$root"},
         |  "title": "catalog", "description": "the test catalog"},
         | "mem": {"store_id": "memory"}}""".stripMargin
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/pool.json"), json)
    val yaml =
      s"""main:
         |  store_id: file
         |  store_params:
         |    root: $root
         |  title: catalog
         |mem:
         |  store_id: memory
         |""".stripMargin
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/pool.yaml"), yaml)
    for (f <- Seq("pool.json", "pool.yaml")) {
      val pool = StorePool.fromFile(spark, s"$dir/$f")
      assert(pool.storeInstanceIds == Seq("main", "mem"), f)
      assert(pool.getStoreConfig("main").title.contains("catalog"), f)
      assert(pool.getStore("main").listDataIds()
        == Seq("t1.parquet", "t2.parquet"), f)
      assert(pool.getStore("mem").listDataIds().isEmpty, f)
    }
    intercept[IllegalArgumentException] {
      StorePool.fromFile(spark, s"$dir/pool.txt")
    }
    // a config without store_id declines loudly
    intercept[IllegalArgumentException] {
      StorePool.fromJson(spark, """{"bad": {"store_params": {}}}""")
    }
    ()
  }
}
