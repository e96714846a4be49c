package graft

import graft.gen.{DefaultInputProcessor, InputProcessors}
import graft.sources.{DataStore, FsDataStore, MemoryDataStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestDirs.tmpDir

/** DataStore.search_data (reference store/store.py via search.py's
  * list-describe-filter default) + the gen1 InputProcessor registry
  * (gen/iproc.py:60-118). */
class StoreSearchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()

  test("bbox / time / type / var-name search over a mixed catalog") {
    import spark.implicits._
    val root = tmpDir("search")
    // two spatial parquet cubes at disjoint x-extents + one flat table
    def cube(name: String, x0: Double): Unit =
      (for (j <- 0 until 4; i <- 0 until 8) yield
        (i * 100.0, j + 0.5, x0 + i + 0.5, (j * 8 + i).toDouble))
        .toDF("t", "y", "x", "sst")
        .coalesce(1).write.parquet(s"$root/$name")
    cube("west.parquet", 0.0)
    cube("east.parquet", 50.0)
    spark.range(10).toDF("id").coalesce(1)
      .write.parquet(s"$root/flat.parquet")
    val store = new FsDataStore(spark, root)
    // bbox intersection keeps only the overlapping cube; the flat table
    // (no spatial axes) never matches a bbox search
    val hits = store.searchData(bbox = Some((49.0, 0.0, 60.0, 10.0)))
    assert(hits.map(_.dataId) == Seq("east.parquet"))
    val d = hits.head
    assert(d.dataType == "table") // parquet extension: flat type
    assert(d.varNames == Seq("sst"))
    assert(d.bbox.contains((50.5, 0.5, 57.5, 3.5)))
    assert(d.timeRange.contains((0.0, 700.0)))
    // time overlap
    assert(store.searchData(timeRange = Some((800.0, 900.0))).isEmpty)
    assert(store.searchData(timeRange = Some((650.0, 900.0)))
      .map(_.dataId).sorted == Seq("east.parquet", "west.parquet"))
    // var-name + no-extent search: schema-only, no extent probe
    assert(store.searchData(varName = Some("sst")).map(_.dataId).sorted
      == Seq("east.parquet", "west.parquet"))
    assert(store.searchData(varName = Some("id")).map(_.dataId)
      == Seq("flat.parquet"))
    assert(store.searchData(varName = Some("nope")).isEmpty)
    // extents are only computed on demand
    assert(store.searchData(varName = Some("sst")).head.bbox.isEmpty)
    assert(store.searchData(varName = Some("sst"), withExtents = true)
      .head.bbox.isDefined)
  }

  test("searchData batches extent probes: N entries, ONE union job") {
    import spark.implicits._
    val root = tmpDir("searchbatch")
    for (k <- 0 until 5)
      (for (j <- 0 until 3; i <- 0 until 4) yield
        (i * 10.0, j + 0.5, k * 10.0 + i + 0.5, (j * 4 + i).toDouble))
        .toDF("t", "y", "x", "sst")
        .coalesce(1).write.parquet(s"$root/cube$k.parquet")
    val store = new FsDataStore(spark, root)
    // warm the schema-only pass (footer reads can cost a tiny job each)
    assert(store.searchData(varName = Some("sst")).size == 5)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.graftbridge.BusDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      // baseline: the schema-only pass costs a footer job per open()
      store.searchData(varName = Some("sst"))
      org.apache.spark.graftbridge.BusDrain.drain(spark.sparkContext)
      val schemaJobs = jobs.getAndSet(0)
      val hits = store.searchData(withExtents = true)
      org.apache.spark.graftbridge.BusDrain.drain(spark.sparkContext)
      assert(hits.size == 5 && hits.forall(_.bbox.isDefined))
      val batches =
        math.ceil(5.0 / graft.sources.DataStore.SearchProbeBatch).toInt
      assert(jobs.get() - schemaJobs <= batches,
        s"extent probes must add $batches union job(s) over the " +
          s"$schemaJobs schema jobs, saw ${jobs.get()}")
      // the batched probe got every extent right
      assert(hits.find(_.dataId == "cube3.parquet").get.bbox
        .contains((30.5, 0.5, 33.5, 2.5)))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("memory store searches like any other store") {
    import spark.implicits._
    val store = new MemoryDataStore(spark)
    store.write("grid_a", Seq((1.0, 2.0, 3.0)).toDF("x", "y", "v"))
    store.write("notes", Seq(("k", 1)).toDF("name", "n"))
    val hits = store.searchData(bbox = Some((0.0, 0.0, 5.0, 5.0)))
    assert(hits.map(_.dataId) == Seq("grid_a"))
    assert(DataStore.dataTypeFor("cube.zarr") == "dataset")
    assert(DataStore.dataTypeFor("features.geojson") == "geodataframe")
    assert(DataStore.dataTypeFor("rows.parquet") == "table")
  }

  test("InputProcessor registry: loud lookup, re-registration wins") {
    val ex = intercept[IllegalArgumentException] {
      InputProcessors.get("no-such-processor")
    }
    assert(ex.getMessage.contains("registered"))
    assert(InputProcessors.get("default").inputReader == "netcdf")
    InputProcessors.register(new DefaultInputProcessor("zarr") {
      override def name: String = "spec-proc"
      override def preProcess(df: DataFrame): DataFrame =
        df.filter(col("v") > 0)
    })
    assert(InputProcessors.get("spec-proc").inputReader == "zarr")
    assert(InputProcessors.names.contains("spec-proc"))
    // last registration wins, like re-registering an extension
    InputProcessors.register(new DefaultInputProcessor("netcdf") {
      override def name: String = "spec-proc"
    })
    assert(InputProcessors.get("spec-proc").inputReader == "netcdf")
  }

  test("genCube declines loudly for a time-less granule; an explicit " +
    "timeLabels entry stamps it instead") {
    import graft.sources.NetcdfSource
    import NetcdfSource.NcDim
    import graft.cube.GridMapping
    val dir = tmpDir("notime")
    val path = s"$dir/granule.nc"
    NetcdfSource.write(path,
      Seq(NcDim("y", 4), NcDim("x", 6)),
      Seq(("y", Array.tabulate(4)(_ + 0.5)),
        ("x", Array.tabulate(6)(_ + 0.5))),
      Seq(("v", Seq("y", "x"), Array.tabulate(24)(_.toDouble))))
    val gm = GridMapping(6, 4, 0.0, 0.0, 1.0, 1.0)
    def run(labels: Map[String, Double]) =
      InputProcessors.genCube(spark, Seq(path), "default", gm, gm,
        Seq("v"),
        toIj = df => df.select(gm.iExpr(col("x")).as("i"),
          gm.jExpr(col("y")).as("j"), col("v")),
        timeLabels = labels)
    val ex = intercept[IllegalArgumentException] { run(Map.empty) }
    assert(ex.getMessage.contains("timeLabels"))
    val out = run(Map(path -> 3.0)).select("time").distinct().collect()
    assert(out.length == 1)
    assert(out.head.getTimestamp(0).toInstant.toString
      .startsWith("1970-01-04"))
  }
}
