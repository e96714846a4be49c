package graft

import graft.sources.{KerchunkSource, NetcdfSource, ZarrSource, ZarrV3Source}
import graft.sources.NetcdfSource.NcDim
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import graft.TestDirs.tmpDir

/** The ANALYZE tier's uniform entry points (round-16): the SQL face
  * `CALL <catalog>.analyze(entry => ...)` through GraftCatalog, v3
  * cubes born with their zone maps (`writeCube(stats = true)`), and
  * archives born analyzed (`option("stats", "true")` on the refs
  * connectors, sidecar beside the index, auto-refreshed when appended
  * granules grow the concat shape). Zero-IO claims are proven by
  * corrupting chunk payloads. */
class SqlAnalyzeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = GraftSession.builder("4").getOrCreate()
    s.conf.set("spark.sql.files.minPartitionNum", "100000")
    s
  }

  /** 4×6 cube in 2×3 chunks (4 chunks), dyadic values. */
  private def writeV2(root: String, name: String): String = {
    import spark.implicits._
    val y = Array.tabulate(4)(_ + 0.5)
    val x = Array.tabulate(6)(_ + 0.5)
    val df = (for { yi <- y; xi <- x } yield
      (yi, xi, ((yi - 0.5) * 6 + (xi - 0.5)) / 4.0)).toSeq.toDF("y", "x", "v")
    val g = s"$root/$name"
    ZarrSource.writeCubeVars(df, g, Seq("v"), Seq("y" -> y, "x" -> x),
      chunks = Seq(2, 3))
    g
  }

  /** Overwrite every chunk payload under the array dir (recursive — v3
    * nests chunk objects as c/<i>/<j>). */
  private def corruptAll(g: String, v: String): Unit = {
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) f.listFiles().foreach(walk)
      else if (f.getName.head.isDigit)
        Files.write(f.toPath, Array[Byte](9, 9, 9))
    walk(new java.io.File(s"$g/$v"))
  }

  test("CALL <catalog>.analyze gives the stats tier its SQL face") {
    val root = tmpDir("sqlana")
    val g = writeV2(root, "cube.zarr")
    spark.conf.set("spark.sql.catalog.sqlana",
      "graft.sources.zarr.GraftCatalog")
    spark.conf.set("spark.sql.catalog.sqlana.path", root)
    try {
      val res = spark.sql("CALL sqlana.analyze(entry => 'cube.zarr')")
        .collect()
      assert(res.length === 1)
      assert(res.head.getString(0).endsWith("_graft_stats.json"))
      assert(new java.io.File(res.head.getString(0)).exists())
      // the SQL-ANALYZEd sidecar answers statistics with ZERO chunk IO
      corruptAll(g, "v")
      val stats = spark.sql(
        "SELECT count(v) AS n, min(v) AS lo, max(v) AS hi, sum(v) AS s " +
          "FROM sqlana.`cube.zarr`").head()
      assert(stats.getLong(0) === 24L)
      assert(stats.getDouble(1) === 0.0)
      assert(stats.getDouble(2) === 23.0 / 4.0)
      assert(stats.getDouble(3) === (0 until 24).map(_ / 4.0).sum)
      // unknown procedures refuse by name (Spark wraps the catalog's
      // IllegalArgumentException in FAILED_TO_LOAD_ROUTINE)
      val e = intercept[Exception](spark.sql("CALL sqlana.vacuum()"))
      assert(e.getMessage.contains("vacuum"))
    } finally {
      spark.conf.unset("spark.sql.catalog.sqlana")
      spark.conf.unset("spark.sql.catalog.sqlana.path")
    }
  }

  test("v3 writeCube(stats = true): cubes born with zone maps, sharded too") {
    import spark.implicits._
    val y = Array.tabulate(4)(_ + 0.5)
    val x = Array.tabulate(6)(_ + 0.5)
    val df = (for { yi <- y; xi <- x } yield
      (yi, xi, ((yi - 0.5) * 6 + (xi - 0.5)) / 4.0)).toSeq.toDF("y", "x", "v")
    for (inner <- Seq(None, Some(Seq(1, 3)))) {
      val g = s"${tmpDir("v3stats")}/cube.zarr"
      ZarrV3Source.writeCube(df, g, "v", Seq("y" -> y, "x" -> x),
        chunks = Seq(2, 3), shardInner = inner, stats = true)
      assert(new java.io.File(s"$g/_graft_stats.json").exists())
      // corrupt every stored object: the sidecar alone must answer
      corruptAll(g, "v/c") // v3 layout: v/c/<i>.<j> chunk objects
      val zc = spark.read.format("zarr").load(g)
      val r = zc.agg(count(col("v")).as("n"), min(col("v")),
        max(col("v")), sum(col("v"))).head()
      assert(r.getLong(0) === 24L)
      assert(r.getDouble(1) === 0.0)
      assert(r.getDouble(2) === 23.0 / 4.0)
      assert(r.getDouble(3) === (0 until 24).map(_ / 4.0).sum)
    }
  }

  test("archives born analyzed: option(stats) builds, reuses, refreshes") {
    val dir = tmpDir("arcstats")
    val x = Array(0.0, 1.0, 2.0)
    def writeGranule(g: Int): Unit =
      NetcdfSource.write(s"$dir/g$g.nc", Seq(NcDim("x", 3)), Seq(("x", x)),
        Seq(("v", Seq("x"), Array.tabulate(3)(i => g * 10.0 + i))))
    (0 until 3).foreach(writeGranule)
    val ds = spark.read.format("kerchunk").option("stats", "true").load(dir)
    assert(ds.count() === 9)
    val side = new java.io.File(s"$dir/_graft_stats.json")
    assert(side.exists(), "archive sidecar beside the index")
    // a fresh open REUSES the sidecar (no second analyze pass)
    val stamp = side.lastModified()
    Thread.sleep(20)
    assert(spark.read.format("kerchunk").option("stats", "true").load(dir)
      .count() === 9)
    assert(side.lastModified() === stamp, "fresh sidecar must not rebuild")
    // appended granules grow the concat shape -> the old sidecar is
    // stale by its own shape check -> the next stats-requested open
    // re-analyzes; value pruning then sees ALL granules
    writeGranule(3)
    val ds2 = spark.read.format("kerchunk").option("stats", "true").load(dir)
    assert(ds2.count() === 12)
    assert(side.lastModified() > stamp, "stale sidecar must refresh")
    // the refreshed zone maps prune: only granule 3 admits v >= 30
    val pruned = ds2.filter(col("v") >= 30.0)
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val scan = pruned.queryExecution.sparkPlan.collectLeaves()
      .collectFirst { case b: BatchScanExec => b }.get
    assert(scan.inputRDD.getNumPartitions === 1)
    assert(pruned.agg(sum("v")).head.getDouble(0) === 30.0 + 31.0 + 32.0)
  }
}
