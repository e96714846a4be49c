package graft

import graft.sources.{CubeTruth, ZarrSource}
import graft.sources.zarr.ChunkStats
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import graft.TestDirs.tmpDir

/** The ANALYZE sidecar (`_graft_stats.json`): per-chunk value statistics
  * driving value-predicate chunk pruning and zero-IO aggregate partials
  * in the DSv2 scan engine — parquet's zone maps / ANALYZE TABLE for
  * cube stores. Zero-IO claims are proven by corrupting chunk objects on
  * disk and watching queries stay green. */
class ChunkStatsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = GraftSession.builder("4").getOrCreate()
    s.conf.set("spark.sql.files.minPartitionNum", "100000")
    s
  }

  /** 3×4×6 cube, 1×2×3 chunks → 12 chunks. v = ti*1000 + yi*10 + xi;
    * w = ti+yi+xi with NaN where xi > 3.5; c constant per chunk. */
  private def writeFixture(): String = {
    import spark.implicits._
    val t = Array(0.0, 1.0, 2.0)
    val y = Array(10.0, 20.0, 30.0, 40.0)
    val x = Array.tabulate(6)(_ + 0.5)
    val df = (for { ti <- t; yi <- y; xi <- x } yield
      (ti, yi, xi, ti * 1000 + yi * 10 + xi,
        if (xi > 3.5) Double.NaN else ti + yi + xi,
        ti * 100 + math.floor((yi - 10) / 20) * 10 + math.floor(xi / 3.0)))
      .toSeq.toDF("t", "y", "x", "v", "w", "c")
    val g = s"${tmpDir("stats")}/cube.zarr"
    ZarrSource.writeCubeVars(df, g, Seq("v", "w", "c"),
      Seq("t" -> t, "y" -> y, "x" -> x), chunks = Seq(1, 2, 3))
    g
  }

  private def corrupt(g: String, v: String,
                      keep: Set[String] = Set.empty): Unit = {
    new java.io.File(s"$g/$v").listFiles()
      .filter(f => f.getName.head.isDigit && !keep.contains(f.getName))
      .foreach(f => Files.write(f.toPath, Array[Byte](9, 9, 9)))
  }

  import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
  private def scanOf(df: org.apache.spark.sql.DataFrame): BatchScanExec =
    df.queryExecution.sparkPlan.collectLeaves()
      .collectFirst { case b: BatchScanExec => b }.get

  test("value predicates prune chunks through the sidecar (corruption proof)") {
    val g = writeFixture()
    ChunkStats.analyze(spark, g)
    assert(new java.io.File(s"$g/${ChunkStats.FileName}").exists())
    val ds = spark.read.format("zarr").load(g)
    // v > 2300 only lives in the t=2, y-chunk-1 chunks: 2 of 12
    val q = ds.filter(col("v") > 2300.0)
    assert(scanOf(q).inputRDD.getNumPartitions === 2)
    // corrupt every v chunk EXCEPT the two admitted ones — pruning means
    // the query never touches them
    corrupt(g, "v", keep = Set("2.1.0", "2.1.1"))
    val rows = spark.read.format("zarr").load(g).filter(col("v") > 2300.0)
      .select(sum(col("v")), count(lit(1))).head
    val expect = (for { yi <- Seq(30.0, 40.0); xi <- 0 to 5 }
      yield 2000 + yi * 10 + xi + 0.5).filter(_ > 2300.0)
    assert(rows.getLong(1) === expect.length.toLong)
    assert(rows.getDouble(0) === expect.sum)
    // NaN chunks stay admitted for intervals unbounded above: w > 1e9
    // keeps exactly the 6 x-chunk-1 chunks holding NaN cells — finite
    // spans top out at 45.5
    val nanQ = ds.filter(col("w") > 1e9)
    assert(scanOf(nanQ).inputRDD.getNumPartitions === 6)
    assert(nanQ.select(count(lit(1))).head.getLong(0) === 24L)
    // ...and w < 11 excludes NaN, admitting only chunks whose finite
    // span reaches below it (t=0, y-chunk 0: w min 10.5)
    assert(scanOf(ds.filter(col("w") < 11.0)).inputRDD.getNumPartitions < 12)
  }

  test("global statistics answer from the sidecar with ZERO chunk IO") {
    val g = writeFixture()
    ChunkStats.analyze(spark, g)
    // row-path truth from the readAll cells (no sidecar involved)
    val truth = graft.operators.StatsOps.statisticsFold(
      CubeTruth.zarr(spark, g, Seq("v", "w", "c")), "w")
      .collect().head
    Seq("v", "w", "c").foreach(corrupt(g, _))
    val ds = spark.read.format("zarr").load(g)
    val q = graft.operators.StatsOps.statisticsFold(ds, "w")
    assert(q.queryExecution.executedPlan.toString.contains("ZarrVarAggScan"))
    // all 12 chunks answer from the sidecar: ONE stat-row partition
    assert(scanOf(q).inputRDD.getNumPartitions === 1)
    assert(q.collect().head.toSeq === truth.toSeq)
    // plain (NaN-poisoned) aggregates derive too
    val p = ds.agg(sum(col("w")), max(col("w")), min(col("w")),
      count(col("w")))
    assert(scanOf(p).inputRDD.getNumPartitions === 1)
    val r = p.head
    assert(r.getDouble(0).isNaN && r.getDouble(1).isNaN)
    assert(r.getDouble(2) === 10.5 && r.getLong(3) === 72L)
  }

  test("grouped aggregates use stat rows when keys are chunk-constant") {
    val g = writeFixture()
    ChunkStats.analyze(spark, g)
    val truth = CubeTruth.zarr(spark, g, Seq("v", "w", "c"))
      .groupBy(col("t"), floor(col("y") / 25.0).as("by"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(x => (x._1, x._2)).toSeq
    Seq("v", "w", "c").foreach(corrupt(g, _))
    val ds = spark.read.format("zarr").load(g)
    // t is chunk-constant (chunk extent 1) and floor(y/25) maps both
    // values of each y-chunk to one block — every surviving chunk
    // answers from the sidecar even though all payloads are corrupt
    val q = ds.filter(col("y") >= 25.0)
      .groupBy(col("t"), floor(col("y") / 25.0).as("by"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    assert(scanOf(q).inputRDD.getNumPartitions === 1) // stat rows only
    val got = q.collect().map(r => (r.getDouble(0), r.getLong(1),
      r.getLong(2), r.getDouble(3))).sortBy(x => (x._1, x._2)).toSeq
    assert(got === truth.filter(_._2 == 1L))
    // a value-derived group key over the chunk-constant variable c
    val qc = ds.groupBy(col("c")).agg(count(lit(1)).as("n"),
      sum(col("v")).as("sv"), max(col("w")).as("mw"))
    assert(scanOf(qc).inputRDD.getNumPartitions === 1)
    assert(qc.collect().length === 12) // one group per chunk
    // partial dim coverage: y >= 15 half-selects the first y-chunk ->
    // those chunks read (corrupt v there would fail; restore fixture)
    val g2 = writeFixture()
    ChunkStats.analyze(spark, g2)
    // corrupt only the FULLY covered y-chunk-1 objects; boundary chunks
    // must still be read from disk
    corrupt(g2, "v", keep = Set("0.0.0", "0.0.1", "1.0.0", "1.0.1",
      "2.0.0", "2.0.1"))
    val q2 = spark.read.format("zarr").load(g2).filter(col("y") >= 15.0)
      .groupBy(col("t")).agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
    val got2 = q2.collect().map(r => (r.getDouble(0), r.getDouble(1),
      r.getLong(2))).sortBy(_._1).toSeq
    val exp2 = (for { ti <- Seq(0.0, 1.0, 2.0); yi <- Seq(20.0, 30.0, 40.0);
                      xi <- 0 to 5 } yield (ti, ti * 1000 + yi * 10 + xi + 0.5))
      .groupBy(_._1).map { case (k, vs) =>
        (k, vs.map(_._2).sum, vs.length.toLong) }.toSeq.sortBy(_._1)
    assert(got2 === exp2)
  }

  test("zone-map top-n: ORDER BY v LIMIT k plans only chunks that can matter") {
    val g = writeFixture()
    ChunkStats.analyze(spark, g)
    val ds = spark.read.format("zarr").load(g)
    // c is chunk-constant with max 211 on chunk 2.1.1 (6 cells): its own
    // guarantee covers k=6, every other chunk's max is strictly below
    val q = ds.orderBy(col("c").desc, col("t"), col("y"), col("x")).limit(6)
    assert(scanOf(q).inputRDD.getNumPartitions === 1)
    // corruption proof: only chunk 2.1.1 of each variable is readable
    Seq("v", "w", "c").foreach(v => corrupt(g, v, keep = Set("2.1.1")))
    val rows = spark.read.format("zarr").load(g)
      .orderBy(col("c").desc, col("t"), col("y"), col("x")).limit(6)
      .select(col("c"), col("t")).collect()
    assert(rows.length === 6 &&
      rows.forall(r => r.getDouble(0) === 211.0 && r.getDouble(1) === 2.0))
    // ASC mirror: the smallest block is chunk 0.0.0
    val g2 = writeFixture()
    ChunkStats.analyze(spark, g2)
    val asc = spark.read.format("zarr").load(g2)
      .orderBy(col("c").asc, col("t"), col("y"), col("x")).limit(6)
    assert(scanOf(asc).inputRDD.getNumPartitions === 1)
    assert(asc.select(col("c")).collect().forall(_.getDouble(0) === 0.0))
    // NaN ranks greatest under DESC: w's NaN cells (4 per x-chunk-1
    // chunk) satisfy k=6 from two chunks, pruning every NaN-free chunk
    val nanQ = spark.read.format("zarr").load(g2)
      .orderBy(col("w").desc, col("t"), col("y"), col("x")).limit(6)
    assert(scanOf(nanQ).inputRDD.getNumPartitions === 6)
    assert(nanQ.select(col("w")).collect().forall(_.getDouble(0).isNaN))
  }

  test("archive ANALYZE: sidecar beside the index prunes and answers granules") {
    import graft.sources.NetcdfSource
    import graft.sources.NetcdfSource.NcDim
    val dir = tmpDir("arcstats")
    val x = Array(0.0, 1.0, 2.0)
    def writeGranule(g: Int): Unit =
      NetcdfSource.write(s"$dir/g$g.nc", Seq(NcDim("x", 3)), Seq(("x", x)),
        Seq(("v", Seq("x"), Array.tabulate(3)(i => g * 10.0 + i))))
    (0 until 4).foreach(writeGranule)
    ChunkStats.analyzeArchive(spark, dir) // builds the index too
    val ds = spark.read.format("kerchunk").load(dir)
    // v > 25 lives only in granule 3's chunk: 1 of 4 plans
    val q = ds.filter(col("v") > 25.0)
    assert(scanOf(q).inputRDD.getNumPartitions === 1)
    val r = q.agg(sum(col("v")), count(lit(1))).head
    assert(r.getDouble(0) === 93.0 && r.getLong(1) === 3L)
    // global guarded statistics answer from stat rows: the only input
    // partition is the planning-time stat-row partition
    val st = graft.operators.StatsOps.statisticsFold(ds, "v")
    assert(scanOf(st).inputRDD.getNumPartitions === 1)
    val row = st.collect().head
    assert(row.getLong(0) === 12L)
    assert(row.getDouble(1) === 0.0 && row.getDouble(2) === 32.0)
  }

  test("parquet stats form: distributed side table, same pruning and stat rows") {
    val g = writeFixture()
    ChunkStats.analyze(spark, g, format = "parquet")
    assert(new java.io.File(s"$g/${ChunkStats.ParquetName}").isDirectory)
    val ds = spark.read.format("zarr").load(g)
    // pruning resolves through a broadcast join against the side table
    assert(scanOf(ds.filter(col("v") > 2300.0)).inputRDD.getNumPartitions === 2)
    // zero-IO stat rows resolve the same way: corrupt everything, the
    // guarded statistics still answer
    val truth = graft.operators.StatsOps.statisticsFold(
      CubeTruth.zarr(spark, g, Seq("v", "w", "c")), "w")
      .collect().head
    Seq("v", "w", "c").foreach(corrupt(g, _))
    val q = graft.operators.StatsOps.statisticsFold(
      spark.read.format("zarr").load(g), "w")
    assert(scanOf(q).inputRDD.getNumPartitions === 1)
    assert(q.collect().head.toSeq === truth.toSeq)
    // a stale discovery doc disables the side table too: append-shaped
    // shape change is caught by the shape check
    ZarrSource.truncateDim0(g, 2)
    assert(!new java.io.File(s"$g/${ChunkStats.FileName}").exists())
  }

  test("write-time stats: the cube is born with its sidecar, bit-identical to ANALYZE") {
    import spark.implicits._
    val t = Array(0.0, 1.0, 2.0)
    val y = Array(10.0, 20.0, 30.0, 40.0)
    val x = Array.tabulate(6)(_ + 0.5)
    val df = (for { ti <- t; yi <- y; xi <- x } yield
      (ti, yi, xi, ti * 1000 + yi * 10 + xi,
        if (xi > 3.5) Double.NaN else ti + yi + xi))
      .toSeq.toDF("t", "y", "x", "v", "w")
    val base = tmpDir("statborn")
    val g = s"$base/cube.zarr"
    ZarrSource.writeCubeVars(df, g, Seq("v", "w"),
      Seq("t" -> t, "y" -> y, "x" -> x), chunks = Seq(1, 2, 3), stats = true)
    val born = Files.readAllBytes(
      java.nio.file.Paths.get(s"$g/${ChunkStats.FileName}"))
    // an explicit ANALYZE reproduces the document's stats verbatim
    // (same cell order, same moments — compare the loaded maps)
    def loadMap() = ChunkStats.load(graft.sources.ByteStore.current, g,
      graft.sources.zarr.ZarrTable.open(g).za, g).get
      .asInstanceOf[ChunkStats.EagerStats].vars
    val bornMap = loadMap()
    ChunkStats.analyze(spark, g)
    assert(loadMap() === bornMap)
    val _ = born
    // ...and the born sidecar serves queries with zero chunk IO
    val truth = graft.operators.StatsOps.statisticsFold(
      CubeTruth.zarr(spark, g, Seq("v", "w")), "w").collect().head
    Seq("v", "w").foreach(corrupt(g, _))
    val q = graft.operators.StatsOps.statisticsFold(
      spark.read.format("zarr").load(g), "w")
    assert(scanOf(q).inputRDD.getNumPartitions === 1)
    assert(q.collect().head.toSeq === truth.toSeq)
    // the DSv2 write bridge exposes it as option("stats", "true")
    val g2 = s"${tmpDir("statborn2")}/cube.zarr"
    df.write.format("zarr").option("dims", "t,y,x")
      .option("chunks", "1,2,3").option("stats", "true").save(g2)
    assert(new java.io.File(s"$g2/${ChunkStats.FileName}").exists())
    assert(spark.read.format("zarr").load(g2)
      .filter(col("v") > 2300.0).rdd.getNumPartitions === 2)
  }

  test("statsDir option: a redirected sidecar loads for read-only stores") {
    val g = writeFixture()
    val side = tmpDir("statside")
    ChunkStats.analyze(spark, g, outDir = Some(side))
    assert(!new java.io.File(s"$g/${ChunkStats.FileName}").exists())
    assert(new java.io.File(s"$side/${ChunkStats.FileName}").exists())
    // without the option: no stats, no pruning
    assert(scanOf(spark.read.format("zarr").load(g)
      .filter(col("v") > 2300.0)).inputRDD.getNumPartitions === 12)
    // with it: the side sidecar drives pruning
    val q = spark.read.format("zarr").option("statsDir", side).load(g)
      .filter(col("v") > 2300.0)
    assert(scanOf(q).inputRDD.getNumPartitions === 2)
    assert(q.count() === 12L)
  }

  test("a corrupt sidecar or orphaned side table disables, never fails") {
    val g = writeFixture()
    ChunkStats.analyze(spark, g)
    // truncate the discovery document mid-byte: reads survive, unpruned
    Files.write(java.nio.file.Paths.get(s"$g/${ChunkStats.FileName}"),
      "{\"graft_stats_format\": 1, \"shape\": [3,".getBytes)
    val ds = spark.read.format("zarr").load(g)
    assert(ds.filter(col("v") > 2300.0).count() === 12L)
    assert(ds.filter(col("v") > 2300.0).rdd.getNumPartitions === 12)
    // parquet doc present but the side table is gone: bulk yields
    // nothing, chunks all read, answers stay exact
    val g2 = writeFixture()
    ChunkStats.analyze(spark, g2, format = "parquet")
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete(); ()
    }
    rmrf(new java.io.File(s"$g2/${ChunkStats.ParquetName}"))
    val ds2 = spark.read.format("zarr").load(g2)
    assert(ds2.filter(col("v") > 2300.0).count() === 12L)
    assert(graft.operators.StatsOps.statisticsFold(ds2, "v")
      .collect().head.getLong(0) === 72L)
  }

  test("mutations invalidate or stale the sidecar — never serve wrong stats") {
    import spark.implicits._
    val t = Array(0.0, 1.0, 2.0)
    val y = Array(10.0, 20.0, 30.0, 40.0)
    val x = Array.tabulate(6)(_ + 0.5)
    def oneVar(dir: String, sign: Double): String = {
      val df = (for { ti <- t; yi <- y; xi <- x } yield
        (ti, yi, xi, sign * (ti * 1000 + yi * 10 + xi))).toSeq
        .toDF("t", "y", "x", "v")
      val g = s"$dir/cube.zarr"
      ZarrSource.writeCube(df, g, "v", Seq("t" -> t, "y" -> y, "x" -> x),
        chunks = Seq(1, 2, 3))
      g
    }
    // append on an ANALYZEd single-var store MAINTAINS the sidecar
    // incrementally (round 17): the doc carries the new shape + the
    // appended chunks' folds, so fresh values are visible AND prunable
    val g = oneVar(tmpDir("statmut"), 1.0)
    ChunkStats.analyze(spark, g)
    val newSlice = (for { yi <- Seq(10.0, 20.0, 30.0, 40.0); xi <- 0 to 5 }
      yield (9.0, yi, xi + 0.5, 9999.0)).toDF("t", "y", "x", "v")
    ZarrSource.appendCube(newSlice, g, "v", Array(9.0))
    assert(new java.io.File(s"$g/${ChunkStats.FileName}").exists())
    val q = spark.read.format("zarr").load(g).filter(col("v") > 9000.0)
    assert(q.count() === 24L) // fresh values visible, nothing mispruned
    // ...and the maintained doc is LOADABLE (shape + generation checks
    // pass) and prunes: the 9999 slice lives in its own dim-0 chunks
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val scan = q.queryExecution.sparkPlan.collectLeaves()
      .collectFirst { case b: BatchScanExec => b }.get
    assert(scan.inputRDD.getNumPartitions <= 4,
      s"maintained sidecar did not prune: ${scan.inputRDD.getNumPartitions}")
    // full rewrite of an identical grid drops the sidecar up front
    val d2 = tmpDir("statmut2")
    val g2 = oneVar(d2, 1.0)
    ChunkStats.analyze(spark, g2)
    assert(new java.io.File(s"$g2/${ChunkStats.FileName}").exists())
    oneVar(d2, -1.0) // same path, same grid, negated values
    assert(!new java.io.File(s"$g2/${ChunkStats.FileName}").exists())
    assert(spark.read.format("zarr").load(g2)
      .filter(col("v") < -2300.0).count() === 12L)
  }

  test("redirected sidecars verify the write generation (stale-rewrite proof)") {
    import spark.implicits._
    val g = writeFixture()
    val side = tmpDir("statside")
    ChunkStats.analyze(spark, g, outDir = Some(side))
    // the redirected sidecar SERVES: a selective value predicate prunes
    // (v >= 2400 lives in 2 of 12 chunks: t=2, top y, both x-chunks)
    val q0 = spark.read.format("zarr").option("statsDir", side).load(g)
      .filter(col("v") >= 2400.0)
    assert(scanOf(q0).inputRDD.getNumPartitions === 2)
    assert(q0.count() === 6L)
    // same-shape REWRITE with shifted values: the shape check alone
    // cannot see it — the writer's generation bump must. A stale zone
    // map (old max 2405.5) would prune EVERYTHING below.
    val t = Array(0.0, 1.0, 2.0)
    val y = Array(10.0, 20.0, 30.0, 40.0)
    val x = Array.tabulate(6)(_ + 0.5)
    val df2 = (for { ti <- t; yi <- y; xi <- x } yield
      (ti, yi, xi, 10000.0 + ti * 1000 + yi * 10 + xi,
        ti + yi + xi, 0.0)).toSeq.toDF("t", "y", "x", "v", "w", "c")
    ZarrSource.writeCubeVars(df2, g, Seq("v", "w", "c"),
      Seq("t" -> t, "y" -> y, "x" -> x), chunks = Seq(1, 2, 3))
    val q = spark.read.format("zarr").option("statsDir", side).load(g)
      .filter(col("v") >= 10000.0)
    assert(scanOf(q).inputRDD.getNumPartitions === 12,
      "stale redirected sidecar must be ignored, not trusted")
    assert(q.count() === 72L)
    // re-ANALYZE stamps the new generation — pruning returns
    ChunkStats.analyze(spark, g, outDir = Some(side))
    val q2 = spark.read.format("zarr").option("statsDir", side).load(g)
      .filter(col("v") >= 12400.0)
    assert(scanOf(q2).inputRDD.getNumPartitions === 2)
    assert(q2.count() === 6L)
  }
}
