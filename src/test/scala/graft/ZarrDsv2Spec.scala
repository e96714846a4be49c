package graft

import graft.sources.{CubeTruth, ZarrSource}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import graft.TestDirs.tmpDir

/** DataSourceV2 zarr connector: chunk pruning from pushed dimension
  * predicates, variable-level column pruning, protocol transparency. */
class ZarrDsv2Spec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = GraftSession.builder("4").getOrCreate()
    // chunk packing honors spark.sql.files.*; pin minPartitionNum high so
    // every plan audit below sees one chunk per task deterministically
    // (packing itself is exercised in the chunk-packing test)
    s.conf.set("spark.sql.files.minPartitionNum", "100000")
    s
  }

  /** 3×4×6 cube, 1×2×3 chunks → 2·2·2 = 12 chunk keys; two variables. */
  private def writeFixture(): String = {
    import spark.implicits._
    val t = Array(0.0, 1.0, 2.0)
    val y = Array(10.0, 20.0, 30.0, 40.0)
    val x = Array.tabulate(6)(_ + 0.5)
    val df = (for { ti <- t; yi <- y; xi <- x } yield
      (ti, yi, xi, ti * 1000 + yi * 10 + xi, ti + yi + xi))
      .toSeq.toDF("t", "y", "x", "v", "w")
    val g = s"${tmpDir("dsv2")}/cube.zarr"
    ZarrSource.writeCubeVars(df, g, Seq("v", "w"),
      Seq("t" -> t, "y" -> y, "x" -> x), chunks = Seq(1, 2, 3))
    g
  }

  test("full read equals the readAll truth; schema is dims + sorted vars") {
    val g = writeFixture()
    val ds = spark.read.format("zarr").load(g)
    assert(ds.columns.toSeq == Seq("t", "y", "x", "v", "w"))
    assert(ds.count() === 72)
    val direct = CubeTruth.zarr(spark, g, Seq("v", "w"))
    val a = ds.agg(round(sum(col("v") * 3 + col("w")), 6)).head.getDouble(0)
    val b = direct.agg(round(sum(col("v") * 3 + col("w")), 6)).head.getDouble(0)
    assert(a === b)
    // 12 chunk keys -> 12 input partitions, one task per chunk
    assert(ds.rdd.getNumPartitions === 12)
  }

  test("dimension predicates prune chunks; Spark still filters cells") {
    val g = writeFixture()
    val ds = spark.read.format("zarr").load(g)
    // t = 1.0 hits 1 of 3 t-slices -> 1 of 2 t-chunks? t chunks are size 1:
    // grid_t = 3 -> keys 0,1,2; t=1.0 keeps exactly chunk 1 -> 4 partitions
    val one = ds.filter(col("t") === 1.0)
    assert(one.rdd.getNumPartitions === 4)
    assert(one.count() === 24)
    assert(one.select(min("v"), max("v")).head.toSeq ==
      Seq(1000.0 + 100 + 0.5, 1000.0 + 400 + 5.5))
    // range on y: y >= 25 keeps the second y-chunk pair (30,40) only
    val hi = ds.filter(col("y") >= 25.0 && col("t") === 0.0)
    assert(hi.rdd.getNumPartitions === 2)
    assert(hi.count() === 12)
    // y > 20 must ALSO keep the chunk containing (10,20)? no: 20 excluded,
    // chunk [10,20] has no cell > 20 -> pruned
    assert(ds.filter(col("y") > 20.0).rdd.getNumPartitions === 6)
    // but y >= 20 intersects the first chunk -> all 12 survive
    assert(ds.filter(col("y") >= 20.0).rdd.getNumPartitions === 12)
    assert(ds.filter(col("y") >= 20.0).count() === 54)
    // cell-granular residual: x = 2.5 prunes to the first x-chunk but the
    // chunk holds 3 x values -> Spark's post-scan filter trims the rest
    val cell = ds.filter(col("x") === 2.5)
    assert(cell.rdd.getNumPartitions === 6) // 3 t-chunks · 2 y · 1 x
    assert(cell.count() === 12)
    // pruned-to-nothing is an empty result, not an error
    assert(ds.filter(col("t") === 99.0).count() === 0)
    // the plan carries the pushed predicate (chunk pruning is visible)
    val planStr = one.queryExecution.executedPlan.toString
    assert(planStr.contains("PushedFilters") && planStr.contains("EqualTo(t,1.0)"),
      planStr.take(2000))
  }

  test("column pruning reaches the scan: w-only projection never decodes v") {
    val g = writeFixture()
    // corrupt every v chunk on disk: a projection of w must not notice
    val vDir = new java.io.File(s"$g/v")
    vDir.listFiles().filter(_.getName.head.isDigit)
      .foreach(f => Files.write(f.toPath, Array[Byte](1, 2, 3)))
    val ds = spark.read.format("zarr").load(g)
    val w = ds.select(sum(col("w"))).head.getDouble(0)
    assert(w === (for { ti <- 0 to 2; yi <- 1 to 4; xi <- 0 to 5 }
      yield ti + yi * 10.0 + xi + 0.5).sum)
    // dims-only projection decodes nothing at all
    assert(ds.select(countDistinct(col("t"))).head.getLong(0) === 3)
    // and v actually IS corrupt through the same scan
    intercept[org.apache.spark.SparkException](
      ds.select(sum(col("v"))).head)
  }

  test("non-monotone coordinate disables pruning but stays correct") {
    import spark.implicits._
    val y = Array(30.0, 10.0, 20.0, 40.0) // shuffled labels
    val x = Array(0.0, 1.0)
    val df = (for { yi <- y; xi <- x } yield (yi, xi, yi + xi))
      .toSeq.toDF("y", "x", "v")
    val g = s"${tmpDir("dsv2nm")}/cube.zarr"
    ZarrSource.writeCube(df, g, "v", Seq("y" -> y, "x" -> x), chunks = Seq(2, 2))
    val ds = spark.read.format("zarr").load(g)
    val got = ds.filter(col("y") === 40.0)
    assert(got.rdd.getNumPartitions === 2) // both y-chunks kept: unprunable
    assert(got.count() === 2)
    assert(got.agg(sum("v")).head.getDouble(0) === 81.0)
  }

  test("NaN coordinate values disable pruning — never silently drop chunks") {
    import spark.implicits._
    // an external archive with a missing coordinate chunk decodes it as
    // the CF NaN fill; a naive monotone/intersection test would prune a
    // chunk that holds valid matching cells
    val y = Array(10.0, 20.0, Double.NaN, Double.NaN) // second chunk "missing"
    val x = Array(0.0, 1.0)
    val df = (for { (yi, k) <- y.zipWithIndex; xi <- x } yield (yi, xi, k * 10.0 + xi))
      .toSeq.toDF("y", "x", "v")
    val g = s"${tmpDir("dsv2nan")}/cube.zarr"
    ZarrSource.writeCube(df, g, "v", Seq("y" -> y, "x" -> x), chunks = Seq(2, 2))
    val ds = spark.read.format("zarr").load(g)
    // the filter matches the FIRST chunk, but pruning must keep both y-
    // chunks (NaN span = unprovable); and rows survive end-to-end
    val got = ds.filter(col("y") === 20.0)
    assert(got.rdd.getNumPartitions === 2, "NaN coord must disable pruning")
    assert(got.count() === 2)
    assert(!graft.sources.zarr.ZarrScan.monotone(Array(1.0, Double.NaN, 3.0)))
    assert(!graft.sources.zarr.ZarrScan.monotone(Array(Double.NaN)))
    assert(graft.sources.zarr.ZarrScan.monotone(Array(1.0, 2.0, 3.0)))
    assert(graft.sources.zarr.ZarrScan.monotone(Array(3.0, 2.0, 1.0)))
  }

  test("v3 groups route through the same connector, sharded included") {
    import spark.implicits._
    val t = Array(0.0, 1.0, 2.0, 3.0)
    val x = Array.tabulate(6)(_.toDouble)
    val df = (for { ti <- t; xi <- x } yield (ti, xi, ti * 100 + xi))
      .toSeq.toDF("t", "x", "v")
    val plain = s"${tmpDir("dsv2v3")}/cube.zarr"
    graft.sources.ZarrV3Source.writeCube(df, plain, "v",
      Seq("t" -> t, "x" -> x), chunks = Seq(2, 3))
    val ds = spark.read.format("zarr").load(plain)
    assert(ds.columns.toSeq == Seq("t", "x", "v"))
    assert(ds.count() === 24)
    // chunk pruning works off the v3 metadata exactly as for v2
    val one = ds.filter(col("t") === 3.0)
    assert(one.rdd.getNumPartitions === 2)
    assert(one.agg(sum("v")).head.getDouble(0) === x.map(300.0 + _).sum)
    // sharded store: the SHARD object is the partition unit
    val sharded = s"${tmpDir("dsv2v3s")}/cube.zarr"
    graft.sources.ZarrV3Source.writeCube(df, sharded, "v",
      Seq("t" -> t, "x" -> x), chunks = Seq(2, 6), shardInner = Some(Seq(1, 3)))
    val ss = spark.read.format("zarr").load(sharded)
    assert(ss.count() === 24)
    assert(ss.filter(col("t") === 0.0).rdd.getNumPartitions === 1)
    assert(ss.agg(sum("v")).head.getDouble(0) ===
      ds.agg(sum("v")).head.getDouble(0))
  }

  test("unconsolidated http group fails with the consolidate hint") {
    val g = writeFixture()
    // the writer consolidates by default; strip .zmetadata to model an
    // external archive written without it
    Files.delete(new java.io.File(g, ".zmetadata").toPath)
    val emu = graft.sources.s3.S3Emulator.shared
    emu.mountDir("dsv2nc", new java.io.File(g).getParent)
    val e = intercept[IllegalArgumentException](
      spark.read.format("zarr").load(s"${emu.endpoint}/dsv2nc/cube.zarr").schema)
    assert(e.getMessage.contains("consolidate"), e.getMessage)
  }

  test("one group open serves both inferSchema and getTable (no double IO)") {
    val g = writeFixture()
    ZarrSource.consolidateMetadata(g)
    val emu = graft.sources.s3.S3Emulator.shared
    emu.mountDir("dsv2once", new java.io.File(g).getParent)
    val url = s"${emu.endpoint}/dsv2once/cube.zarr"
    // cost of ONE metadata+coordinate open, measured directly
    val before = emu.requestCount("GET") + emu.requestCount("HEAD")
    graft.sources.zarr.ZarrTable.open(url)
    val oneOpen = emu.requestCount("GET") + emu.requestCount("HEAD") - before
    assert(oneOpen > 0)
    // a full read resolution (inferSchema + getTable) must not pay twice
    val b2 = emu.requestCount("GET") + emu.requestCount("HEAD")
    spark.read.format("zarr").load(url).schema
    val resolved = emu.requestCount("GET") + emu.requestCount("HEAD") - b2
    assert(resolved <= oneOpen + 2,
      s"read resolution cost $resolved requests vs $oneOpen for one open")
  }

  test("df.write.format(zarr) round-trips through the connector") {
    import spark.implicits._
    val t = Array(0.0, 1.0)
    val y = Array(10.0, 20.0, 30.0)
    val x = Array(0.5, 1.5, 2.5, 3.5)
    val df = (for { ti <- t; yi <- y; xi <- x } yield
      (ti, yi, xi, ti * 100 + yi + xi, ti + yi * xi))
      .toSeq.toDF("t", "y", "x", "v", "w")
    val g = s"${tmpDir("dsv2w")}/written.zarr"
    df.write.format("zarr").option("dims", "t,y,x")
      .option("chunks", "1,2,3").save(g)
    // the written group is a real consolidated v2 group the whole-array
    // readers decode
    val direct = CubeTruth.zarr(spark, g, Seq("v", "w"))
    assert(direct.count() === 24)
    // and the connector reads it back with the chunking we asked for:
    // grid (2,2,2) -> 8 chunk tasks
    val back = spark.read.format("zarr").load(g)
    assert(back.columns.toSeq == Seq("t", "y", "x", "v", "w"))
    assert(back.rdd.getNumPartitions === 8)
    val a = back.agg(round(sum(col("v") * 3 + col("w")), 6)).head.getDouble(0)
    val b = df.agg(round(sum(col("v") * 3 + col("w")), 6)).head.getDouble(0)
    assert(a === b)
  }

  test("write modes: ErrorIfExists loud, Ignore no-op, Overwrite clean, Append guided") {
    import spark.implicits._
    val df = Seq((0.0, 0.0, 1.0), (0.0, 1.0, 2.0), (1.0, 0.0, 3.0),
      (1.0, 1.0, 4.0)).toDF("y", "x", "v")
    val g = s"${tmpDir("dsv2m")}/modes.zarr"
    df.write.format("zarr").option("dims", "y,x").save(g)
    val e1 = intercept[Exception] {
      df.write.format("zarr").option("dims", "y,x").save(g)
    }
    assert(e1.getMessage.contains("already exists"), e1.getMessage)
    // Ignore: silently leaves the group as is
    df.withColumn("v", col("v") * 10).write.format("zarr")
      .option("dims", "y,x").mode("ignore").save(g)
    assert(spark.read.format("zarr").load(g)
      .agg(sum("v")).head.getDouble(0) === 10.0)
    // Overwrite with a SMALLER grid: stale chunk objects must not survive
    val df2 = Seq((0.0, 0.0, 7.0)).toDF("y", "x", "v")
    df2.write.format("zarr").option("dims", "y,x").mode("overwrite").save(g)
    val re = spark.read.format("zarr").load(g)
    assert(re.count() === 1 && re.agg(sum("v")).head.getDouble(0) === 7.0)
    val e2 = intercept[Exception] {
      df.write.format("zarr").option("dims", "y,x").mode("append").save(g)
    }
    assert(e2.getMessage.contains("appendCube"), e2.getMessage)
    // reading a path with no group says what is wrong
    val e3 = intercept[Exception] {
      spark.read.format("zarr").load(s"${tmpDir("dsv2n")}/none.zarr").count()
    }
    assert(e3.getMessage.contains("no zarr group"), e3.getMessage)
  }

  test("GraftCatalog: store entries are SQL tables with pruning intact") {
    import spark.implicits._
    val store = tmpDir("gcat")
    // a zarr cube entry + a row-shaped entry + a hidden entry
    val g = s"$store/cube.zarr"
    val t = Array(0.0, 1.0, 2.0)
    val y = Array(10.0, 20.0, 30.0, 40.0)
    val x = Array.tabulate(6)(_ + 0.5)
    val df = (for { ti <- t; yi <- y; xi <- x } yield
      (ti, yi, xi, ti * 1000 + yi * 10 + xi)).toSeq.toDF("t", "y", "x", "v")
    ZarrSource.writeCube(df, g, "v",
      Seq("t" -> t, "y" -> y, "x" -> x), chunks = Seq(1, 2, 3))
    Seq((1, "a")).toDF("k", "s").write.parquet(s"$store/rows.parquet")
    new java.io.File(s"$store/_hidden").mkdirs()
    spark.conf.set("spark.sql.catalog.gcat",
      classOf[graft.sources.zarr.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcat.path", store)
    // listing reflects the directory, hidden entries excluded
    val shown = spark.sql("SHOW TABLES IN gcat").collect()
      .map(_.getString(1)).toSet
    assert(shown == Set("cube.zarr", "rows.parquet"), shown)
    // SQL over the cube, with chunk pruning through the catalog table
    val q = spark.sql(
      "SELECT sum(v) AS s FROM gcat.`cube.zarr` WHERE t = 1.0")
    assert(q.head.getDouble(0) ===
      (for { yi <- y; xi <- x } yield 1000.0 + yi * 10 + xi).sum)
    val sub = spark.table("gcat.`cube.zarr`").filter(col("t") === 1.0)
    assert(sub.rdd.getNumPartitions === 4, "catalog tables must prune chunks")
    // row-shaped entries decline politely
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM gcat.`rows.parquet`").collect()
    }
    assert(e.getMessage.contains("spark.read"), e.getMessage)
    // dropTable removes the entry from the store
    spark.sql("DROP TABLE gcat.`rows.parquet`")
    assert(!new java.io.File(s"$store/rows.parquet").exists())
  }

  test("runtime filters prune chunks at execution; statistics shrink with pushdown") {
    val g = writeFixture()
    val meta = graft.sources.zarr.ZarrTable.open(g)
    val schema = graft.sources.zarr.ZarrTable.schemaFor(meta)
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual}
    // direct contract: filter() after planning re-prunes the partitions —
    // the hook Spark's AQE runtime filtering (DPP over v2) drives when a
    // join's build side lands on a dimension column
    val scan = graft.sources.zarr.ZarrScan(meta, Array.empty, schema)
    assert(scan.planInputPartitions().length === 12)
    scan.filter(Array[org.apache.spark.sql.sources.Filter](EqualTo("t", 1.0)))
    assert(scan.planInputPartitions().length === 4)
    // a runtime In (the shape DPP delivers for join keys) prunes as a
    // per-value SET: {0.0, 2.0} skips the middle t-slab entirely
    val scanIn = graft.sources.zarr.ZarrScan(meta, Array.empty, schema)
    scanIn.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("t", Array(0.0, 2.0))))
    assert(scanIn.planInputPartitions().length === 8)
    assert(scan.filterAttributes().map(_.describe()).toSeq ==
      Seq("t", "y", "x"))
    // statistics: post-pruning rows/bytes so a pruned subset looks
    // broadcastable to Catalyst/AQE instead of archive-sized
    val full = graft.sources.zarr.ZarrScan(meta, Array.empty, schema)
    assert(full.estimateStatistics().numRows().getAsLong === 72L)
    val pruned = graft.sources.zarr.ZarrScan(meta,
      Array(GreaterThanOrEqual("y", 25.0), EqualTo("t", 0.0)), schema)
    assert(pruned.estimateStatistics().numRows().getAsLong === 12L)
    // and through the relational layer: optimizer stats follow the filter
    import org.apache.spark.sql.functions.col
    val rel = spark.read.format("zarr").load(g)
    val sFull = rel.queryExecution.optimizedPlan.stats.sizeInBytes
    val sSub = rel.filter(col("t") === 1.0)
      .queryExecution.optimizedPlan.stats.sizeInBytes
    assert(sSub < sFull, s"$sSub !< $sFull")
  }

  test("aggregate pushdown: count/min/max over dims are metadata-only") {
    val g = writeFixture()
    // corrupt EVERY data chunk: a metadata-only aggregate must not care
    val vDir = new java.io.File(s"$g/v")
    val wDir = new java.io.File(s"$g/w")
    (vDir.listFiles() ++ wDir.listFiles())
      .filterNot(_.getName.startsWith("."))
      .foreach(f => java.nio.file.Files.write(f.toPath, Array[Byte](1, 2, 3)))
    val ds = spark.read.format("zarr").load(g)
    import org.apache.spark.sql.functions.{col, count, max, min}
    // unfiltered: full-grid math
    val r0 = ds.agg(count(lit(1)), min("t"), max("x")).head
    assert(r0.getLong(0) === 72L && r0.getDouble(1) === 0.0 &&
      r0.getDouble(2) === 5.5)
    // exactly-consumed dim filters: still zero payload IO
    val r1 = ds.filter(col("t") >= 1.0 && col("y") < 25.0)
      .agg(count(lit(1)), min("y"), max("t")).head
    assert(r1.getLong(0) === 24L && r1.getDouble(1) === 10.0 &&
      r1.getDouble(2) === 2.0)
    // empty selection: count 0, null extremes (global agg semantics)
    val r2 = ds.filter(col("t") > 99.0).agg(count(lit(1)), min("t")).head
    assert(r2.getLong(0) === 0L && r2.isNullAt(1))
    // the pushed plan really is the aggregate scan
    val p = ds.filter(col("t") >= 1.0).agg(count(lit(1)))
      .queryExecution.executedPlan.toString
    assert(p.contains("ZarrAggScan"), p.take(800))
    // aggregates over a DATA variable decline and scan (and now fail on
    // the corrupted chunks — proof the metadata path never reads them)
    intercept[Exception] { ds.agg(min("v")).head }
  }

  test("limit pushdown: a peek plans only enough chunks") {
    val g = writeFixture() // 12 chunks x 6 in-bounds cells
    val meta = graft.sources.zarr.ZarrTable.open(g)
    val schema = graft.sources.zarr.ZarrTable.schemaFor(meta)
    import org.apache.spark.sql.sources.LessThanOrEqual
    def parts(limit: Int, exact: Array[org.apache.spark.sql.sources.Filter]) =
      graft.sources.zarr.ZarrScan(meta, exact, schema,
        limit = Some(limit)).planInputPartitions().length
    // limit 5 < one chunk's 6 cells -> one planned chunk; 7 needs two
    assert(parts(5, Array.empty) === 1)
    assert(parts(7, Array.empty) === 2)
    // with a consumed filter the per-chunk MATCHING count drives the
    // cut: x <= 0.5 matches 2 cells/chunk, so limit 5 needs 3 chunks
    assert(parts(5, Array(LessThanOrEqual("x", 0.5))) === 3)
    // beyond the table: every chunk stays
    assert(parts(1000, Array.empty) === 12)
    // end-to-end: the planner truncation never under-delivers
    val ds = spark.read.format("zarr").load(g)
    import org.apache.spark.sql.functions.col
    assert(ds.limit(5).count() === 5)
    assert(ds.limit(7).count() === 7)
    assert(ds.filter(col("x") <= 0.5).limit(5).count() === 5)
    assert(ds.limit(1000).count() === 72)
  }

  test("GROUP BY dims pushes down: per-group counts from coordinate math") {
    val g = writeFixture()
    // corrupt all chunks again: grouped dim aggregates are metadata-only
    (new java.io.File(s"$g/v").listFiles() ++
      new java.io.File(s"$g/w").listFiles())
      .filterNot(_.getName.startsWith("."))
      .foreach(f => java.nio.file.Files.write(f.toPath, Array[Byte](9)))
    val ds = spark.read.format("zarr").load(g)
    import org.apache.spark.sql.functions.{col, count, max, min}
    val byT = ds.groupBy("t").agg(count(lit(1)).as("n"), min("x"), max("y"))
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).sortBy(_._1)
    assert(byT.toSeq === Seq((0.0, 24L, 0.5, 40.0), (1.0, 24L, 0.5, 40.0),
      (2.0, 24L, 0.5, 40.0)))
    // grouped + exactly-consumed filter
    val byY = ds.filter(col("t") === 1.0 && col("x") < 3.0)
      .groupBy("y").agg(count(lit(1)).as("n"), min("t"))
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(byY.toSeq === Seq((10.0, 3L, 1.0), (20.0, 3L, 1.0),
      (30.0, 3L, 1.0), (40.0, 3L, 1.0)))
    // empty selection under GROUP BY: zero rows, not zero-count rows
    assert(ds.filter(col("t") > 50.0).groupBy("t").count().count() === 0L)
    // two grouped dims
    assert(ds.groupBy("t", "y").count().count() === 12L)
    val p = ds.groupBy("t").count().queryExecution.executedPlan.toString
    assert(p.contains("ZarrAggScan"), p.take(600))
  }

  test("partial aggregate pushdown: var aggregates fold per chunk") {
    val g = writeFixture()
    val ds = spark.read.format("zarr").load(g)
    import org.apache.spark.sql.functions.{col, count, max, min, sum}
    val q = ds.filter(col("t") >= 1.0)
      .groupBy("t").agg(count(lit(1)).as("n"), min("v").as("mn"),
        max("v").as("mx"), sum("w").as("sw"))
    val plan = q.queryExecution.executedPlan
    assert(plan.toString.contains("ZarrVarAggScan"), plan.toString.take(800))
    // the scan emits ONE partial row per (chunk, group) — 8 surviving
    // chunks (t >= 1.0 prunes the t=0 slice), each chunk a single t —
    // instead of streaming 48 cells into the aggregation
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val scan = q.queryExecution.sparkPlan.collectLeaves()
      .collectFirst { case b: BatchScanExec => b }.get
    assert(scan.inputRDD.getNumPartitions === 8)
    assert(scan.inputRDD.count() === 8L)
    // exact results (dyadic cell values -> order-free double sums):
    // per t: 24 cells, min v = t*1000+100+0.5, max v = t*1000+400+5.5,
    // sum w = 24t + 6*(10+20+30+40) + 4*(0.5+..+5.5) = 24t + 672
    val rows = q.collect().map(r => (r.getDouble(0), r.getLong(1),
      r.getDouble(2), r.getDouble(3), r.getDouble(4))).sortBy(_._1)
    assert(rows.toSeq === Seq((1.0, 24L, 1100.5, 1405.5, 696.0),
      (2.0, 24L, 2100.5, 2405.5, 720.0)))
    // two grouped dims and a global (no-group) aggregate also push
    assert(ds.groupBy("t", "y").agg(sum("v")).count() === 12L)
    val g0 = ds.agg(min("v"), max("w"), count(col("v"))).head
    assert(g0.getDouble(0) === 100.5 && g0.getDouble(1) === 47.5 &&
      g0.getLong(2) === 72L)
    val p0 = ds.agg(sum("v")).queryExecution.executedPlan.toString
    assert(p0.contains("ZarrVarAggScan"), p0.take(600))
  }

  test("partial agg pushdown keeps Spark's NaN semantics cell for cell") {
    import spark.implicits._
    // v carries NaN holes: min skips NaN (NaN sorts greatest), max
    // returns NaN, sum poisons, count counts cells (NaN is not null) —
    // the pushed plan must match the unpushed aggregation over the
    // readAll cells row for row
    val t = Array(0.0, 1.0)
    val y = Array(0.0, 1.0, 2.0)
    val x = Array(0.0, 1.0)
    val df = (for { ti <- t; yi <- y; xi <- x } yield
      (ti, yi, xi,
        if ((yi + xi) % 2 == 1) Double.NaN else ti * 100 + yi * 10 + xi))
      .toSeq.toDF("t", "y", "x", "v")
    val g = s"${tmpDir("dsv2nan")}/cube.zarr"
    ZarrSource.writeCubeVars(df, g, Seq("v"),
      Seq("t" -> t, "y" -> y, "x" -> x), chunks = Seq(1, 2, 2))
    import org.apache.spark.sql.functions.{col, count, max, min, sum}
    def agg(d: org.apache.spark.sql.DataFrame) =
      d.groupBy("t").agg(min("v"), max("v"), sum("v"), count(col("v")))
        .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2),
          r.getDouble(3), r.getLong(4))).sortBy(_._1).toSeq
    val pushedDf = spark.read.format("zarr").load(g)
    val plan = pushedDf.groupBy("t").agg(min("v"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ZarrVarAggScan"), plan.take(600))
    val pushed = agg(pushedDf)
    val plain = agg(CubeTruth.zarr(spark, g, Seq("v")))
    assert(pushed.length === 2)
    pushed.zip(plain).foreach { case ((pt, pmn, pmx, psm, pn), (qt, qmn, qmx, qsm, qn)) =>
      assert(pt === qt && pn === qn)
      assert(pmn === qmn) // NaN never wins min while real cells exist
      assert(pmx.isNaN && qmx.isNaN) // NaN is greatest -> max is NaN
      assert(psm.isNaN && qsm.isNaN) // NaN poisons the sum
    }
  }

  test("exactly-consumed dim filters: reader-side cells match Spark-side") {
    val g = writeFixture()
    val ds = spark.read.format("zarr").load(g)
    import org.apache.spark.sql.functions.col
    // strict/inclusive bounds and equality, applied by the READER now
    val sub = ds.filter(col("y") > 10.0 && col("x") <= 2.5 && col("t") === 1.0)
    val rows = sub.collect()
    assert(rows.length === 9, rows.length) // y in {20,30,40} x in {0.5,1.5,2.5}
    assert(rows.forall(r => r.getDouble(0) == 1.0 && r.getDouble(1) > 10.0 &&
      r.getDouble(2) <= 2.5))
    // value spot check: untouched by the reader-side filtering
    assert(rows.map(_.getDouble(3)).sum ===
      (for { yi <- Seq(20.0, 30.0, 40.0); xi <- Seq(0.5, 1.5, 2.5) } yield
        1000.0 + yi * 10 + xi).sum)
  }

  test("readStream.format(zarr): appended slices arrive exactly once across restarts") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val y = Array(0.0, 1.0)
    val x = Array(0.0, 1.0, 2.0)
    def slice(t: Double): org.apache.spark.sql.DataFrame =
      (for { yi <- y; xi <- x } yield (t, yi, xi, t * 100 + yi * 10 + xi))
        .toSeq.toDF("t", "y", "x", "v")
    val g = s"${tmpDir("dsv2s")}/stream.zarr"
    val ckpt = tmpDir("dsv2sc")
    ZarrSource.writeCube(slice(0.0), g, "v",
      Seq("t" -> Array(0.0), "y" -> y, "x" -> x), chunks = Seq(1, 2, 3))
    val out = tmpDir("dsv2so")
    // parquet sink: supports checkpoint recovery (the memory sink does
    // not), so each drain is a genuine restarted query
    def drain(): Seq[(Double, Double)] = {
      val q = spark.readStream.format("zarr").load(g)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(out).collect()
        .map(r => (r.getAs[Double]("t"), r.getAs[Double]("v"))).toSeq
    }
    // first run drains the existing slice t=0
    val b1 = drain()
    assert(b1.length === 6 && b1.forall(_._1 == 0.0), b1)
    // append two slices; the restarted query with the SAME checkpoint
    // emits ONLY the new ones (offset = slice count, persisted by Spark)
    ZarrSource.appendCube(slice(1.0), g, "v", Array(1.0))
    ZarrSource.appendCube(slice(2.0), g, "v", Array(2.0))
    val b2 = drain()
    assert(b2.length === 18, b2.length)
    assert(b2.groupBy(_._1).view.mapValues(_.size).toMap ===
      Map(0.0 -> 6, 1.0 -> 6, 2.0 -> 6)) // exactly once per slice
    assert(b2.filter(_._1 == 2.0).map(_._2).sum ===
      (for { yi <- y; xi <- x } yield 200.0 + yi * 10 + xi).sum)
    // nothing new -> an empty batch, not a replay
    assert(drain().length === 18)
  }

  test("maxSlicesPerTrigger: a backlog drains in bounded micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val y = Array(0.0, 1.0)
    val x = Array(0.0, 1.0)
    val ts = Array.tabulate(6)(_.toDouble)
    val df = (for { t <- ts; yi <- y; xi <- x } yield
      (t, yi, xi, t * 10 + yi + xi)).toSeq.toDF("t", "y", "x", "v")
    val g = s"${tmpDir("dsv2adm")}/backlog.zarr"
    ZarrSource.writeCube(df, g, "v",
      Seq("t" -> ts, "y" -> y, "x" -> x), chunks = Seq(1, 2, 2))
    val out = tmpDir("dsv2admo")
    val ckpt = tmpDir("dsv2admc")
    val q = spark.readStream.format("zarr")
      .option("maxSlicesPerTrigger", "2").load(g)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // complete drain...
    assert(spark.read.parquet(out).count() === 24)
    // ...in 6/2 = 3 bounded batches (offsets 0..2 committed)
    val batches = new java.io.File(s"$ckpt/offsets").listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).sorted.toSeq
    assert(batches === Seq("0", "1", "2"), batches)
  }

  test("interval-set pruning: In / same-dim Or / != prune and are consumed") {
    val g = writeFixture() // t chunks size 1 (3), y size 2 (2), x size 3 (2)
    val ds = spark.read.format("zarr").load(g)
    // In on a dim prunes as a SET: {0, 2} skips the middle t-chunk
    val in = ds.filter(col("t").isin(0.0, 2.0))
    assert(in.rdd.getNumPartitions === 8, "In must prune per value, not span")
    assert(in.count() === 48)
    // ...and is fully CONSUMED (no Spark-side Filter node re-evaluates it)
    val inPlan = in.queryExecution.executedPlan.toString
    assert(!inPlan.contains("Filter ("), inPlan.take(1200))
    // same-dim Or prunes as the union of branch rectangles
    val or = ds.filter(col("t") === 0.0 || col("t") > 1.5)
    assert(or.rdd.getNumPartitions === 8)
    assert(or.count() === 48)
    // != consumes via interval complement (no pruning win here: both
    // remaining t-chunks survive, but the filter is reader-applied)
    val ne = ds.filter(col("t") =!= 1.0)
    assert(ne.count() === 48)
    assert(!ne.queryExecution.executedPlan.toString.contains("Filter ("))
    // a cross-dim Or is NOT rectangular: stays Spark-side, unpruned, right
    val cross = ds.filter(col("t") === 0.0 || col("y") === 40.0)
    assert(cross.rdd.getNumPartitions === 12)
    assert(cross.count() === 24 + 18 - 6)
    // consumption unlocks metadata-agg pushdown for In/Or/!= queries
    val aggPlan = ds.filter(col("t").isin(0.0, 2.0)).groupBy("t").count()
      .queryExecution.executedPlan.toString
    assert(aggPlan.contains("ZarrAggScan"), aggPlan.take(600))
    val byT = ds.filter(col("t") =!= 1.0).groupBy("t").count()
      .collect().map(r => (r.getDouble(0), r.getLong(1))).sortBy(_._1)
    assert(byT.toSeq === Seq((0.0, 24L), (2.0, 24L)))
  }

  test("consumed filters keep Spark's NaN-greatest double semantics") {
    import spark.implicits._
    // a NaN coordinate cell: Spark orders NaN greater than every literal,
    // so `y > 15` KEEPS it and `y <= 15` / `y = 20` drop it — the reader
    // must reproduce that exactly now that the filter never re-runs
    val y = Array(10.0, 20.0, Double.NaN, 40.0)
    val x = Array(0.0, 1.0)
    val df = (for { (yi, k) <- y.zipWithIndex; xi <- x } yield
      (yi, xi, k * 10.0 + xi)).toSeq.toDF("y", "x", "v")
    val g = s"${tmpDir("dsv2nang")}/cube.zarr"
    ZarrSource.writeCube(df, g, "v", Seq("y" -> y, "x" -> x), chunks = Seq(2, 2))
    val ds = spark.read.format("zarr").load(g)
    def ys(d: org.apache.spark.sql.DataFrame): Seq[Double] =
      d.collect().map(_.getDouble(0)).toSeq
    // plans are consumed (no Spark-side filter), so this is the reader
    assert(!ds.filter(col("y") > 15.0).queryExecution.executedPlan
      .toString.contains("Filter ("))
    val gt = ys(ds.filter(col("y") > 15.0))
    assert(gt.count(_.isNaN) === 2 && gt.length === 6, gt) // NaN > 15: kept
    val le = ys(ds.filter(col("y") <= 15.0))
    assert(le.forall(_ == 10.0) && le.length === 2) // NaN <= 15: false
    assert(ys(ds.filter(col("y") === 20.0)) === Seq(20.0, 20.0))
    // != keeps NaN (NaN = 20 is false, negation true)
    val ne = ys(ds.filter(col("y") =!= 20.0))
    assert(ne.count(_.isNaN) === 2 && ne.length === 6, ne)
    // and the reference behavior matches an unpushed evaluation over rows
    val plain = CubeTruth.zarr(spark, g, Seq("v"))
    assert(ds.filter(col("y") > 15.0).count() ===
      plain.filter(col("y") > 15.0).count())
    assert(ds.filter(col("y") =!= 20.0).count() ===
      plain.filter(col("y") =!= 20.0).count())
  }

  test("sum/avg over dims join the metadata-only aggregate pushdown") {
    val g = writeFixture()
    // corrupt every data chunk: dim sums/avgs must never read payload
    (new java.io.File(s"$g/v").listFiles() ++
      new java.io.File(s"$g/w").listFiles())
      .filterNot(_.getName.startsWith("."))
      .foreach(f => java.nio.file.Files.write(f.toPath, Array[Byte](7)))
    val ds = spark.read.format("zarr").load(g)
    import org.apache.spark.sql.functions.{avg, col, sum}
    // global: sum(t) = (0+1+2) * 24 cells each; avg(x) = mean of x values
    val r0 = ds.agg(sum("t"), avg("x"), sum("x")).head
    assert(r0.getDouble(0) === 72.0)
    assert(r0.getDouble(1) === 3.0)
    assert(r0.getDouble(2) === 216.0) // (0.5+..+5.5)=18, ×12 cells per x
    val p0 = ds.agg(sum("t")).queryExecution.executedPlan.toString
    assert(p0.contains("ZarrAggScan"), p0.take(600))
    // grouped: sum of the grouped dim is value×count; of another dim the
    // weighted in-range sum; filters consume first
    val byT = ds.filter(col("y") >= 25.0).groupBy("t")
      .agg(sum("t").as("st"), sum("y").as("sy"), avg("y").as("ay"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3))).sortBy(_._1)
    // 12 cells per t (2 y × 6 x); sum(y) = (30+40)×6; avg(y) = 35
    assert(byT.toSeq === Seq((0.0, 0.0, 420.0, 35.0),
      (1.0, 12.0, 420.0, 35.0), (2.0, 24.0, 420.0, 35.0)))
    // empty selection: null sums globally, no rows grouped
    val r2 = ds.filter(col("t") > 99.0).agg(sum("t"), avg("t")).head
    assert(r2.isNullAt(0) && r2.isNullAt(1))
    // sum over a DATA variable still declines metadata and goes partial
    val pv = ds.agg(sum("w")).queryExecution.executedPlan.toString
    assert(pv.contains("ZarrVarAggScan"), pv.take(600))
  }

  test("batch scans are columnar: vectors feed ColumnarToRow, values identical") {
    val g = writeFixture()
    val ds = spark.read.format("zarr").load(g)
    // the executed plan converts the scan's ColumnarBatch output — proof
    // the vectorized path (not row-at-a-time boxing) is what Spark chose
    val q = ds.filter(col("t") === 1.0)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), plan.take(1200))
    // values, filters and projection agree with the row reader bit for bit
    val viaCols = ds.filter(col("y") > 10.0 && col("x") <= 2.5)
      .select("w", "t").collect().map(r => (r.getDouble(0), r.getDouble(1)))
      .sortBy(identity).toSeq
    val direct = CubeTruth.zarr(spark, g, Seq("v", "w"))
      .filter(col("y") > 10.0 && col("x") <= 2.5)
      .select("w", "t").collect().map(r => (r.getDouble(0), r.getDouble(1)))
      .sortBy(identity).toSeq
    assert(viaCols === direct && viaCols.length === 27)
    // batches are bounded: a chunk larger than BatchRows splits, smaller
    // ones emit one batch per chunk — either way rows are exact
    assert(ds.count() === 72)
    // streaming reads stay row-based (the factory flag, not a plan guess)
    assert(!graft.sources.zarr.ZarrReaderFactory()
      .supportColumnarReads(null))
    assert(graft.sources.zarr.ZarrReaderFactory(columnar = true)
      .supportColumnarReads(null))
  }

  test("chunk packing: partitions target maxPartitionBytes, results exact") {
    val g = writeFixture() // 12 chunks, 6 cells × 5 cols × 8B = 240 B each
    // suite knobs (minPartitionNum pinned high): one chunk per task, so
    // every per-chunk plan audit in this suite holds
    val ds = spark.read.format("zarr").load(g)
    assert(ds.rdd.getNumPartitions === 12)
    // shrink the knobs the way a dense-archive session would: adjacent
    // chunks pack into ~maxPartitionBytes tasks (Spark's own formula)
    val conf = spark.conf
    try {
      conf.set("spark.sql.files.openCostInBytes", "0")
      conf.set("spark.sql.files.minPartitionNum", "1")
      conf.set("spark.sql.files.maxPartitionBytes", "480") // 2 chunks
      val packed = spark.read.format("zarr").load(g)
      assert(packed.rdd.getNumPartitions === 6)
      assert(packed.count() === 72)
      // values identical through the packed, vectorized path
      assert(packed.agg(round(sum(col("v") * 3 + col("w")), 6)).head.getDouble(0)
        === ds.agg(round(sum(col("v") * 3 + col("w")), 6)).head.getDouble(0))
      // pruning composes with packing: 4 surviving chunks -> 2 tasks
      val one = packed.filter(col("t") === 1.0)
      assert(one.rdd.getNumPartitions === 2)
      assert(one.count() === 24)
      // one partition for everything when the target allows it
      conf.set("spark.sql.files.maxPartitionBytes", s"${12 * 240}")
      assert(spark.read.format("zarr").load(g).rdd.getNumPartitions === 1)
      assert(spark.read.format("zarr").load(g).count() === 72)
      // the partial var-agg fold rides packed partitions too
      val q = spark.read.format("zarr").load(g).groupBy("t").agg(sum("v"))
      assert(q.queryExecution.executedPlan.toString.contains("ZarrVarAggScan"))
      assert(q.count() === 3)
    } finally {
      conf.unset("spark.sql.files.openCostInBytes")
      conf.set("spark.sql.files.minPartitionNum", "100000") // suite default
      conf.unset("spark.sql.files.maxPartitionBytes")
    }
  }

  test("input partitions stay O(key): task payload independent of coord size") {
    import spark.implicits._
    def bytesOf(o: AnyRef): Int = {
      val bo = new java.io.ByteArrayOutputStream()
      val oo = new java.io.ObjectOutputStream(bo)
      oo.writeObject(o); oo.close(); bo.size()
    }
    def partitionBytes(nx: Int): (Int, Int) = {
      val x = Array.tabulate(nx)(_ + 0.5)
      val y = Array(0.0, 1.0)
      val df = (for { yi <- y; xi <- x } yield (yi, xi, yi + xi))
        .toSeq.toDF("y", "x", "v")
      val g = s"${tmpDir(s"dsv2slim$nx")}/cube.zarr"
      ZarrSource.writeCube(df, g, "v", Seq("y" -> y, "x" -> x),
        chunks = Seq(1, nx / 2))
      val meta = graft.sources.zarr.ZarrTable.open(g)
      val schema = graft.sources.zarr.ZarrTable.schemaFor(meta)
      val scan = graft.sources.zarr.ZarrScan(meta, Array.empty, schema)
      val parts = scan.planInputPartitions()
      assert(parts.length === 4)
      (bytesOf(parts.head),
        bytesOf(scan.createReaderFactory().asInstanceOf[AnyRef]))
    }
    // 1000x larger coordinates: the per-task partition payload must not
    // grow (the coords ride ONCE per executor in the factory broadcast,
    // where they do and must appear)
    val (small, smallFac) = partitionBytes(8)
    val (big, bigFac) = partitionBytes(8000)
    assert(big <= small + 64, s"partition grew with coords: $small -> $big")
    assert(big < 2000, s"partition should be O(key) bytes, got $big")
    assert(bigFac > smallFac + 8000 * 8 / 2,
      s"factory should carry the coords ($smallFac -> $bigFac)")
  }

  test("planning scales: a 10^6-chunk grid plans in bounded time and packs") {
    import graft.sources.ZarrSource.{Raw, ZarrArray}
    // synthetic metadata only — planning never touches chunk payloads, so
    // this exercises exactly what a 100 TB archive's driver would run:
    // 100×100×100 single-cell chunks, coords resident, no IO
    spark.sparkContext // packing reads the session's split knobs
    val dims = Seq("t", "y", "x")
    val za = ZarrArray(Seq(100, 100, 100), Seq(1, 1, 1), "<f8", Double.NaN,
      Raw, dims, ".")
    val coords = Seq.fill(3)(Array.tabulate(100)(_.toDouble))
    val meta = graft.sources.zarr.ZarrGroupMeta(
      "/synthetic", za, Seq("v"), Map("v" -> za), coords,
      graft.sources.ByteStore.current)
    val schema = graft.sources.zarr.ZarrTable.schemaFor(meta)
    val t0 = System.nanoTime()
    val parts = graft.sources.zarr.ZarrScan(meta, Array.empty, schema)
      .planInputPartitions()
    val elapsedSec = (System.nanoTime() - t0) / 1e9
    // the driver enumerates and packs 10^6 keys in seconds; under the
    // suite's minPartitionNum=100000 knob the formula packs 10 single-
    // cell chunks per task — never fewer tasks than the floor asks for
    assert(parts.length === 100000, parts.length)
    assert(parts.map(_.asInstanceOf[graft.sources.zarr.ZarrPackedPartition]
      .chunks.length.toLong).sum === 1000000L)
    assert(elapsedSec < 60.0, s"planning took $elapsedSec s")
    // pruning the same grid plans only the surviving corner
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, In, LessThan}
    val pruned = graft.sources.zarr.ZarrScan(meta,
      Array[org.apache.spark.sql.sources.Filter](
        In("t", Array(3.0, 97.0)), GreaterThanOrEqual("y", 98.0),
        LessThan("x", 2.0)), schema).planInputPartitions()
    assert(pruned.length === 2 * 2 * 2, pruned.length)
  }

  test("top-n pushdown: ORDER BY dim LIMIT plans only trailing slabs") {
    val g = writeFixture() // t slabs of 24 cells (chunks 1x2x3, grid 3x4x6)
    val ds = spark.read.format("zarr").load(g)
    // latest-slice peek: t DESC LIMIT 10 < one slab's 24 cells -> only the
    // t=2 slab's 4 chunks plan; the full sort+limit re-applies above
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def scanParts(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case b: BatchScanExec => b }.get
        .inputRDD.getNumPartitions
    val latest = ds.orderBy(col("t").desc, col("y"), col("x")).limit(10)
    assert(scanParts(latest) === 4)
    val rows = latest.collect()
    assert(rows.length === 10 && rows.forall(_.getDouble(0) === 2.0))
    assert(rows.map(r => (r.getDouble(1), r.getDouble(2))).toSeq ===
      (for { yi <- Seq(10.0, 20.0); xi <- 0 to 5 } yield (yi, xi + 0.5))
        .take(10))
    // the cut is at SLAB boundaries: 30 > 24 rows needs two t-slabs
    assert(scanParts(ds.orderBy(col("t").desc).limit(30)) === 8)
    // ascending works from the other end, and secondary keys stay exact
    val first = ds.orderBy(col("t"), col("y").desc, col("x").desc).limit(3)
    assert(scanParts(first) === 4)
    assert(first.collect().map(r => (r.getDouble(0), r.getDouble(1),
      r.getDouble(2))).toSeq === Seq((0.0, 40.0, 5.5), (0.0, 40.0, 4.5),
      (0.0, 40.0, 3.5)))
    // composes with consumed filters: the matching-cell math drives the cut
    val f = ds.filter(col("y") === 10.0).orderBy(col("t").desc).limit(5)
    // y=10 prunes to y-chunk 0; one t-slab = 1 t x 1 y x 2 x = 2 chunks
    // holding 6 matching cells, so 5 fits in one slab
    assert(scanParts(f) === 2)
    assert(f.count() === 5)
    // a non-dim or non-monotone first key declines: full plan, right rows
    val nm = ds.orderBy(col("v").desc).limit(2)
    assert(scanParts(nm) === 12)
    assert(nm.collect().map(_.getDouble(3)).toSeq === Seq(2405.5, 2404.5))
    // plan advertises the pushed top-n
    val planStr = latest.queryExecution.executedPlan.toString
    assert(planStr.contains("PushedTopN: [t DESC LIMIT 10]"), planStr.take(1200))
  }

  test("property: consumed predicates match Spark's evaluation cell for cell") {
    import spark.implicits._
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.Column
    // adversarial cell values: zeros of both signs, NaN, infinities,
    // exact literal hits, and off-by-one-ulp neighbours
    val cells: Seq[Double] = Seq(
      0.0, -0.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      1.0, math.nextUp(1.0), math.nextDown(1.0), -3.5, 2.0, 7.25,
      Double.MaxValue, -Double.MaxValue, 1e-300, -1e-300)
    val df = cells.zipWithIndex.toDF("y", "id")
    // one synthetic single-dim meta so rect() can resolve "y"
    import graft.sources.ZarrSource.{Raw, ZarrArray}
    val za = ZarrArray(Seq(cells.length), Seq(1), "<f8", Double.NaN,
      Raw, Seq("y"), ".")
    val meta = graft.sources.zarr.ZarrGroupMeta("/prop", za, Seq("y"),
      Map("y" -> za), Seq(cells.toArray), graft.sources.ByteStore.current)
    val lits = Seq(1.0, -3.5, 2.0, 0.0, 7.25, -1e-300, Double.MaxValue)
    val rnd = new scala.util.Random(20260815)
    // random predicate AST rendered BOTH as a V1 Filter (the pushed form
    // rect() consumes) and as a Column (what Spark itself evaluates)
    def gen(depth: Int): (Filter, Column) = rnd.nextInt(if (depth > 0) 9 else 6) match {
      case 0 => val v = lits(rnd.nextInt(lits.length))
        (EqualTo("y", v), col("y") === v)
      case 1 => val v = lits(rnd.nextInt(lits.length))
        (GreaterThan("y", v), col("y") > v)
      case 2 => val v = lits(rnd.nextInt(lits.length))
        (GreaterThanOrEqual("y", v), col("y") >= v)
      case 3 => val v = lits(rnd.nextInt(lits.length))
        (LessThan("y", v), col("y") < v)
      case 4 => val v = lits(rnd.nextInt(lits.length))
        (LessThanOrEqual("y", v), col("y") <= v)
      case 5 =>
        val vs = Seq.fill(1 + rnd.nextInt(3))(lits(rnd.nextInt(lits.length)))
        (In("y", vs.map(_.asInstanceOf[Any]).toArray), col("y").isin(vs: _*))
      case 6 => val (f, c) = gen(depth - 1); (Not(f), !c)
      case 7 =>
        val (fl, cl) = gen(depth - 1); val (fr, cr) = gen(depth - 1)
        (And(fl, fr), cl && cr)
      case _ =>
        val (fl, cl) = gen(depth - 1); val (fr, cr) = gen(depth - 1)
        (Or(fl, fr), cl || cr)
    }
    var consumedCount = 0
    (1 to 80).foreach { _ =>
      val (f, c) = gen(2)
      graft.sources.zarr.ZarrScan.rect(meta, f).foreach { _ =>
        consumedCount += 1
        val packed = graft.sources.zarr.ZarrScan.packIvs(
          graft.sources.zarr.ZarrScan.rectOf(meta, Array(f)))
        val readerKept = cells.zipWithIndex.collect {
          case (v, i) if graft.sources.zarr.ZarrScan.cellInPacked(v, packed(0)) => i
        }.toSet
        val sparkKept = df.filter(c).select("id").collect()
          .map(_.getInt(0)).toSet
        assert(readerKept === sparkKept,
          s"filter $f: reader=$readerKept spark=$sparkKept")
      }
    }
    assert(consumedCount >= 70, s"only $consumedCount/80 consumed")
  }

  test("property: consumed VALUE predicates match Spark's evaluation cell for cell") {
    import spark.implicits._
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.Column
    // same adversarial values as the dim property, but as a DATA
    // variable: the cursor's varChecks must replay Spark's double
    // semantics on decoded cells exactly
    val cells: Seq[Double] = Seq(
      0.0, -0.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      1.0, math.nextUp(1.0), math.nextDown(1.0), -3.5, 2.0, 7.25,
      Double.MaxValue, -Double.MaxValue, 1e-300, -1e-300)
    val df = cells.zipWithIndex.toDF("w", "id")
    import graft.sources.ZarrSource.{Raw, ZarrArray}
    val za = ZarrArray(Seq(cells.length), Seq(1), "<f8", Double.NaN,
      Raw, Seq("y"), ".")
    val meta = graft.sources.zarr.ZarrGroupMeta("/propv", za, Seq("w"),
      Map("w" -> za), Seq(Array.tabulate(cells.length)(_.toDouble)),
      graft.sources.ByteStore.current)
    val lits = Seq(1.0, -3.5, 2.0, 0.0, 7.25, -1e-300, Double.MaxValue)
    val rnd = new scala.util.Random(20260815)
    def gen(depth: Int): (Filter, Column) = rnd.nextInt(if (depth > 0) 9 else 6) match {
      case 0 => val v = lits(rnd.nextInt(lits.length))
        (EqualTo("w", v), col("w") === v)
      case 1 => val v = lits(rnd.nextInt(lits.length))
        (GreaterThan("w", v), col("w") > v)
      case 2 => val v = lits(rnd.nextInt(lits.length))
        (GreaterThanOrEqual("w", v), col("w") >= v)
      case 3 => val v = lits(rnd.nextInt(lits.length))
        (LessThan("w", v), col("w") < v)
      case 4 => val v = lits(rnd.nextInt(lits.length))
        (LessThanOrEqual("w", v), col("w") <= v)
      case 5 =>
        val vs = Seq.fill(1 + rnd.nextInt(3))(lits(rnd.nextInt(lits.length)))
        (In("w", vs.map(_.asInstanceOf[Any]).toArray), col("w").isin(vs: _*))
      case 6 => val (f, c) = gen(depth - 1); (Not(f), !c)
      case 7 =>
        val (fl, cl) = gen(depth - 1); val (fr, cr) = gen(depth - 1)
        (And(fl, fr), cl && cr)
      case _ =>
        val (fl, cl) = gen(depth - 1); val (fr, cr) = gen(depth - 1)
        (Or(fl, fr), cl || cr)
    }
    var consumedCount = 0
    (1 to 80).foreach { _ =>
      val (f, c) = gen(2)
      if (graft.sources.zarr.ZarrScan.rectFull(meta, f).isDefined) {
        consumedCount += 1
        val ivs = graft.sources.zarr.ZarrScan.varIvsOf(meta, Array(f))
        assert(ivs.map(_._1) == Seq("w"))
        val packed = ivs.head._2.flatMap(iv => Seq(iv._1, iv._2)).toArray
        val readerKept = cells.zipWithIndex.collect {
          case (v, i) if graft.sources.zarr.ZarrScan.cellInPacked(v, packed) => i
        }.toSet
        val sparkKept = df.filter(c).select("id").collect()
          .map(_.getInt(0)).toSet
        assert(readerKept === sparkKept,
          s"filter $f: reader=$readerKept spark=$sparkKept")
        // ...and the zone-map admit test never excludes a matching chunk:
        // a singleton "chunk" of value v admits iff the cell matches
        cells.foreach { v =>
          val st = graft.sources.zarr.ChunkStats.VarStat(
            1L, if (v.isNaN) 1L else 0L,
            if (v.isNaN) Double.NaN else v, if (v.isNaN) Double.NaN else v,
            if (v.isNaN) 0.0 else v, if (v.isNaN) 0.0 else v * v)
          val cellIn = graft.sources.zarr.ZarrScan.cellInPacked(v, packed)
          val admit = graft.sources.zarr.ChunkStats.admits(st, packed)
          val full = graft.sources.zarr.ChunkStats.fullyAdmits(st, packed)
          assert(!cellIn || admit, s"$f: admits dropped matching value $v")
          assert(full == cellIn, s"$f: fullyAdmits($v)=$full cell=$cellIn")
        }
      }
    }
    assert(consumedCount >= 70, s"only $consumedCount/80 consumed")
  }

  test("DPP-scale In: a 50k-key set prunes and evaluates sublinearly") {
    spark.sparkContext // packing reads the session's split knobs
    import graft.sources.ZarrSource.{Raw, ZarrArray}
    // one dim, 100k coords in 1000 chunks of 100 — the semi-join shape
    // where AQE pushes tens of thousands of join keys at execution
    val n = 100000
    val za = ZarrArray(Seq(n), Seq(100), "<f8", Double.NaN, Raw, Seq("t"), ".")
    val coords = Array.tabulate(n)(_.toDouble)
    val meta = graft.sources.zarr.ZarrGroupMeta("/dpp", za, Seq("v"),
      Map("v" -> za), Seq(coords), graft.sources.ByteStore.current)
    val rnd = new scala.util.Random(7)
    // keys clustered into ~60 chunks so pruning has something to elide
    val keys: Array[Any] = Array.fill(50000)(
      (rnd.nextInt(60) * 1700 + rnd.nextInt(100)).toDouble)
    val f = org.apache.spark.sql.sources.In("t", keys)
    val schema = graft.sources.zarr.ZarrTable.schemaFor(meta)
    val t0 = System.nanoTime()
    val parts = graft.sources.zarr.ZarrScan(meta, Array(f), schema)
      .planInputPartitions()
    val planSec = (System.nanoTime() - t0) / 1e9
    // surviving chunks = exactly those holding a key (ground truth;
    // keys beyond the coordinate range map to no chunk)
    val expect = keys.map(_.asInstanceOf[Double].toInt / 100)
      .filter(_ < n / 100).toSet.size
    val planned = parts.map(_.asInstanceOf[graft.sources.zarr.ZarrPackedPartition]
      .chunks.length).sum
    assert(planned === expect, s"planned $planned vs $expect chunks")
    assert(planSec < 20.0, s"planning took $planSec s")
    // membership: the binary-searched packed test equals the naive one
    val packed = graft.sources.zarr.ZarrScan.packIvs(
      graft.sources.zarr.ZarrScan.rectOf(meta, Array(f)))(0)
    val keySet = keys.map(_.asInstanceOf[Double]).toSet
    val probes = Array.tabulate(2000)(i => i * 53.0 % n) ++
      Seq(Double.NaN, -1.0, n + 5.0)
    probes.foreach { v =>
      assert(graft.sources.zarr.ZarrScan.cellInPacked(v, packed) ===
        keySet.contains(v), s"cell $v")
    }
  }

  test("option(vars): one grid of a mixed-grid group opens as a table") {
    import spark.implicits._
    val g = s"${tmpDir("dsv2mg")}/mixed.zarr"
    // grid A: (t, xa) 3x4; grid B: (yb, xb) 2x2 — one group, two grids
    val t = Array(0.0, 1.0, 2.0)
    val xa = Array(0.0, 1.0, 2.0, 3.0)
    ZarrSource.writeCube((for { ti <- t; xi <- xa } yield (ti, xi, ti * 10 + xi))
      .toSeq.toDF("t", "xa", "v"), g, "v",
      Seq("t" -> t, "xa" -> xa), chunks = Seq(1, 4))
    val yb = Array(5.0, 6.0)
    val xb = Array(7.0, 8.0)
    ZarrSource.writeCube((for { yi <- yb; xi <- xb } yield (yi, xi, yi + xi))
      .toSeq.toDF("yb", "xb", "w"), g, "w",
      Seq("yb" -> yb, "xb" -> xb), chunks = Seq(2, 2))
    // the second writeCube MERGES its entries into .zmetadata — earlier
    // arrays stay visible to consolidated-first listing (regression:
    // it used to replace the document and hide them)
    // whole-group open: loud, and points at the escape hatch
    val e = intercept[Exception](spark.read.format("zarr").load(g).schema)
    assert(e.getMessage.contains("option(\"vars\""), e.getMessage)
    // one grid at a time: full table semantics, pruning included
    val a = spark.read.format("zarr").option("vars", "v").load(g)
    assert(a.columns.toSeq === Seq("t", "xa", "v"))
    assert(a.count() === 12)
    assert(a.filter(col("t") === 1.0).rdd.getNumPartitions === 1)
    val b = spark.read.format("zarr").option("vars", "w").load(g)
    assert(b.columns.toSeq === Seq("yb", "xb", "w"))
    assert(b.agg(sum("w")).head.getDouble(0) === (for {
      yi <- yb; xi <- xb } yield yi + xi).sum)
    // unknown names are loud
    val e2 = intercept[Exception](
      spark.read.format("zarr").option("vars", "nope").load(g).schema)
    assert(e2.getMessage.contains("no array 'nope'"), e2.getMessage)
  }

  test("externally-shaped stores read identically through the connector") {
    import java.nio.{ByteBuffer, ByteOrder}
    import java.nio.file.Paths
    // hand-written group: no coordinate arrays (index fallback), raw
    // compressor, ">f4" dtype, "/" separator, fill_value 0 — the shapes
    // external archives actually use (same fixture as ZarrSourceSpec's
    // RDD-reader test; the connector must agree cell for cell)
    val g = s"${tmpDir("dsv2ext")}/ext.zarr"
    new java.io.File(s"$g/a").mkdirs()
    Files.writeString(Paths.get(s"$g/.zgroup"), """{"zarr_format": 2}""")
    Files.writeString(Paths.get(s"$g/a/.zarray"),
      """{"zarr_format": 2, "dtype": ">f4", "shape": [2, 2], "chunks": [2, 1],
        | "fill_value": 0, "compressor": null, "filters": null, "order": "C",
        | "dimension_separator": "/"}""".stripMargin)
    val b = ByteBuffer.allocate(8).order(ByteOrder.BIG_ENDIAN)
    b.putFloat(1.5f); b.putFloat(3.5f)
    new java.io.File(s"$g/a/0").mkdirs()
    Files.write(Paths.get(s"$g/a/0/0"), b.array())
    val ds = spark.read.format("zarr").load(g)
    assert(ds.columns.toSeq === Seq("dim_0", "dim_1", "a"))
    val got = ds.collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(got === Map((0.0, 0.0) -> 1.5, (1.0, 0.0) -> 3.5,
      (0.0, 1.0) -> 0.0, (1.0, 1.0) -> 0.0))
    // pruning + consumption on the synthetic index coordinates, "/" keys
    val one = ds.filter(col("dim_1") === 0.0)
    assert(one.rdd.getNumPartitions === 1)
    assert(one.collect().map(_.getDouble(2)).sorted.toSeq === Seq(1.5, 3.5))
    // aggregate pushdown is metadata-only on the index dims too
    val p = ds.groupBy("dim_0").count().queryExecution.executedPlan.toString
    assert(p.contains("ZarrAggScan"), p.take(400))
  }

  test("CF-packed stores decode to physical values through the connector") {
    import spark.implicits._
    import java.nio.file.Paths
    // chunks hold RAW packed values; .zattrs declares the decode (xarray's
    // to_zarr packed encoding); -999 is the raw fill sentinel -> NaN
    val ys = Array(0.5, 1.5)
    val xs = Array(0.5, 1.5)
    val raws = Seq((0.5, 0.5, 10.0), (0.5, 1.5, -999.0),
      (1.5, 0.5, 30.0), (1.5, 1.5, 40.0))
    val g = s"${tmpDir("dsv2cf")}/packed.zarr"
    ZarrSource.writeCube(raws.toDF("y", "x", "v"), g, "v",
      Seq("y" -> ys, "x" -> xs), chunks = Seq(2, 2))
    val za = Paths.get(s"$g/v/.zattrs")
    Files.writeString(za, Files.readString(za).trim.stripSuffix("}") +
      ""","scale_factor": 0.5, "add_offset": 100.0, "_FillValue": -999.0}""")
    Files.deleteIfExists(Paths.get(s"$g/.zmetadata"))
    val got = spark.read.format("zarr").load(g).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(got((0.5, 0.5)) === 105.0 && got((1.5, 0.5)) === 115.0 &&
      got((1.5, 1.5)) === 120.0)
    assert(got((0.5, 1.5)).isNaN) // raw fill sentinel -> NaN, vectorized too
    // partial agg pushdown folds the PHYSICAL values (and NaN poisons)
    val r = spark.read.format("zarr").load(g)
      .groupBy("y").agg(sum("v")).collect()
      .map(x => (x.getDouble(0), x.getDouble(1))).sortBy(_._1)
    assert(r.head._1 === 0.5 && r.head._2.isNaN)
    assert(r(1) === ((1.5, 235.0)))
  }

  test("SQL DELETE truncates trailing time slices in place") {
    import spark.implicits._
    val store = tmpDir("gdel")
    val g = s"$store/series.zarr"
    val t = Array(0.0, 1.0, 2.0, 3.0, 4.0)
    val x = Array(0.0, 1.0, 2.0)
    val df = (for { ti <- t; xi <- x } yield (ti, xi, ti * 10 + xi))
      .toSeq.toDF("t", "x", "v")
    ZarrSource.writeCube(df, g, "v", Seq("t" -> t, "x" -> x), chunks = Seq(2, 3))
    spark.conf.set("spark.sql.catalog.gdel",
      classOf[graft.sources.zarr.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdel.path", store)
    def cube = spark.table("gdel.`series.zarr`")
    assert(cube.count() === 15)
    // the rolling-archive op: drop the trailing slices
    spark.sql("DELETE FROM gdel.`series.zarr` WHERE t >= 3.0")
    assert(cube.count() === 9)
    assert(cube.agg(max("t")).head.getDouble(0) === 2.0)
    // the store itself shrank (not a view trick): the readAll truth agrees,
    // shape metadata rewritten, out-of-range chunk objects gone
    assert(CubeTruth.zarr(spark, g, Seq("v")).count() === 9)
    assert(ZarrSource.openArray(s"$g/v").shape === Seq(3, 3))
    assert(!new java.io.File(s"$g/v/2.0").exists()) // t-chunks 2x -> idx 2 dropped
    // values of the surviving boundary chunk are untouched
    assert(cube.filter(col("t") === 2.0).agg(sum("v")).head.getDouble(0) ===
      (0 to 2).map(20.0 + _).sum)
    // truncate-then-append: the inverse ops compose
    ZarrSource.appendCube((for { xi <- x } yield (9.0, xi, 90.0 + xi))
      .toSeq.toDF("t", "x", "v"), g, "v", Array(9.0))
    assert(cube.count() === 12)
    assert(cube.agg(max("t")).head.getDouble(0) === 9.0)
    // a WHERE matching nothing is a no-op, not an error
    spark.sql("DELETE FROM gdel.`series.zarr` WHERE t > 99.0")
    assert(cube.count() === 12)
    // interior slices / partial slices / delete-all decline loudly
    val e1 = intercept[Exception](
      spark.sql("DELETE FROM gdel.`series.zarr` WHERE t = 0.0"))
    assert(e1.getMessage.toLowerCase.contains("delete"), e1.getMessage)
    val e2 = intercept[Exception](
      spark.sql("DELETE FROM gdel.`series.zarr` WHERE t >= 2.0 AND x = 1.0"))
    assert(e2.getMessage.toLowerCase.contains("delete"), e2.getMessage)
    val e3 = intercept[Exception](
      spark.sql("DELETE FROM gdel.`series.zarr` WHERE t >= 0.0"))
    assert(e3.getMessage.toLowerCase.contains("delete"), e3.getMessage)
  }

  test("partial agg binds columns by reader order, not appearance order") {
    val g = writeFixture()
    val ds = spark.read.format("zarr").load(g)
    // aggregate w BEFORE v — the reverse of the reader's sorted variable
    // order: a spec bound against aggregate-appearance order would
    // silently swap the two columns' values
    val q = ds.groupBy("t").agg(sum("w").as("sw"), sum("v").as("sv"),
      min("w").as("mnw"), max("v").as("mxv"))
    assert(q.queryExecution.executedPlan.toString.contains("ZarrVarAggScan"))
    val rows = q.collect().map(r => (r.getDouble(0), r.getDouble(1),
      r.getDouble(2), r.getDouble(3), r.getDouble(4))).sortBy(_._1)
    // v = 1000t + 10y + x -> sum_v(t) = 24000t + 6072, max_v = 1000t+405.5
    // w = t + y + x        -> sum_w(t) = 24t + 672,    min_w = t + 10.5
    assert(rows.toSeq === Seq(
      (0.0, 672.0, 6072.0, 10.5, 405.5),
      (1.0, 696.0, 30072.0, 11.5, 1405.5),
      (2.0, 720.0, 54072.0, 12.5, 2405.5)))
  }

  test("top-n with secondary keys requires a STRICTLY monotone sort coord") {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    import graft.sources.ZarrSource.{Raw, ZarrArray}
    import graft.sources.zarr.{ZarrGroupMeta, ZarrScanBuilder}
    def builder(coord: Array[Double]) = {
      val za = ZarrArray(Seq(coord.length), Seq(1), "<f8", Double.NaN,
        Raw, Seq("t"), ".")
      new ZarrScanBuilder(ZarrGroupMeta("/topn", za, Seq("v"),
        Map("v" -> za), Seq(coord), graft.sources.ByteStore.current))
    }
    def order(name: String) =
      Expressions.sort(Expressions.column(name), SortDirection.DESCENDING)
    val dup = Array(0.0, 1.0, 1.0, 2.0) // monotone, NOT strict
    // single key: boundary ties are plain SQL tie nondeterminism -> the
    // slab CUT applies
    val b1 = builder(dup)
    assert(b1.pushTopN(Array(order("t")), 5))
    assert(b1.build().description().contains("PushedTopN: "))
    // secondary keys could deterministically prefer a dropped row tied on
    // the first key -> the duplicate coordinate must NOT take the slab
    // cut; the full-tuple FOLD takes over instead
    val b2 = builder(dup)
    assert(b2.pushTopN(Array(order("t"), order("v")), 5))
    assert(b2.build().isInstanceOf[graft.sources.zarr.ZarrTopNScan])
    // strictly monotone coordinate: multi-key slab cut stays
    val b3 = builder(Array(0.0, 1.0, 2.0, 3.0))
    assert(b3.pushTopN(Array(order("t"), order("v")), 5))
    assert(b3.build().description().contains("PushedTopN: "))
  }

  test("top-n over a duplicate coordinate returns the secondary-key winner") {
    // handcrafted raw v2 group: t = [1.0, 1.0] (duplicate values, one
    // chunk per slice), v = [10.0, 99.0]. ORDER BY t, v DESC LIMIT 1 must
    // return 99 — a slab cut after the first t-slab would answer 10.
    val g = s"${tmpDir("dsv2dup")}/dup.zarr"
    val bs = graft.sources.ByteStore.current
    def le(ds: Double*): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(ds.length * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      ds.foreach(b.putDouble); b.array()
    }
    def zarray(shape: Int, chunks: Int): String =
      s"""{"zarr_format": 2, "dtype": "<f8", "shape": [$shape],
         | "chunks": [$chunks], "fill_value": "NaN",
         | "compressor": null, "filters": null, "order": "C"}""".stripMargin
    bs.write(s"$g/.zgroup", """{"zarr_format": 2}""".getBytes("UTF-8"))
    bs.write(s"$g/t/.zarray", zarray(2, 1).getBytes("UTF-8"))
    bs.write(s"$g/t/.zattrs",
      """{"_ARRAY_DIMENSIONS": ["t"]}""".getBytes("UTF-8"))
    bs.write(s"$g/t/0", le(1.0))
    bs.write(s"$g/t/1", le(1.0))
    bs.write(s"$g/v/.zarray", zarray(2, 1).getBytes("UTF-8"))
    bs.write(s"$g/v/.zattrs",
      """{"_ARRAY_DIMENSIONS": ["t"]}""".getBytes("UTF-8"))
    bs.write(s"$g/v/0", le(10.0))
    bs.write(s"$g/v/1", le(99.0))
    val ds = spark.read.format("zarr").load(g)
    val q = ds.orderBy(col("t"), col("v").desc).limit(1)
    // the duplicate coordinate rules out the slab CUT; the per-task FOLD
    // (full-tuple heap) takes over and still gets the right row
    val planStr = q.queryExecution.executedPlan.toString
    assert(!planStr.contains("PushedTopN: "), planStr.take(600))
    assert(planStr.contains("PushedTopNFold"), planStr.take(600))
    assert(q.head.getDouble(1) === 99.0)
    // single-key ordering over the same store still pushes the slab cut
    val single = ds.orderBy(col("t").desc).limit(1)
    assert(single.queryExecution.executedPlan.toString.contains("PushedTopN: "))
    assert(single.count() === 1)
  }

  test("DELETE truncation validates every array before mutating any") {
    import spark.implicits._
    val g = s"${tmpDir("gdelatomic")}/series.zarr"
    val t = Array(0.0, 1.0, 2.0, 3.0)
    val x = Array(0.0, 1.0)
    val df = (for { ti <- t; xi <- x } yield (ti, xi, ti * 10 + xi, ti - xi))
      .toSeq.toDF("t", "x", "v", "w")
    ZarrSource.writeCubeVars(df, g, Seq("v", "w"),
      Seq("t" -> t, "x" -> x), chunks = Seq(1, 2))
    // sabotage the LAST array in iteration order: w claims a different
    // dim-0 extent, so a validate-while-mutating loop would fail only
    // AFTER v was already truncated — leaving the group inconsistent
    val wz = java.nio.file.Paths.get(s"$g/w/.zarray")
    val txt = new String(java.nio.file.Files.readAllBytes(wz), "UTF-8")
    assert(txt.contains("[4, 2]"), txt)
    java.nio.file.Files.write(wz,
      txt.replace("[4, 2]", "[5, 2]").getBytes("UTF-8"))
    // drop consolidated metadata so the patched per-array .zarray is what
    // the maintenance op actually reads
    new java.io.File(s"$g/.zmetadata").delete()
    val e = intercept[IllegalArgumentException](ZarrSource.truncateDim0(g, 2))
    assert(e.getMessage.contains("dim-0 extent"), e.getMessage)
    // the failed DELETE left the store untouched: v keeps its full shape,
    // its trailing chunk objects, and its readable values
    assert(ZarrSource.openArray(s"$g/v").shape === Seq(4, 2))
    assert(new java.io.File(s"$g/v/3.0").exists())
    assert(ZarrSource.openArray(s"$g/t").shape === Seq(4))
    assert(CubeTruth.zarr(spark, g, Seq("v")).count() === 8)
  }

  test("block-key grouped aggregates fold per chunk (pyramid-build shape)") {
    val g = writeFixture() // 3x4x6, chunks 1x2x3 -> 12 chunks
    val ds = spark.read.format("zarr").load(g)
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    // the subsample / compute_levels shape: GROUP BY t, floor(y/s),
    // floor((x - x0)/s) with var aggregates — must fold inside the reader
    val q = ds.groupBy(col("t"), floor(col("y") / 20.0).as("by"),
        floor((col("x") - 0.5) / 3.0).as("bx"))
      .agg(count(lit(1)).as("n"), sum("v").as("sv"), min("w").as("mw"))
    val plan = q.queryExecution.executedPlan
    assert(plan.toString.contains("ZarrVarAggScan"), plan.toString.take(900))
    assert(plan.toString.contains("floor((y + 0.0) / 20.0)") ||
      plan.toString.contains("floor(y / 20.0)"), plan.toString.take(900))
    // exchange carries O(chunks x groups): y-chunk {10,20} splits into
    // blocks {0,1}, {30,40} into {1,2} -> 2 y-groups per chunk; each
    // x-chunk is one block; each chunk one t -> 2 partial rows per chunk,
    // 24 total instead of 72 cells
    val scan = q.queryExecution.sparkPlan.collectLeaves()
      .collectFirst { case b: BatchScanExec => b }.get
    assert(scan.inputRDD.count() === 24L)
    // values and TYPES match the unpushed aggregation exactly
    val expect = CubeTruth.zarr(spark, g, Seq("v", "w"))
      .groupBy(col("t"), floor(col("y") / 20.0).as("by"),
        floor((col("x") - 0.5) / 3.0).as("bx"))
      .agg(count(lit(1)).as("n"), sum("v").as("sv"), min("w").as("mw"))
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5))).sortBy(t => (t._1, t._2, t._3))
    val got = q.collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getDouble(4), r.getDouble(5))).sortBy(t => (t._1, t._2, t._3))
    assert(got.length === 18) // 3 t x (3 y-blocks) x 2 x-blocks
    assert(got.toSeq === expect.toSeq)
    // avg rides Spark's avg -> sum/count partial rewrite over block keys
    val avgQ = ds.groupBy(floor(col("y") / 20.0).as("by")).agg(avg("v").as("av"))
    assert(avgQ.queryExecution.executedPlan.toString.contains("ZarrVarAggScan"))
    val avgE = CubeTruth.zarr(spark, g, Seq("v", "w"))
      .groupBy(floor(col("y") / 20.0).as("by")).agg(avg("v").as("av"))
    assert(avgQ.collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
      === avgE.collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq)
    // composes with consumed filters (pruning first, folding second)
    val f = ds.filter(col("t") >= 1.0)
      .groupBy(floor(col("x") / 2.0).as("bx")).agg(sum("w").as("sw"))
    assert(f.queryExecution.executedPlan.toString.contains("ZarrVarAggScan"))
    val fE = CubeTruth.zarr(spark, g, Seq("v", "w"))
      .filter(col("t") >= 1.0)
      .groupBy(floor(col("x") / 2.0).as("bx")).agg(sum("w").as("sw"))
    assert(f.collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
      === fE.collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq)
    // a floor over a DATA VARIABLE is chunk-computable too since round
    // 15 — the histogram shape folds per chunk (see the dedicated
    // value-derived-keys test); the answer stays exact either way
    val nv = ds.groupBy(floor(col("v") / 1000.0).as("bv")).count()
    assert(nv.queryExecution.executedPlan.toString.contains("ZarrVarAggScan"))
    assert(nv.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      === Seq((0L, 24L), (1L, 24L), (2L, 24L)))
  }

  test("block-key GROUP BY over dims is metadata-only: zero chunk reads") {
    val g = writeFixture()
    // corrupt every chunk: dims-only block aggregates never read one
    (new java.io.File(s"$g/v").listFiles() ++
      new java.io.File(s"$g/w").listFiles())
      .filterNot(_.getName.startsWith("."))
      .foreach(f => java.nio.file.Files.write(f.toPath, Array[Byte](1)))
    val ds = spark.read.format("zarr").load(g)
    val q = ds.groupBy(floor(col("y") / 20.0).as("by"))
      .agg(count(lit(1)).as("n"), min("y").as("mn"), max("y").as("mx"),
        sum("y").as("sy"), avg("x").as("ax"), sum("t").as("st"))
    assert(q.queryExecution.executedPlan.toString.contains("ZarrAggScan"),
      q.queryExecution.executedPlan.toString.take(800))
    val rows = q.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
      r.getDouble(6))).sortBy(_._1)
    // y buckets: {10} -> 0, {20,30} -> 1, {40} -> 2; 18 cells per y value
    assert(rows.toSeq === Seq(
      (0L, 18L, 10.0, 10.0, 180.0, 3.0, 18.0),
      (1L, 36L, 20.0, 30.0, 900.0, 3.0, 36.0),
      (2L, 18L, 40.0, 40.0, 720.0, 3.0, 18.0)))
    // block key + plain dim + consumed filter compose, still zero IO
    val q2 = ds.filter(col("x") < 3.0)
      .groupBy(col("t"), floor(col("y") / 20.0).as("by")).count()
    assert(q2.queryExecution.executedPlan.toString.contains("ZarrAggScan"))
    val n2 = q2.collect().map(r => ((r.getDouble(0), r.getLong(1)), r.getLong(2))).toMap
    assert(n2.size === 9 && n2((1.0, 1L)) === 6L && n2((2.0, 0L)) === 3L)
    // two keys on the SAME dim are correlated — they bucket JOINTLY by
    // the key tuple over that dim's coordinates, still metadata-only
    // (zero chunk IO: every chunk in this fixture is corrupted). The
    // calendar-inventory shape `GROUP BY year(t), month(t)` rides this.
    val corr = ds.groupBy(col("t"), floor(col("t") / 2.0).as("bt")).count()
    assert(corr.queryExecution.executedPlan.toString.contains("ZarrAggScan"))
    assert(corr.collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq ===
      Seq((0.0, 0L, 24L), (1.0, 0L, 24L), (2.0, 1L, 24L)))
    // and the composite keys compose with an independent second dim
    val corr2 = ds.filter(col("x") < 3.0)
      .groupBy(floor(col("t") / 2.0).as("bt"), col("t"),
        floor(col("y") / 20.0).as("by")).count()
    assert(corr2.queryExecution.executedPlan.toString.contains("ZarrAggScan"))
    val m2 = corr2.collect()
      .map(r => ((r.getLong(0), r.getDouble(1), r.getLong(2)), r.getLong(3)))
      .toMap
    assert(m2.size === 9) // 3 t-tuples x 3 y-buckets
    assert(m2((0L, 1.0, 0L)) === 3L && m2((1L, 2.0, 1L)) === 6L)
  }

  test("top-n over a data variable folds per task (bounded-heap partial)") {
    val g = writeFixture() // 12 chunks, one task each (minPartitionNum pin)
    val ds = spark.read.format("zarr").load(g)
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.sparkPlan.collectLeaves()
        .collectFirst { case b: BatchScanExec => b }.get
    // hottest-cells: ORDER BY a DATA VARIABLE — no slab structure, so the
    // fold keeps each task's best k and ships O(tasks x k), not O(cells)
    val q = ds.orderBy(col("v").desc).limit(2)
    val planStr = q.queryExecution.executedPlan.toString
    assert(planStr.contains("PushedTopNFold: [v DESC LIMIT 2]"),
      planStr.take(900))
    assert(scanOf(q).inputRDD.count() === 24L) // 12 tasks x 2, not 72 cells
    assert(q.collect().map(_.getDouble(3)).toSeq === Seq(2405.5, 2404.5))
    // mixed var+dim keys, ties on the first key broken by the second, and
    // a consumed filter pruning chunks first — all exact vs the full sort
    val f = ds.filter(col("t") >= 1.0)
      .orderBy(col("w").desc, col("v")).limit(5)
    assert(f.queryExecution.executedPlan.toString.contains("PushedTopNFold"))
    val expect = CubeTruth.zarr(spark, g, Seq("v", "w"))
      .filter(col("t") >= 1.0)
      .orderBy(col("w").desc, col("v")).limit(5)
      .collect().map(_.toSeq)
    assert(f.collect().map(_.toSeq).toSeq === expect.toSeq)
    // ascending over a variable works from the other end
    val asc = ds.orderBy(col("v")).limit(3)
    assert(asc.queryExecution.executedPlan.toString.contains("PushedTopNFold"))
    assert(asc.collect().map(_.getDouble(3)).toSeq === Seq(100.5, 101.5, 102.5))
  }

  test("compute_levels FROM the connector folds per chunk (skipna mean)") {
    import spark.implicits._
    import graft.cube.{Cube, GridMapping}
    import graft.operators.SubsampleOps
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    // an 8x8 zarr base grid with NaN holes — the pyramid-build input
    val t = Array(0.0)
    val y = Array.tabulate(8)(_ + 0.5)
    val x = Array.tabulate(8)(_ + 0.5)
    val df = (for { ti <- t; yi <- y; xi <- x } yield
      (ti, yi, xi,
        if (yi < 2.0 && xi < 2.0 && !(yi == 0.5 && xi == 0.5)) Double.NaN
        else yi * 10 + xi)).toSeq.toDF("t", "y", "x", "v")
    val g = s"${tmpDir("dsv2lvl")}/base.zarr"
    ZarrSource.writeCubeVars(df, g, Seq("v"),
      Seq("t" -> t, "y" -> y, "x" -> x), chunks = Seq(1, 4, 4))
    val gm = GridMapping(8, 8, 0.0, 0.0, 1.0, 1.0)
    // the reference pyramid step: subsample(mean) over the CONNECTOR table
    val cube = Cube(spark.read.format("zarr").load(g), gm, "t", "y", "x")
    val (lvl, gm2) = SubsampleOps.subsample(cube, 2, Seq("v" -> "mean"))
    assert(gm2.xRes === 2.0)
    val plan = lvl.queryExecution.executedPlan
    // the whole skipna block-mean pushed: iExpr/jExpr composite keys AND
    // the CASE WHEN v <= Inf guard fold inside the reader — no cell-level
    // exchange (16 blocks x sum+count partials from 4 chunks, not 64 cells)
    assert(plan.toString.contains("ZarrVarAggScan"), plan.toString.take(1200))
    val scan = lvl.queryExecution.sparkPlan.collectLeaves()
      .collectFirst { case b: BatchScanExec => b }.get
    // 4 chunks x (2x2 blocks each) = 16 partial rows cross the exchange
    assert(scan.inputRDD.count() === 16L)
    // values match the row-path pyramid step exactly, NaN holes included:
    // the (0,0) block keeps its one valid cell's value, a fully-NaN block
    // would be null — xarray's skipna mean
    val expect = SubsampleOps.subsample(
      Cube(CubeTruth.zarr(spark, g, Seq("v")), gm, "t", "y", "x"),
      2, Seq("v" -> "mean"))._1
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(r => (r._1, r._2, r._3))
    val got = lvl.collect().map(r => (r.getDouble(0), r.getLong(1),
      r.getLong(2), r.getDouble(3))).sortBy(r => (r._1, r._2, r._3))
    assert(got.length === 16)
    assert(got.toSeq === expect.toSeq)
    assert(got.find(r => r._2 == 0L && r._3 == 0L).get._4 === 5.5) // lone cell
    // an image-down grid (jExpr = floor((yMax - y)/res)) also parses
    val gmDown = GridMapping(8, 8, 0.0, 0.0, 1.0, 1.0, yDown = true)
    val (lvlDown, _) = SubsampleOps.subsample(
      Cube(spark.read.format("zarr").load(g), gmDown, "t", "y", "x"),
      2, Seq("v" -> "mean"))
    assert(lvlDown.queryExecution.executedPlan.toString.contains("ZarrVarAggScan"))
    val expDown = SubsampleOps.subsample(
      Cube(CubeTruth.zarr(spark, g, Seq("v")), gmDown, "t", "y", "x"),
      2, Seq("v" -> "mean"))._1
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).sorted
    assert(lvlDown.collect().map(r => (r.getLong(1), r.getLong(2),
      r.getDouble(3))).sorted.toSeq === expDown.toSeq)
    // skipna min/max/sum/count push too, with null for all-NaN groups
    val holes = (for { yi <- y; xi <- x } yield
      (0.0, yi, xi, if (yi < 4.0) Double.NaN else yi + xi))
      .toSeq.toDF("t", "y", "x", "v")
    val g2 = s"${tmpDir("dsv2lvl")}/holes.zarr"
    ZarrSource.writeCubeVars(holes, g2, Seq("v"),
      Seq("t" -> t, "y" -> y, "x" -> x), chunks = Seq(1, 4, 4))
    val cube2 = Cube(spark.read.format("zarr").load(g2), gm, "t", "y", "x")
    val (mm, _) = SubsampleOps.subsample(cube2, 4,
      Seq("v" -> "min", "v" -> "max", "v" -> "sum", "v" -> "count"))
    assert(mm.queryExecution.executedPlan.toString.contains("ZarrVarAggScan"))
    val mmE = SubsampleOps.subsample(
      Cube(CubeTruth.zarr(spark, g2, Seq("v")), gm, "t", "y", "x"),
      4, Seq("v" -> "min", "v" -> "max", "v" -> "sum", "v" -> "count"))._1
    assert(mm.collect().map(_.toSeq).map(_.toString).sorted.toSeq ===
      mmE.collect().map(_.toSeq).map(_.toString).sorted.toSeq)
  }

  test("write bridge derives all coordinate axes in one data pass") {
    import spark.implicits._
    val df = (for { t <- 0 until 3; y <- 0 until 4; x <- 0 until 5 } yield
      (t.toDouble, y * 10.0, x + 0.5, (t + y + x).toDouble))
      .toDF("t", "y", "x", "v")
    def countJobs(group: String, dims: Seq[String]) = {
      spark.sparkContext.setJobGroup(group, "axis derivation audit")
      val axes = try
        graft.sources.zarr.ZarrTableProvider.deriveAxes(df, dims)
      finally spark.sparkContext.clearJobGroup()
      (axes, spark.sparkContext.statusTracker.getJobIdsForGroup(group).length)
    }
    // ONE aggregation covers every dim — not one distinct/sort/collect
    // pass per dim (3 avoidable full-data scans at a 100 TB write). AQE
    // may split the aggregate into a job per stage, so the audit is: the
    // job count must not grow with the dim count, and stays <= 2 (one
    // data-scan stage + one metadata-sized final stage).
    val (axes, jobs3) = countJobs("axes-derive-3", Seq("t", "y", "x"))
    val (_, jobs1) = countJobs("axes-derive-1", Seq("t"))
    assert(jobs3 <= 2, s"expected <= 2 jobs, saw $jobs3")
    assert(jobs3 === jobs1, s"job count grew with dims: $jobs1 -> $jobs3")
    assert(axes.map(_._1) === Seq("t", "y", "x"))
    assert(axes(0)._2.toSeq === Seq(0.0, 1.0, 2.0))
    assert(axes(1)._2.toSeq === Seq(0.0, 10.0, 20.0, 30.0))
    assert(axes(2)._2.toSeq === Seq(0.5, 1.5, 2.5, 3.5, 4.5))
    // a null dim value fails LOUDLY (collect_set would silently drop it
    // and the cube write would proceed on a grid missing that row)
    val withNull = df.withColumn("y",
      when(col("y") === 10.0, lit(null).cast("double")).otherwise(col("y")))
    val e = intercept[IllegalArgumentException](
      graft.sources.zarr.ZarrTableProvider.deriveAxes(withNull, Seq("t", "y", "x")))
    assert(e.getMessage.contains("null value"), e.getMessage)
  }

  test("calendar group keys fold in the connector (resample_in_time shape)") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val g = writeFixture() // 12 chunks; t = 0,1,2
    val ds = spark.read.format("zarr").load(g)
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.sparkPlan.collectLeaves()
        .collectFirst { case b: BatchScanExec => b }.get
    // t scaled by 31 days puts the three slices in Jan/Feb/Mar 1970 —
    // the "1M" resample is GROUP BY year, month of the CF-decoded time
    val ts = (col("t") * 2678400.0).cast("timestamp")
    val q = ds.groupBy(year(ts).as("yr"), month(ts).as("mo"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
        min(col("w")).as("mw"), max(col("v")).as("xv"))
    val planStr = q.queryExecution.executedPlan.toString
    assert(planStr.contains("ZarrVarAggScan") &&
      planStr.contains("extract(MONTH"), planStr.take(1200))
    // partial-rows audit: each chunk holds ONE time slice -> one calendar
    // group -> 12 partial rows cross the exchange, not 72 cells
    assert(scanOf(q).inputRDD.count() === 12L)
    val expect = CubeTruth.zarr(spark, g, Seq("v", "w"))
      .groupBy(year(ts).as("yr"), month(ts).as("mo"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
        min(col("w")).as("mw"), max(col("v")).as("xv"))
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(q.collect().map(_.toSeq).sortBy(_.toString).toSeq === expect.toSeq)
    // hour-of-day keys fold the same way (diurnal-cycle aggregation)
    val hq = ds.groupBy(hour((col("t") * 45000.0).cast("timestamp")).as("hh"))
      .agg(sum(col("v")).as("sv"))
    assert(hq.queryExecution.executedPlan.toString.contains("extract(HOUR"))
    val hExpect = CubeTruth.zarr(spark, g, Seq("v"))
      .groupBy(hour((col("t") * 45000.0).cast("timestamp")).as("hh"))
      .agg(sum(col("v")).as("sv")).collect().map(_.toSeq).sortBy(_.toString)
    assert(hq.collect().map(_.toSeq).sortBy(_.toString).toSeq === hExpect.toSeq)
    // the OPERATOR path (resample_in_time over the numeric time axis)
    // emits the same pushable keys and folds identically
    val rs = graft.operators.TemporalOps.resampleInTimeNumeric(
      ds, "t", 2678400.0, "1M", Seq("v" -> "mean", "w" -> "max"))
    assert(rs.queryExecution.executedPlan.toString.contains("ZarrVarAggScan"),
      rs.queryExecution.executedPlan.toString.take(900))
    val rsE = graft.operators.TemporalOps.resampleInTimeNumeric(
      CubeTruth.zarr(spark, g, Seq("v", "w")),
      "t", 2678400.0, "1M", Seq("v" -> "mean", "w" -> "max"))
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(rs.collect().map(_.toSeq).sortBy(_.toString).toSeq === rsE.toSeq)
    // the FIXED-WIDTH path folds too: "2D" over a day-unit axis is the
    // single-divide floor block key, label rebuilt as bucket-start
    val rf = graft.operators.TemporalOps.resampleInTimeNumeric(
      ds, "t", 86400.0, "2D", Seq("v" -> "sum", "v" -> "count"))
    assert(rf.queryExecution.executedPlan.toString.contains("ZarrVarAggScan"))
    val rfE = graft.operators.TemporalOps.resampleInTimeNumeric(
      CubeTruth.zarr(spark, g, Seq("v")),
      "t", 86400.0, "2D", Seq("v" -> "sum", "v" -> "count"))
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(rf.collect().map(_.toSeq).sortBy(_.toString).toSeq === rfE.toSeq)
    assert(rf.select(col("t")).collect().map(_.getTimestamp(0).toString)
      .sorted.toSeq === Seq("1970-01-01 00:00:00.0", "1970-01-03 00:00:00.0"))
    // per-cell monthly resample: the spatial cell rides along as plain
    // dim keys — still one foldable key set
    val rsCell = graft.operators.TemporalOps.resampleInTimeNumeric(
      ds, "t", 2678400.0, "1M", Seq("v" -> "mean"), extraKeys = Seq("y", "x"))
    assert(rsCell.queryExecution.executedPlan.toString.contains("ZarrVarAggScan"))
    val rsCellE = graft.operators.TemporalOps.resampleInTimeNumeric(
      CubeTruth.zarr(spark, g, Seq("v")),
      "t", 2678400.0, "1M", Seq("v" -> "mean"), extraKeys = Seq("y", "x"))
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(rsCell.collect().map(_.toSeq).sortBy(_.toString).toSeq === rsCellE.toSeq)
    // calendar keys over DIM aggregates only are METADATA-ONLY: the
    // month bucket of every coordinate is driver math, zero chunk IO
    val md = ds.groupBy(month(ts).as("mo"))
      .agg(count(lit(1)).as("n"), min(col("t")).as("mt"))
    val mdPlan = md.queryExecution.executedPlan.toString
    assert(mdPlan.contains("ZarrAggScan") &&
      !mdPlan.contains("ZarrVarAggScan"), mdPlan.take(1200))
    assert(md.collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq ===
      Seq((1, 24L, 0.0), (2, 24L, 1.0), (3, 24L, 2.0)))
  }

  test("value-derived group keys fold in the connector (histogram shape)") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val g = writeFixture() // v = t*1000 + y*10 + x in [100.5, 2405.5]
    val ds = spark.read.format("zarr").load(g)
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.sparkPlan.collectLeaves()
        .collectFirst { case b: BatchScanExec => b }.get
    // compute_statistics' 100-bin histogram: GROUP BY floor((v - lo)/w)
    // over a DATA variable — the bucket is computable from the decoded
    // cell, so the fold is per chunk: O(chunks x bins), never O(cells)
    val q = ds.groupBy(floor((col("v") - 100.0) / 500.0).as("bin"))
      .agg(count(lit(1)).as("n"), min(col("v")).as("mn"),
        max(col("v")).as("mx"))
    val planStr = q.queryExecution.executedPlan.toString
    assert(planStr.contains("ZarrVarAggScan") &&
      planStr.contains("floor((v - 100.0) / 500.0)"), planStr.take(1200))
    // each chunk spans few buckets: 12 chunks x <=2 bins >= rows, << 72
    val partials = scanOf(q).inputRDD.count()
    assert(partials <= 24L, s"expected O(chunks x bins) partials, got $partials")
    val expect = CubeTruth.zarr(spark, g, Seq("v"))
      .groupBy(floor((col("v") - 100.0) / 500.0).as("bin"))
      .agg(count(lit(1)).as("n"), min(col("v")).as("mn"),
        max(col("v")).as("mx"))
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(q.collect().map(_.toSeq).sortBy(_.toString).toSeq === expect.toSeq)
    // grouping by the RAW variable value also folds (distinct-value
    // histogram); w = t+y+x collides across chunks -> real merge above
    val rq = ds.groupBy(col("w")).count()
    assert(rq.queryExecution.executedPlan.toString.contains("ZarrVarAggScan"))
    val rExpect = CubeTruth.zarr(spark, g, Seq("w"))
      .groupBy(col("w")).count().collect()
      .map(r => (r.getDouble(0), r.getLong(1))).sortBy(_._1)
    assert(rq.collect().map(r => (r.getDouble(0), r.getLong(1)))
      .sortBy(_._1).toSeq === rExpect.toSeq)
    // a histogram over a FILTERED cube still prunes chunks first
    val fq = ds.filter(col("t") >= 1.0)
      .groupBy(floor(col("v") / 1000.0).as("bin")).count()
    assert(scanOf(fq).partitions.length === 8) // 4 of 12 chunks pruned
    val fExpect = CubeTruth.zarr(spark, g, Seq("v"))
      .filter(col("t") >= 1.0)
      .groupBy(floor(col("v") / 1000.0).as("bin")).count()
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(fq.collect().map(_.toSeq).sortBy(_.toString).toSeq === fExpect.toSeq)
  }

  test("second-moment partials fold in the connector (stddev shape)") {
    val g = writeFixture()
    val ds = spark.read.format("zarr").load(g)
    // compute_statistics ships sum(v), sum(v*v), count and finishes the
    // moment math above the scan (Spark only partial-pushes
    // Min/Max/Sum/Count — a GeneralAggregateFunc stddev would demand
    // complete pushdown, which cannot scale over data variables)
    val q = ds.groupBy(col("t"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s1"),
        sum(col("v") * col("v")).as("s2"))
    val planStr = q.queryExecution.executedPlan.toString
    assert(planStr.contains("ZarrVarAggScan"), planStr.take(1200))
    val expect = CubeTruth.zarr(spark, g, Seq("v"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s1"),
        sum(col("v") * col("v")).as("s2"))
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).sortBy(_._1)
    assert(q.collect().map(r => (r.getDouble(0), r.getLong(1), r.getDouble(2),
      r.getDouble(3))).sortBy(_._1).toSeq === expect.toSeq)
    // the skipna form: CASE-guarded square (NaN cells contribute nothing)
    val t0 = Array(0.0)
    val y8 = Array.tabulate(8)(_ + 0.5)
    val g2 = s"${tmpDir("dsv2mom")}/nan.zarr"
    import spark.implicits._
    val withNaN = (for { yi <- y8; xi <- y8 } yield
      (0.0, yi, xi, if (yi < 2.0) Double.NaN else yi * 10 + xi))
      .toSeq.toDF("t", "y", "x", "v")
    ZarrSource.writeCubeVars(withNaN, g2, Seq("v"),
      Seq("t" -> t0, "y" -> y8, "x" -> y8), chunks = Seq(1, 4, 4))
    val ds2 = spark.read.format("zarr").load(g2)
    val guard = when(col("v") <= Double.PositiveInfinity, col("v"))
    val sq = ds2.agg(count(guard).as("n"), sum(guard).as("s1"),
      sum(guard * guard).as("s2"))
    assert(sq.queryExecution.executedPlan.toString.contains("ZarrVarAggScan"))
    val got = sq.head()
    val vals = (for { yi <- y8; xi <- y8; if yi >= 2.0 } yield yi * 10 + xi)
    assert(got.getLong(0) === vals.length.toLong)
    assert(got.getDouble(1) === vals.sum)
    assert(got.getDouble(2) === vals.map(v => v * v).sum)
    // the OPERATOR paths fold too: compute_statistics and its histogram
    // from the connector, NaN cells skipped by the pushed guard
    val sf = graft.operators.StatsOps.statisticsFold(ds2, "v")
    assert(sf.queryExecution.executedPlan.toString.contains("ZarrVarAggScan"))
    val sfRow = sf.head()
    assert(sfRow.getLong(0) === vals.length.toLong)
    assert(sfRow.getDouble(1) === vals.min && sfRow.getDouble(2) === vals.max)
    val sfb = graft.operators.StatsOps.statisticsFoldBy(ds2, "v", Seq("y"))
    assert(sfb.queryExecution.executedPlan.toString.contains("ZarrVarAggScan"))
    val byY = sfb.collect().map(r => (r.getDouble(0), r.getLong(1))).toMap
    assert(byY(0.5) === 0L && byY(2.5) === 8L) // all-NaN rows count 0
    val hf = graft.operators.StatsOps.histogramFold(ds2, "v", 4)
    val hfRows = hf.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(hfRows.map(_._2).sum === vals.length.toLong) // NaN never counted
    val expectH = graft.operators.StatsOps.histogramFold(
      CubeTruth.zarr(spark, g2, Seq("v")), "v", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(hfRows.toSeq === expectH.toSeq)
  }

  test("subsample(first) from the connector is a chunk-pruned stride gather") {
    import spark.implicits._
    import graft.cube.{Cube, GridMapping}
    import graft.operators.SubsampleOps
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    // 3x8x8 aligned grid, chunks 1x4x4 -> 12 chunks
    val t = Array(0.0, 1.0, 2.0)
    val y = Array.tabulate(8)(_ + 0.5)
    val x = Array.tabulate(8)(_ + 0.5)
    val df = (for { ti <- t; yi <- y; xi <- x } yield
      (ti, yi, xi, ti * 100 + yi * 10 + xi)).toSeq.toDF("t", "y", "x", "v")
    val g = s"${tmpDir("dsv2sf")}/cube.zarr"
    ZarrSource.writeCubeVars(df, g, Seq("v"),
      Seq("t" -> t, "y" -> y, "x" -> x), chunks = Seq(1, 4, 4))
    val gm = GridMapping(8, 8, 0.0, 0.0, 1.0, 1.0)
    val cube = Cube(spark.read.format("zarr").load(g), gm, "t", "y", "x")
    // k=8: one block per slice; only the origin chunk of each t is read
    val (out8, gm8) = SubsampleOps.subsampleFirst(cube, 8, Seq("v"))
    assert(gm8.xRes === 8.0)
    val scan = out8.queryExecution.sparkPlan.collectLeaves()
      .collectFirst { case b: BatchScanExec => b }.get
    assert(scan.partitions.length === 3, // 3 of 12 chunks: In-set pruned
      s"expected 3 pruned partitions, got ${scan.partitions.length}")
    assert(out8.collect().map(r => (r.getDouble(0), r.getLong(1),
      r.getLong(2), r.getDouble(3))).sorted.toSeq ===
      Seq((0.0, 0L, 0L, 5.5), (1.0, 0L, 0L, 105.5), (2.0, 0L, 0L, 205.5)))
    // mode in the two-stage foldable form: stage 1 (block keys + the
    // raw-value key) folds per chunk; values and ties match the ModeAgg
    // UDAF path exactly on NaN-free data
    val (mf, _) = SubsampleOps.subsampleModeFold(cube, 4, "v")
    assert(mf.queryExecution.executedPlan.toString.contains("ZarrVarAggScan"),
      mf.queryExecution.executedPlan.toString.take(900))
    val modeExpect = SubsampleOps.subsample(
      Cube(CubeTruth.zarr(spark, g, Seq("v")), gm, "t", "y", "x"),
      4, Seq("v" -> "mode"))._1
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sorted
    assert(mf.collect().map(r => (r.getDouble(0), r.getLong(1),
      r.getLong(2), r.getDouble(3))).sorted.toSeq === modeExpect.toSeq)
    // k=4 equals the aggregate path (blockAgg "first") cell for cell
    val (out4, _) = SubsampleOps.subsampleFirst(cube, 4, Seq("v"))
    val expect = SubsampleOps.subsample(
      Cube(CubeTruth.zarr(spark, g, Seq("v")), gm, "t", "y", "x"),
      4, Seq("v" -> "first"))._1
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sorted
    assert(out4.collect().map(r => (r.getDouble(0), r.getLong(1),
      r.getLong(2), r.getDouble(3))).sorted.toSeq === expect.toSeq)
  }

  test("points lookup gathers from pruned chunks only (values_for_points)") {
    import spark.implicits._
    import graft.cube.GridMapping
    import graft.operators.ExtractOps
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    // 8x8 grid, chunks 4x4 -> 4 chunks; v(y, x) = y*10 + x
    val y = Array.tabulate(8)(_ + 0.5)
    val x = Array.tabulate(8)(_ + 0.5)
    val df = (for { yi <- y; xi <- x } yield (yi, xi, yi * 10 + xi))
      .toSeq.toDF("y", "x", "v")
    val g = s"${tmpDir("dsv2pts")}/cells.zarr"
    ZarrSource.writeCubeVars(df, g, Seq("v"),
      Seq("y" -> y, "x" -> x), chunks = Seq(4, 4))
    val zc = spark.read.format("zarr").load(g)
    // points all land in the (0,0) chunk; corrupt the OTHER three chunks
    // — if the points' In filter does not reach the scan as consumed
    // interval sets, the full scan decodes them and fails. (Spark's own
    // DPP can NOT deliver this: double equi-join keys are wrapped in
    // NormalizeNaNAndZero, which defeats PartitionPruning's scan-side
    // attribute match — verified against the optimized plan; hence
    // ExtractOps.pruneCellsForIndexes plants the In itself from the
    // bounded points side.)
    Seq("0.1", "1.0", "1.1").foreach { k =>
      java.nio.file.Files.write(new java.io.File(s"$g/v/$k").toPath,
        Array[Byte](9, 9, 9))
    }
    val pts = Seq((1L, 0L, 0L), (2L, 3L, 2L), (3L, 1L, 3L))
      .toDF("point_id", "x_index", "y_index")
    val gm = GridMapping(8, 8, 0.0, 0.0, 1.0, 1.0)
    val pruned = ExtractOps.pruneCellsForIndexes(zc, gm, pts)
    val q = pruned.join(broadcast(pts),
        pruned("x") === col("x_index") + 0.5 &&
          pruned("y") === col("y_index") + 0.5)
      .select(col("point_id"), col("v"))
    // partition audit: only the (0,0) chunk plans
    val scan = q.queryExecution.sparkPlan.collectLeaves()
      .collectFirst { case b: BatchScanExec => b }.get
    assert(scan.partitions.length === 1,
      s"expected 1 pruned partition, got ${scan.partitions.length}")
    assert(q.collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
      .toSeq === Seq((1L, 5.5), (2L, 28.5), (3L, 36.5)))
    // no addressed cells -> empty scan, no chunk IO, zero rows
    val none = ExtractOps.pruneCellsForIndexes(zc, gm,
      Seq((9L, -1L, -1L)).toDF("point_id", "x_index", "y_index"))
    assert(none.count() === 0L)
  }

  test("polygon time series clips to the bbox and prunes chunks") {
    import graft.cube.{Cube, GridMapping}
    import graft.operators.TimeSeriesOps
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val g = writeFixture() // 3x4x6, chunks 1x2x3 -> 12 chunks
    // corrupt every chunk OUTSIDE the polygon's bbox (x in [0,3], y in
    // [0,25] -> only chunk (j0, i0) of each slice survives): if the bbox
    // clip does not reach the scan as a consumed rectangular filter, the
    // full scan decodes them and fails
    for (t <- 0 to 2; j <- 0 to 1; i <- 0 to 1; if j == 1 || i == 1)
      Files.write(new java.io.File(s"$g/v/$t.$j.$i").toPath, Array[Byte](7))
    val gm = GridMapping(6, 4, 0.0, 5.0, 1.0, 10.0) // centers: x=i+0.5, y=10(j+1)
    val cube = Cube(
      spark.read.format("zarr").load(g).select("t", "y", "x", "v"),
      gm, "t", "y", "x")
    val q = TimeSeriesOps.getTimeSeries(cube, "v",
      geometryWkt = Some("POLYGON ((0 0, 3 0, 0 25, 0 0))"),
      methods = Seq("mean", "count"), clipToBbox = true)
    val scan = q.queryExecution.sparkPlan.collectLeaves()
      .collectFirst { case b: BatchScanExec => b }.get
    assert(scan.partitions.length === 3, // 3 of 12: bbox-pruned
      s"expected 3 pruned partitions, got ${scan.partitions.length}")
    // 3 in-triangle cells per slice: (x=0.5,y=10), (1.5,10), (0.5,20)
    val rows = q.collect().map(r => (r.getDouble(0), r.getDouble(1),
      r.getLong(2))).sortBy(_._1)
    assert(rows.map(_._3).toSeq === Seq(3L, 3L, 3L))
    assert(rows.map(_._2).toSeq ===
      (0 to 2).map(t => (t * 3000 + 100.5 + 101.5 + 200.5) / 3.0))
  }

  test("unfoldable group keys decline pushdown and stay correct") {
    val g = writeFixture()
    val ds = spark.read.format("zarr").load(g)
    def noAggScan(df: org.apache.spark.sql.DataFrame): Boolean = {
      val p = df.queryExecution.executedPlan.toString
      !p.contains("ZarrVarAggScan") && !p.contains("ZarrAggScan")
    }
    def sameAs(df: org.apache.spark.sql.DataFrame,
               raw: org.apache.spark.sql.DataFrame): Unit =
      assert(df.collect().map(_.toSeq).sortBy(_.toString).toSeq ===
        raw.collect().map(_.toSeq).sortBy(_.toString).toSeq)
    val raw = CubeTruth.zarr(spark, g, Seq("v", "w"))
    // a TWO-column bucket is not a chunk-computable single-column key
    val q1 = ds.groupBy(floor((col("v") + col("w")) / 100.0).as("b")).count()
    assert(noAggScan(q1), q1.queryExecution.executedPlan.toString.take(600))
    sameAs(q1, raw.groupBy(floor((col("v") + col("w")) / 100.0).as("b")).count())
    // a NON-AFFINE cast child (t*t) is not a replayable calendar key
    val ts2 = (col("t") * col("t") * 86400.0).cast("timestamp")
    val q2 = ds.groupBy(dayofmonth(ts2).as("dd")).count()
    assert(noAggScan(q2))
    sameAs(q2, raw.groupBy(dayofmonth(ts2).as("dd")).count())
    // ISO-week fields are deliberately left Spark-side
    val ts = (col("t") * 2678400.0).cast("timestamp")
    val q3 = ds.groupBy(weekofyear(ts).as("wk")).count()
    assert(noAggScan(q3))
    sameAs(q3, raw.groupBy(weekofyear(ts).as("wk")).count())
  }

  test("property: pushed group keys replay Spark's evaluation bit-for-bit") {
    import spark.implicits._
    import graft.sources.zarr.ZarrGroupKey
    val rnd = new scala.util.Random(1515)
    val adversarial = Seq(0.0, -0.0, 1.0, -1.0, 1e300, -1e300, 1e-300,
      4503599627370495.5, -4503599627370495.5, 123456.789, -98765.4321)
    (1 to 25).foreach { _ =>
      val off = (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(6))
      val scale = (rnd.nextDouble() + 0.01) * math.pow(10, rnd.nextInt(4)) *
        (if (rnd.nextBoolean()) 1 else -1)
      val vals = adversarial ++
        (1 to 20).map(_ => (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(9)))
      val df = vals.toDF("d")
      // floor((d + off)/scale) — the block key
      val k = ZarrGroupKey("d", ZarrGroupKey.Floor, neg = false, off, scale, 1.0)
      df.select(col("d"), floor((col("d") + lit(off)) / lit(scale)))
        .collect().foreach(r =>
          assert(k.evalLong(r.getDouble(0)) === r.getLong(1),
            s"floor((${r.getDouble(0)} + $off) / $scale)"))
      // floor((off - d)/scale) — the image-down y key
      val kn = k.copy(neg = true)
      df.select(col("d"), floor((lit(off) - col("d")) / lit(scale)))
        .collect().foreach(r =>
          assert(kn.evalLong(r.getDouble(0)) === r.getLong(1)))
      // (floor(...) / div).cast(long) — the pyramid composition
      val div = 1 + rnd.nextInt(16)
      val kd = k.copy(kind = ZarrGroupKey.FloorDiv, div = div.toDouble)
      df.select(col("d"),
        (floor((col("d") + lit(off)) / lit(scale)) / lit(div)).cast("long"))
        .collect().foreach(r =>
          assert(kd.evalLong(r.getDouble(0)) === r.getLong(1)))
    }
    // calendar fields over cast(t*a+b as timestamp) — ±~126 years of
    // random instants, fractional seconds included
    val secVals = (1 to 300).map(_ => (rnd.nextDouble() - 0.5) * 8e9)
    val df2 = secVals.toDF("t")
    val fields: Seq[(String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)] =
      Seq("YEAR" -> year _, "MONTH" -> month _, "QUARTER" -> quarter _,
        "DAY" -> dayofmonth _, "DAY_OF_YEAR" -> dayofyear _,
        "DAY_OF_WEEK" -> dayofweek _, "HOUR" -> hour _,
        "MINUTE" -> minute _, "SECOND" -> second _)
    val a = 2678400.0 / 86400.0 // a non-trivial affine scale
    val b = 7200.5
    fields.foreach { case (f, fn) =>
      val ke = ZarrGroupKey("t", ZarrGroupKey.Extract, neg = false,
        off = b, scale = a, div = 1.0, field = f, zone = "UTC")
      df2.select(col("t"),
        fn((col("t") * lit(a) + lit(b)).cast("timestamp")))
        .collect().foreach(r =>
          assert(ke.evalExtract(r.getDouble(0)) === r.getInt(1),
            s"$f(cast(${r.getDouble(0)} * $a + $b as timestamp))"))
    }
  }

  test("the same scan opens an http-hosted archive, pruned the same way") {
    val g = writeFixture()
    ZarrSource.consolidateMetadata(g)
    val emu = graft.sources.s3.S3Emulator.shared
    val base = new java.io.File(g).getParent
    emu.mountDir("dsv2http", base)
    val ds = spark.read.format("zarr").load(s"${emu.endpoint}/dsv2http/cube.zarr")
    val one = ds.filter(col("t") === 2.0)
    assert(one.rdd.getNumPartitions === 4)
    assert(one.agg(round(sum("v"), 6)).head.getDouble(0) ===
      (for { yi <- 1 to 4; xi <- 0 to 5 } yield 2000.0 + yi * 100 + xi + 0.5).sum)
  }
}
