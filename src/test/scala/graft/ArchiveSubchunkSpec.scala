package graft

import graft.sources.{CubeTruth, NetcdfSource, ZarrSource}
import graft.sources.NetcdfSource.NcDim
import graft.sources.zarr.ChunkStats
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths, StandardOpenOption}
import graft.TestDirs.tmpDir

/** Sub-chunk zone maps on LARGE-CHUNK granules (round-17): a whole-map
  * NetCDF record is one chunk, so chunk-granular stats can only prune
  * whole granules; ANALYZE's virtual strip grids let the refs reader
  * skip the element-wise DECODE of excluded strips (the IO stays one
  * ref). Proven two ways: the decoded-cell counter, and corrupting
  * excluded strips with doubles INSIDE the query interval — a reader
  * that decoded them would change the aggregate. */
class ArchiveSubchunkSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = GraftSession.builder("4").getOrCreate()
    s.conf.set("spark.sql.files.minPartitionNum", "100000")
    s
  }

  /** 3 whole-map granules (256×512 = 131072 cells each), v = g·1e6 + k
    * (k the row-major ordinal) — strip value ranges are disjoint. */
  private def writeArchive(): String = {
    val dir = s"${tmpDir("arcsub")}/maps.archive"
    new java.io.File(dir).mkdirs()
    def granule(g: Int): Unit =
      NetcdfSource.write(s"$dir/map$g.nc",
        Seq(NcDim("y", 256), NcDim("x", 512)),
        Seq(("y", Array.tabulate(256)(_.toDouble)),
          ("x", Array.tabulate(512)(_.toDouble))),
        Seq(("v", Seq("y", "x"), Array.tabulate(256 * 512)(k => g * 1e6 + k))))
    (0 until 3).foreach(granule)
    ChunkStats.analyzeArchive(spark, dir)
    dir
  }

  private val filterLo = 1010000.0
  private val filterHi = 1014096.0 // exclusive; flat cells 10000..14095
  // 2048-cell strips (virtualGrid splits y=256 into 64 strips of 4 rows):
  // the interval straddles strips 4..6 of granule 1
  private val keptStrips = Set(4, 5, 6)

  private def runQuery(dir: String) = {
    val r = spark.read.format("kerchunk").load(dir)
      .filter(col("v") >= filterLo && col("v") < filterHi)
      .agg(count(lit(1)), sum(col("v")), min(col("v")), max(col("v")))
      .head()
    (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
  }

  private val want = (4096L, 4096.0 * (1010000.0 + 1014095.0) / 2,
    1010000.0, 1014095.0)

  test("virtualGrid: strips on the slowest non-unit dim, small/prime opt out") {
    assert(ChunkStats.virtualGrid(Seq(1, 256, 512)) === Some(Seq(1, 4, 512)))
    assert(ChunkStats.virtualGrid(Seq(256, 512)) === Some(Seq(4, 512)))
    assert(ChunkStats.virtualGrid(Seq(1, 50, 90)).isEmpty)    // small chunk
    assert(ChunkStats.virtualGrid(Seq(97, 1021)).isEmpty)     // prime dims
    assert(ChunkStats.virtualGrid(Seq(4, 512, 512)) === Some(Seq(1, 512, 512)))
  }

  test("excluded strips skip the element-wise decode (counter + pruning)") {
    val dir = writeArchive()
    // warm the table open (coordinate decode) outside the counted window
    assert(spark.read.format("kerchunk").load(dir).schema.fieldNames
      .contains("v"))
    val before = ZarrSource.decodedCells.get()
    assert(runQuery(dir) === want)
    val delta = ZarrSource.decodedCells.get() - before
    // granules 0 and 2 prune at chunk granularity; granule 1 decodes its
    // 3 admitted strips (6144 cells), not the 131072-cell record. Slack
    // covers coordinate re-decodes; a full-chunk decode would be ≥131072.
    assert(delta <= 20000L, s"decoded $delta cells — strip skip not engaged")
  }

  test("plain cubes are BORN with strip rows: write-time == ANALYZE, decode skip") {
    import spark.implicits._
    // one 1×256×512 chunk (131072 cells ≥ the virtual-grid threshold),
    // v monotone in the row-major ordinal so strips have disjoint ranges;
    // w holds NaNs — scattered, and filling every fifth strip whole
    val y = Array.tabulate(256)(_ + 0.5)
    val x = Array.tabulate(512)(_ + 0.5)
    def cube(dir: String, stats: Boolean): String = {
      val g = s"$dir/cube.zarr"
      val df = spark.range(256L * 512).select(
        lit(0.0).as("t"),
        (expr("id div 512").cast("double") + 0.5).as("y"),
        ((col("id") % 512L).cast("double") + 0.5).as("x"),
        col("id").cast("double").as("v"),
        when(col("id") % 3 === 0 || expr("id div 2048") % 5 === 0,
          lit(Double.NaN)).otherwise(col("id") * -0.5).as("w"))
      ZarrSource.writeCubeVars(df, g, Seq("v", "w"),
        Seq("t" -> Array(0.0), "y" -> y, "x" -> x),
        chunks = Seq(1, 256, 512), stats = stats)
      g
    }
    val born = cube(tmpDir("stripborn"), stats = true)
    val analyzed = cube(tmpDir("stripana"), stats = false)
    ChunkStats.analyze(spark, analyzed)
    def doc(g: String) = {
      val n = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Files.readAllBytes(Paths.get(s"$g/${ChunkStats.FileName}")))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      n.remove("generation"); n
    }
    assert(doc(born) === doc(analyzed)) // strips + grid, bit-identical
    // decode skip on the born cube: a 3-strip value window converts
    // ~6144 cells, never the 131072-cell chunk
    val before = ZarrSource.decodedCells.get()
    val r = spark.read.format("zarr").load(born)
      .filter(col("v") >= 10000.0 && col("v") < 14096.0)
      .agg(count(lit(1)), sum(col("v"))).head()
    assert(r.getLong(0) === 4096L &&
      r.getDouble(1) === 4096.0 * (10000 + 14095) / 2)
    assert(ZarrSource.decodedCells.get() - before <= 20000L)
  }

  test("appendCube maintains the sidecar incrementally (chunk + strip rows)") {
    import spark.implicits._
    // born-analyzed 3×4×6 cube in 2×2×3 chunks: t-chunk 1 is HALF full,
    // so the append must merge-and-refold the boundary chunk
    val y = Array(10.0, 20.0, 30.0, 40.0)
    val x = Array.tabulate(6)(_ + 0.5)
    def df(ts: Seq[Double]) =
      (for { ti <- ts; yi <- y.toSeq; xi <- x.toSeq } yield
        (ti, yi, xi, ti * 100 + yi + xi)).toDF("t", "y", "x", "v")
    val g = s"${tmpDir("appstats")}/cube.zarr"
    ZarrSource.writeCube(df(Seq(0.0, 1.0, 2.0)), g, "v",
      Seq("t" -> Array(0.0, 1.0, 2.0), "y" -> y, "x" -> x),
      chunks = Seq(2, 2, 3), stats = true)
    ZarrSource.appendCube(df(Seq(3.0, 4.0)), g, "v", Array(3.0, 4.0))
    // the maintained doc equals a from-scratch ANALYZE bit-for-bit
    def doc(p: String) = {
      val n = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Files.readAllBytes(Paths.get(p)))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      n.remove("generation"); n
    }
    val maintained = doc(s"$g/${ChunkStats.FileName}")
    val out = tmpDir("appstats-re")
    ChunkStats.analyze(spark, g, outDir = Some(out))
    assert(maintained === doc(s"$out/${ChunkStats.FileName}"))
    // ...and it still ANSWERS: corrupt every chunk, the guarded
    // statistics must come from stat rows alone
    val truth = graft.operators.StatsOps.statisticsFold(
      CubeTruth.zarr(spark, g, Seq("v")), "v").collect().head
    new java.io.File(s"$g/v").listFiles()
      .filter(_.getName.head.isDigit)
      .foreach(f => Files.write(f.toPath, Array[Byte](9, 9, 9)))
    val q = graft.operators.StatsOps.statisticsFold(
      spark.read.format("zarr").load(g), "v")
    assert(q.collect().head.toSeq === truth.toSeq)

    // STRIP rows survive appends too: a large-chunk born cube appends a
    // new slice and the new chunk's block rows match a full ANALYZE
    val xs = Array.tabulate(512)(_ + 0.5)
    val ys = Array.tabulate(256)(_ + 0.5)
    def bigDf(t: Double) = spark.range(256L * 512).select(
      lit(t).as("t"),
      (expr("id div 512").cast("double") + 0.5).as("y"),
      ((col("id") % 512L).cast("double") + 0.5).as("x"),
      (col("id").cast("double") + lit(t * 1e6)).as("v"))
    val g2 = s"${tmpDir("appstrips")}/cube.zarr"
    ZarrSource.writeCubeVars(bigDf(0.0), g2, Seq("v"),
      Seq("t" -> Array(0.0), "y" -> ys, "x" -> xs),
      chunks = Seq(1, 256, 512), stats = true)
    ZarrSource.appendCube(bigDf(1.0), g2, "v", Array(1.0))
    val maintained2 = doc(s"$g2/${ChunkStats.FileName}")
    val out2 = tmpDir("appstrips-re")
    ChunkStats.analyze(spark, g2, outDir = Some(out2))
    assert(maintained2 === doc(s"$out2/${ChunkStats.FileName}"))
  }

  test("archive append refreshes the sidecar incrementally (old granules unread)") {
    def granule(dir: String, g: Int): Unit =
      NetcdfSource.write(s"$dir/day$g.nc", Seq(NcDim("x", 24)),
        Seq(("x", Array.tabulate(24)(_ + 0.5))),
        Seq(("v", Seq("x"), Array.tabulate(24)(k => g * 100.0 + k))))
    def build(n: Int): String = {
      val dir = s"${tmpDir("arcinc")}/daily.archive"
      new java.io.File(dir).mkdirs()
      (0 until n).foreach(granule(dir, _))
      dir
    }
    val dir = build(3)
    ChunkStats.analyzeArchive(spark, dir) // sidecar over 3 granules
    granule(dir, 3) // the append
    // merge the index FIRST, then corrupt the OLD granules' data bytes:
    // the incremental refresh must fold ONLY granule 3's chunk — a full
    // re-analyze would fold the garbage below into the stats
    graft.sources.KerchunkSource.ensureArchiveIndex(spark, dir)
    val refs = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readAllBytes(Paths.get(s"$dir/_refs.json")))
      .path("refs")
    val garbage = java.nio.ByteBuffer.allocate(24 * 8)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    (0 until 24).foreach(_ => garbage.putDouble(1e9))
    (0 until 4).foreach { t =>
      val r = refs.path(s"v/$t.0")
      val url = r.get(0).asText
      if (!url.contains("day3.nc")) {
        val f = Paths.get(new java.net.URI(url))
        val ch = java.nio.channels.FileChannel.open(f,
          StandardOpenOption.WRITE)
        try ch.write(java.nio.ByteBuffer.wrap(garbage.array()),
          r.get(1).asLong())
        finally ch.close()
        ()
      }
    }
    val ds = spark.read.format("kerchunk").option("stats", "true").load(dir)
    // the refreshed sidecar answers the guarded statistics with the
    // ORIGINAL values of granules 0-2 (their rows carried verbatim) plus
    // granule 3's fresh fold — 1e9 anywhere means old data was re-read
    val st = graft.operators.StatsOps.statisticsFold(ds, "v").collect().head
    assert(st.getLong(0) === 96L)
    assert(st.getDouble(1) === 0.0 && st.getDouble(2) === 323.0)
    // and it matches a from-scratch ANALYZE of an uncorrupted twin
    val twin = build(4)
    ChunkStats.analyzeArchive(spark, twin)
    def varsDoc(d: String) = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readAllBytes(Paths.get(s"$d/${ChunkStats.FileName}")))
      .path("vars")
    assert(varsDoc(dir) === varsDoc(twin))
  }

  test("corrupting excluded strips with IN-INTERVAL doubles changes nothing") {
    val dir = writeArchive()
    // locate granule 1's v record via the refs index (url, offset, length)
    val doc = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readAllBytes(Paths.get(s"$dir/_refs.json")))
    val refs = doc.path("refs")
    val key = (0 until 3).map(t => s"v/$t.0.0").find { k =>
      !refs.path(k).isMissingNode &&
        refs.path(k).get(0).asText.contains("map1.nc")
    }.getOrElse(fail(s"no v ref for map1.nc in ${dir}/_refs.json"))
    val off = refs.path(key).get(1).asLong()
    // overwrite every EXCLUDED strip with big-endian doubles INSIDE the
    // filter interval: a reader that decodes them inflates the count
    val poison = java.nio.ByteBuffer.allocate(2048 * 8)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    (0 until 2048).foreach(_ => poison.putDouble(1012000.0))
    val ch = java.nio.channels.FileChannel.open(
      Paths.get(s"$dir/map1.nc"), StandardOpenOption.WRITE)
    try {
      (0 until 64).filterNot(keptStrips).foreach { s =>
        ch.write(java.nio.ByteBuffer.wrap(poison.array()),
          off + s.toLong * 2048 * 8)
        ()
      }
    } finally ch.close()
    assert(runQuery(dir) === want)
  }
}
