package graft

import graft.sources.{ByteStore, ZarrSource, ZarrV3Source}
import graft.sources.zarr.{ChunkStats, ZarrTable}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths, StandardOpenOption}

/** The inline-sidecar size budget: a driver-resident stats document must
  * stay metadata-sized. Past the budget the json form DECLINES LOUDLY
  * (an over-budget ANALYZE names the parquet escape hatch; an
  * over-budget born-with-stats write auto-routes to the side table),
  * and the parquet side table prunes and decode-skips exactly like the
  * inline form — proven by corrupting pruned chunks with garbage bytes
  * and excluded strips with IN-INTERVAL doubles. */
class StatsBudgetSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = GraftSession.builder("4").getOrCreate()
    s.conf.set("spark.sql.files.minPartitionNum", "100000")
    s
  }

  private def tmpDir(prefix: String): String = {
    val base = new java.io.File("/root/repo/target/tmp-tests")
    base.mkdirs()
    Files.createTempDirectory(base.toPath, prefix).toString
  }

  /** 1024x512 monotone cube (v = row-major ordinal) in 4 whole-width
    * 256x512 RAW chunks of 131072 cells — large enough for the 64-strip
    * virtual grid (2048 cells per strip, contiguous byte ranges). */
  private def writeBig(stats: Boolean, budget: Long): String = {
    val g = s"${tmpDir("budget")}/cube.zarr"
    ZarrSource.writeCubeVars(bigCells, g, Seq("v"), bigDims,
      chunks = Seq(256, 512), codec = ZarrSource.Raw,
      stats = stats, statsInlineBudget = budget)
    g
  }

  private def bigCells = spark.range(1024L * 512).select(
    ((col("id") / 512).cast("long").cast("double") + 0.5).as("y"),
    ((col("id") % 512).cast("double") + 0.5).as("x"),
    col("id").cast("double").as("v"))

  private val bigDims = Seq("y" -> Array.tabulate(1024)(_ + 0.5),
    "x" -> Array.tabulate(512)(_ + 0.5))

  /** The same cube as a sharded v3 store — (256, 512) shards of (4, 512)
    * inner chunks, so the same 4 chunk rows + 4 × 64 block rows — born
    * with its inline sidecar, whose rows then go through the sidecar
    * emitter again under `budget` (the v3 writer uses the default one). */
  private def writeBigV3(budget: Long): String = {
    import spark.implicits._
    val g = s"${tmpDir("budgetv3")}/cube.zarr"
    ZarrV3Source.writeCube(bigCells, g, "v", bigDims, chunks = Seq(256, 512),
      steps = Seq(), shardInner = Some(Seq(4, 512)), stats = true)
    val za = ZarrTable.open(g).za
    val born = ChunkStats.load(ByteStore.current, g, za, g).get
      .asInstanceOf[ChunkStats.EagerStats]
    val rows = born.vars("v").toSeq.map { case (k, st) =>
      ChunkStats.StatRow("v", k, st)
    }
    ChunkStats.writeSidecar(g, g, Seq("v" -> za), v3 = true, rows.toDS(),
      budget = budget)
    g
  }

  test("over-budget ANALYZE json declines loudly, naming parquet") {
    val g = writeBig(stats = false, budget = Long.MaxValue)
    val ex = intercept[IllegalArgumentException] {
      ChunkStats.analyze(spark, g, maxInlineRows = 4)
    }
    assert(ex.getMessage.contains("parquet"), ex.getMessage)
    assert(!new java.io.File(s"$g/${ChunkStats.FileName}").exists(),
      "a refused analyze must write nothing")
    // the default budget itself refuses archive-scale docs: 10^5 chunks
    // x (1 + 32 strips) = 3.3e6 rows > 2^20
    assert(100000L * 33 > ChunkStats.MaxInlineStatRows)
  }

  test("over-budget born-with-stats write auto-routes to the side table") {
    for (g <- Seq(writeBig(stats = true, budget = 4), writeBigV3(budget = 4))) {
      val doc = new String(Files.readAllBytes(
        Paths.get(s"$g/${ChunkStats.FileName}")), "UTF-8")
      assert(doc.contains("\"storage\":\"parquet\""), doc.take(200))
      assert(new java.io.File(s"$g/${ChunkStats.ParquetName}").exists())
      // side-table rows: 4 chunk rows + 4 x 64 strip rows for the one var
      val n = spark.read.parquet(s"$g/${ChunkStats.ParquetName}").count()
      assert(n == 4L + 4 * 64, s"side table rows: $n")
    }
  }

  test("parquet sidecar prunes chunks AND skips excluded strips (corruption proof)") {
    val g = writeBig(stats = false, budget = Long.MaxValue)
    ChunkStats.analyze(spark, g, format = "parquet")
    // chunk-level prune: chunks 1..3 hold v >= 131072 only — corrupt
    // their payloads outright; a read would crash or garble
    (1 to 3).foreach { c =>
      Files.write(Paths.get(s"$g/v/$c.0"), Array.fill[Byte](64)(9))
    }
    // strip-level decode skip: strips 2..63 of chunk 0 rewritten with
    // IN-INTERVAL doubles (2000.0) — if the reader converted them, the
    // filter below would admit 126976 extra cells
    val buf = java.nio.ByteBuffer.allocate(2048 * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until 2048).foreach(_ => buf.putDouble(2000.0))
    val ch = java.nio.channels.FileChannel.open(Paths.get(s"$g/v/0.0"),
      StandardOpenOption.WRITE)
    try (2 until 64).foreach { ord =>
      buf.rewind()
      ch.write(buf, ord.toLong * 2048 * 8)
      ()
    } finally ch.close()
    val df = spark.read.format("zarr").load(g)
      .filter(col("v") >= 1000.0 && col("v") < 3048.0)
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        min(col("v")).as("mn"), max(col("v")).as("mx")).head()
    assert(df.getLong(0) == 2048L, s"count ${df.getLong(0)}")
    assert(df.getDouble(1) == (1000L to 3047L).map(_.toDouble).sum)
    assert(df.getDouble(2) == 1000.0 && df.getDouble(3) == 3047.0)
  }
}
