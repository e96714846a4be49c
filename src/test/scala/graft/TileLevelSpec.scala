package graft

import graft.cube.{Cube, GridMapping, TilingScheme}
import graft.operators.TileOps
import graft.sources.LevelStore
import org.apache.spark.graftbridge.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

class TileLevelSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00")

  test("LevelStore: progressive 2x2-mean pyramid, read-back, level pick") {
    import spark.implicits._
    val gm = GridMapping(8, 8, 0.0, 0.0, 1.0, 1.0)
    val rows = for (j <- 0 until 8; i <- 0 until 8)
      yield (t0, j + 0.5, i + 0.5, 1.0)
    val cube = Cube(rows.toDF("time", "y", "x", "v"), gm)
    val root = TestDirs.tmpDir("levels")
    val gms = LevelStore.writeLevels(cube, root, 2)
    assert(gms.map(_.width) == Seq(8L, 4L, 2L))
    assert(LevelStore.listLevels(spark, root) == Seq(0, 1, 2))
    val l1 = LevelStore.openLevel(spark, root, 1)
    assert(l1.count() == 16)
    assert(l1.agg(min("v"), max("v")).head() ==
      org.apache.spark.sql.Row(1.0, 1.0)) // mean of constant field
    // level pick: res 2.0 → level 1; res 1.5 → level 0; res 100 → coarsest
    assert(LevelStore.levelForResolution(gms, 2.0) == 1)
    assert(LevelStore.levelForResolution(gms, 1.5) == 0)
    assert(LevelStore.levelForResolution(gms, 100.0) == 2)
  }

  test("LevelStore: a string variable is carried to every level as each block's first") {
    import spark.implicits._
    val gm = GridMapping(8, 8, 0.0, 0.0, 1.0, 1.0)
    def label(j: Long, i: Long) = s"c$j.$i"
    val rows = for (j <- 0L until 8L; i <- 0L until 8L)
      yield (t0, gm.yForJ(j), gm.xForI(i), (j * 8 + i).toDouble, label(j, i))
    val cube = Cube(rows.toDF("time", "y", "x", "v", "kind"), gm)
    val root = TestDirs.tmpDir("levels_first")
    val gms = LevelStore.writeLevels(cube, root, 2)
    val meta = LevelStore.readMeta(root).get
    assert(meta.agg == Map("v" -> "mean", "kind" -> "first"))
    for (l <- 1 to 2) {
      val k = 1L << l
      val got = LevelStore.openLevel(spark, root, l, Some(meta))
        .select(gms(l).jExpr(col("y")), gms(l).iExpr(col("x")), col("kind"))
        .as[(Long, Long, String)].collect().toSet
      // row-major block order: a block's first cell is its top-left one
      val want = for (bj <- 0L until 8L / k; bi <- 0L until 8L / k)
        yield (bj, bi, label(bj * k, bi * k))
      assert(got == want.toSet, s"L$l")
    }
  }

  test("LevelStore: openLevel reads the recorded schema and runs no Spark job") {
    import spark.implicits._
    val gm = GridMapping(8, 8, 0.0, 0.0, 1.0, 1.0)
    val rows = for (j <- 0 until 8; i <- 0 until 8)
      yield (t0, j + 0.5, i + 0.5, (j * 8 + i).toDouble, (64 - j * 8 - i).toDouble)
    val cube = Cube(rows.toDF("time", "y", "x", "v", "w"), gm)
    for (methods <- Seq(Seq.empty, Seq("v" -> "min", "w" -> "min"))) {
      val root = TestDirs.tmpDir("levels_schema")
      LevelStore.writeLevels(cube, root, 2, methods)
      val meta = LevelStore.readMeta(root).get
      // one shared schema: every level in L0's column order and types
      assert(meta.schema.isDefined && meta.levels.forall(_.schema.isEmpty),
        meta)
      for (l <- 0 to 2) {
        val (df, jobs) = JobCount.of(spark)(LevelStore.openLevel(spark, root, l))
        assert(jobs == 0, s"$methods L$l: $jobs jobs to open the level")
        assert(df.schema == spark.read.parquet(s"$root/L$l").schema,
          s"$methods L$l")
        assert(df.count() == 64 >> (2 * l))
      }
    }
  }

  /** 8×8 cells at two times: v the row-major index plus a time offset,
    * w its reverse, and a string label. */
  private def twoStepCube(): Cube = {
    import spark.implicits._
    val gm = GridMapping(8, 8, 0.0, 0.0, 1.0, 1.0)
    val t1 = Timestamp.valueOf("2024-01-02 00:00:00")
    val rows = for (t <- Seq(t0, t1); j <- 0 until 8; i <- 0 until 8)
      yield (t, gm.yForJ(j), gm.xForI(i), (j * 8 + i) + (if (t == t0) 0.0 else 0.25),
        (64 - j * 8 - i).toDouble / 3, s"c${(i + j) % 3}")
    Cube(rows.toDF("time", "y", "x", "v", "w", "kind"), gm)
  }

  private def partSizes(dir: String): Seq[Long] =
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
      .map(_.length).sorted.toSeq

  test("LevelStore: levels written concurrently equal a sequential write, rows and bytes") {
    val cube = twoStepCube()
    val root = TestDirs.tmpDir("levels_conc")
    LevelStore.writeLevels(cube, root, 2)
    val serial = TestDirs.tmpDir("levels_serial")
    LevelStore.levelCubes(cube, 2).zipWithIndex.foreach { case (c, l) =>
      c.df.write.mode("overwrite").parquet(s"$serial/L$l")
    }
    for (l <- 0 to 2) {
      def rows(r: String) =
        spark.read.parquet(s"$r/L$l").collect().map(_.toString).sorted.toSeq
      assert(rows(root) == rows(serial), s"L$l rows")
      assert(rows(root).length == 128 >> (2 * l))
      assert(partSizes(s"$root/L$l") == partSizes(s"$serial/L$l"), s"L$l part sizes")
    }
    assert(LevelStore.readMeta(root).get.levels.length == 3)
  }

  test("LevelStore: a failing level rethrows after every level job ended, with no sidecar") {
    import spark.implicits._
    val gm = GridMapping(8, 8, 0.0, 0.0, 1.0, 1.0)
    // every 2×2 block's sum of n overflows a long (ANSI): L1 and L2 fail,
    // L0 (the cells as they are) writes
    val rows = for (j <- 0 until 8; i <- 0 until 8)
      yield (t0, gm.yForJ(j), gm.xForI(i), Long.MaxValue / 3)
    val cube = Cube(rows.toDF("time", "y", "x", "n"), gm)
    val root = TestDirs.tmpDir("levels_fail")
    val e = intercept[Exception](
      LevelStore.writeLevels(cube, root, 2, Seq("n" -> "sum")))
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(c => String.valueOf(c.getMessage).toLowerCase.contains("overflow")), e)
    BusDrain.drain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty,
      "a level job still runs after writeLevels returned")
    assert(new java.io.File(s"$root/L0/_SUCCESS").exists, "L0 did not finish")
    assert(!new java.io.File(s"$root/${LevelStore.MetaFileName}").exists)
  }

  test("LevelStore: every level job carries the caller's job group, from foreachBatch too") {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        seen.add((String.valueOf(j.properties.getProperty("spark.jobGroup.id")),
          String.valueOf(j.properties.getProperty("spark.job.description"))))
        ()
      }
    }
    import scala.jdk.CollectionConverters._
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("levels-caller", "pyramid of the test cube", interruptOnCancel = false)
      try LevelStore.writeLevels(twoStepCube(), TestDirs.tmpDir("levels_group"), 2)
      finally sc.clearJobGroup()
      BusDrain.drain(sc)
      val direct = seen.asScala.toSeq
      // L0 one job, L1 and L2 an aggregation's map stage plus the write
      assert(direct.length >= 3, direct)
      assert(direct.forall(_ == (("levels-caller", "pyramid of the test cube"))), direct)

      val src = TestDirs.tmpDir("levels_stream_src")
      twoStepCube().df.coalesce(1).write.mode("overwrite").parquet(src)
      BusDrain.drain(sc)
      seen.clear()
      val root = TestDirs.tmpDir("levels_stream")
      val q = spark.readStream.schema(twoStepCube().df.schema).parquet(src)
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          LevelStore.writeLevels(Cube(b, GridMapping(8, 8, 0.0, 0.0, 1.0, 1.0)), root, 2)
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", TestDirs.tmpDir("levels_stream_ckpt"))
        .start()
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      BusDrain.drain(sc)
      val inBatch = seen.asScala.toSeq
      assert(inBatch.length >= 3, inBatch)
      assert(inBatch.forall(_._1 == q.runId.toString), inBatch)
      assert(LevelStore.readMeta(root).get.levels.length == 3)
      assert(LevelStore.openLevel(spark, root, 2).count() == 8)
    } finally sc.removeSparkListener(listener)
  }

  test("level-for-resolution advances only when BOTH axes exceed the ask") {
    // the reference rule (mldataset/abc.py:136-149): a level is passed
    // over only when x_res AND y_res both exceed the request — an x-only
    // test resolves anisotropic pyramids one level too coarse
    val rs = Seq((1.0, 0.5), (2.0, 1.0), (4.0, 2.0), (8.0, 4.0))
    assert(LevelStore.levelForResolutionXY(rs, 2.5) == 2) // L2 has yRes 2 <= 2.5
    assert(LevelStore.levelForResolutionXY(rs, 0.4) == 0) // even L0 exceeds: clamp
    assert(LevelStore.levelForResolutionXY(rs, 4.0) == 3) // L3 yRes == 4: kept
    assert(LevelStore.levelForResolutionXY(rs, 100.0) == 3)
  }

  test("computeTile gathers a dense top-row-first tile with NaN holes") {
    import spark.implicits._
    val gm = GridMapping(4, 4, 0.0, 0.0, 1.0, 1.0)
    // value = i + 10*j; omit cell (1,1) to create a hole
    val rows = for (j <- 0 until 4; i <- 0 until 4; if !(i == 1 && j == 1))
      yield (i + 0.5, j + 0.5, (i + 10 * j).toDouble)
    val df = rows.toDF("x", "y", "v")
    val scheme = TilingScheme(1, 1, "local", 0.0, 0.0, 4.0, 4.0, tileSize = 4)
    val tile = TileOps.computeTile(df, gm, scheme, 0, 0, 0, "v")
    assert(tile.length == 16)
    // top row (y=3.5, j=3): 30, 31, 32, 33
    assert(tile.slice(0, 4).toSeq == Seq(30.0, 31.0, 32.0, 33.0))
    // bottom row (j=0): 0..3
    assert(tile.slice(12, 16).toSeq == Seq(0.0, 1.0, 2.0, 3.0))
    // the hole: j=1 → py=2, i=1 → px=1
    assert(tile(2 * 4 + 1).isNaN)
  }

  test("ComputedLevels: lazy memoized per-level views") {
    import spark.implicits._
    var calls = 0
    val gm = GridMapping(8, 8, 0.0, 0.0, 1.0, 1.0)
    val rows = for (j <- 0 until 8; i <- 0 until 8)
      yield (t0, j + 0.5, i + 0.5, 1.0)
    val base = Cube(rows.toDF("time", "y", "x", "v"), gm)
    val ml = new graft.sources.ComputedLevels(base, 2, (c, l) => {
      calls += 1
      graft.operators.SubsampleOps.decimate(c, l)
    })
    assert(ml.numLevels == 3)
    assert(ml.level(0).gm.width == 8)
    assert(ml.level(2).df.count() == 4)
    ml.level(2) // memoized
    assert(calls == 1)
    assert(ml.levelForResolution(2.0) == 1)
    intercept[IllegalArgumentException](ml.level(5))
  }

  test("computeCubeAttrs recomputes CF coverage attributes") {
    import spark.implicits._
    val gm = GridMapping(4, 4, 0.0, 0.0, 1.0, 1.0)
    val cube = Cube(Seq(
      (t0, 0.5, 0.5, 1.0),
      (Timestamp.valueOf("2024-01-03 00:00:00"), 2.5, 3.5, 2.0)
    ).toDF("time", "y", "x", "v"), gm)
    val attrs = graft.operators.MaintenanceOps.computeCubeAttrs(cube)
    assert(attrs("geospatial_lon_min") == "0.5" && attrs("geospatial_lon_max") == "3.5")
    assert(attrs("time_coverage_start") == "2024-01-01T00:00:00Z")
    assert(attrs("geospatial_lat_resolution") == "1.0")
  }
}
