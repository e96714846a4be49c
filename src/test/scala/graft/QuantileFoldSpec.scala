package graft

import graft.operators.QuantileOps
import graft.sources.ZarrSource
import graft.sources.zarr.ChunkStats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import graft.TestDirs.tmpDir

/** Exact percentile/median THROUGH the connector — the last reference
  * aggregation method without a pushed form (xcube MUST_LOAD the whole
  * array for median, core/timeseries.py:40-47). Every data pass of
  * QuantileOps.quantileFold is a pushed chunk-foldable aggregate; over
  * an ANALYZEd store pass 0 and all single-bucket chunks answer from
  * the sidecar, and refinement rounds ≥ 2 touch ONLY the chunks
  * straddling a target bucket — proven here by corrupting every other
  * chunk payload. */
class QuantileFoldSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = GraftSession.builder("4").getOrCreate()
    s.conf.set("spark.sql.files.minPartitionNum", "100000")
    s
  }

  /** Spark's own exact percentile over the same rows — the row-path
    * truth quantileFold must match bit-for-bit. */
  private def rowTruth(df: DataFrame, vCol: String,
                       ps: Seq[Double]): Seq[(Double, Any)] = {
    val vv = when(col(vCol).cast("double") <= lit(Double.PositiveInfinity),
      col(vCol).cast("double"))
    ps.map { p =>
      val r = df.agg(percentile(vv, lit(p)).as("q")).head()
      (p, if (r.isNullAt(0)) null else r.getDouble(0))
    }
  }

  private def foldRows(q: DataFrame): Seq[(Double, Any)] =
    q.collect().map(r =>
      (r.getDouble(0), if (r.isNullAt(1)) null else r.getDouble(1)))
      .sortBy(_._1).toSeq

  test("fold == Spark percentile on mixed data with NaN, edges included") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vals = Seq.tabulate(5000) { i =>
      if (i % 37 == 0) Double.NaN
      else math.rint((rnd.nextGaussian() * 1000)) / 8.0
    }
    val df = vals.zipWithIndex.map { case (v, i) => (i.toDouble, v) }
      .toDF("t", "v")
    val ps = Seq(0.0, 0.25, 0.5, 0.9, 0.99, 1.0)
    val got = foldRows(QuantileOps.quantileFold(df, "v", ps,
      bins = 16, maxExactRows = 64))
    assert(got === rowTruth(df, "v", ps).sortBy(_._1))
  }

  test("degenerate inputs: empty, all-NaN, constant, single row") {
    import spark.implicits._
    val empty = Seq.empty[(Double, Double)].toDF("t", "v")
    assert(foldRows(QuantileOps.quantileFold(empty, "v", Seq(0.5)))
      === Seq((0.5, null)))
    val allNaN = Seq((0.0, Double.NaN), (1.0, Double.NaN)).toDF("t", "v")
    assert(foldRows(QuantileOps.quantileFold(allNaN, "v", Seq(0.5)))
      === Seq((0.5, null)))
    val const = Seq.tabulate(100)(i => (i.toDouble, 42.5)).toDF("t", "v")
    assert(foldRows(QuantileOps.quantileFold(const, "v", Seq(0.25, 0.75),
      maxExactRows = 8)) === Seq((0.25, 42.5), (0.75, 42.5)))
    val one = Seq((0.0, 3.25)).toDF("t", "v")
    assert(foldRows(QuantileOps.quantileFold(one, "v", Seq(0.0, 0.5, 1.0)))
      === Seq((0.0, 3.25), (0.5, 3.25), (1.0, 3.25)))
  }

  test("extreme magnitudes and subnormal spreads resolve exactly") {
    import spark.implicits._
    // huge ± range (round-1 width overflows → exact finish fallback)
    val wide = Seq(-1.6e308, -2.0, 0.0, 2.0, 1.6e308).zipWithIndex
      .map { case (v, i) => (i.toDouble, v) }.toDF("t", "v")
    assert(foldRows(QuantileOps.quantileFold(wide, "v", Seq(0.5)))
      === rowTruth(wide, "v", Seq(0.5)))
    // values one ulp apart: refinement bottoms out at lo == hi
    val base = 1.0
    val tight = Seq(base, Math.nextUp(base), Math.nextUp(Math.nextUp(base)))
      .zipWithIndex.map { case (v, i) => (i.toDouble, v) }.toDF("t", "v")
    assert(foldRows(QuantileOps.quantileFold(tight, "v", Seq(0.0, 0.5, 1.0),
      maxExactRows = 1)) === rowTruth(tight, "v", Seq(0.0, 0.5, 1.0)))
  }

  test("a 99-percentile table costs O(maxDepth) jobs, not O(ranks × maxDepth)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val df = Seq.tabulate(20000)(i => (i.toDouble, rnd.nextDouble() * 1e6))
      .toDF("t", "v").cache()
    df.count() // materialize outside the counted window
    val ps = (1 to 99).map(_ / 100.0)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val maxDepth = 12
      val got = foldRows(QuantileOps.quantileFold(df, "v", ps,
        bins = 16, maxExactRows = 64, maxDepth = maxDepth))
      Thread.sleep(1500) // listener bus is async; let job-start events drain
      // level-synchronous batching: pass 0 + one job per depth level +
      // the exact-finish level — every same-depth Hunt shares one job
      assert(jobs.get() <= maxDepth + 2,
        s"expected <= ${maxDepth + 2} jobs for 99 percentiles, ran ${jobs.get()}")
      // Spark's percentile interpolates lower·(1−f) + upper·f; the fold
      // uses DuckDB's delta form (the oracle-gate contract) — same order
      // statistics, last-ulp interpolation differences allowed here
      val want = rowTruth(df, "v", ps).sortBy(_._1)
      got.zip(want).foreach { case ((p1, g), (p2, w)) =>
        assert(p1 == p2)
        val (gv, wv) = (g.asInstanceOf[Double], w.asInstanceOf[Double])
        assert(math.abs(gv - wv) <= math.ulp(wv) * 4, s"p=$p1: $gv vs $wv")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    df.unpersist()
    ()
  }

  test("overflowing value range with many rows: bit-space bisection, no driver blowup") {
    import spark.implicits._
    // hi − lo overflows to +Inf and rows > maxExactRows: the old code
    // collected the FULL distinct-value histogram; now the hunt bisects
    // at the ordered-double midpoint until widths are finite
    val rnd = new scala.util.Random(3)
    val vals = Seq.tabulate(2000) { i =>
      val m = 1.0 + rnd.nextInt(1000) / 1000.0
      if (i % 2 == 0) -m * 1.6e308 else m * 1.5e307
    }
    val df = vals.zipWithIndex.map { case (v, i) => (i.toDouble, v) }
      .toDF("t", "v")
    val ps = Seq(0.1, 0.5, 0.9)
    val got = foldRows(QuantileOps.quantileFold(df, "v", ps,
      bins = 16, maxExactRows = 50))
    assert(got === rowTruth(df, "v", ps).sortBy(_._1))
  }

  test("degenerate refinement caps the exact collect and errors loudly") {
    import spark.implicits._
    // maxDepth = 0 forces the exact finish on the root interval; 70k
    // distinct values exceed the 2^16 cap → loud error, never an
    // unbounded collect
    val df = spark.range(70000L)
      .select(col("id").cast("double").as("t"),
        (col("id").cast("double") * 1.5).as("v"))
    val ex = intercept[IllegalArgumentException] {
      QuantileOps.quantileFold(df, "v", Seq(0.5),
        bins = 16, maxExactRows = 16, maxDepth = 0).collect()
    }
    assert(ex.getMessage.contains("raise maxDepth"))
  }

  test("seeded fuzz: batched level walk == Spark percentile across shapes") {
    import spark.implicits._
    // adversarial shapes for the level-synchronous rank bookkeeping:
    // heavy duplicates (many ranks land in one value), tight clusters
    // (many hunts collapse to ulp-wide intervals), mixed magnitudes,
    // and NaN contamination — each at several ps so levels carry MANY
    // hunts through the batched job
    val ps = Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.97, 1.0)
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed)
      val vals = Seq.tabulate(3000) { i =>
        seed % 3 match {
          case 0 => // duplicates: 20 distinct values
            (rnd.nextInt(20) * 7).toDouble
          case 1 => // tight clusters around powers of two + NaN
            if (i % 41 == 0) Double.NaN
            else math.pow(2.0, rnd.nextInt(8)) * (1 + rnd.nextInt(5) * 1e-15)
          case _ => // mixed magnitudes incl. subnormal-ish and huge
            val m = rnd.nextInt(4) match {
              case 0 => 1e-300
              case 1 => 1.0
              case 2 => 1e150
              case _ => 1e300
            }
            (rnd.nextDouble() - 0.5) * m
        }
      }
      val df = vals.zipWithIndex.map { case (v, i) => (i.toDouble, v) }
        .toDF("t", "v")
      val got = foldRows(QuantileOps.quantileFold(df, "v", ps,
        bins = 8, maxExactRows = 32, maxDepth = 16))
      val want = rowTruth(df, "v", ps).sortBy(_._1)
      got.zip(want).foreach { case ((p1, g), (p2, w)) =>
        assert(p1 == p2)
        (g, w) match {
          case (null, null) =>
          case (gv: java.lang.Double, wv: java.lang.Double) =>
            // order statistics must be identical; interpolation may
            // differ by an ulp (delta vs weighted form — see the
            // 99-percentile test)
            assert(math.abs(gv - wv) <= math.ulp(wv.doubleValue()) * 4 ||
              (gv.isNaN && wv.isNaN), s"seed=$seed p=$p1: $gv vs $wv")
          case other => fail(s"seed=$seed p=$p1: $other")
        }
      }
    }
  }

  /** 4096-cell 32×128 cube in 1×128 chunks (one chunk per row),
    * v = row-major ordinal / 64 — monotone, so chunk value ranges are
    * disjoint AND (with 8 round-1 buckets) no chunk straddles a bucket
    * edge. ANALYZEd into the stats sidecar. */
  private def writeMonotone(): String = {
    import spark.implicits._
    val y = Array.tabulate(32)(_ + 0.5)
    val x = Array.tabulate(128)(_ + 0.5)
    val df = (for { yi <- y; xi <- x } yield
      (yi, xi, ((yi - 0.5) * 128 + (xi - 0.5)) / 64.0)).toSeq
      .toDF("y", "x", "v")
    val g = s"${tmpDir("qfold")}/cube.zarr"
    ZarrSource.writeCubeVars(df, g, Seq("v"), Seq("y" -> y, "x" -> x),
      chunks = Seq(1, 128))
    ChunkStats.analyze(spark, g)
    g
  }

  test("connector: refinement rounds read ONLY straddling chunks (corruption proof)") {
    val g = writeMonotone()
    val zc = spark.read.format("zarr").load(g)
    // the median's two order statistics (ranks 2048, 2049 of 4096) live
    // at values 31.984375 / 32.0 — chunks 15 and 16. Round 1 (8 buckets)
    // answers every SINGLE-bucket chunk from the sidecar; only chunk 31
    // (whose max value 63.984375 divides to exactly 8.0 and spills into
    // bucket 8) straddles and is read. Later rounds touch only buckets
    // 3 and 4 = chunks 12..19. Corrupt the other 23 chunks: the exact
    // median must still come back.
    new java.io.File(s"$g/v").listFiles()
      .filter(f => f.getName.head.isDigit)
      .filter { f =>
        val c = f.getName.takeWhile(_ != '.').toInt
        (c < 12 || c > 19) && c != 31
      }
      .foreach(f => Files.write(f.toPath, Array[Byte](9, 9, 9)))
    val got = foldRows(QuantileOps.quantileFold(zc, "v", Seq(0.5),
      bins = 8, maxExactRows = 200))
    assert(got === Seq((0.5, (31.984375 + 32.0) / 2)))
  }

  test("connector: every pass plans as a pushed fold (plan audit)") {
    val g = writeMonotone()
    val zc = spark.read.format("zarr").load(g)
    val v0 = col("v").cast("double")
    val vv = when(v0 <= lit(Double.PositiveInfinity), v0)
    // pass 0 shape: guarded count/min/max
    val p0 = zc.agg(count(vv), min(vv), max(vv))
    assert(p0.queryExecution.executedPlan.toString.contains("ZarrVarAggScan"),
      p0.queryExecution.executedPlan.toString.take(800))
    // refinement shape: consumed interval + pushed floor bucket key
    val p1 = zc.filter(v0 >= 8.0 && v0 <= 16.0)
      .groupBy(floor((v0 - lit(8.0)) / lit(1.0)).as("b"))
      .agg(count(lit(1)).as("c"))
    val s1 = p1.queryExecution.executedPlan.toString
    assert(s1.contains("ZarrVarAggScan"), s1.take(800))
    assert(!s1.contains("Filter ("), s1.take(800)) // interval fully consumed
    // exact-finish shape: consumed interval + raw-value key
    val p2 = zc.filter(v0 >= 31.0 && v0 <= 33.0)
      .groupBy(v0.as("v")).agg(count(lit(1)).as("c"))
    assert(p2.queryExecution.executedPlan.toString.contains("ZarrVarAggScan"),
      p2.queryExecution.executedPlan.toString.take(800))
    // and the interval prunes: 2 of 32 chunks planned for the rescan
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val scan = p2.queryExecution.sparkPlan.collectLeaves()
      .collectFirst { case b: BatchScanExec => b }.get
    assert(scan.inputRDD.getNumPartitions <= 3,
      s"expected a straddling-chunks-only rescan, " +
        s"got ${scan.inputRDD.getNumPartitions} partitions")
  }

  test("single-bucket chunks answer histogram partials from the sidecar") {
    val g = writeMonotone()
    // corrupt every chunk except 31: an 8-bucket histogram over the
    // analyzed monotone variable is bucket-constant per chunk, so the
    // round-1 histogram answers all 31 single-bucket chunks from their
    // moments with zero chunk IO. Chunk 31 is the one straddler — its
    // max value 63.984375 divides to exactly 8.0, spilling one cell
    // into bucket 8 — and is the only payload actually decoded.
    new java.io.File(s"$g/v").listFiles()
      .filter(f => f.getName.head.isDigit)
      .filter(f => f.getName.takeWhile(_ != '.').toInt != 31)
      .foreach(f => Files.write(f.toPath, Array[Byte](9, 9, 9)))
    val zc = spark.read.format("zarr").load(g)
    val v0 = col("v").cast("double")
    val w = (63.984375 - 0.0) / 8
    val hist = zc.filter(v0 >= 0.0 && v0 <= 63.984375)
      .groupBy(floor((v0 - lit(0.0)) / lit(w)).as("b"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hist === ((0 until 7).map(b => b.toLong -> 512L).toMap
      + (7L -> 511L) + (8L -> 1L)))
  }

  test("pass 0 answers from the inline sidecar: constant analyzed store survives total corruption") {
    import spark.implicits._
    val y = Array.tabulate(8)(_ + 0.5)
    val x = Array.tabulate(16)(_ + 0.5)
    val df = (for { yi <- y; xi <- x } yield (yi, xi, 42.5)).toSeq
      .toDF("y", "x", "v")
    val g = s"${tmpDir("qfoldc")}/cube.zarr"
    ZarrSource.writeCubeVars(df, g, Seq("v"), Seq("y" -> y, "x" -> x),
      chunks = Seq(1, 16))
    ChunkStats.analyze(spark, g)
    // corrupt EVERY chunk payload: pass 0 (guarded count/min/max) must
    // come from the driver-resident inline sidecar — zero Spark jobs,
    // zero chunk IO — and lo == hi then short-circuits every
    // refinement round, so NO pass ever touches a payload
    new java.io.File(s"$g/v").listFiles()
      .filter(_.getName.head.isDigit)
      .foreach(f => Files.write(f.toPath, Array[Byte](9, 9, 9)))
    val zc = spark.read.format("zarr").load(g)
    assert(foldRows(QuantileOps.quantileFold(zc, "v", Seq(0.25, 0.9)))
      === Seq((0.25, 42.5), (0.9, 42.5)))
    // the driver-side fast path applies ONLY to a bare relation: any
    // intervening operator declines it (the pushed-agg job — itself
    // sidecar-answered where chunks are fully admitted — runs instead)
    assert(graft.sources.zarr.ZarrScan.bareMetaOf(zc).isDefined)
    assert(graft.sources.zarr.ZarrScan
      .bareMetaOf(zc.filter(col("y") <= 100.0)).isEmpty)
    assert(graft.sources.zarr.ZarrScan.bareMetaOf(zc.select("v")).isEmpty)
  }

  test("groupedQuantileFold caps driver-side group cardinality loudly") {
    import spark.implicits._
    val df = Seq.tabulate(40)(i => (i % 10, i.toDouble)).toDF("g", "v")
    val ex = intercept[IllegalArgumentException] {
      graft.operators.TemporalOps.groupedQuantileFold(
        df, Seq("g"), "v", Seq(0.5), maxGroups = 4).collect()
    }
    assert(ex.getMessage.contains("groups"))
    // at the cap exactly, the COMPLETE group set still returns
    val ok = graft.operators.TemporalOps.groupedQuantileFold(
      df, Seq("g"), "v", Seq(0.5), maxGroups = 10)
    assert(ok.count() == 10)
  }

  test("quiet pins ride a cloned session: plan sees them, the root " +
    "session conf is never mutated") {
    import spark.implicits._
    val pins = Map("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "1")
    val df = Seq.tabulate(200)(i => (i % 7, i.toDouble)).toDF("k", "v")
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    val q = org.apache.spark.sql.graft.ConfBridge.withOverrides(
      df.groupBy("k").count(), pins)
    assert(q.rdd.getNumPartitions === 1,
      "pinned plan must shuffle to 1 partition")
    assert(!q.queryExecution.executedPlan.toString
      .contains("AdaptiveSparkPlan"), "pinned plan must not be adaptive")
    assert(q.collect().length === 7, "rerooted plan returns the same rows")
    // the twin is cached — one clone per (session, pins) pair
    assert(org.apache.spark.sql.graft.ConfBridge.twinSession(spark, pins)
      eq org.apache.spark.sql.graft.ConfBridge.twinSession(spark, pins))
    // the root session is untouched: conf intact, plans still adaptive
    assert(spark.conf.get("spark.sql.shuffle.partitions") === before)
    assert(spark.conf.get("spark.sql.adaptive.enabled") === aqeBefore)
    val outside = df.groupBy($"k" + 1).count()
    outside.collect()
    assert(outside.queryExecution.executedPlan.toString
      .contains("AdaptiveSparkPlan"))
  }
}
