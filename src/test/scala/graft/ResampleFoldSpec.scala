package graft

import graft.sources.{CubeTruth, ZarrSource}
import graft.sources.zarr.ChunkStats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestDirs.tmpDir

/** The last resample_in_time methods re-expressed connector-first:
  * std/var as pushed moment partials, any/all as pushed square
  * extremes, first/last as a cross-guarded time fold + slice gather,
  * argmax/argmin as an extreme fold + value-predicate gather. Each is
  * pinned against the row-path methodAgg semantics. */
class ResampleFoldSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = GraftSession.builder("4").getOrCreate()
    s.conf.set("spark.sql.files.minPartitionNum", "100000")
    s
  }

  /** 4×4×6 cube, 1×2×3 chunks → 16 chunks; t in days. v dyadic with a
    * planted per-bucket max; w has NaN on its FIRST time slice so
    * first/last must skip to a later valid slice. */
  private def writeFixture(): String = {
    import spark.implicits._
    val t = Array(0.0, 1.0, 2.0, 3.0)
    val y = Array(10.0, 20.0, 30.0, 40.0)
    val x = Array.tabulate(6)(_ + 0.5)
    val df = (for { ti <- t; yi <- y; xi <- x } yield
      (ti, yi, xi,
        (ti * 64 + yi + xi * 4) / 4.0,
        if (ti == 0.0) Double.NaN
        else if (xi == 2.5) 0.0 else ti * 8 + yi / 2 + xi))
      .toSeq.toDF("t", "y", "x", "v", "w")
    val g = s"${tmpDir("rsfold")}/cube.zarr"
    ZarrSource.writeCubeVars(df, g, Seq("v", "w"),
      Seq("t" -> t, "y" -> y, "x" -> x), chunks = Seq(1, 2, 3))
    g
  }

  import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
  private def scanOf(df: DataFrame): BatchScanExec =
    df.queryExecution.sparkPlan.collectLeaves()
      .collectFirst { case b: BatchScanExec => b }.get

  private def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case d: Double => f"$d%.6f"
      case ts: java.sql.Timestamp => ts.toString
      case o => o
    }).sortBy(_.mkString("|")).map(_.toSeq).toSeq

  test("std/var/any/all fold from the connector and match methodAgg") {
    val g = writeFixture()
    val zc = spark.read.format("zarr").load(g)
    val q = graft.operators.TemporalOps.resampleInTimeNumeric(
      zc, "t", 86400.0, "2D",
      Seq("v" -> "std", "v" -> "var", "v" -> "any", "w" -> "all"))
    assert(q.queryExecution.executedPlan.toString.contains("ZarrVarAggScan"),
      q.queryExecution.executedPlan.toString.take(1200))
    // row-path truth through methodAgg over real timestamps
    val rows = CubeTruth.zarr(spark, g, Seq("v", "w"))
      .withColumn("ts", timestamp_seconds(col("t") * 86400.0))
    val truth = graft.operators.TemporalOps.resampleInTime(
      rows, "ts", "2D",
      Seq("v" -> "std", "v" -> "var", "v" -> "any", "w" -> "all"))
    assert(sortedRows(q) === sortedRows(truth))
  }

  test("first/last fold: cross-guarded time partial + pruned slice gather") {
    val g = writeFixture()
    val zc = spark.read.format("zarr").load(g)
    val q = graft.operators.TemporalOps.resampleFirstLastFold(
      zc, "t", 86400.0, "2D", Seq("v", "w"), last = false,
      extraKeys = Seq("y", "x"))
    // one-pass row-path truth: the same min_by/max_by semantics without
    // the two-phase gather
    val rows = CubeTruth.zarr(spark, g, Seq("v", "w"))
    val truth = graft.operators.TemporalOps.resampleInTimeNumeric(
      rows, "t", 86400.0, "2D", Seq("v" -> "first", "w" -> "first"),
      extraKeys = Seq("y", "x"))
    assert(sortedRows(q) === sortedRows(truth))
    // last over the NaN-leading w picks the valid trailing slice
    val ql = graft.operators.TemporalOps.resampleFirstLastFold(
      zc, "t", 86400.0, "1M", Seq("w"), last = true,
      extraKeys = Seq("y", "x"))
    val truthL = graft.operators.TemporalOps.resampleInTimeNumeric(
      rows, "t", 86400.0, "1M", Seq("w" -> "last"),
      extraKeys = Seq("y", "x"))
    assert(sortedRows(ql) === sortedRows(truthL))
    // the cross-guard partial itself folds per chunk
    val p1 = zc.groupBy(floor(col("t") / 2.0).as("b"))
      .agg(min(when(col("w").cast("double") <= lit(Double.PositiveInfinity),
        col("t"))).as("ft"))
    assert(p1.queryExecution.executedPlan.toString.contains("ZarrVarAggScan"))
    val got = p1.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got === Map(0L -> 1.0, 1L -> 2.0)) // t=0 slice is all-NaN w
  }

  test("argmax fold: extreme partial + value-gathered finish, sidecar-pruned") {
    val g = writeFixture()
    ChunkStats.analyze(spark, g)
    val zc = spark.read.format("zarr").load(g)
    val q = graft.operators.TemporalOps.resampleArgFold(
      zc, "t", 86400.0, "2D", "v", argmax = true, extraKeys = Seq("y"))
    val rows = CubeTruth.zarr(spark, g, Seq("v", "w"))
    val truth = graft.operators.TemporalOps.resampleInTimeNumeric(
      rows, "t", 86400.0, "2D", Seq("v" -> "argmax"), extraKeys = Seq("y"))
    assert(sortedRows(q) === sortedRows(truth))
    // phase 2 gathers with a consumed value predicate the sidecar prunes:
    // per (bucket, y) maxima all live at the last t of each bucket and
    // the top x-chunk — the candidate scan plans a strict chunk subset
    val exts = zc.groupBy(floor(col("t") / 2.0).as("b"), col("y"))
      .agg(max(when(col("v").cast("double") <= lit(Double.PositiveInfinity),
        col("v").cast("double"))).as("m"))
      .collect().map(_.getDouble(2)).distinct.toSeq
    val cand = zc.filter(col("v").isin(exts: _*))
    assert(scanOf(cand).inputRDD.getNumPartitions < 16)
    // argmin twin
    val qn = graft.operators.TemporalOps.resampleArgFold(
      zc, "t", 86400.0, "1M", "v", argmax = false)
    val truthN = graft.operators.TemporalOps.resampleInTimeNumeric(
      rows, "t", 86400.0, "1M", Seq("v" -> "argmin"))
    assert(sortedRows(qn) === sortedRows(truthN))
  }

  test("all-NaN buckets emit null rows — fold == row path unconditionally") {
    val g = writeFixture()
    val zc = spark.read.format("zarr").load(g)
    val rows = CubeTruth.zarr(spark, g, Seq("v", "w"))
    // w's t=0 slice is all-NaN; "1D" buckets make it an all-NaN BUCKET
    val qf = graft.operators.TemporalOps.resampleFirstLastFold(
      zc, "t", 86400.0, "1D", Seq("w"), last = false,
      extraKeys = Seq("y", "x"))
    val tf = graft.operators.TemporalOps.resampleInTimeNumeric(
      rows, "t", 86400.0, "1D", Seq("w" -> "first"),
      extraKeys = Seq("y", "x"))
    assert(sortedRows(qf) === sortedRows(tf)) // 4 buckets, t=0 all null
    assert(qf.filter(col("w_first").isNull).count() === 24L)
    val qa = graft.operators.TemporalOps.resampleArgFold(
      zc, "t", 86400.0, "1D", "w", argmax = true, extraKeys = Seq("y"))
    val ta = graft.operators.TemporalOps.resampleInTimeNumeric(
      rows, "t", 86400.0, "1D", Seq("w" -> "argmax"), extraKeys = Seq("y"))
    assert(sortedRows(qa) === sortedRows(ta))
    assert(qa.filter(col("w_argmax").isNull).count() === 4L)
  }

  test("any/all survive subnormal magnitudes (abs partials, no underflow)") {
    import spark.implicits._
    // 1e-160: the old squared form underflowed to 0 and read falsy
    val df = Seq(
      (0.0, 1e-160), (1.0, 0.0), // bucket 0: any=true, all=false
      (2.0, 1e-300), (3.0, 2e-308), // bucket 1: any=true, all=true
      (4.0, Double.NaN), (5.0, Double.NaN), // bucket 2: all-NaN -> null
      (6.0, 0.0), (7.0, 0.0) // bucket 3: any=false, all=false
    ).toDF("t", "v")
    val fold = graft.operators.TemporalOps.resampleInTimeNumeric(
      df, "t", 86400.0, "2D", Seq("v" -> "any", "v" -> "all"))
    val rows = df.withColumn("ts", timestamp_seconds(col("t") * 86400.0))
    val truth = graft.operators.TemporalOps.resampleInTime(
      rows, "ts", "2D", Seq("v" -> "any", "v" -> "all"))
    assert(sortedRows(fold) === sortedRows(truth))
    // and the abs form still folds below a connector scan
    val g = writeFixture()
    val zc = spark.read.format("zarr").load(g)
    val q = graft.operators.TemporalOps.resampleInTimeNumeric(
      zc, "t", 86400.0, "2D", Seq("v" -> "any", "w" -> "all"))
    assert(q.queryExecution.executedPlan.toString.contains("ZarrVarAggScan"),
      q.queryExecution.executedPlan.toString.take(1200))
  }

  test("gather guard: above the In-literal limit a broadcast semi-join gathers") {
    val g = writeFixture()
    val zc = spark.read.format("zarr").load(g)
    val base = graft.operators.TemporalOps.resampleFirstLastFold(
      zc, "t", 86400.0, "1D", Seq("v"), last = true, extraKeys = Seq("y"))
    val joined = graft.operators.TemporalOps.resampleFirstLastFold(
      zc, "t", 86400.0, "1D", Seq("v"), last = true, extraKeys = Seq("y"),
      inLiteralLimit = 1) // 4 gathered times > 1 -> semi-join path
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), plan.take(1500))
    assert(sortedRows(joined) === sortedRows(base))
    val aBase = graft.operators.TemporalOps.resampleArgFold(
      zc, "t", 86400.0, "2D", "v", argmax = true, extraKeys = Seq("y"))
    val aJoin = graft.operators.TemporalOps.resampleArgFold(
      zc, "t", 86400.0, "2D", "v", argmax = true, extraKeys = Seq("y"),
      inLiteralLimit = 1)
    assert(aJoin.queryExecution.executedPlan.toString.contains("LeftSemi"))
    assert(sortedRows(aJoin) === sortedRows(aBase))
  }

  test("resampleQuantileFold: exact per-bucket median/percentile == row path") {
    val g = writeFixture()
    val zc = spark.read.format("zarr").load(g)
    val rows = CubeTruth.zarr(spark, g, Seq("v", "w"))
    for ((vr, p) <- Seq(("v", 0.5), ("v", 0.9), ("w", 0.5), ("w", 0.25))) {
      val q = graft.operators.TemporalOps.resampleQuantileFold(
        zc, "t", 86400.0, "2D", vr, p, bins = 8)
      val vv = when(col(vr).cast("double") <= lit(Double.PositiveInfinity),
        col(vr).cast("double"))
      val truth = rows
        .groupBy(floor(col("t") / 2.0).as("__b"))
        .agg(percentile(vv, lit(p)).as("q"))
        .select(timestamp_seconds(col("__b") * 172800).as("t"), col("q"))
      assert(sortedRows(q) === sortedRows(truth), s"$vr p=$p")
    }
    // the histogram pass folds below the connector scan
    val v0 = col("v").cast("double")
    val hist = zc.filter(v0 >= 0.0 && v0 <= 100.0)
      .groupBy(floor(col("t") / 2.0).as("__b"),
        floor((v0 - 0.0) / 12.5).as("__bk"))
      .agg(count(lit(1)).as("__c"))
    assert(hist.queryExecution.executedPlan.toString.contains("ZarrVarAggScan"),
      hist.queryExecution.executedPlan.toString.take(900))
  }

  test("resampleQuantileFoldMulti: a quartile table shares the passes") {
    val g = writeFixture()
    val zc = spark.read.format("zarr").load(g)
    val ps = Seq(0.25, 0.5, 0.75)
    // pass sharing, proven by decoded cells: the quartile table must
    // decode about as much as ONE single-fraction call (pass 0 + pass 1
    // + its straddler rescan), not 3×
    val d0 = ZarrSource.decodedCells.get()
    val multi = graft.operators.TemporalOps.resampleQuantileFoldMulti(
      zc, "t", 86400.0, "2D", "v", ps, bins = 8).collect()
    val multiDecoded = ZarrSource.decodedCells.get() - d0
    // column-for-column equal to the single-fraction calls
    val d1 = ZarrSource.decodedCells.get()
    val singles = ps.map(p => graft.operators.TemporalOps
      .resampleQuantileFold(zc, "t", 86400.0, "2D", "v", p, bins = 8)
      .collect().map(r => r.getTimestamp(0) -> r.getDouble(1)).toMap)
    val singlesDecoded = ZarrSource.decodedCells.get() - d1
    assert(multiDecoded * 2 <= singlesDecoded,
      s"multi decoded $multiDecoded cells vs $singlesDecoded for singles")
    assert(multi.length === singles.head.size)
    multi.foreach { r =>
      val t = r.getTimestamp(0)
      ps.indices.foreach(i =>
        assert(r.getDouble(i + 1) === singles(i)(t), s"p=${ps(i)} t=$t"))
    }
    // all-NaN bucket: every fraction column null on w's t=0 slice
    val mw = graft.operators.TemporalOps.resampleQuantileFoldMulti(
      zc, "t", 86400.0, "1D", "w", Seq(0.25, 0.75), bins = 8)
    assert(mw.filter(col("w_percentile_25").isNull &&
      col("w_percentile_75").isNull).count() === 1L)
  }

  test("resampleQuantileFold: all-NaN buckets null; degenerate inputs") {
    import spark.implicits._
    val g = writeFixture()
    val zc = spark.read.format("zarr").load(g)
    // w's t=0 slice is all-NaN → the 1D bucket at t=0 must be a null row
    val q = graft.operators.TemporalOps.resampleQuantileFold(
      zc, "t", 86400.0, "1D", "w", 0.5, bins = 8)
    assert(q.count() === 4L)
    assert(q.filter(col("w_median").isNull).count() === 1L)
    val rows = CubeTruth.zarr(spark, g, Seq("v", "w"))
    val vv = when(col("w").cast("double") <= lit(Double.PositiveInfinity),
      col("w").cast("double"))
    val truth = rows.groupBy(floor(col("t") / 1.0).as("__b"))
      .agg(percentile(vv, lit(0.5)).as("w_median"))
      .select(timestamp_seconds(col("__b") * 86400).as("t"), col("w_median"))
    assert(sortedRows(q) === sortedRows(truth))
    // constant variable short-circuit
    val const = Seq((0.0, 5.5), (1.0, 5.5), (2.0, 5.5)).toDF("t", "v")
    val qc = graft.operators.TemporalOps.resampleQuantileFold(
      const, "t", 86400.0, "2D", "v", 0.5)
    assert(qc.collect().map(_.getDouble(1)).toSeq === Seq(5.5, 5.5))
    // empty input
    val empty = Seq.empty[(Double, Double)].toDF("t", "v")
    assert(graft.operators.TemporalOps.resampleQuantileFold(
      empty, "t", 86400.0, "2D", "v", 0.5).count() === 0L)
  }

  test("resampleQuantileFold: seeded adversarial doubles == Spark percentile") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // mixed magnitudes, negatives, NaN runs, duplicated values, a bucket
    // with a single row and a bucket that is entirely NaN
    val rows = (0 until 3000).map { i =>
      val t = (i % 10).toDouble
      val v =
        if (t == 7.0) Double.NaN
        else if (i % 41 == 0) Double.NaN
        else if (i % 13 == 0) 1e-300 * (rnd.nextInt(9) + 1)
        else if (i % 17 == 0) -1e12 + rnd.nextInt(1000)
        else math.rint(rnd.nextGaussian() * 1e6) / 32.0
      (t, v)
    } :+ ((11.0, 42.0)) // single-row bucket (2D bucket 5 holds only t=11)
    val df = rows.toDF("t", "v")
    for (p <- Seq(0.0, 0.25, 0.5, 0.9, 1.0)) {
      val q = graft.operators.TemporalOps.resampleQuantileFold(
        df, "t", 86400.0, "2D", "v", p, bins = 32)
      val vv = when(col("v").cast("double") <= lit(Double.PositiveInfinity),
        col("v").cast("double"))
      val truth = df.groupBy(floor(col("t") / 2.0).as("__b"))
        .agg(percentile(vv, lit(p)).as(q.columns(1)))
        .select(timestamp_seconds(col("__b") * 172800).as("t"),
          col(q.columns(1)))
      assert(sortedRows(q) === sortedRows(truth), s"p=$p")
    }
  }

  test("subsampleModeFold emits NaN for all-NaN blocks like ModeAgg") {
    import spark.implicits._
    import graft.cube.{Cube, GridMapping}
    // 1x4x4 grid, k=2 -> 4 blocks; block (0,0) all-NaN
    val y = Array.tabulate(4)(_ + 0.5)
    val x = Array.tabulate(4)(_ + 0.5)
    val df = (for { yi <- y; xi <- x } yield
      (0.0, yi, xi,
        if (yi < 2.0 && xi < 2.0) Double.NaN
        else math.floor(xi))).toSeq.toDF("t", "y", "x", "v")
    val gm = GridMapping(4, 4, 0.0, 0.0, 1.0, 1.0)
    val cube = Cube(df, gm, "t", "y", "x")
    val (fold, _) = graft.operators.SubsampleOps.subsampleModeFold(cube, 2, "v")
    val (agg, _) = graft.operators.SubsampleOps.subsample(
      cube, 2, Seq("v" -> "mode"))
    assert(sortedRows(fold) === sortedRows(agg))
    assert(fold.filter(isnan(col("v_mode"))).count() === 1L)
  }
}
