package graftbench

import graft.cube.{Cube, TilingScheme}
import graft.gen.{CubeConfig, CubeGenerator}
import graft.operators._
import graft.sources.{LevelStore, ZarrSource}
import graft.streaming.TimeSliceOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** What one run hands a workload. `dir` is the run's private data
  * directory inside the checkout. */
final case class Ctx(spark: SparkSession, seed: Long, dir: String)

/** What a measured op hands back: the work units it did, and the check of
  * its result, which the harness runs after the op's timing has ended. A
  * check throws [[CheckFailed]] when the result is wrong. */
final case class Done(work: Double, check: () => Unit = () => ())

/** One measured operation: `kind` and `key` identify the request (the key
  * drives the repeat share); `run` does the work. */
final case class Op(kind: String, key: String, run: Trace => Done, endsCycle: Boolean = true)

final class CheckFailed(msg: String) extends Exception(msg)

object Check {
  def apply(ok: Boolean, what: => String): Unit = if (!ok) throw new CheckFailed(what)
  def eq(got: Double, want: Double, what: => String): Unit =
    apply(got == want || (got.isNaN && want.isNaN), s"$what: got $got, want $want")
  def near(got: Double, want: Double, tol: Double, what: => String): Unit =
    apply(math.abs(got - want) <= tol, s"$what: got $got, want $want (tol $tol)")
  def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
}

/** A seeded workload: `setup` writes its inputs through the program (run
  * several times, the last one kept) and returns the check of what it
  * wrote, which the harness runs untimed after the last set-up; `ops`
  * yields an endless seeded op stream made of cycles with a fixed mix of
  * op kinds; a measured window always ends on a cycle boundary, so every
  * run measures the same mix. */
trait Workload {
  def setup(dir: String): () => Unit
  def ops(stream: Rng): Iterator[Op]
  /** Op kinds whose latencies form the latency distribution. */
  def latencyKinds: Set[String]
  /** Unit of work counted by `work_per_s`. */
  def workUnit: String
  /** Bytes the program stored per unit of its output (`stored_bytes_per_item`),
    * known once a set-up check or an op check has measured them. */
  def storedBytesPerItem: Double
  def info: Map[String, Any] = Map.empty
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "serve" => new Serve(ctx)
    case "ingest" => new Ingest(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
  val names: Seq[String] = Seq("serve", "ingest")

  def writeCube(spec: CubeSpec, df: DataFrame, group: String): Unit =
    ZarrSource.writeCubeVars(df, group, Seq("a", "b"), spec.dims, spec.chunks)

  def openZarr(spark: SparkSession, trace: Trace, group: String): DataFrame =
    trace.timed("sources.open") { spark.read.format("zarr").load(group) }._1

  /** Driver-side grid planning a server does per request (control: should
    * stay negligible). */
  def planCube[T](trace: Trace)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = trace.span("cube.plan")(body)
    trace.sample("cube.plan_us", (System.nanoTime() - t0) / 1e3)
    r
  }

  def dirBytes(path: String): (Long, Int) = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try {
      val fs = files.filter(java.nio.file.Files.isRegularFile(_)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
      (fs.map(java.nio.file.Files.size).sum, fs.length)
    } finally files.close()
  }

  def copyTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val files = java.nio.file.Files.walk(src)
    try files.forEach { f =>
      val dst = java.nio.file.Paths.get(to).resolve(src.relativize(f).toString)
      if (java.nio.file.Files.isDirectory(f)) java.nio.file.Files.createDirectories(dst)
      else java.nio.file.Files.copy(f, dst)
    } finally files.close()
  }

  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val files = java.nio.file.Files.walk(p)
      try files.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
      finally files.close()
    }
  }

  /** A catalog of keys visited with Zipf-skewed popularity: the seeded
    * permutation decides which keys are hot. */
  final class Skewed[K](keys: IndexedSeq[K], s: Double, perm: Rng) {
    private val ranked = perm.shuffle(keys)
    private val zipf = new Zipf(ranked.length, s)
    def draw(r: Rng): K = ranked(zipf.sample(r))
  }
}

import Workload._

// =================================================================== serve

/** Closed loop, one client: a seeded Zipf-skewed mix of five request kinds
  * over a Zarr cube and its `.levels` pyramid. */
final class Serve(ctx: Ctx) extends Workload {
  import ctx.spark
  val spec: CubeSpec = CubeSpec(ctx.seed, nt = 4, ny = 180, nx = 360, res = 1.0, chunkY = 90, chunkX = 90)
  private val gm = spec.gm
  private val scheme = TilingScheme.geographic
  private var group = ""
  private var levels = ""
  val latencyKinds: Set[String] = Set("tile", "timeseries", "stats", "extract", "overview")
  val workUnit = "requests"
  var storedBytesPerItem: Double = Double.NaN

  def setup(dir: String): () => Unit = {
    group = s"$dir/cube.zarr"
    levels = s"$dir/cube.levels"
    writeCube(spec, spec.cellsDf(spark), group)
    val gms = LevelStore.writeLevels(Cube(spec.cellsDf(spark).select("time", "y", "x", "a"), gm), levels, 2)
    () => {
      // bytes of the cube and its pyramid per cell of the cube
      storedBytesPerItem = (dirBytes(group)._1 + dirBytes(levels)._1).toDouble / spec.cells
      Check(gms.length == 3, s"set-up: ${gms.length} pyramid levels")
    }
  }

  // ---- request catalogs, fixed by the seed
  private val cat = new Rng(ctx.seed ^ 0x5E7E)
  private val vars = IndexedSeq("a", "b")
  private val tiles = for {
    level <- IndexedSeq(1, 2)
    tx <- 0L until scheme.numTilesX(level); ty <- 0L until scheme.numTilesY(level)
    t <- 0 until spec.nt; v <- vars
  } yield (level, tx, ty, t, v)
  private val polys = IndexedSeq.fill(48) {
    val (w, h) = (8 + cat.nextInt(16), 8 + cat.nextInt(16))
    Poly.quad(cat, spec, cat.nextInt(spec.nx - w), cat.nextInt(spec.ny - h), w, h)
  }
  private val rects = IndexedSeq.fill(48) {
    val (w, h) = (4 + cat.nextInt(40), 4 + cat.nextInt(30))
    val (i0, j0) = (cat.nextInt(spec.nx - w), cat.nextInt(spec.ny - h))
    (i0, i0 + w, j0, j0 + h)
  }
  private val pointSets = IndexedSeq.fill(32) {
    IndexedSeq.fill(8)((spec.xOf(cat.nextInt(spec.nx)) + 0.37 * (cat.nextDouble() - 0.5),
      spec.yOf(cat.nextInt(spec.ny)) + 0.37 * (cat.nextDouble() - 0.5)))
  }
  private val regions = IndexedSeq.fill(16) {
    val (bw, bh) = (4 + cat.nextInt(12), 2 + cat.nextInt(8)) // in 4-cell blocks
    val (b0, c0) = (cat.nextInt(spec.nx / 4 - bw), cat.nextInt(spec.ny / 4 - bh))
    (b0 * 4, (b0 + bw) * 4, c0 * 4, (c0 + bh) * 4)
  }
  private val tileCat = new Skewed(tiles, 1.1, cat.fork(1))
  private val tsCat = new Skewed(for (p <- polys.indices; v <- vars) yield (p, v), 1.1, cat.fork(2))
  private val statCat = new Skewed(
    for (r <- rects.indices; t <- 0 until spec.nt; v <- vars) yield (r, t, v), 1.1, cat.fork(3))
  private val extractCat = new Skewed(
    for (p <- pointSets.indices; t <- 0 until spec.nt) yield (p, t), 1.1, cat.fork(4))
  private val overviewCat = new Skewed(
    for (g <- regions.indices; t <- 0 until spec.nt) yield (g, t), 1.1, cat.fork(5))
  private val polyCells = polys.map(Poly.cellsInside(_, spec))

  private def cube(trace: Trace): Cube = Cube(openZarr(spark, trace, group), gm)
  private def atTime(t: Int): Column = col("time") === spec.tOf(t)

  /** Requests per kind in each cycle of 20, in seeded order. */
  val Mix: Seq[(String, Int)] =
    Seq("tile" -> 7, "timeseries" -> 3, "stats" -> 4, "extract" -> 3, "overview" -> 3)

  def ops(stream: Rng): Iterator[Op] = Iterator.continually {
    val kinds = stream.shuffle(Mix.flatMap { case (k, n) => Seq.fill(n)(k) }.toIndexedSeq)
    kinds.zipWithIndex.map { case (kind, n) =>
      val op = kind match {
        case "tile" => tileOp(tileCat.draw(stream))
        case "timeseries" => seriesOp(tsCat.draw(stream))
        case "stats" => statsOp(statCat.draw(stream))
        case "extract" => extractOp(extractCat.draw(stream))
        case _ => overviewOp(overviewCat.draw(stream))
      }
      op.copy(endsCycle = n == kinds.length - 1)
    }
  }.flatten

  private def tileOp(k: (Int, Long, Long, Int, String)): Op = {
    val (level, tx, ty, t, v) = k
    Op("tile", s"tile/$level/$tx/$ty/$t/$v", trace => {
      val c = cube(trace)
      val (x1, y1, x2, y2) = planCube(trace) {
        val e = scheme.tileExtent(level, tx, ty)
        require(gm.ijBboxFromXyBbox(e._1, e._2, e._3, e._4).nonEmpty, s"tile $k outside the cube")
        e
      }
      val (tile, _) = trace.timed("operators.tile") {
        TileOps.computeTile(c.df.filter(atTime(t)), gm, scheme, level, tx, ty, v)
      }
      val (png, _) = trace.timed("operators.render") {
        TileOps.renderPng(tile, scheme.tileSize, scheme.tileSize, 0.0, 4.0)
      }
      val got = tile.filterNot(_.isNaN)
      trace.add("sources.result_rows", got.length)
      Done(1.0, () => {
        val is = (0 until spec.nx).filter { i => val x = spec.xOf(i); x >= x1 && x < x2 }
        val js = (0 until spec.ny).filter { j => val y = spec.yOf(j); y >= y1 && y < y2 }
        val want = spec.rectSum(v, t, is.head, is.last + 1, js.head, js.last + 1)
        Check(got.length == is.length * js.length, s"tile $k: ${got.length} cells")
        Check.eq(got.sum, want, s"tile $k sum")
        Check(png.length > 8 && png(1) == 'P' && png(2) == 'N' && png(3) == 'G', s"tile $k: not a PNG")
      })
    })
  }

  private def seriesOp(k: (Int, String)): Op = {
    val (p, v) = k
    Op("timeseries", s"ts/$p/$v", trace => {
      planCube(trace) { val (a, b, c, d) = polys(p).bbox; gm.ijBboxFromXyBbox(a, b, c, d) }
      val (rows, _) = trace.timed("operators.timeseries") {
        TimeSeriesOps.getTimeSeries(cube(trace), v, Some(polys(p).wkt),
          Seq("mean", "count"), clipToBbox = true).collect()
      }
      trace.add("sources.result_rows", rows.length)
      Done(1.0, () => {
        val inside = polyCells(p)
        Check(rows.length == spec.nt, s"ts $k: ${rows.length} steps")
        rows.foreach { r =>
          val t = (r.getAs[Double]("time") - spec.day0).toInt
          val sum = inside.map { case (i, j) => spec.value(v, t, j, i) }.sum
          Check(r.getAs[Long](s"${v}_count") == inside.length, s"ts $k t=$t count")
          Check.eq(r.getAs[Double](s"${v}_mean"), sum / inside.length, s"ts $k t=$t mean")
        }
      })
    })
  }

  private def statsOp(k: (Int, Int, String)): Op = {
    val (ri, t, v) = k
    val (i0, i1, j0, j1) = rects(ri)
    Op("stats", s"stats/$ri/$t/$v", trace => {
      val (x1, y1) = (spec.xOf(i0) - 0.5 * spec.res, spec.yOf(j0) - 0.5 * spec.res)
      val (x2, y2) = (spec.xOf(i1) - 0.5 * spec.res, spec.yOf(j1) - 0.5 * spec.res)
      planCube(trace)(gm.ijBboxFromXyBbox(x1, y1, x2, y2))
      val c = cube(trace)
      val (rows, _) = trace.timed("operators.stats") {
        StatsOps.statistics(c.df.filter(atTime(t) &&
          col("x") >= x1 && col("x") < x2 && col("y") >= y1 && col("y") < y2), v).collect()
      }
      trace.add("sources.result_rows", rows.length)
      Done(1.0, () => {
        val vals = for (j <- j0 until j1; i <- i0 until i1) yield spec.value(v, t, j, i)
        val n = vals.length
        val mean = vals.sum / n
        val std = math.sqrt(vals.map(x => (x - mean) * (x - mean)).sum / (n - 1))
        val r = rows.head
        Check(r.getAs[Long]("n") == n, s"stats $k n")
        Check.eq(r.getAs[Double]("v_min"), vals.min, s"stats $k min")
        Check.eq(r.getAs[Double]("v_max"), vals.max, s"stats $k max")
        Check.near(r.getAs[Double]("v_mean"), Check.round6(mean), 1e-9, s"stats $k mean")
        Check.near(r.getAs[Double]("v_std"), std, 2e-6, s"stats $k std")
      })
    })
  }

  private def extractOp(k: (Int, Int)): Op = {
    val (p, t) = k
    Op("extract", s"extract/$p/$t", trace => {
      import spark.implicits._
      val pts = pointSets(p).zipWithIndex.map { case ((x, y), id) => (id, x, y) }.toDF("id", "lon", "lat")
      val (rows, _) = trace.timed("operators.extract") {
        val indexed = ExtractOps.pointIndexes(pts, gm, "lon", "lat")
        val cells = ExtractOps.pruneCellsForIndexes(cube(trace).df.filter(atTime(t)), gm, indexed)
          .select(gm.iExpr(col("x")).as("i"), gm.jExpr(col("y")).as("j"), col("a"), col("b"))
        ExtractOps.valuesForIndexes(indexed, cells, Seq("a", "b")).collect()
      }
      trace.add("sources.result_rows", rows.length)
      Done(1.0, () => {
        Check(rows.length == pointSets(p).length, s"extract $k: ${rows.length} rows")
        rows.foreach { r =>
          val (x, y) = pointSets(p)(r.getAs[Int]("id"))
          val (i, j) = (spec.iOf(x), spec.jOf(y))
          Check.eq(r.getAs[Double]("a"), spec.a(t, j, i), s"extract $k a at ($x, $y)")
          Check.eq(r.getAs[Double]("b"), spec.b(t, j, i), s"extract $k b at ($x, $y)")
        }
      })
    })
  }

  /** A 4×4 block mean over the pyramid's base level: `PyramidRewrite`
    * should retarget the scan to L2. */
  private def overviewOp(k: (Int, Int)): Op = {
    val (g, t) = k
    val (i0, i1, j0, j1) = regions(g)
    Op("overview", s"overview/$g/$t", trace => {
      val (x1, x2) = (spec.xOf(i0) - 0.5, spec.xOf(i1) - 0.5)
      val (y1, y2) = (spec.yOf(j0) - 0.5, spec.yOf(j1) - 0.5)
      val (base, _) = trace.timed("sources.open")(LevelStore.openLevel(spark, levels, 0))
      val df = base.filter(atTime(t) && col("x") >= x1 && col("x") < x2 && col("y") >= y1 && col("y") < y2)
        .groupBy(floor((col("x") - lit(-180.0)) / 4.0).cast("long").as("bi"),
          floor((col("y") - lit(-90.0)) / 4.0).cast("long").as("bj"))
        .agg(avg(col("a")).as("a"))
      val (rows, _) = trace.timed("operators.overview")(df.collect())
      trace.add("sources.result_rows", rows.length)
      Done(1.0, () => {
        if (trace.enabled) {
          val fired = Trace.scans(df.queryExecution.executedPlan).exists(_._3.exists(_ > 0))
          trace.sampleAlways("plans.pyramid_rewrite_fired", if (fired) 1.0 else 0.0)
        }
        Check(rows.length == (i1 - i0) / 4 * ((j1 - j0) / 4), s"overview $k: ${rows.length} blocks")
        rows.foreach { r =>
          val (bi, bj) = (r.getAs[Long]("bi").toInt * 4, r.getAs[Long]("bj").toInt * 4)
          Check.eq(r.getAs[Double]("a"), spec.rectSum("a", t, bi, bi + 4, bj, bj + 4) / 16,
            s"overview $k block ($bi, $bj)")
        }
      })
    })
  }
}

// ================================================================== ingest

/** Generate a cube from a seeded daily input, write it with chunk
  * statistics, build its pyramid, then append single time slices through
  * the streaming Zarr writer, each followed by a read of the new slice. */
final class Ingest(ctx: Ctx) extends Workload {
  import ctx.spark
  /** The daily input at 1°; the generated cube is its 2-day, 2×2 mean. */
  val input: CubeSpec = CubeSpec(ctx.seed, nt = 4, ny = 180, nx = 360, res = 1.0, chunkY = 90, chunkX = 90)
  /** The generated grid; its time steps are the 2-day bucket starts. */
  val out: CubeSpec = CubeSpec(ctx.seed ^ 0x1A, nt = 2, ny = 90, nx = 180, res = 2.0, chunkY = 45, chunkX = 90)
  private val outDims = ("time" -> Array(out.day0.toDouble, out.day0 + 2.0)) +: out.dims.tail
  val appends = 3
  private var inDir = ""
  private var slicesDir = ""
  val latencyKinds: Set[String] = Set("append")
  val workUnit = "cells"
  /** Bytes of the generated Zarr group per generated cell. */
  var storedBytesPerItem: Double = Double.NaN
  override def info: Map[String, Any] = Map("input_cells" -> input.cells, "generated_cells" -> out.cells,
    "appends_per_cycle" -> appends, "append_cells" -> out.ny * out.nx)

  private val sliceSchema = StructType(Seq("time", "y", "x", "a").map(StructField(_, DoubleType)))
  private def sliceDay(k: Int): Double = out.tOf(0) + 2 * out.nt + k
  /** Appended slice k carries the output grid's `a` formula at time step
    * SliceStep + k. */
  private val SliceStep = 100

  /** Writes the daily input as a Zarr cube through the program, and the
    * slice files the streaming appends pick up. */
  def setup(dir: String): () => Unit = {
    inDir = s"$dir/input.zarr"
    slicesDir = s"$dir/slices"
    writeCube(input, input.cellsDf(spark), inDir)
    (0 to appends).foreach { k =>
      out.cellsDf(spark, SliceStep + k, SliceStep + k + 1)
        .select(lit(sliceDay(k)).as("time"), col("y"), col("x"), col("a"))
        .coalesce(1).write.mode("overwrite").parquet(s"$slicesDir/$k")
    }
    // the generate op's check reads every input cell through its sums
    () => ()
  }

  private var cycle = 0

  /** One cycle: generate + write, levels, first slice (creates the
    * appended group), then `appends` timed appends. */
  def ops(stream: Rng): Iterator[Op] = Iterator.continually {
    deleteTree(s"${ctx.dir}/cycle-$cycle")
    cycle += 1
    val cdir = s"${ctx.dir}/cycle-$cycle"
    val group = s"$cdir/gen.zarr"
    val streamDir = s"$cdir/stream"
    val appended = s"$cdir/appended/cube.zarr"
    Iterator(generateOp(group), levelsOp(group, s"$cdir/gen.levels")).map(_.copy(endsCycle = false)) ++
      (0 to appends).iterator.map(k => appendOp(k, streamDir, appended).copy(endsCycle = k == appends))
  }.flatten

  private def generateOp(group: String): Op = Op("generate_write", "generate_write", trace => {
    trace.timed("sources.write") {
      val (raw, _) = trace.timed("sources.open") {
        spark.read.format("zarr").load(inDir).withColumn("time", timestamp_seconds(col("time") * 86400.0))
      }
      val (gen, _) = trace.timed("gen.generate") {
        CubeGenerator.generate(Cube(raw, input.gm),
          CubeConfig(varNames = Some(Seq("a", "b")), timePeriod = Some("2D"), spatialK = Some(2)))
      }
      val df = gen.df.select((unix_seconds(col("time")) / 86400.0).as("time"), col("y"), col("x"), col("a"), col("b"))
      ZarrSource.writeCubeVars(df, group, Seq("a", "b"), outDims, out.chunks, stats = true)
    }
    trace.add("sources.result_rows", out.cells)
    Done(out.cells.toDouble, () => {
      val (bytes, files) = dirBytes(group)
      trace.sampleAlways("sources.files_written", files.toDouble)
      trace.sampleAlways("sources.write_bytes", bytes.toDouble)
      storedBytesPerItem = bytes.toDouble / out.cells
      // read back and compare with the 2-day 2×2 means of the input
      val r = spark.read.format("zarr").load(group).agg(count(lit(1)), sum("a"), sum("b")).head()
      var (sa, sb) = (0.0, 0.0)
      for (t <- 0 until input.nt; j <- 0 until input.ny; i <- 0 until input.nx) {
        sa += input.a(t, j, i); sb += input.b(t, j, i)
      }
      Check(r.getLong(0) == out.cells, s"generate: ${r.getLong(0)} cells")
      Check.eq(r.getDouble(1), sa / 8, "generate sum a")
      Check.eq(r.getDouble(2), sb / 8, "generate sum b")
    })
  })

  private def levelsOp(group: String, root: String): Op = Op("levels", "levels", trace => {
    val (gms, _) = trace.timed("sources.levels") {
      LevelStore.writeLevels(Cube(spark.read.format("zarr").load(group), out.gm), root, 2)
    }
    val cells = gms.map(g => g.width * g.height * out.nt).sum
    trace.add("sources.result_rows", cells)
    Done(cells.toDouble, () => {
      Check(gms.length == 3, s"levels: ${gms.length} levels")
      val top = spark.read.parquet(s"$root/L2").agg(count(lit(1)), sum("a")).head()
      val want = expectedLevel(2)
      Check(top.getLong(0) == want.map(_.length).sum, s"levels L2: ${top.getLong(0)} cells")
      Check.eq(top.getDouble(1), want.map(_.sum).sum, "levels L2 sum a")
    })
  })

  /** Values of `a` at pyramid level `l` of the generated cube, per time
    * step: level 0 is the 2-day 2×2 mean of the input, each next level the
    * mean of the (up to) 2×2 cells below it, as `LevelStore` builds it. */
  private def expectedLevel(l: Int): Seq[Array[Double]] = (0 until out.nt).map { t =>
    var (ny, nx) = (out.ny, out.nx)
    var g = Array.tabulate(ny * nx) { c =>
      val (j, i) = (c / nx, c % nx)
      (for (dt <- 0 until 2; dj <- 0 until 2; di <- 0 until 2)
        yield input.a(2 * t + dt, 2 * j + dj, 2 * i + di)).sum / 8
    }
    for (_ <- 0 until l) {
      val (ny2, nx2) = ((ny + 1) / 2, (nx + 1) / 2)
      val prev = g; val pnx = nx; val pny = ny
      g = Array.tabulate(ny2 * nx2) { c =>
        val (j, i) = (c / nx2, c % nx2)
        val vs = for (dj <- 0 until 2; di <- 0 until 2
                      if 2 * j + dj < pny && 2 * i + di < pnx) yield prev((2 * j + dj) * pnx + 2 * i + di)
        vs.sum / vs.length
      }
      ny = ny2; nx = nx2
    }
    g
  }

  private def appendOp(k: Int, streamDir: String, group: String): Op =
    Op(if (k == 0) "append_create" else "append", s"append/$k", trace => {
      copyTree(s"$slicesDir/$k", s"$streamDir/$k")
      trace.timed("streaming.append") {
        val q = TimeSliceOps.streamZarrAppend(spark, sliceSchema, streamDir, group, "a", "time",
          out.dims.tail, Seq(1, out.chunkY, out.chunkX))
        q.awaitTermination()
        q.exception.foreach(e => throw e)
        trace.awaitStreamEvents(q.id)
      }
      val (r, _) = trace.timed("sources.fresh_read") {
        spark.read.format("zarr").load(group).filter(col("time") === sliceDay(k))
          .agg(count(lit(1)), sum("a")).head()
      }
      trace.add("sources.result_rows", 1)
      Done((out.ny * out.nx).toDouble, () => {
        Check(r.getLong(0) == out.ny * out.nx, s"append $k: ${r.getLong(0)} cells")
        Check.eq(r.getDouble(1), out.rectSum("a", SliceStep + k, 0, out.nx, 0, out.ny), s"append $k sum a")
      })
    })
}
