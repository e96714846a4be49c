package graftbench

import graft.cube.Cube
import graft.operators.{GeomOps, TemporalOps}
import graft.sources.{LevelStore, ZarrSource}
import org.apache.spark.sql.functions._

/** The benchmark's own tests (run by test.py):
  *
  *   graftbench.SelfTest --data <dir>
  *
  * Seeded inputs are reproducible, the summary statistics are right on
  * known samples, and the closed-form expectations the checks use agree
  * with the program on a tiny generated cube. Exits 1 on any failure.
  */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try { body; println(f"PASS $name (${(System.nanoTime() - t0) / 1e6}%.0f ms)") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }
  }

  private def sha(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString

  private def files(root: String): Map[String, Array[Byte]] = {
    val w = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try w.filter(java.nio.file.Files.isRegularFile(_)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .map(p => p.toString.drop(root.length) -> java.nio.file.Files.readAllBytes(p)).toMap
    finally w.close()
  }

  /** Relative paths whose bytes differ between two trees. */
  private def treeDiff(a: String, b: String): Seq[String] = {
    val (fa, fb) = (files(a), files(b))
    (fa.keySet ++ fb.keySet).toSeq.sorted.filter(k =>
      !(fa.contains(k) && fb.contains(k) && java.util.Arrays.equals(fa(k), fb(k))))
  }

  def main(argv: Array[String]): Unit = {
    val data = argv.grouped(2).collect { case Array("--data", v) => v }.next()

    // ------------------------------------------------ pure, no Spark
    test("percentile interpolates between ranks") {
      Check.eq(Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 0.5), 2.5, "p50 of 1..4")
      Check.near(Stats.percentile((1 to 10).map(_.toDouble), 0.9), 9.1, 1e-12, "p90 of 1..10")
      Check.eq(Stats.percentile(Seq(7.0), 0.9), 7.0, "p90 of one sample")
      Check.eq(Stats.median(Seq(5.0, 1.0, 3.0)), 3.0, "median of three")
      Check(Stats.samplesAbove((1 to 100).map(_.toDouble), 0.9) == 10, "10 of 1..100 above p90")
    }
    test("kind latency is the geometric mean of per-kind medians") {
      Check.near(Stats.kindLatency(Seq("a" -> 1.0, "a" -> 3.0, "a" -> 2.0, "b" -> 8.0)), 4.0, 1e-12, "a=2, b=8")
      Check.near(Stats.kindLatency(Seq("a" -> 5.0)), 5.0, 1e-12, "one sample")
      Check(Stats.kindLatency(Nil).isNaN, "no samples")
    }
    test("repeat share counts keys seen earlier") {
      Check.eq(Stats.repeatShare(Seq("a", "b", "a", "a", "c")), 0.4, "a b a a c")
      Check.eq(Stats.repeatShare(Seq("a", "b", "c")), 0.0, "distinct keys")
    }
    test("same seed gives identical inputs, another seed different ones") {
      def cubeDigest(seed: Long): String = {
        val s = CubeSpec(seed, nt = 3, ny = 10, nx = 20, res = 1.0, chunkY = 5, chunkX = 10)
        sha((for (t <- 0 until 3; j <- 0 until 10; i <- 0 until 20)
          yield s"${s.a(t, j, i)},${s.b(t, j, i)}").mkString(";").getBytes)
      }
      def streamDigest(seed: Long): String = {
        val serve = new Serve(Ctx(null, seed, data))
        sha(serve.ops(new Rng(seed)).take(200).map(o => o.kind + "/" + o.key).mkString(";").getBytes)
      }
      for ((what, f) <- Seq[(String, Long => String)](
        "cube" -> cubeDigest, "serve requests" -> streamDigest)) {
        Check(f(7) == f(7), s"$what: seed 7 twice differs")
        Check(f(7) != f(8), s"$what: seeds 7 and 8 agree")
      }
    }
    test("serve cycles hold the fixed request mix") {
      val serve = new Serve(Ctx(null, 3, data))
      val ops = serve.ops(new Rng(3)).take(60).toSeq
      Check(ops.count(_.endsCycle) == 3, "three cycles end in 60 requests")
      val want = serve.Mix.map { case (k, n) => k -> 3 * n }.toMap
      Check(ops.groupBy(_.kind).map { case (k, v) => k -> v.length } == want, "request mix")
    }

    // ------------------------------------- against the program (Spark)
    val spark = Main.session(data)
    val spec = CubeSpec(11, nt = 16, ny = 8, nx = 16, res = 1.0, chunkY = 4, chunkX = 8)
    def write(seed: Long, dir: String): String = {
      val s = spec.copy(coef = CubeSpec(seed, 16, 8, 16, 1.0, 4, 8).coef)
      Workload.writeCube(s, s.cellsDf(spark), dir)
      dir
    }
    test("written cube bytes repeat for a seed and differ across seeds") {
      // _graft_gen is the store's cache-invalidation token, new on every write
      def diff(x: String, y: String) = treeDiff(x, y).filterNot(_.endsWith("/_graft_gen"))
      val (c1, c2, c3) = (write(11, s"$data/c1.zarr"), write(11, s"$data/c2.zarr"), write(12, s"$data/c3.zarr"))
      Check(diff(c1, c2).isEmpty, s"same seed, different bytes: ${diff(c1, c2)}")
      Check(diff(c1, c3).nonEmpty, "different seeds, same bytes")
    }
    val group = write(11, s"$data/cube.zarr")
    val cube = Cube(spark.read.format("zarr").load(group), spec.gm)
    test("every stored cell equals the closed form") {
      cube.df.collect().foreach { r =>
        val (t, j, i) = ((r.getAs[Double]("time") - spec.day0).toInt, spec.jOf(r.getAs[Double]("y")),
          spec.iOf(r.getAs[Double]("x")))
        Check.eq(r.getAs[Double]("a"), spec.a(t, j, i), s"a($t, $j, $i)")
        Check.eq(r.getAs[Double]("b"), spec.b(t, j, i), s"b($t, $j, $i)")
      }
      Check(cube.df.count() == spec.cells, "cell count")
    }
    test("rectangle sums match the program's aggregate") {
      val got = cube.df.filter(col("time") === spec.tOf(3) && col("x") >= -178.0 && col("x") < -170.0 &&
        col("y") >= -89.0 && col("y") < -84.0).agg(sum("b")).head().getDouble(0)
      Check.eq(got, spec.rectSum("b", 3, 2, 10, 1, 6), "sum of b")
    }
    test("polygon cells match maskByGeometry") {
      val poly = Poly.quad(new Rng(4), spec, 1, 1, 14, 6)
      val got = GeomOps.maskByGeometry(cube, poly.wkt).df
        .filter(col("time") === spec.tOf(0) && !isnan(col("a"))).count()
      Check(got == Poly.cellsInside(poly, spec).length, s"$got cells inside")
    }
    test("8-day means and maxima match resampleInTime") {
      val timed = cube.df.withColumn("time", timestamp_seconds(col("time") * 86400.0))
      val r = TemporalOps.resampleInTime(timed, "time", "8D", Seq("a" -> "mean", "a" -> "max"),
        extraKeys = Seq("y", "x"), labelCol = "t8").agg(count(lit(1)), sum("a_mean"), sum("a_max")).head()
      val buckets = (0 until spec.nt).groupBy(t => (spec.day0 + t) / 8).values.toSeq
      Check(buckets.forall(_.length == 8), "whole 8-day buckets")
      var (sm, sx) = (0.0, 0.0)
      for (ts <- buckets; j <- 0 until spec.ny; i <- 0 until spec.nx) {
        val vs = ts.map(spec.a(_, j, i)); sm += vs.sum / 8; sx += vs.max
      }
      Check(r.getLong(0) == buckets.length * spec.ny * spec.nx, "bucket rows")
      Check.eq(r.getDouble(1), sm, "sum of means")
      Check.eq(r.getDouble(2), sx, "sum of maxima")
    }
    test("pyramid level 2 holds the 4x4 block means") {
      val root = s"$data/cube.levels"
      LevelStore.writeLevels(Cube(cube.df.select("time", "y", "x", "a"), spec.gm), root, 2)
      val l2 = spark.read.parquet(s"$root/L2").filter(col("time") === spec.tOf(5)).collect()
      Check(l2.length == spec.ny * spec.nx / 16, s"${l2.length} L2 cells")
      l2.foreach { r =>
        val (bi, bj) = (spec.iOf(r.getAs[Double]("x")) / 4 * 4, spec.jOf(r.getAs[Double]("y")) / 4 * 4)
        Check.eq(r.getAs[Double]("a"), spec.rectSum("a", 5, bi, bi + 4, bj, bj + 4) / 16, s"block ($bi, $bj)")
      }
    }
    spark.stop()
    println(if (failures == 0) "ALL PASSED" else s"$failures FAILED")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
