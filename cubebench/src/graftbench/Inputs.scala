package graftbench

import graft.cube.GridMapping
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SplitMix64: the benchmark's only source of randomness, so one seed
  * fixes every input. */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def fork(salt: Long): Rng = new Rng(nextLong() ^ salt)
  def shuffle[T](xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }
}

/** Zipf(s) over ranks 0..n-1 by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
  }
  def sample(r: Rng): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** A dense global cube on a regular lon/lat grid with two variables whose
  * cell values are dyadic (k/64) integer-hash functions of the cell index:
  * every sum, mean of 2^k cells, min and max is exact in double, so every
  * check below compares for equality against values computed from the
  * formula alone. `res` is a power of two, so coordinates are exact too.
  */
final case class CubeSpec(nt: Int, ny: Int, nx: Int, res: Double,
                          chunkY: Int, chunkX: Int, coef: Seq[Long]) {
  require(coef.length == 8)
  /** 2020-01-03 in days since the epoch: a multiple of 8, so 8-day and
    * 2-day buckets (which start at multiples of their width since the
    * epoch) hold whole numbers of time steps from the first one. */
  val day0: Int = 18264
  def gm: GridMapping = GridMapping(nx, ny, -180.0, -90.0, res, res)
  def cells: Long = nt.toLong * ny * nx
  def xOf(i: Int): Double = -180.0 + (i + 0.5) * res
  def yOf(j: Int): Double = -90.0 + (j + 0.5) * res
  def tOf(t: Int): Double = (day0 + t).toDouble
  def iOf(x: Double): Int = math.floor((x + 180.0) / res).toInt
  def jOf(y: Double): Int = math.floor((y + 90.0) / res).toInt

  private def ka(t: Long, j: Long, i: Long): Long =
    (i * coef(0) + j * coef(1) + t * coef(2) + ((i * j) % 61) * coef(3) + coef(4)) % 256
  private def kb(t: Long, j: Long, i: Long): Long =
    (i * coef(5) + j * coef(6) + t * coef(7) + 11) % 128
  def a(t: Int, j: Int, i: Int): Double = ka(t, j, i) / 64.0
  def b(t: Int, j: Int, i: Int): Double = kb(t, j, i) / 64.0
  def value(v: String, t: Int, j: Int, i: Int): Double =
    if (v == "a") a(t, j, i) else b(t, j, i)

  /** The same formula as Spark columns over integer index columns. */
  def aCol(t: Column, j: Column, i: Column): Column =
    ((i * coef(0) + j * coef(1) + t * coef(2) + ((i * j) % 61) * coef(3) +
      coef(4)) % 256) / 64.0
  def bCol(t: Column, j: Column, i: Column): Column =
    ((i * coef(5) + j * coef(6) + t * coef(7) + 11) % 128) / 64.0

  def dims: Seq[(String, Array[Double])] = Seq(
    "time" -> Array.tabulate(nt)(tOf),
    "y" -> Array.tabulate(ny)(yOf),
    "x" -> Array.tabulate(nx)(xOf))
  def chunks: Seq[Int] = Seq(1, chunkY, chunkX)

  /** The cube as long-form rows (time, y, x, a, b), computed in Spark. */
  def cellsDf(spark: SparkSession, tFrom: Int = 0, tUntil: Int = -1): DataFrame = {
    val t1 = if (tUntil < 0) nt else tUntil
    val per = ny.toLong * nx
    spark.range(tFrom * per, t1 * per)
      .select((col("id") / per).cast("long").as("ti"),
        ((col("id") / nx) % ny).cast("long").as("j"),
        (col("id") % nx).cast("long").as("i"))
      .select((col("ti") + day0).cast("double").as("time"),
        (lit(-90.0) + (col("j") + 0.5) * res).as("y"),
        (lit(-180.0) + (col("i") + 0.5) * res).as("x"),
        aCol(col("ti"), col("j"), col("i")).as("a"),
        bCol(col("ti"), col("j"), col("i")).as("b"))
  }

  /** Sum of `v` over a cell rectangle [i0,i1) × [j0,j1) of time step t. */
  def rectSum(v: String, t: Int, i0: Int, i1: Int, j0: Int, j1: Int): Double = {
    var s = 0.0
    var j = j0
    while (j < j1) { var i = i0; while (i < i1) { s += value(v, t, j, i); i += 1 }; j += 1 }
    s
  }
}

object CubeSpec {
  def apply(seed: Long, nt: Int, ny: Int, nx: Int, res: Double,
            chunkY: Int, chunkX: Int): CubeSpec = {
    val r = new Rng(seed ^ 0x5EEDC0BEL)
    val coef = Seq.fill(8)(1L + 2L * r.nextInt(120))
    CubeSpec(nt, ny, nx, res, chunkY, chunkX, coef)
  }
}

/** A simple polygon as WKT, with an exact point-in-polygon test for the
  * checks. Generated polygons keep every cell center at least `Margin`
  * away from every edge, so boundary conventions cannot matter. */
final case class Poly(pts: Seq[(Double, Double)]) {
  def wkt: String =
    (pts :+ pts.head).map { case (x, y) => s"$x $y" }.mkString("POLYGON ((", ", ", "))")
  def bbox: (Double, Double, Double, Double) =
    (pts.map(_._1).min, pts.map(_._2).min, pts.map(_._1).max, pts.map(_._2).max)
  def contains(x: Double, y: Double): Boolean = {
    var in = false
    var k = 0
    val n = pts.length
    while (k < n) {
      val (x1, y1) = pts(k); val (x2, y2) = pts((k + 1) % n)
      if ((y1 > y) != (y2 > y) && x < (x2 - x1) * (y - y1) / (y2 - y1) + x1) in = !in
      k += 1
    }
    in
  }
  def edgeDistance(x: Double, y: Double): Double =
    pts.indices.map { k =>
      val (x1, y1) = pts(k); val (x2, y2) = pts((k + 1) % pts.length)
      val (dx, dy) = (x2 - x1, y2 - y1)
      val u = math.max(0.0, math.min(1.0, ((x - x1) * dx + (y - y1) * dy) / (dx * dx + dy * dy)))
      math.hypot(x - (x1 + u * dx), y - (y1 + u * dy))
    }.min
}

object Poly {
  val Margin = 1e-3

  /** A seeded convex quadrilateral (a jittered diamond) inside the cell
    * rectangle [i0, i0+w) × [j0, j0+h) of `spec`. */
  def quad(r: Rng, spec: CubeSpec, i0: Int, j0: Int, w: Int, h: Int): Poly = {
    def attempt(): Poly = {
      val x0 = spec.xOf(i0) - spec.res / 2; val y0 = spec.yOf(j0) - spec.res / 2
      val (wx, hy) = (w * spec.res, h * spec.res)
      def jit(): Double = 0.05 + 0.9 * r.nextDouble()
      Poly(Seq(
        (x0 + wx * (0.3 + 0.4 * r.nextDouble()), y0 + hy * 0.05 * jit()),
        (x0 + wx * (1 - 0.05 * jit()), y0 + hy * (0.3 + 0.4 * r.nextDouble())),
        (x0 + wx * (0.3 + 0.4 * r.nextDouble()), y0 + hy * (1 - 0.05 * jit())),
        (x0 + wx * 0.05 * jit(), y0 + hy * (0.3 + 0.4 * r.nextDouble()))))
    }
    Iterator.continually(attempt()).find { p =>
      val (bx1, by1, bx2, by2) = p.bbox
      (spec.iOf(bx1) to spec.iOf(bx2)).forall { i =>
        (spec.jOf(by1) to spec.jOf(by2)).forall(j =>
          p.edgeDistance(spec.xOf(i), spec.yOf(j)) > Margin)
      }
    }.get
  }

  /** Cell indexes (i, j) whose centers lie inside `p`. */
  def cellsInside(p: Poly, spec: CubeSpec): Seq[(Int, Int)] = {
    val (bx1, by1, bx2, by2) = p.bbox
    for {
      j <- math.max(0, spec.jOf(by1)) to math.min(spec.ny - 1, spec.jOf(by2))
      i <- math.max(0, spec.iOf(bx1)) to math.min(spec.nx - 1, spec.iOf(bx2))
      if p.contains(spec.xOf(i), spec.yOf(j))
    } yield (i, j)
  }
}
