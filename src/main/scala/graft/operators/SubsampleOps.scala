package graft.operators

import graft.cube.{Cube, GridMapping}
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** subsample_dataset + compute_levels — spatial block aggregation and
  * pyramid decimation (reference xcube/core/subsampling.py:25-135,
  * level.py:31-135).
  *
  * Block aggregation is ONE groupBy on (time, blockJ, blockI) — the floor
  * divisions are codegen'd arithmetic, the shuffle key space shrinks by k²,
  * and map-side combine does most of the work before the exchange. Pyramid
  * decimation (`::2` subsetting, level.py:107) is a pure filter on the cell
  * index — prunable, no shuffle at all.
  */
object SubsampleOps {

  /** Custom `mode` Aggregator (subsampling.py:113-128): most frequent value,
    * ties broken to the SMALLEST value so results are deterministic and an
    * SQL oracle can mirror them. The buffer is a value→count map — bounded
    * by the number of distinct values per block (small for flag/class vars,
    * which is what mode is for).
    */
  private final class ModeAgg extends Aggregator[Double, Map[Double, Long], Double] {
    override def zero: Map[Double, Long] = Map.empty
    override def reduce(b: Map[Double, Long], a: Double): Map[Double, Long] =
      if (a.isNaN) b else b.updated(a, b.getOrElse(a, 0L) + 1L)
    override def merge(b1: Map[Double, Long], b2: Map[Double, Long]): Map[Double, Long] =
      b2.foldLeft(b1) { case (m, (v, n)) => m.updated(v, m.getOrElse(v, 0L) + n) }
    override def finish(r: Map[Double, Long]): Double =
      if (r.isEmpty) Double.NaN
      else r.minBy { case (v, n) => (-n, v) }._1
    override def bufferEncoder: Encoder[Map[Double, Long]] =
      Encoders.kryo[Map[Double, Long]]
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** `mode` as an aggregate Column over a double column. */
  def modeAgg(v: Column): Column = udaf(new ModeAgg).apply(v.cast("double"))

  /** One aggregation Column per subsampling method (first/min/max/mean/
    * median/mode — subsampling.py AGG_METHODS; auto rule: int→first,
    * float→mean, subsampling.py:210-229 — callers pick per var). `ord` is
    * the within-block ordering used by first/last (row-major cell order).
    */
  def blockAgg(method: String, v: Column, ord: Column): Column = method match {
    case "mode" => modeAgg(v)
    case m => TemporalOps.methodAgg(m, v, ord)
  }

  /** k×k block subsample: returns the aggregated DataFrame keyed by
    * (time, block_j, block_i) plus the derived level GridMapping. Output
    * columns are named `<var>_<method>`. `first` of a non-numeric variable
    * (a string class label, say) is the block's first non-null value in
    * row-major cell order, taken without [[blockAgg]]'s NaN guard, whose
    * cast to double would null a string out (or throw under ANSI).
    */
  def subsample(cube: Cube, k: Int, methods: Seq[(String, String)]): (DataFrame, GridMapping) = {
    val gm = cube.gm
    val bi = (gm.iExpr(cube.x) / k).cast("long").as("block_i")
    val bj = (gm.jExpr(cube.y) / k).cast("long").as("block_j")
    // row-major cell order: deterministic first/last within a block
    val ord = gm.jExpr(cube.y) * gm.width + gm.iExpr(cube.x)
    def numeric(v: String) = cube.df.schema(v).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    val aggs = methods.map {
      case (v, "first") if !numeric(v) =>
        min_by(col(v), when(col(v).isNotNull, ord)).as(s"${v}_first")
      case (v, m) => blockAgg(m, col(v), ord).as(s"${v}_$m")
    }
    val out = cube.df.groupBy(cube.time.as(cube.timeCol), bj, bi)
      .agg(aggs.head, aggs.tail: _*)
    (out, gm.scale(k.toDouble))
  }

  /** The reference's automatic per-variable method rule
    * (subsampling.py:210-229): integral/boolean variables take `first`
    * (no invented class values), floating variables take `mean`.
    */
  def autoMethods(cube: Cube): Seq[(String, String)] = {
    import org.apache.spark.sql.types._
    cube.varNames.flatMap { v =>
      cube.df.schema(v).dataType match {
        case FloatType | DoubleType => Some(v -> "mean")
        case ByteType | ShortType | IntegerType | LongType | BooleanType =>
          Some(v -> "first")
        case _ => None
      }
    }
  }

  /** `subsample(..., "first")` re-expressed as the stride-k gather it IS:
    * the first cell of each k×k block in row-major order is the block's
    * origin corner (j = bj·k, i = bi·k — always inside the grid, trailing
    * partial blocks included), so the reference's int-variable auto rule
    * (subsampling.py:210-229, int→first) needs no aggregate at all. Spark
    * cannot push FIRST through DSv2 (V2ScanRelationPushDown partial-pushes
    * only Min/Max/Sum/Count), and it doesn't need to: the kept cells'
    * coordinate VALUES are grid arithmetic (gm.xForI/yForJ), so the gather
    * ships as two In filters the connectors consume into per-dim interval
    * sets and PRUNE chunks with — zero aggregation, zero shuffle, chunks
    * without a kept cell never read. Equal to blockAgg("first") wherever
    * the origin cell is valid — always, for the integral variables the
    * auto rule routes here (ints cannot be NaN; blockAgg's first skips
    * NaN, so float vars with NaN holes must keep the aggregate path).
    */
  def subsampleFirst(cube: Cube, k: Int,
                     vars: Seq[String]): (DataFrame, GridMapping) = {
    val gm = cube.gm
    val xs = (0L until gm.width by k.toLong).map(gm.xForI)
    val ys = (0L until gm.height by k.toLong).map(gm.yForJ)
    val out = cube.df
      .filter(cube.x.isin(xs: _*) && cube.y.isin(ys: _*))
      .select(Seq(cube.time.as(cube.timeCol),
        (gm.jExpr(cube.y) / k).cast("long").as("block_j"),
        (gm.iExpr(cube.x) / k).cast("long").as("block_i")) ++
        vars.map(v => col(v).as(s"${v}_first")): _*)
    (out, gm.scale(k.toDouble))
  }

  /** `subsample(..., "mode")` in the connector-foldable two-stage form:
    * stage 1 groups by (time, blockJ, blockI, value) — block keys over
    * dims PLUS the raw-value key over the data variable, ALL of which
    * the connectors fold per chunk (ZarrVarAggScan) — counting only
    * NaN-guarded cells; stage 2 picks the most frequent value per block
    * with ties to the SMALLEST (the [[ModeAgg]] contract) via one tiny
    * aggregation over O(blocks × distinct-values) rows. The exchange
    * carries per-chunk (block, value, count) partials instead of every
    * cell — mode is for flag/class variables, whose per-block distinct
    * count is small by nature. All-NaN blocks emit NaN exactly like
    * [[ModeAgg]]: their (NaN-keyed) count rows survive stage 1 with
    * count 0, stage 2's min_by skips the zero-count rows (null
    * ordering), and the coalesce finishes them as NaN — fold == row
    * path unconditionally.
    */
  def subsampleModeFold(cube: Cube, k: Int,
                        v: String): (DataFrame, GridMapping) = {
    val gm = cube.gm
    val guarded =
      when(col(v).cast("double") <= lit(Double.PositiveInfinity), col(v))
    val counts = cube.df
      .groupBy(cube.time.as(cube.timeCol),
        (gm.jExpr(cube.y) / k).cast("long").as("block_j"),
        (gm.iExpr(cube.x) / k).cast("long").as("block_i"),
        col(v).cast("double").as("__v"))
      .agg(count(guarded).as("__n"))
    // NaN cells group wherever their bits land but count 0; zero-count
    // rows keep the block IN the domain while min_by ignores them
    val valid = col("__n") > 0
    val out = counts
      .groupBy(col(cube.timeCol), col("block_j"), col("block_i"))
      .agg(coalesce(
        min_by(when(valid, col("__v")),
          when(valid, struct((-col("__n")).as("__neg"),
            col("__v").as("__tv")))),
        lit(Double.NaN)).as(s"${v}_mode"))
    (out, gm.scale(k.toDouble))
  }

  /** Pyramid decimation for one level: keep every 2^level-th cell in both
    * axes (level.py:107 `[..., ::2, ::2]` applied level times). A pure
    * filter — partition-prunable, shuffle-free.
    */
  def decimate(cube: Cube, level: Int): Cube = {
    val gm = cube.gm
    val step = 1L << level
    val kept = cube.df.filter(
      gm.iExpr(cube.x) % step === 0 && gm.jExpr(cube.y) % step === 0)
    Cube(kept, gm.levelMapping(level), cube.timeCol, cube.yCol, cube.xCol)
  }

  /** compute_levels: the full pyramid as decimated cubes L1..maxLevel. */
  def computeLevels(cube: Cube, maxLevel: Int): Seq[Cube] =
    (1 to maxLevel).map(l => decimate(cube, l))
}
