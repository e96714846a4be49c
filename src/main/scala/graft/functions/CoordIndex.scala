package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType}

/** The index of a double in a driver-held coordinate array: binary search
  * over the coordinates, sorted once on the driver together with the index
  * each one maps to. Null when the value is not among the coordinates.
  *
  * Replaces an inner equi-join against a broadcast (value, index) table —
  * the Zarr writers' coordinate → index step — and keeps its semantics:
  * `-0.0` equals `0.0` and NaN equals NaN (Spark normalizes both in join
  * keys; here both the coordinates and the probe are normalized), and a
  * null or absent value yields null, which the caller filters out as the
  * join dropped the row. Unlike the join, a coordinate value may occur
  * only once ([[CoordIndex.table]] requires it): the join wrote a
  * repeated value's cell to every index it had, in no fixed order. NaN is
  * the exception: it marks a missing coordinate (the CF fill of an absent
  * coordinate chunk) and may repeat, and a repeated NaN addresses no
  * index, so a NaN value's row is then dropped.
  *
  * The broadcast joined a `LocalTableScan`, and each broadcast collected it
  * through its own Spark job; the expression runs no job.
  */
case class CoordIndex(child: Expression, sorted: Array[Double], index: Array[Int])
  extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "coord_index"
  override def nullable: Boolean = true
  // plan strings show the table's size, not array identities
  override def stringArgs: Iterator[Any] = Iterator(child, s"${sorted.length} coords")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"coord_index expects double, got ${child.dataType}")

  override protected def nullSafeEval(v: Any): Any = {
    val i = CoordIndex.lookup(v.asInstanceOf[Double], sorted, index)
    if (i < 0) null else i
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = ctx.addReferenceObj("ciSorted", sorted, "double[]")
    val ix = ctx.addReferenceObj("ciIndex", index, "int[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.CoordIndex.lookup($c, $s, $ix);
         |${ev.isNull} = ${ev.value} < 0;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): CoordIndex =
    copy(child = newChild)
}

object CoordIndex {
  import org.apache.spark.sql.graft.ColumnBridge

  /** (value, index) pairs as (values sorted by `Double.compare`, their
    * indices), `-0.0` stored as `0.0`. Requires distinct values, except
    * NaN: a NaN that occurs more than once is left out. */
  def table(coords: Seq[(Double, Int)]): (Array[Double], Array[Int]) = {
    val (nans, values) = coords.map { case (v, i) => (norm(v), i) }
      .partition(_._1.isNaN)
    // NaN sorts last under Double.compare
    val byValue = values.sortBy(_._1)(Ordering.Double.TotalOrdering) ++
      (if (nans.length == 1) nans else Nil)
    val sorted = byValue.map(_._1).toArray
    var k = 1
    while (k < sorted.length) {
      require(java.lang.Double.compare(sorted(k - 1), sorted(k)) != 0,
        s"coordinate value ${sorted(k)} occurs more than once")
      k += 1
    }
    (sorted, byValue.map(_._2).toArray)
  }

  private def norm(v: Double): Double = if (v == 0.0d) 0.0d else v

  /** The per-row kernel, shared by interpreted eval and the generated code:
    * the index of `v`, or -1. `Arrays.binarySearch` orders by
    * `Double.compare`, so NaN (sorted last) is found like any value. */
  def lookup(v: Double, sorted: Array[Double], index: Array[Int]): Int = {
    val k = java.util.Arrays.binarySearch(sorted, norm(v))
    if (k >= 0) index(k) else -1
  }

  /** Column form: the index of `value` (cast to double) among `coords`. */
  def col(value: Column, coords: Seq[(Double, Int)]): Column = {
    val (sorted, index) = table(coords)
    ColumnBridge.column(
      CoordIndex(ColumnBridge.expression(value.cast(DoubleType)), sorted, index))
  }
}
