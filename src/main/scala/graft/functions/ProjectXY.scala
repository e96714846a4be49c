package graft.functions

import graft.operators.CrsTransform
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StructField, StructType}

/** A coordinate transform per row: the point (x, y) run through a chain of
  * projection kernels ([[CrsTransform]]), yielding struct<x, y>.
  *
  * Interpreted `eval` and the generated code both call
  * [[CrsTransform.run]], so the two paths agree bit for bit, and every
  * consumer of the coordinates holds one small expression however many
  * kernels the chain runs: the projection math inlined into each
  * consumer can outgrow what Janino compiles. A null input gives a null
  * struct; a field is null where the kernel nulls it.
  */
case class ProjectXY(left: Expression, right: Expression, transform: CrsTransform)
  extends BinaryExpression {

  override def dataType: DataType = ProjectXY.Schema
  override def prettyName: String = "project_xy"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == DoubleType && right.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"project_xy expects doubles, got ${left.dataType}, ${right.dataType}")

  override protected def nullSafeEval(x: Any, y: Any): Any = {
    val out = new Array[Double](2)
    ProjectXY.row(transform.run(x.asInstanceOf[Double], y.asInstanceOf[Double], out), out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("projTransform", transform, classOf[CrsTransform].getName)
    val out = ctx.addMutableState("double[]", "projOut", v => s"$v = new double[2];")
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.functions.ProjectXY.row($t.run($x, $y, $out), $out);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ProjectXY =
    copy(left = newLeft, right = newRight)
}

object ProjectXY {
  import org.apache.spark.sql.graft.ColumnBridge

  val Schema: StructType = StructType(Seq(
    StructField("x", DoubleType), StructField("y", DoubleType)))

  /** The struct value of a kernel result: `out` under its null mask. */
  def row(mask: Int, out: Array[Double]): InternalRow =
    new GenericInternalRow(Array[Any](
      if ((mask & 1) != 0) null else out(0),
      if ((mask & 2) != 0) null else out(1)))

  /** Column form: (x, y), cast to double, after `transform`. */
  def col(x: Column, y: Column, transform: CrsTransform): (Column, Column) = {
    val p = ColumnBridge.column(ProjectXY(
      ColumnBridge.expression(x.cast(DoubleType)),
      ColumnBridge.expression(y.cast(DoubleType)), transform))
    (p.getField("x"), p.getField("y"))
  }
}
