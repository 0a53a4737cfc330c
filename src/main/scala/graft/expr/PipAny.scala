package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType}

/** PipAny(x, y, xss, yss): true iff the point is inside (winding parity,
  * PointInPolygon semantics) ANY of the rings given as nested arrays.
  *
  * This exists so the hull/hole combine of the shuffled cell join
  * (`PipJoin.zoneMembershipShuffled`) happens inside one expression per
  * (page, zone): rings are grouped per (cell, fid) on the ring side, so no
  * groupBy(doc_id, fid) combine is needed after the join. */
case class PipAny(x: Expression, y: Expression,
                  xss: Expression, yss: Expression)
    extends QuaternaryExpression {

  override def first: Expression = x
  override def second: Expression = y
  override def third: Expression = xss
  override def fourth: Expression = yss

  private def isNestedDoubleArray(t: DataType): Boolean = t match {
    case ArrayType(ArrayType(DoubleType, _), _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (x.dataType == DoubleType && y.dataType == DoubleType &&
        isNestedDoubleArray(xss.dataType) && isNestedDoubleArray(yss.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_pip_any expects (double, double, array<array<double>>, array<array<double>>)")

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_pip_any"

  override def nullSafeEval(xv: Any, yv: Any, xssv: Any, yssv: Any): Any =
    java.lang.Boolean.valueOf(PipAny.anyInside(
      xv.asInstanceOf[Double], yv.asInstanceOf[Double],
      xssv.asInstanceOf[ArrayData], yssv.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (px, py, axss, ayss) =>
      s"graft.expr.PipAny.anyInside($px, $py, $axss, $ayss)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(x = f, y = s, xss = t, yss = q)
}

object PipAny {
  /** Shared runtime helper (interpreted + codegen). */
  def anyInside(px: Double, py: Double, xss: ArrayData, yss: ArrayData): Boolean = {
    val nRings = xss.numElements()
    var r = 0
    while (r < nRings) {
      val xs = xss.getArray(r)
      val ys = yss.getArray(r)
      var wn = 0
      val n = xs.numElements()
      if (n >= 2) {
        var x1 = xs.getDouble(0); var y1 = ys.getDouble(0)
        var i = 0
        while (i < n - 1) {
          val x0 = x1; val y0 = y1
          x1 = xs.getDouble(i + 1); y1 = ys.getDouble(i + 1)
          if (y0 <= py) {
            if (y1 > py && (x1 - x0) * (py - y0) - (px - x0) * (y1 - y0) > 0.0) wn += 1
          } else if (y1 <= py && (x1 - x0) * (py - y0) - (px - x0) * (y1 - y0) < 0.0) wn -= 1
          i += 1
        }
      }
      if (wn % 2 != 0) return true
      r += 1
    }
    false
  }

  def pipAny(x: Column, y: Column, xss: Column, yss: Column): Column =
    Shim.column(PipAny(Shim.expression(x), Shim.expression(y),
      Shim.expression(xss), Shim.expression(yss)))
}
