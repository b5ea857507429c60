package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native codegen'd dot product of two `array<double>` columns: the same
  * left-to-right accumulation as
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0.0, (acc,x) -> acc+x)`
  * (and the DuckDB `list_sum(list_transform(...))` oracles) — identical IEEE
  * result on null-free arrays — but one tight primitive loop over
  * `ArrayData` instead of two interpreted higher-order functions allocating
  * an intermediate array per row. Participates in whole-stage codegen, so
  * cosine scoring fuses into the surrounding join/filter stage.
  *
  * Nulls: a null array gives null. A null ELEMENT counts as 0, where the
  * fold gives null: `dotp([1, null], [3, 4])` is 3.0 and `dotp([null], [3])`
  * is 0.0. Arrays of unequal length contribute their common prefix.
  */
case class DotProductExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dotp requires two array<double> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    DotProductExpr.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.DotProductExpr.dot($a, $b)")

  override def prettyName: String = "dotp"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)
}

object DotProductExpr {
  /** Static entry point shared by interpreted eval and generated code.
    * Sequential ascending accumulation — the oracle-exact order.
    */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }
}
