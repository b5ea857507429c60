package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native codegen'd count of the positions where two `array<bigint>`
  * columns hold equal, non-null components: the same integer as
  * `aggregate(zip_with(a, b, (x,y) -> IF(x = y, 1, 0)), 0, (acc,x) -> acc+x)`
  * (and the DuckDB `len(list_filter(range(...), i -> a[i] = b[i]))` oracles)
  * — but one tight primitive loop over `ArrayData` instead of two
  * interpreted higher-order functions allocating an intermediate array per
  * row. This is the MinHash banded-dedup VERIFY kernel (estimated-Jaccard
  * numerator), evaluated once per candidate pair — the hot inner loop of
  * every `estVerifiedPairs` delivery and of dd25's calibration sweep.
  * Participates in whole-stage codegen, so the verify fuses into the
  * candidate join stage.
  */
case class SigMatchesExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"sig_matches requires two array<bigint> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    SigMatchesExpr.matches(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SigMatchesExpr.matches($a, $b)")

  override def prettyName: String = "sig_matches"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SigMatchesExpr =
    copy(left = newLeft, right = newRight)
}

object SigMatchesExpr {
  /** Static entry point shared by interpreted eval and generated code —
    * count over the shorter length, exactly like the zip_with fold it
    * replaces (signatures are fixed-k by construction, so the min is moot).
    * A position where either side is null never matches, as `IF(x = y, 1, 0)`
    * yields 0 on a null comparison in the fold; a null slot's raw storage
    * reads as 0, so it must be tested, not compared.
    */
  def matches(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }
}
