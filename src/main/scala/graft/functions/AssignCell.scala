package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native argmax-cosine cell assignment: `assign_cell(v, nrm, cents)` where
  * `cents` is the PACKED centroid array `array<struct<c_id:bigint,
  * cv:array<double>, cn:double>>` (one broadcast row under every corpus
  * row). Returns `struct<cell:bigint, cell_cos:double>` — the centroid with
  * the highest cosine to `v`, exact ties to the LOWEST centroid id — or
  * NULL for an empty centroid array (the inner-join semantics of a
  * join-shaped assignment).
  *
  * This is the per-row kernel that makes IVF/SemDeDup assignment a
  * genuinely narrow pass: the obvious join×k + per-vec_id row_number
  * window shuffles the corpus ×k PER assignment (a Lloyd loop multiplies
  * that by its iteration count), and the `aggregate` HOF fold over the
  * packed array, while shuffle-free, evaluates interpreted with a struct
  * allocation per step — measured 2× slower end-to-end. One primitive loop
  * per row, participating in whole-stage codegen, costs neither.
  *
  * Cosine per cell is `dotp(v, cv) / (nrm * cn)` — the identical IEEE
  * arithmetic (and identical [[DotProductExpr]] accumulation order) as the
  * join-shaped form and the DuckDB `list_sum` oracles, so assignments are
  * bit-stable across shapes and engines. Comparison is `>` with an
  * explicit `==`-tie id rule, so the result is independent of centroid
  * array order. Assumes no zero-norm/null vectors (cosine NaN never beats
  * a found best here, while a NaN sorts FIRST under the window form's
  * `desc` — the documented no-zero-norm precondition is what keeps every
  * shape equivalent).
  */
case class AssignCellExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = AssignCellExpr.outType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val centsOk = third.dataType match {
      case ArrayType(StructType(Array(a, b, c)), _) =>
        a.dataType == LongType && c.dataType == DoubleType &&
          (b.dataType match { // either containsNull variant of the cv array
            case ArrayType(DoubleType, _) => true
            case _ => false
          })
      case _ => false
    }
    if (first.dataType.isInstanceOf[ArrayType] &&
        first.dataType.asInstanceOf[ArrayType].elementType == DoubleType &&
        second.dataType == DoubleType && centsOk)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"assign_cell requires (array<double>, double, array<struct<bigint," +
        s"array<double>,double>>), got ${first.dataType.catalogString}, " +
        s"${second.dataType.catalogString}, ${third.dataType.catalogString}")
  }

  override def nullSafeEval(v: Any, nrm: Any, cents: Any): Any =
    AssignCellExpr.assign(
      v.asInstanceOf[ArrayData],
      nrm.asInstanceOf[Double],
      cents.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, nrm, cents) =>
      s"""
         |${ev.value} = graft.functions.AssignCellExpr.assign($v, $nrm, $cents);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override def prettyName: String = "assign_cell"
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): AssignCellExpr =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object AssignCellExpr {
  val outType: StructType = new StructType()
    .add("cell", LongType, nullable = false)
    .add("cell_cos", DoubleType, nullable = false)

  /** Static kernel shared by interpreted eval and generated code. Returns
    * null for an empty centroid array.
    *
    * NaN cosines (a zero-norm centroid — possible mid-Lloyd when a cell's
    * members cancel to the zero vector, which [[graft.operators.Similarity
    * .kmeansCentroids]] does not guard against) are SKIPPED: a NaN
    * candidate never wins and never blocks a finite one, so the result
    * stays independent of centroid array order even on degenerate
    * codebooks. Only if EVERY cosine is NaN does the row fall back to the
    * lowest centroid id (deterministic; cell_cos NaN). The window form
    * this kernel replaced sorted NaN FIRST (`desc` ranks NaN above every
    * finite double), letting one degenerate centroid capture the whole
    * corpus — skipping is the strictly-better deterministic choice, and
    * the two shapes agree everywhere the documented no-zero-norm
    * precondition holds.
    *
    * A null centroid, or one with a null `c_id`, `cv` or `cn`, has no
    * cosine to rank: it throws `IllegalArgumentException` naming the
    * centroid, on both paths.
    */
  def assign(v: ArrayData, nrm: Double, cents: ArrayData): InternalRow = {
    val n = cents.numElements()
    if (n == 0) return null
    var bestId = 0L
    var bestCos = 0.0
    var found = false
    var minId = Long.MaxValue
    var i = 0
    while (i < n) {
      val c = cents.getStruct(i, 3)
      if (c == null || c.isNullAt(0) || c.isNullAt(1) || c.isNullAt(2)) throw nullCentroid(c, i)
      val cid = c.getLong(0)
      if (cid < minId) minId = cid
      val cos = DotProductExpr.dot(v, c.getArray(1)) / (nrm * c.getDouble(2))
      if (!cos.isNaN &&
          (!found || cos > bestCos || (cos == bestCos && cid < bestId))) {
        found = true; bestCos = cos; bestId = cid
      }
      i += 1
    }
    if (found) new GenericInternalRow(Array[Any](bestId, bestCos))
    else new GenericInternalRow(Array[Any](minId, Double.NaN))
  }

  private def nullCentroid(c: InternalRow, i: Int) = new IllegalArgumentException(
    if (c == null) s"assign_cell: centroid at position $i is null"
    else if (c.isNullAt(0)) s"assign_cell: centroid at position $i has a null c_id"
    else s"assign_cell: centroid c_id ${c.getLong(0)} has a null ${if (c.isNullAt(1)) "cv" else "cn"}")
}
