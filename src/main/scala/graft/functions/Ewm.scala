package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

/** Recursive exponential smoothing as a native Catalyst window function —
  * the declarative/codegen path for pandas `ewm(adjust=False).mean()`
  * (the same recurrence as [[graft.operators.Ema]]'s partition scan, which
  * pandas-on-Spark also implements this way internally).
  *
  * `ewm(x, alpha, minPeriods[, ignoreNa])` over
  * `Window.partitionBy(keys).orderBy(t)`:
  *   - running frame (UNBOUNDED PRECEDING → CURRENT ROW), one pass per key
  *   - buffer = (ema, seen, seeded, lastNull, oldWt); update is pure
  *     expressions, so Tungsten evaluates it without virtual calls and it
  *     composes with other window functions over the same window spec in a
  *     single WindowExec
  *   - `ignoreNa = true` (pandas `ignore_na=True`): null inputs leave the
  *     state untouched and emit null; the smoothed value resumes at the next
  *     observation with no gap re-weighting.
  *   - `ignoreNa = false` (pandas' DEFAULT, and the reference transformer's
  *     behavior on coerce-failed closes): a gap of g nulls decays the old
  *     weight to `(1−α)^(g+1)`, the next observation averages as
  *     `(w·y + α·x)/(w + α)` (with pandas' skip-update-when-equal quirk), and
  *     null rows emit the CARRIED value once seeded and past `minPeriods` —
  *     matching [[graft.operators.Ema.withEma]]`(ignoreNa = false)` bit for
  *     bit (equality-tested in IndicatorsSpec).
  *
  * Scale: unlike the mapPartitions scan, this needs no extra
  * repartition+sort — it reuses the window shuffle shared with neighboring
  * window aggregates (rank, lag, rolling sums) over the same spec.
  */
case class Ewm(child: Expression, alpha: Double, minPeriods: Int,
    ignoreNa: Boolean = true)
    extends AggregateWindowFunction {

  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private lazy val ema = AttributeReference("ema", DoubleType, nullable = false)()
  private lazy val seen = AttributeReference("seen", IntegerType, nullable = false)()
  private lazy val seeded = AttributeReference("seeded", BooleanType, nullable = false)()
  private lazy val lastNull = AttributeReference("lastNull", BooleanType, nullable = false)()
  private lazy val oldWt = AttributeReference("oldWt", DoubleType, nullable = false)()

  override def aggBufferAttributes: Seq[AttributeReference] =
    Seq(ema, seen, seeded, lastNull, oldWt)

  override val initialValues: Seq[Expression] =
    Seq(Literal(0.0), Literal(0), Literal(false), Literal(false), Literal(1.0))

  private def x: Expression = Cast(child, DoubleType)
  private def beta: Expression = Literal(1.0 - alpha)

  // Update expressions all evaluate against the PRE-update buffer, then the
  // buffer is overwritten at once — so `oldWt` below is the pre-row weight.
  //
  // ignoreNa=true:  y ← α·x + (1−α)·y, seeded y₀ = x₀ (nulls untouched)
  // ignoreNa=false: w = oldWt·(1−α); y ← (w·y + α·x)/(w + α) unless x equals
  //                 the carried y (pandas skips the update then); nulls decay
  //                 oldWt by (1−α) and leave y carried
  override val updateExpressions: Seq[Expression] = Seq(
    If(IsNull(child), ema,
      If(Not(seeded), x,
        if (ignoreNa)
          Add(Multiply(Literal(alpha), x), Multiply(beta, ema))
        else
          If(EqualTo(ema, x), ema,
            Divide(
              Add(Multiply(Multiply(oldWt, beta), ema), Multiply(Literal(alpha), x)),
              Add(Multiply(oldWt, beta), Literal(alpha)))))),
    If(IsNull(child), seen, Add(seen, Literal(1))),
    Or(seeded, IsNotNull(child)),
    IsNull(child),
    If(IsNull(child), If(seeded, Multiply(oldWt, beta), oldWt), Literal(1.0)))

  // ignoreNa=true: null input rows emit null (state survives); =false: null
  // rows emit the carried value once seeded (pandas ewma aggregation)
  override val evaluateExpression: Expression =
    if (ignoreNa)
      If(And(And(seeded, Not(lastNull)), GreaterThanOrEqual(seen, Literal(minPeriods))),
        ema, Literal(null, DoubleType))
    else
      If(And(seeded, GreaterThanOrEqual(seen, Literal(minPeriods))),
        ema, Literal(null, DoubleType))

  override def prettyName: String = "ewm"

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Ewm =
    copy(child = newChildren.head)
}
