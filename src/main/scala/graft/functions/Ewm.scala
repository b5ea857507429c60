package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
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

/** Registration: `GraftFunctions.register(spark)` exposes `ewm(x, alpha,
  * min_periods[, ignore_na])` and the other graft functions to SQL and
  * `expr(...)`, once per session.
  */
object GraftFunctions {
  private[functions] def build(exprs: Seq[Expression]): Expression = {
    require(exprs.size >= 2, "ewm(x, alpha[, min_periods[, ignore_na]])")
    def lit(e: Expression, what: String): Any = e match {
      case l: Literal => l.value
      case other => throw new IllegalArgumentException(s"ewm: $what must be a literal, got $other")
    }
    val alpha = lit(exprs(1), "alpha") match {
      case d: java.lang.Double => d.doubleValue()
      case d: Decimal => d.toDouble
      case i: java.lang.Integer => i.doubleValue()
      case other => throw new IllegalArgumentException(s"ewm: bad alpha $other")
    }
    val minPeriods = if (exprs.size < 3) 0 else lit(exprs(2), "min_periods") match {
      case i: java.lang.Integer => i.intValue()
      case l: java.lang.Long => l.intValue()
      case other => throw new IllegalArgumentException(s"ewm: bad min_periods $other")
    }
    val ignoreNa = if (exprs.size < 4) true else lit(exprs(3), "ignore_na") match {
      case b: java.lang.Boolean => b.booleanValue()
      case other => throw new IllegalArgumentException(s"ewm: bad ignore_na $other")
    }
    Ewm(exprs.head, alpha, minPeriods, ignoreNa)
  }

  /** A numeric literal argument of graft function `fn`. */
  private def numLit(fn: String, what: String)(e: Expression): Double = e match {
    case Literal(v: java.lang.Double, _) => v.doubleValue()
    case Literal(v: Decimal, _) => v.toDouble
    case Literal(v: java.lang.Integer, _) => v.doubleValue()
    case other => throw new IllegalArgumentException(
      s"$fn: $what must be a numeric literal, got $other")
  }

  /** An integer literal argument of graft function `fn`. */
  private def intLit(fn: String, what: String)(e: Expression): Int = e match {
    case Literal(i: java.lang.Integer, _) => i.intValue()
    case Literal(l: java.lang.Long, _) => l.intValue()
    case other => throw new IllegalArgumentException(
      s"$fn: $what must be an integer literal, got $other")
  }

  /** Every graft SQL function, by name. */
  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "ewm" -> build,
    "psar" -> { exprs =>
      require(exprs.size == 5, "psar(high, low, af0, step, af_max)")
      val d = (i: Int, what: String) => numLit("psar", what)(exprs(i))
      Psar(exprs(0), exprs(1), d(2, "af0"), d(3, "step"), d(4, "af_max"))
    },
    "supertrend" -> { exprs =>
      require(exprs.size == 3, "supertrend(basic_ub, basic_lb, close)")
      SuperTrend(exprs(0), exprs(1), exprs(2))
    },
    "holt" -> { exprs =>
      require(exprs.size == 3, "holt(value, alpha, beta)")
      val d = (i: Int, what: String) => numLit("holt", what)(exprs(i))
      HoltLinear(exprs(0), d(1, "alpha"), d(2, "beta"))
    },
    "holt_winters" -> { exprs =>
      require(exprs.size == 5, "holt_winters(value, alpha, beta, gamma, period)")
      val d = (i: Int, what: String) => numLit("holt_winters", what)(exprs(i))
      HoltWinters(exprs(0), d(1, "alpha"), d(2, "beta"), d(3, "gamma"),
        intLit("holt_winters", "period")(exprs(4)))
    },
    "var_ewm" -> { exprs =>
      require(exprs.size == 2, "var_ewm(value, alpha)")
      VarEwm(exprs(0), exprs(1))
    },
    "hash32" -> (exprs => Hash32Expr(exprs.head)),
    "hash61" -> (exprs => Hash61Expr(exprs.head)),
    "dotp" -> (exprs => DotProductExpr(exprs(0), exprs(1))),
    "sig_matches" -> (exprs => SigMatchesExpr(exprs(0), exprs(1))),
    "assign_cell" -> (exprs => AssignCellExpr(exprs(0), exprs(1), exprs(2))),
    "mg_topk" -> (exprs =>
      MgTopK(exprs.head, intLit("mg_topk", "k")(exprs(1))).toAggregateExpression()))

  /** Registers every graft function the session does not hold yet: the
    * first call per session installs them, later calls (every operator that
    * uses one calls this) are no-ops instead of re-registering the lot.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, b, "scala_udf")
    }
  }
}
