package graft.functions

import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.Decimal

/** Installs every graft SQL function in every session, as it is built.
  *
  * `META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider`
  * names this class, and Spark's session builder loads each provider listed
  * there through `java.util.ServiceLoader`. So a session built by
  * [[graft.Session]], by a bare session builder with no graft setting, or
  * by `newSession()` resolves `ewm(...)`, `dotp(...)` and the rest in SQL and
  * `expr(...)`, and no code that uses one installs it first. This is the
  * one main file that touches a function registry.
  */
class GraftFunctions extends SparkSessionExtensionsProvider {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.builders.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftFunctions].getName, name), builder))
    }
}

object GraftFunctions {

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

  /** A boolean literal argument of graft function `fn`. */
  private def boolLit(fn: String, what: String)(e: Expression): Boolean = e match {
    case Literal(b: java.lang.Boolean, _) => b.booleanValue()
    case other => throw new IllegalArgumentException(
      s"$fn: $what must be a boolean literal, got $other")
  }

  /** Every graft SQL function, by name. */
  private[graft] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "ewm" -> { exprs =>
      require(exprs.size >= 2, "ewm(x, alpha[, min_periods[, ignore_na]])")
      Ewm(exprs(0), numLit("ewm", "alpha")(exprs(1)),
        if (exprs.size < 3) 0 else intLit("ewm", "min_periods")(exprs(2)),
        exprs.size < 4 || boolLit("ewm", "ignore_na")(exprs(3)))
    },
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
}
