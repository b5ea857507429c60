package graft.exprs

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Cross-engine deterministic ("oracle-stable") numeric expressions.
  *
  * The driver compares query results against a DuckDB oracle by hashing
  * values, so float outputs must be bit-identical across engines. Plain
  * `SUM(double)` is NOT deterministic (partial-aggregation order differs), so
  * we follow three rules:
  *
  *  1. Source money/quantity columns are doubles that carry exactly-two-decimal
  *     values; casting them to `DECIMAL(18,2)` is exact in both Spark and
  *     DuckDB, and decimal sums are exact integers — order-independent.
  *  2. Derived continuous values (averages, ratios) are canonicalized through a
  *     `DECIMAL(18,4)` round-trip immediately; downstream arithmetic then runs
  *     on identical doubles in both engines (IEEE ops on identical inputs are
  *     identical).
  *  3. Divisions, sqrt and recursive smoothing run in double on canonical
  *     values; the final `DECIMAL → DOUBLE` cast is exact while the unscaled
  *     value stays below 2^53 (true for every scale factor here).
  */
object Exact {
  val Money: DecimalType = DecimalType(18, 2)

  /** Exact decimal view of a two-decimal double column. */
  def money(c: Column): Column = c.cast(Money)

  /** Order-independent exact sum of a two-decimal double column, as double. */
  def dsum(c: Column): Column = sum(money(c)).cast(DoubleType)
}
