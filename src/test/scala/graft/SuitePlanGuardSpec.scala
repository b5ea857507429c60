package graft

import org.scalatest.funsuite.AnyFunSuite

/** Suite-WIDE physical-plan guard: every registered query must plan without
  * a CartesianProduct — the one operator shape that cannot survive a scale-up
  * under any partitioning. (BroadcastNestedLoopJoin is allowed: it is how
  * 1-row scalar/stat frames attach, bounded by the broadcast threshold.)
  * Catching this here means a future query can't slip an accidental
  * cross-join into the suite and look fine at test scale.
  */
class SuitePlanGuardSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("query names are unique across all suites") {
    // a shared name silently shadows the earlier query in SparkEntry's map
    // (found live in r5: two q_sessionize implementations, one never gated)
    val names = SparkEntry.suites.map(_.name)
    val dups = names.groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    assert(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
  }

  test("no query in the suite plans a CartesianProduct") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan =
          try fn(spark, sf).queryExecution.executedPlan.toString
          catch { case e: Throwable => s"PLANNING FAILED: $e" }
        graft.core.Blocks.sweep(spark)
        if (plan.contains("CartesianProduct") || plan.startsWith("PLANNING FAILED"))
          Some(name -> plan.linesIterator.take(3).mkString(" | "))
        else None
    }
    assert(offenders.isEmpty,
      offenders.map { case (n, p) => s"$n: $p" }.mkString("\n"))
  }
}
