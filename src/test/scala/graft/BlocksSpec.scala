package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Blocks
import graft.operators.Dedup
import graft.queries.{AnalyticsQueries, Shared}

/** Loops leave no blocks behind: every iterative loop re-roots each round
  * on a checkpoint and frees the previous round's with [[Blocks.release]],
  * so after the result is read, the only blocks the loop registered are the
  * ones its result reads.
  */
class BlocksSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  // the repository's byte copy of the sf0.01 test tables
  private val sf = "perfbench/data/sf0.01"

  // two chains and a triangle with a pendant: several label rounds, several
  // star rounds, and two peel rounds for the 2-core
  private def graph: DataFrame = Seq(
    (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L),
    (10L, 11L), (11L, 12L),
    (20L, 21L), (21L, 22L), (22L, 20L), (22L, 23L)).toDF("a", "b")

  /** Build the result, collect it, and assert that every persistent RDD
    * registered meanwhile backs it. Fresh ids, not a size comparison: the
    * ContextCleaner removes older ids at its own pace, and a removal can
    * never add a fresh id (the PlanShapeSpec idiom). Memo entries built on
    * the way belong to [[Shared]], not to the loop.
    */
  private def leavesOnlyItsResult(build: => DataFrame): Unit = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val result = build
    assert(result.collect().nonEmpty)
    val fresh = spark.sparkContext.getPersistentRDDs.keySet -- before -- Shared.protectedRddIds
    val own = Blocks.backing(result)
    assert(fresh.subsetOf(own), s"blocks left behind: ${fresh -- own}")
    Blocks.release(result)
  }

  test("connectedComponents: the distributed label loop leaves no blocks behind") {
    leavesOnlyItsResult(Dedup.connectedComponents(graph, "a", "b", smallGraphMax = 0))
  }

  test("connectedComponentsStar: the distributed star loop leaves no blocks behind") {
    leavesOnlyItsResult(Dedup.connectedComponentsStar(graph, "a", "b", smallGraphMax = 0))
  }

  test("kCore: the distributed peel leaves no blocks behind") {
    leavesOnlyItsResult(Dedup.kCore(graph, "a", "b", k = 2, smallGraphMax = 0))
  }

  test("q_pagerank: the rank rounds leave no blocks behind") {
    leavesOnlyItsResult(AnalyticsQueries.qPagerank.run(spark, sf))
  }

  test("q_reachability: the frontier rounds leave no blocks behind") {
    leavesOnlyItsResult(AnalyticsQueries.qReachability.run(spark, sf))
  }
}
