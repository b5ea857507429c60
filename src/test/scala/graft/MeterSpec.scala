package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Meter

class MeterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Jobs, stages and tasks the status tracker recorded for `group`; a
    * stage a job skipped (its shuffle output already existed) ran no task.
    */
  private def tracked(group: String): (Long, Long, Long) = {
    val st = spark.sparkContext.statusTracker
    val jobs = st.getJobIdsForGroup(group)
    val stages = jobs.flatMap(st.getJobInfo(_)).flatMap(_.stageIds).distinct
      .flatMap(st.getStageInfo(_)).filter(_.numCompletedTasks > 0)
    (jobs.length.toLong, stages.length.toLong, stages.map(_.numCompletedTasks.toLong).sum)
  }

  test("counts the jobs, stages and tasks the status tracker sees for the same job group") {
    val sc = spark.sparkContext
    val group = s"meter-spec-${System.nanoTime()}"
    val (rows, m) = Meter.during(spark) {
      sc.setJobGroup(group, "range, repartition, count")
      try spark.range(0, 10000, 1, 4).repartition(3).count()
      finally sc.clearJobGroup()
    }
    assert(rows == 10000L)
    assert((m.jobs, m.stages, m.tasks) == tracked(group))
    assert(m.stages >= 2, m.stageRows)
    assert(m.shuffleWriteBytes > 0)
    assert(m.shuffleReadBytes == m.shuffleWriteBytes)
    assert(m.stageRows.forall(_.site.nonEmpty), m.stageRows)
    assert(m.failures.isEmpty)
  }

  test("jobs run outside `during` are not counted") {
    spark.range(100).count() // its events may still be queued when `during` starts
    val (_, m) = Meter.during(spark)(())
    spark.range(100).count()
    assert(m == Meter.Report(0L, Nil))
  }

  test("a stage failed on purpose reports its reason") {
    val (err, m) = Meter.during(spark) {
      scala.util.Try(spark.range(0, 10, 1, 2)
        .selectExpr("assert_true(id < 5, 'meter spec boom')").collect()).failed.toOption
    }
    assert(err.nonEmpty)
    assert(m.failures.exists(_.contains("meter spec boom")), m.failures)
  }
}
