package graft.core

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** The Spark work one block of code starts: the listener behind
  * [[Meter.during]], which every job, stage and shuffle count in the
  * program goes through.
  */
final class Meter private () extends SparkListener {
  private var jobs = 0L
  private val stages = mutable.ArrayBuffer.empty[Meter.Stage]

  // callbacks run on the listener-bus thread; `report` reads after a drain
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    // null for a stage that never launched a task
    val m = Option(si.taskMetrics)
    stages += Meter.Stage(si.stageId, si.name, si.numTasks,
      m.fold(0L)(_.executorRunTime),
      (for (end <- si.completionTime; start <- si.submissionTime) yield end - start).getOrElse(0L),
      m.fold(0L)(_.shuffleReadMetrics.totalBytesRead),
      m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
      si.failureReason.map(why =>
        s"stage ${si.stageId} '${si.name}': ${why.linesIterator.take(2).mkString(" | ")}"))
  }

  private def report: Meter.Report = synchronized(Meter.Report(jobs, stages.toSeq))
}

object Meter {

  /** One completed (or failed) stage. `site` is the stage name, which
    * carries the submitting call site ("count at Foo.scala:123"); `wallMs`
    * runs from submission to completion.
    */
  final case class Stage(id: Int, site: String, tasks: Int, taskRunMs: Long, wallMs: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, failure: Option[String])

  final case class Report(jobs: Long, stageRows: Seq[Stage]) {
    def stages: Long = stageRows.size.toLong
    def tasks: Long = stageRows.map(_.tasks.toLong).sum
    def taskRunMs: Long = stageRows.map(_.taskRunMs).sum
    def shuffleReadBytes: Long = stageRows.map(_.shuffleReadBytes).sum
    def shuffleWriteBytes: Long = stageRows.map(_.shuffleWriteBytes).sum
    def failures: Seq[String] = stageRows.flatMap(_.failure)
    def shuffleMb: Double = (shuffleReadBytes + shuffleWriteBytes) / 1048576.0
  }

  /** Run `body` and report the Spark work it started. The listener bus is
    * drained on both sides, so no event of an earlier job leaks in and none
    * of `body`'s is missed.
    */
  def during[T](spark: SparkSession)(body: => T): (T, Report) = {
    val sc = spark.sparkContext
    val meter = new Meter
    ListenerBusDrain.waitUntilEmpty(sc)
    sc.addSparkListener(meter)
    try {
      val result = body
      ListenerBusDrain.waitUntilEmpty(sc)
      (result, meter.report)
    } finally sc.removeSparkListener(meter)
  }
}
