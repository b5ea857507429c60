package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites. */
object TestSpark {
  lazy val spark: SparkSession = Session(4)

  /** The Spark jobs `body` starts (see [[graft.core.Meter.during]]). */
  def jobsDuring(body: => Unit): Int = graft.core.Meter.during(spark)(body)._2.jobs.toInt
}
