package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The Spark jobs `body` starts. The listener bus is drained on both
    * sides, so every job start is counted.
    */
  def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.graft.ListenerBusDrain.waitUntilEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      body
      org.apache.spark.graft.ListenerBusDrain.waitUntilEmpty(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    jobs.get()
  }
}
