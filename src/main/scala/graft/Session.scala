package graft

import org.apache.spark.sql.SparkSession

/** The one session factory of every main and the test harness.
  *
  * `cpus` is `SPARK_GRAFT_CPUS`, or else the JVM's available processors.
  * The session runs on `SPARK_MASTER`, or else `local[cpus]`, with one
  * shuffle partition per core, UTC session time (`Tables.events` normalizes
  * NTZ parquet through a session-TZ-sensitive cast, and the DuckDB oracle is
  * UTC), no UI and WARN logging. A caller that needs another partition count
  * sets `spark.sql.shuffle.partitions` on the built session.
  */
object Session {

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The settings a session of `cpus` cores is built with. */
  private[graft] def settings(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"),
    "spark.app.name" -> "graft",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  def apply(cpus: Int = Session.cpus): SparkSession = {
    val spark = settings(cpus)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
