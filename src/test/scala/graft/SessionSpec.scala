package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session factory's settings, and a source check that main keeps one
  * session builder and one Spark listener.
  */
class SessionSpec extends AnyFunSuite {

  test("default session: SPARK_MASTER or local[cpus], one shuffle partition per core, UTC, no UI") {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    assert(Session.cpus == cpus)
    assert(Session.settings(Session.cpus).toMap == Map(
      "spark.master" -> sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"),
      "spark.app.name" -> "graft",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false"))
  }

  test("explicit cpus: the test session is built with 4") {
    val spark = TestSpark.spark
    assert(spark.sparkContext.master == sys.env.getOrElse("SPARK_MASTER", "local[4]"))
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("main holds one SparkSession builder, in Session, and one SparkListener, the Meter") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val sources = {
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }.map(p => root.relativize(p).toString -> java.nio.file.Files.readString(p))
    def filesWith(re: scala.util.matching.Regex): Seq[String] =
      sources.flatMap { case (f, text) => re.findAllIn(text).map(_ => f) }
    assert(filesWith("""SparkSession\.builder\(""".r) == Seq("graft/Session.scala"))
    assert(filesWith("""(extends|with|new)\s+(org\.apache\.spark\.scheduler\.)?SparkListener\b""".r) ==
      Seq("graft/core/Meter.scala"))
  }
}
