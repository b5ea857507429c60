package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session factory's settings, the graft SQL functions every session
  * is built with, and a source check that main keeps one session builder,
  * one Spark listener, one owner of checkpoint blocks and one installer of
  * SQL functions.
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

  test("every session resolves each graft function, from the provider") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val provider = classOf[graft.functions.GraftFunctions].getName
    Seq(TestSpark.spark, TestSpark.spark.newSession()).foreach { spark =>
      graft.functions.GraftFunctions.builders.foreach { case (name, _) =>
        val info = spark.sessionState.functionRegistry.lookupFunction(FunctionIdentifier(name))
        assert(info.map(_.getClassName).contains(provider), name)
      }
      assert(spark.sql("SELECT dotp(array(1d, 2d), array(3d, 4d))").head().getDouble(0) == 11.0)
    }
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
    // what backs a materialized frame, and how its blocks are freed, is
    // known in one place
    assert(filesWith("""LogicalRDD|getPersistentRDDs""".r).distinct ==
      Seq("graft/core/Blocks.scala"))
    // SQL functions reach a session through the one provider the services
    // file lists
    assert(filesWith("""functionRegistry|createOrReplaceTempFunction|injectFunction""".r).distinct ==
      Seq("graft/functions/GraftFunctions.scala"))
    val services = java.nio.file.Paths.get(
      "src/main/resources/META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider")
    val listed = java.nio.file.Files.readAllLines(services).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
    assert(listed == Seq("graft.functions.GraftFunctions"))
    assert(classOf[org.apache.spark.sql.SparkSessionExtensionsProvider]
      .isAssignableFrom(Class.forName(listed.head)))
  }
}
