package graft.tools
import graft.queries._
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session()
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val qs = Seq(AnalyticsQueries.qScd2, AnalyticsQueries.qResampleFfill,
      TextQueries.tx11VocabZipf, TextQueries.tx12Bigrams,
      SimilarityQueries.sim7LabelCentroids, MiscQueries.mx9SlidingWindows,
      StreamingQueries.st1SessionWindows, StreamingQueries.st2HourlyCounts,
      MiscQueries.mx8SequencePacking,
      AnalyticsQueries.qCohortRetention, AnalyticsQueries.qFunnel,
      AnalyticsQueries.qMomGrowth, AnalyticsQueries.qTrendLine)
    qs.foreach { q =>
      val p = q.run(spark, sf).queryExecution.executedPlan.toString
      val ex = p.linesIterator.count(_.contains("Exchange"))
      val sp = p.linesIterator.count(_.contains("Exchange SinglePartition"))
      val cart = p.contains("CartesianProduct")
      println(f"AUDIT ${q.name}%-26s exchanges=$ex singlePart=$sp cartesian=$cart")
    }
    spark.stop()
  }
}
