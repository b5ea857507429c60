package graft.tools

/** Dev tool: print formatted physical plans for selected queries so the
  * scan pushdown (`PushedFilters`/`ReadSchema`), join strategy (broadcast vs
  * shuffle), and WholeStageCodegen spans can be reviewed.
  *
  * Usage: runMain graft.tools.Explain <sfDir> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSet else
      Set("q1_pricing_summary", "q3_top_revenue_orders", "q5_nation_revenue",
        "q18_large_orders", "q_sessionize", "dd2_minhash_lsh", "sim1_ann_brute_topk")
    val spark = graft.Session()
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (names.contains(name)) {
        println(s"\n################ $name ################")
        fn(spark, sfDir).explain("formatted")
      }
    }
    spark.stop()
  }
}
