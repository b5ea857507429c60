package graft.tools

/** Per-query profile: runs each named query `n` times against an SF dir and
  * prints, per run, the wall time, the JIT compile-time delta, the Spark
  * jobs, stages and tasks, the shuffle MB, and the stages grouped by call
  * site, heaviest first. Caches and shared memos are dropped between runs,
  * so every run recomputes from parquet; the first run's JIT delta shows
  * its warmup. Usage:
  * runMain graft.tools.Prof <sfDir> <n> <query...>
  */
object Prof {
  private def jitMs(): Long =
    Option(java.lang.management.ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L)

  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && args(1).forall(_.isDigit),
      s"usage: Prof <sfDir> <n> <query...> (got: ${args.mkString(" ")})")
    val sfDir = args(0)
    val n = args(1).toInt
    val spark = graft.Session()
    args.drop(2).foreach { name =>
      val query = graft.SparkEntry.queries(name)
      (1 to n).foreach { run =>
        val jit0 = jitMs()
        val t0 = System.nanoTime()
        val (_, m) = graft.core.Meter.during(spark)(query(spark, sfDir).count())
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"== $name run $run: $wall%.2f s  jit +${jitMs() - jit0}%dms  " +
          f"jobs ${m.jobs}%d stages ${m.stages}%d tasks ${m.tasks}%d  " +
          f"shuffle ${m.shuffleMb}%.1f MB")
        m.stageRows.groupBy(_.site).toSeq
          .map { case (site, rows) =>
            (site, rows.size, rows.map(_.tasks).sum, rows.map(_.wallMs).sum, rows.map(_.taskRunMs).sum)
          }
          .sortBy(-_._4).take(14).foreach { case (site, stages, tasks, wallMs, runMs) =>
            println(f"   ${wallMs / 1e3}%6.2f s wall ${runMs / 1e3}%7.2f s task  " +
              f"$stages%3d stages $tasks%5d tasks  $site")
          }
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        graft.queries.Shared.clear()
      }
    }
    spark.stop()
  }
}
