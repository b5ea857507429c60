package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Engine
import graft.core.Config._
import graft.queries.Shared

/** `queries_mix`: the runner's sample of `SparkEntry.queries`, run serially.
  * Code-warm: every sampled query first runs once, untimed, on the smaller
  * warm-up tables, two queries at a time (its memo frames are keyed by those
  * tables, so the timed run still builds its own). Data-cold: caches are swept between queries
  * (shared memo frames survive, as in the suite bench). Each query runs once
  * and its result is consumed in full by the digest action inside the timed
  * section.
  */
object QueriesMix extends Workload {
  private lazy val registry = graft.SparkEntry.queries

  private def sweepCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    val keep = Shared.protectedRddIds
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep.contains(id)) rdd.unpersist(false)
    }
  }

  /** The plan's sample, or every registered query when it names none. */
  private def names(run: Main.Run): Seq[String] =
    if (run.plan.get("queries").contains(null)) registry.keys.toSeq.sorted else run.strs("queries")

  /** Queries warmed at once: the warm pass is mostly driver-side code
    * generation and JIT compilation, which overlap across queries.
    */
  private val WarmThreads = 2

  def setup(run: Main.Run): Unit =
    run.plan.get("warm_dir").filter(_ != null).foreach { dir =>
      val spark = run.spark
      val pool = java.util.concurrent.Executors.newFixedThreadPool(WarmThreads)
      try names(run).map { q =>
        pool.submit(new Runnable {
          def run(): Unit = try Digest(registry(q)(spark, dir.toString)) catch { case _: Throwable => () }
        })
      }.foreach(_.get())
      finally pool.shutdown()
      sweepCaches(run.spark)
    }

  override def finish(run: Main.Run): Unit =
    run.extra("oracle") = graft.SparkEntry.oracleSql.keys.toSeq.sorted

  def timed(run: Main.Run): Unit = {
    val dir = run.str("data_dir")
    names(run).foreach { q =>
      val memoBefore = Shared.memoKeys
      Shared.drainConsumed()
      val o = run.op("query", q) { o =>
        val df = Tracer.span("queries.build")(registry(q)(run.spark, dir))
        val (rows, digest) = Tracer.span("queries.consume")(Digest(df))
        o.data("rows") = rows
        o.data("digest") = digest
      }
      sweepCaches(run.spark)
      val built = Shared.memoKeys -- memoBefore
      val hits = Shared.drainConsumed() -- built
      o.data("memo") = (built ++ hits).toSeq.map(_.stripSuffix(s"|$dir")).sorted
      if (run.trace) {
        Tracer.drain()
        o.data("plan_ms") = Tracer.takePlanMs()
        o.data("memo_built") = built.size
        // the longest build: a frame built inside another frame's build
        // (minhashPairs under ccLabels) is part of that build's time
        o.data("memo_build_ms") = built.toSeq.flatMap(Shared.buildSeconds).maxOption.getOrElse(0.0) * 1000.0
        o.data("memo_hits") = hits.size
      }
    }
  }
}

/** Pipeline runs through the unmodified `core.Engine.run`, one delivery per
  * op. Traced, the config's plugins are swapped for [[TracedPlugins]].
  */
abstract class EtlWorkload extends Workload {
  def config(run: Main.Run, delivery: String): PipelineConfig

  protected def runDelivery(run: Main.Run, path: String): DataFrame = {
    val cfg = config(run, path)
    new Engine(run.spark).run(if (run.trace) TracedPlugins.traced(cfg) else cfg)
  }

  /** The first deliveries, untimed: they warm the code paths and build the
    * history (state, table) the timed deliveries run against.
    */
  def setup(run: Main.Run): Unit =
    run.strs("warm").foreach { p =>
      val t0 = System.nanoTime()
      runDelivery(run, p)
      System.err.println(f"[perfbench] warm-up ${new java.io.File(p).getName} ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }

  def afterDelivery(run: Main.Run, op: Main.Op, out: DataFrame): Unit

  def timed(run: Main.Run): Unit =
    run.strs("deliveries").foreach { p =>
      var out: DataFrame = null
      val o = run.op("delivery", new java.io.File(p).getName) { _ =>
        out = runDelivery(run, p)
      }
      if (o.error.isEmpty) afterDelivery(run, o, out)
    }
}

/** `etl_incremental`: `jsonl_file` → `incremental_dedup` →
  * `incremental_near_dedup` → `jsonl_local` (append), both state stores and
  * the cursor carried across deliveries.
  */
object EtlIncremental extends EtlWorkload {
  def config(run: Main.Run, delivery: String): PipelineConfig = {
    val state = s"${run.out}/state"
    def stage(kind: String, dir: String) = StepConfig(kind, inlineConfig = Map(
      "id_column" -> "doc_id", "text_column" -> "text", "shard_column" -> "source",
      "state_dir" -> s"$state/$dir"))
    PipelineConfig(
      name = "perfbench_incremental",
      extract = StepConfig("jsonl_file", inlineConfig = Map("path" -> delivery)),
      transform = Seq(stage("incremental_dedup", "exact"), stage("incremental_near_dedup", "near")),
      load = StepConfig("jsonl_local", inlineConfig = Map(
        "path" -> s"${run.out}/curated", "if_exists" -> "append")),
      incremental = Some(IncrementalConfig(cursorField = "doc_id", cursorParam = "since_id",
        statePath = s"$state/cursor.json")),
      settings = Settings(retry = RetrySettings(maxAttempts = 3, backoffSeconds = 0.5)))
  }

  def afterDelivery(run: Main.Run, op: Main.Op, out: DataFrame): Unit =
    op.data("survivor_ids") = out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
}

/** `etl_finance_ml`: `json_file` → `pydantic_validation(ohlcv)` →
  * `technical_indicators(partition_columns=[symbol])` → `sql_database`
  * upsert into in-memory Derby on (symbol, date). A traced run then adds,
  * after the timed phase, the ML protocol on one symbol read back through
  * `Predict.featuresFromDb`: the ridge time-series CV and the final GBT fit
  * with its top importances. The GBT cross-validation (5 × 100 boosting
  * iterations, minutes on 4 cores) is left out, as is the protocol from the
  * end-to-end runs: it would not fit the per-run time budget.
  */
object EtlFinanceMl extends EtlWorkload {
  val Url = "jdbc:derby:memory:perfbench;create=true"

  def config(run: Main.Run, delivery: String): PipelineConfig =
    PipelineConfig(
      name = "perfbench_finance",
      extract = StepConfig("json_file", inlineConfig = Map("path" -> delivery)),
      transform = Seq(
        StepConfig("pydantic_validation", inlineConfig = Map("schema" -> "ohlcv")),
        StepConfig("technical_indicators", inlineConfig = Map(
          "partition_columns" -> Seq("symbol")))),
      load = StepConfig("sql_database", inlineConfig = Map(
        "connection_string" -> Url, "table" -> "prices",
        "if_exists" -> "upsert", "primary_keys" -> Seq("symbol", "date"))),
      incremental = Some(IncrementalConfig(cursorField = "date", cursorParam = "since",
        statePath = s"${run.out}/cursor.json")),
      settings = Settings(retry = RetrySettings(maxAttempts = 3, backoffSeconds = 0.5)))

  private def query[T](sql: String)(f: java.sql.ResultSet => T): Seq[T] = {
    val conn = java.sql.DriverManager.getConnection(Url)
    try {
      val rs = conn.createStatement().executeQuery(sql)
      val b = Seq.newBuilder[T]
      while (rs.next()) b += f(rs)
      b.result()
    } finally conn.close()
  }

  def afterDelivery(run: Main.Run, op: Main.Op, out: DataFrame): Unit =
    op.data("table_rows") = query("SELECT COUNT(*) FROM prices")(_.getLong(1)).head

  private def ml(run: Main.Run, symbol: String): Map[String, Any] = {
    import graft.ml.Predict
    val label = "target_return"
    val df = Tracer.span("ml.read") {
      val d = Predict.featuresFromDb(run.spark, Url,
        s"""(SELECT * FROM prices WHERE "symbol" = '$symbol') AS t""").cache()
      d.count()
      d
    }
    val ridge = Tracer.span("ml.ridge_cv")(Predict.timeSeriesCv(df, label, "date", Predict.ridge(label)))
    val top = Tracer.span("ml.final_fit")(Predict.topImportances(df, label))
    df.unpersist()
    Map("ridge_folds" -> ridge.map(f => Seq(f.fold, f.trainRows, f.testRows, f.rmse)),
      "top_features" -> top.map(_._1))
  }

  override def finish(run: Main.Run): Unit = {
    if (run.trace) run.op("ml", "ml_protocol")(o => o.data ++= ml(run, run.str("ml_symbol")))
    run.extra("table") = query(
      """SELECT "symbol", "date", "open", "high", "low", "close", "volume" FROM prices""") { rs =>
      Seq(rs.getString(1), rs.getString(2), rs.getDouble(3), rs.getDouble(4), rs.getDouble(5),
        rs.getDouble(6), rs.getDouble(7))
    }
  }
}
