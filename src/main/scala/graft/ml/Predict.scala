package graft.ml

import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.regression.{GBTRegressor, LinearRegression}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Indicators, MlPrep}

/** The reference's ML program (`/root/reference/predict.py`) on MLlib:
  *
  *  - M1 load the daily price-feature table sorted by date
  *  - M2 target: next-day percent return, last row dropped
  *  - M3 scikit-style `TimeSeriesSplit(5)` expanding-window CV
  *  - M4 gradient-boosted trees — `GBTRegressor(maxIter=100, maxDepth=4,
  *    seed=42)`, the MLlib stand-in for XGBoost (not on the offline
  *    classpath; see BASELINE.md acceptance note)
  *  - M5 ridge — `LinearRegression(regParam=1.0, elasticNetParam=0.0)`
  *  - M6 per-fold + mean RMSE
  *  - M7 final full-data GBT fit → top-5 feature importances
  *
  * The identical 12-feature set (`predict.py:24-28`): OHLCV + the seven
  * indicator columns.
  */
object Predict {

  val FeatureCols: Seq[String] = Seq(
    "open", "high", "low", "close", "volume",
    "sma_50", "rsi_14", "bb_upper", "bb_lower", "macd", "macd_signal", "macd_histogram")

  /** Daily OHLCV bars derived from `orders` (the engine's stand-in for the
    * reference's Alpha Vantage daily bars) + indicators + target.
    */
  def features(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = graft.Tables.orders(spark, sfDir)
      .groupBy(to_date(col("o_orderdate")).as("date"))
      .agg(
        min_by(col("o_totalprice"), col("o_orderkey")).as("open"),
        max(col("o_totalprice")).as("high"),
        min(col("o_totalprice")).as("low"),
        avg(col("o_totalprice")).as("close"),
        count(lit(1)).cast("double").as("volume"))
      .withColumn("date", col("date").cast("string"))
    val ind = Indicators.technicalIndicators(daily)
    MlPrep.withTargetReturn(ind, "close", "date")
  }

  /** M1 — the reference's actual load path (`predict.py:31-36`): read the
    * feature table back from the database the pipeline upserted
    * (`SELECT * FROM <table>` via `spark.read.jdbc`, sorted by date), then
    * derive the next-day target exactly as [[features]] does. Column names
    * come back in their exact (quoted, lowercase) created form.
    */
  def featuresFromDb(spark: SparkSession, url: String, table: String): DataFrame = {
    val raw = spark.read.jdbc(url, table, new java.util.Properties())
      .orderBy("date")
    MlPrep.withTargetReturn(raw, "close", "date")
  }

  final case class FoldResult(fold: Long, trainRows: Long, testRows: Long, rmse: Double)

  /** Expanding-window CV of one regressor; returns per-fold RMSE. */
  def timeSeriesCv(
      df: DataFrame, labelCol: String, orderCol: String,
      fit: DataFrame => DataFrame => DataFrame, // train => (test => predictions)
      nSplits: Int = 5): Seq[FoldResult] = {
    val assembled = new VectorAssembler()
      .setInputCols(FeatureCols.toArray).setOutputCol("features")
      .transform(df)
      .withColumn("__rn", row_number().over(Window.orderBy(col(orderCol))))
      .cache()
    val n = assembled.count()
    val evaluator = new RegressionEvaluator()
      .setLabelCol(labelCol).setPredictionCol("prediction").setMetricName("rmse")
    val res = MlPrep.timeSeriesSplitBounds(n, nSplits).map { f =>
      val train = assembled.filter(col("__rn") <= f.trainRows)
      val test = assembled.filter(col("__rn") > f.trainRows && col("__rn") <= f.trainRows + f.testRows)
      val predictions = fit(train)(test)
      FoldResult(f.fold, f.trainRows, f.testRows, evaluator.evaluate(predictions))
    }
    assembled.unpersist()
    res
  }

  def gbt(labelCol: String): DataFrame => DataFrame => DataFrame = { train =>
    val model = new GBTRegressor()
      .setLabelCol(labelCol).setFeaturesCol("features")
      .setMaxIter(100).setMaxDepth(4).setSeed(42L)
      .fit(train)
    test => model.transform(test)
  }

  def ridge(labelCol: String): DataFrame => DataFrame => DataFrame = { train =>
    val model = new LinearRegression()
      .setLabelCol(labelCol).setFeaturesCol("features")
      .setRegParam(1.0).setElasticNetParam(0.0) // L2 only ≡ ridge(alpha=1.0)
      .fit(train)
    test => model.transform(test)
  }

  /** M7 — full-data GBT fit, top-k importances (name, weight). */
  def topImportances(df: DataFrame, labelCol: String, k: Int = 5): Seq[(String, Double)] = {
    val assembled = new VectorAssembler()
      .setInputCols(FeatureCols.toArray).setOutputCol("features").transform(df)
    val model = new GBTRegressor()
      .setLabelCol(labelCol).setFeaturesCol("features")
      .setMaxIter(100).setMaxDepth(4).setSeed(42L)
      .fit(assembled)
    FeatureCols.zip(model.featureImportances.toArray)
      .sortBy(-_._2).take(k)
  }

  /** M7 artifact — the reference saves `feature_importance.png`
    * (`predict.py:75-93`); the machine-readable analogue here is a sorted
    * JSON artifact on disk (and [[writeImportancesSvg]] is the chart).
    */
  def writeImportances(imps: Seq[(String, Double)], path: String): Unit = {
    val json = imps.map { case (c, w) => s"""  {"feature": "$c", "importance": $w}""" }
      .mkString("[\n", ",\n", "\n]\n")
    writeText(json, path)
  }

  /** M7 chart artifact — the reference's matplotlib horizontal-bar PNG
    * (`predict.py:86-93`) re-expressed as a dependency-free SVG: one bar
    * per feature (importance-sorted, widths proportional to the max),
    * feature label left, weight right. SVG is plain text, so the chart
    * ships without any plotting library in the container — closing the
    * SURVEY §2.7 "PNG descoped" gap with an equivalent vector artifact.
    */
  def importancesSvg(imps: Seq[(String, Double)]): String = {
    val w = 640; val rowH = 32; val top = 34; val labelW = 150; val valueW = 80
    val h = top + rowH * imps.size + 12
    val maxW = imps.map(_._2).foldLeft(0.0)(math.max) max Double.MinPositiveValue
    // feature names are caller data — XML-escape them or a '&'/'<' in a
    // name makes the whole document invalid
    def esc(s: String): String =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val bars = imps.zipWithIndex.map { case ((name0, imp), i) =>
      val name = esc(name0)
      val y = top + i * rowH
      val barW = math.max(1.0,
        (w - labelW - valueW - 20) * (imp / maxW))
      f"""  <text x="${labelW - 8}" y="${y + 16}" text-anchor="end" font-family="sans-serif" font-size="13">$name</text>
         |  <rect x="$labelW" y="$y" width="$barW%.1f" height="${rowH - 10}" fill="#4878a8"/>
         |  <text x="${labelW + barW + 6}%.1f" y="${y + 16}" font-family="sans-serif" font-size="12">$imp%.4f</text>""".stripMargin
    }.mkString("\n")
    s"""<svg xmlns="http://www.w3.org/2000/svg" width="$w" height="$h" viewBox="0 0 $w $h">
       |  <text x="${w / 2}" y="20" text-anchor="middle" font-family="sans-serif" font-size="15" font-weight="bold">Top feature importances (GBT)</text>
       |$bars
       |</svg>
       |""".stripMargin
  }

  def writeImportancesSvg(imps: Seq[(String, Double)], path: String): Unit =
    writeText(importancesSvg(imps), path)

  private def writeText(text: String, path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    val spark = graft.Session()

    val df = features(spark, sfDir).cache()
    println(s"Loaded ${df.count()} rows with target")

    Seq("GBTRegressor (XGBoost stand-in)" -> gbt("target_return"),
        "Ridge (LinearRegression L2)" -> ridge("target_return")).foreach { case (name, f) =>
      println(s"\n=== $name ===")
      val folds = timeSeriesCv(df, "target_return", "date", f)
      folds.foreach(r => println(f"  fold ${r.fold}: train=${r.trainRows} test=${r.testRows} RMSE=${r.rmse}%.4f"))
      println(f"  mean RMSE: ${folds.map(_.rmse).sum / folds.size}%.4f")
    }

    println("\nTop-5 feature importances (full-data GBT):")
    val imps = topImportances(df, "target_return")
    imps.foreach { case (c, w) => println(f"  $c%-15s $w%.4f") }
    val artifactPath = sys.env.getOrElse(
      "SPARK_GRAFT_IMPORTANCE_PATH", "target/feature_importance.json")
    writeImportances(imps, artifactPath)
    // the chart artifact (the reference's feature_importance.png role)
    val svgPath = artifactPath.replaceAll("\\.json$", "") + ".svg"
    writeImportancesSvg(imps, svgPath)
    println(s"Saved $artifactPath and $svgPath")
    spark.stop()
  }
}
