package graft.ml

import org.apache.spark.sql.functions._
import graft.operators.{Indicators, Validation}
import graft.sinks.JdbcLoader
import graft.sources.JsonFileExtractor

/** The reference's full ML protocol (`/root/reference/predict.py` +
  * `README.md:303-352`) end-to-end, matching its data shape so the fold
  * indices come out IDENTICAL:
  *
  *  1. first 100 OHLCV bars (the reference's Alpha Vantage `compact` window)
  *     → validation → technical indicators → 51 feature rows
  *  2. upsert into the SQL database exactly as the finance pipeline's sink
  *     does (Derby stand-in for SQLite, PK = date)
  *  3. `featuresFromDb` — `SELECT *` back out of the DB, sorted by date
  *     (`predict.py:31-36`), next-day target → 50 rows
  *  4. `TimeSeriesSplit(5)` → folds (train,test) = (10,8) (18,8) (26,8)
  *     (34,8) (42,8); per-fold + mean RMSE for GBT and ridge
  *  5. full-data GBT top-5 feature importances
  *
  * Prints the BASELINE.md "ML protocol" table; run with
  * `sbt "runMain graft.ml.Protocol"`.
  */
object Protocol {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session()

    val bars = new JsonFileExtractor(spark,
      Map[String, Any]("path" -> "configs/sample_ohlcv.json")).extract()
      .orderBy("date").limit(100) // the reference's 100-bar compact window
    val features = Indicators.technicalIndicators(
      Validation.validate(bars, "ohlcv"))

    val url = "jdbc:derby:memory:mlprotocol;create=true"
    new JdbcLoader(Map[String, Any](
      "connection_string" -> url, "table" -> "daily_price_features",
      "if_exists" -> "upsert", "primary_keys" -> Seq("date"))).load(features)

    val df = Predict.featuresFromDb(spark, url, "daily_price_features").cache()
    println(s"Loaded ${df.count()} rows with target (from daily_price_features)")

    Seq("GBTRegressor (XGBoost stand-in)" -> Predict.gbt("target_return"),
        "Ridge (LinearRegression L2)" -> Predict.ridge("target_return")).foreach {
      case (name, f) =>
        println(s"\n=== $name ===")
        val folds = Predict.timeSeriesCv(df, "target_return", "date", f)
        folds.foreach(r =>
          println(f"  fold ${r.fold}: train=${r.trainRows} test=${r.testRows} RMSE=${r.rmse}%.4f"))
        println(f"  mean RMSE: ${folds.map(_.rmse).sum / folds.size}%.4f")
    }

    println("\nTop-5 feature importances (full-data GBT):")
    val imps = Predict.topImportances(df, "target_return")
    imps.foreach { case (c, w) => println(f"  $c%-15s $w%.4f") }
    // the reference's feature_importance.png artifact, as JSON (predict.py:75-93);
    // path configurable via first arg or SPARK_GRAFT_IMPORTANCE_PATH
    val artifactPath = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_IMPORTANCE_PATH", "target/feature_importance.json"))
    Predict.writeImportances(imps, artifactPath)
    println(s"Saved $artifactPath")
    spark.stop()
  }
}
