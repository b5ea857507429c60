package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Indicators

/** Mirror of the reference's `tests/test_finance_transformer.py` behavioral
  * suite over `Indicators.technicalIndicators` (the `technical_indicators`
  * transformer): column contract, warmup drop, numeric invariants, input
  * tolerance (case, order, string numerics), config propagation, and
  * degenerate inputs.
  */
class TechnicalIndicatorsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val IndicatorCols = Seq(
    "sma_50", "rsi_14", "bb_upper", "bb_lower", "macd", "macd_signal", "macd_histogram")

  /** Deterministic synthetic daily bars (reference rng(42)-walk analogue). */
  private def bars(n: Int): Seq[(String, Double, Double, Double, Double, Double)] = {
    var price = 100.0
    (0 until n).map { i =>
      val step = math.sin(i * 1.7) * 2.0 + math.cos(i * 0.3)
      price = math.max(1.0, price + step)
      val date = java.time.LocalDate.of(2023, 1, 1).plusDays(i).toString
      (date, price - 0.5, price + 1.0, price - 1.0, price, 1000.0 + i)
    }
  }

  private def barsDf(n: Int) =
    bars(n).toDF("date", "open", "high", "low", "close", "volume")

  private lazy val out120 = Indicators.technicalIndicators(barsDf(120)).cache()

  test("output has the seven indicator columns and preserves the originals") {
    val cols = out120.columns.toSeq
    assert(Seq("date", "open", "high", "low", "close", "volume").forall(cols.contains))
    assert(IndicatorCols.forall(cols.contains))
  }

  test("warmup rows are dropped: 120 bars -> 71 rows (sma_50 dominates)") {
    assert(out120.count() == 71)
  }

  test("no null indicator or OHLCV values remain in the output") {
    val anyNull = (IndicatorCols ++ Seq("open", "high", "low", "close", "volume"))
      .map(c => col(c).isNull).reduce(_ || _)
    assert(out120.filter(anyNull).count() == 0)
  }

  test("rsi_14 is bounded to [0, 100]") {
    assert(out120.filter(col("rsi_14") < 0.0 || col("rsi_14") > 100.0).count() == 0)
  }

  test("sma_50 equals the mean of the trailing 50 closes (bit-exact)") {
    val closes = bars(120).map(_._5)
    val rows = out120.orderBy("date").select("date", "sma_50").collect()
    // output row i corresponds to bar 49+i; same left-to-right summation order
    rows.zipWithIndex.foreach { case (r, i) =>
      var s = 0.0
      closes.slice(i, i + 50).foreach(s += _)
      assert(r.getDouble(1) == s / 50.0, s"row $i (${r.getString(0)})")
    }
  }

  test("bollinger upper strictly above lower") {
    assert(out120.filter(col("bb_upper") <= col("bb_lower")).count() == 0)
  }

  test("macd_histogram equals macd - macd_signal exactly") {
    assert(out120.filter(col("macd_histogram") =!= col("macd") - col("macd_signal")).count() == 0)
  }

  test("dates are re-emitted as ISO-8601 UTC strings") {
    val d = out120.orderBy("date").select("date").head().getString(0)
    assert(d.matches("""\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z"""), d)
  }

  test("timezone-aware and naive datetimes both parse; offsets convert to UTC") {
    // Alpha Vantage style '2024-01-05 16:00:00-04:00' must land at the UTC
    // instant (20:00Z); naive '09:30:00' is taken as session-TZ (UTC)
    def withDates(fmt: Int => String) = {
      val b = bars(30).zipWithIndex.map { case ((_, o, h, l, c, v), i) =>
        (fmt(i + 1), o, h, l, c, v)
      }.toDF("date", "open", "high", "low", "close", "volume")
      Indicators.technicalIndicators(b, Indicators.Config(smaPeriod = 2, bbPeriod = 2, rsiPeriod = 2))
        .select("date").collect().map(_.getString(0))
    }
    val tz = withDates(d => f"2024-01-$d%02d 16:00:00-04:00")
    assert(tz.nonEmpty && tz.forall(_.endsWith("T20:00:00Z")))
    val naive = withDates(d => f"2024-01-$d%02d 09:30:00")
    assert(naive.nonEmpty && naive.forall(_.endsWith("T09:30:00Z")))
  }

  test("unsorted input produces the same output as sorted input") {
    val shuffled = barsDf(120).orderBy(rand(7))
    val a = Indicators.technicalIndicators(shuffled).orderBy("date").collect().toSeq
    val b = out120.orderBy("date").collect().toSeq
    assert(a == b)
  }

  test("string numeric columns are coerced (pandas to_numeric parity)") {
    val stringly = barsDf(120).select(
      col("date"),
      col("open").cast("string").as("open"),
      col("high").cast("string").as("high"),
      col("low").cast("string").as("low"),
      col("close").cast("string").as("close"),
      col("volume").cast("string").as("volume"))
    val res = Indicators.technicalIndicators(stringly).orderBy("date").collect().toSeq
    assert(res == out120.orderBy("date").collect().toSeq)
  }

  test("uppercase column names are handled (case-insensitive contract)") {
    val upper = barsDf(120).toDF("DATE", "OPEN", "HIGH", "LOW", "CLOSE", "VOLUME")
    assert(Indicators.technicalIndicators(upper).count() == 71)
  }

  test("missing required column raises with the column named") {
    val noClose = barsDf(120).drop("close")
    val e = intercept[IllegalArgumentException](Indicators.technicalIndicators(noClose))
    assert(e.getMessage.contains("close"))
  }

  test("shorter periods produce more rows") {
    val shorter = Indicators.technicalIndicators(
      barsDf(120), Indicators.Config(smaPeriod = 20, bbPeriod = 10))
    assert(shorter.count() > out120.count())
  }

  test("config values propagate: different rsi_period changes rsi values") {
    val alt = Indicators.technicalIndicators(barsDf(120), Indicators.Config(rsiPeriod = 7))
      .orderBy("date").select("rsi_14").as[Double].collect().toSeq
    val base = out120.orderBy("date").select("rsi_14").as[Double].collect().toSeq
    // column NAME stays rsi_14 (hardcoded contract) but the values differ
    assert(alt.size >= base.size)
    assert(alt.takeRight(base.size) != base)
  }

  test("empty input frame yields an empty output") {
    val empty = barsDf(5).filter(lit(false))
    assert(Indicators.technicalIndicators(empty).count() == 0)
  }

  test("too few rows for the warmup yields an empty output") {
    assert(Indicators.technicalIndicators(barsDf(10)).count() == 0)
  }

  test("keltner: both recursions match a driver-side replay of the recurrences") {
    val df = barsDf(60).withColumn("sym", lit("a"))
    val got = Indicators.withKeltner(df, "high", "low", "close", "kc",
        emaPeriod = 20, atrPeriod = 10, mult = 2.0,
        orderCol = "date", partitionCols = Seq("sym"))
      .orderBy(col("date"))
      .select("kc_mid", "kc_up", "kc_lo")
      .collect()
    val bs = bars(60)
    var atr = 0.0; var mid = 0.0
    val aw = 1.0 / 10.0; val ae = 2.0 / 21.0
    bs.zipWithIndex.foreach { case ((_, _, h, l, c, _), i) =>
      val tp = (h + l + c) / 3.0
      val tr = if (i == 0) h - l else {
        val pc = bs(i - 1)._5
        math.max(h - l, math.max(math.abs(h - pc), math.abs(l - pc)))
      }
      atr = if (i == 0) tr else aw * tr + (1.0 - aw) * atr
      mid = if (i == 0) tp else ae * tp + (1.0 - ae) * mid
      if (i >= 19) { // ema min_periods=20 dominates atr's 10
        assert(got(i).getDouble(0) == mid, s"mid at $i")
        assert(got(i).getDouble(1) == mid + 2.0 * atr, s"up at $i")
        assert(got(i).getDouble(2) == mid - 2.0 * atr, s"lo at $i")
      } else assert(got(i).isNullAt(0), s"warmup at $i")
    }
  }

  test("donchian: exact trailing extrema, null until a full window") {
    val df = barsDf(30).withColumn("sym", lit("a"))
    val got = Indicators.withDonchian(df, "high", "low", "dc", 5,
        orderCol = "date", partitionCols = Seq("sym"))
      .orderBy(col("date")).select("dc_up", "dc_lo", "dc_mid").collect()
    val bs = bars(30)
    bs.indices.foreach { i =>
      if (i < 4) assert(got(i).isNullAt(0))
      else {
        val win = bs.slice(i - 4, i + 1)
        val up = win.map(_._3).max; val lo = win.map(_._4).min
        assert(got(i).getDouble(0) == up && got(i).getDouble(1) == lo)
        assert(got(i).getDouble(2) == (up + lo) / 2.0)
      }
    }
  }

  test("ichimoku: all five lines match a driver-side replay; displacement direction correct") {
    val df = barsDf(120).withColumn("sym", lit("a"))
    val got = Indicators.withIchimoku(df, "high", "low", "close",
        orderCol = "date", partitionCols = Seq("sym"))
      .orderBy(col("date"))
      .select("tenkan", "kijun", "senkou_a", "senkou_b", "chikou")
      .collect()
    val bs = bars(120)
    def mid(i: Int, p: Int): Option[Double] =
      if (i < p - 1) None
      else {
        val w = bs.slice(i - p + 1, i + 1)
        Some((w.map(_._3).max + w.map(_._4).min) / 2.0)
      }
    bs.indices.foreach { i =>
      def chk(col: Int, want: Option[Double], what: String): Unit = want match {
        case Some(v) => assert(!got(i).isNullAt(col) && got(i).getDouble(col) == v, s"$what at $i")
        case None => assert(got(i).isNullAt(col), s"$what should be null at $i")
      }
      chk(0, mid(i, 9), "tenkan")
      chk(1, mid(i, 26), "kijun")
      val sa = if (i < 26) None
        else for { t <- mid(i - 26, 9); k <- mid(i - 26, 26) } yield (t + k) / 2.0
      chk(2, sa, "senkou_a")
      chk(3, if (i < 26) None else mid(i - 26, 52), "senkou_b")
      chk(4, if (i + 26 < bs.length) Some(bs(i + 26)._5) else None, "chikou")
    }
  }

  test("constant price: RSI 0/0 is null so every row is dropped (pandas NaN parity)") {
    val flat = (0 until 120).map { i =>
      (java.time.LocalDate.of(2023, 1, 1).plusDays(i).toString,
        100.0, 100.0, 100.0, 100.0, 1000.0)
    }.toDF("date", "open", "high", "low", "close", "volume")
    assert(Indicators.technicalIndicators(flat).count() == 0)
  }

  test("technicalIndicators equals the composition of the four components, Row for Row") {
    // several symbols of different lengths, null closes inside and at the
    // start of a series, periods short enough that most rows survive, and
    // two stale indicator columns (as in rows enriched once before), which
    // are replaced where they stand
    val cfg = Indicators.Config(rsiPeriod = 5, smaPeriod = 7, bbPeriod = 4, bbStd = 1.5,
      macdFast = 3, macdSlow = 6, macdSignal = 2)
    val input = (for (s <- 0 until 5; (b, i) <- bars(60 + 11 * s).zipWithIndex) yield {
      val close: Option[Double] = if ((i + s) % 13 == 0 || (i == 0 && s == 2)) None else Some(b._5 + s)
      (s"S$s", "stale", b._1, b._2, b._3, b._4, close, b._6, -1.0)
    }).toDF("sym", "MACD", "Date", "Open", "High", "Low", "Close", "Volume", "sma_50")
    val fused = Indicators.technicalIndicators(input, cfg, partitionCols = Seq("sym"))

    // the reference pre-processing, then the four components in turn
    val prepped = input.select(col("sym"), col("MACD").as("macd"),
      date_format(try_to_timestamp(col("Date")), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("date"),
      col("Open").cast("double").as("open"), col("High").cast("double").as("high"),
      col("Low").cast("double").as("low"), col("Close").cast("double").as("close"),
      col("Volume").cast("double").as("volume"), col("sma_50"))
    val p = Seq("sym")
    val composed = Indicators.withMacd(
      Indicators.withBollinger(
        Indicators.withRsi(
          Indicators.withSma(prepped, "close", "sma_50", cfg.smaPeriod, "date", p),
          "close", "rsi_14", cfg.rsiPeriod, "date", p),
        "close", "bb_upper", "bb_lower", cfg.bbPeriod, cfg.bbStd, "date", p),
      "close", "macd", "macd_signal", "macd_histogram",
      cfg.macdFast, cfg.macdSlow, cfg.macdSignal, "date", p)
      .na.drop("any", IndicatorCols).orderBy("sym", "date")

    assert(fused.columns.toSeq == composed.columns.toSeq)
    assert(fused.columns.take(2).toSeq == Seq("sym", "macd") && fused.columns(8) == "sma_50",
      fused.columns.mkString(","))
    // bit patterns, so -0.0/0.0 or a last-ulp difference would show
    def bits(rows: Array[org.apache.spark.sql.Row]) = rows.toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    })
    val (f, c) = (bits(fused.collect()), bits(composed.collect()))
    assert(f.size > 5 * 30 && f.map(_.head).distinct.size == 5, s"${f.size} rows")
    assert(f == c, s"${f.zip(c).count { case (a, b) => a != b }} rows differ")
  }
}
