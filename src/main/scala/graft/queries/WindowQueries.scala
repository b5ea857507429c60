package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.{Indicators, MlPrep}

/** Time-series window operators (SURVEY.md §2.4 W1–W4) and ML preparation
  * (§2.7 M2–M3) over the shared daily price series.
  *
  * The recursive-EMA operators (RSI, MACD) are checked against DuckDB
  * `list_reduce` folds that evaluate the *identical* IEEE recurrence
  * `y ← α·x + (1−α)·y` (see the fold-fragment note below), so values are
  * bit-exact, not approximately equal.
  */
object WindowQueries {

  // α snippets reused in the SQL oracles; the Scala side computes the same
  // doubles (1.0/period, 2.0/(span+1), 1.0 − α).
  private def aSpan(span: Int) = s"(CAST(2.0 AS DOUBLE)/${span + 1}.0)"
  private def bSpan(span: Int) = s"(1.0 - CAST(2.0 AS DOUBLE)/${span + 1}.0)"

  private val A14 = "(CAST(1.0 AS DOUBLE)/14.0)"
  private val B14 = "(1.0 - CAST(1.0 AS DOUBLE)/14.0)"

  /** The recursive-smoothing oracles below replay each per-key IEEE
    * recurrence as a DuckDB `list_reduce` FOLD instead of a recursive CTE:
    * per key, the ordered step inputs are collected into one list of
    * structs (the FIRST element doubling as the seeded state, so
    * `list_reduce`'s element-as-initial-accumulator convention seeds the
    * recursion exactly), the lambda appends one state struct per step
    * computing the IDENTICAL arithmetic expressions the old recursive CTE
    * evaluated, and `generate_subscripts`+`unnest` restore (key, rn, state)
    * rows. Bit-exactness is untouched — the same IEEE ops in the same
    * order — but the oracle drops from O(rounds × table-scan) recursive-CTE
    * cost to one linear fold: w7 went 58.6 s → 0.34 s at sf0.01, and the
    * whole 15-oracle family from ~480 s to <5 s, which is what lets the
    * driver's DuckDB gate finish (VERDICT r9 next-round item 1).
    */

  /** RSI fold fragment: from a CTE `gl(sym?, rn, gain, loss)` (rn contiguous
    * from its per-key minimum) produces `rec(sym?, rn, ag, al)` — Wilder's
    * coupled average-gain/average-loss recursion seeded at the first row.
    */
  private def rsiFoldSql(keyed: Boolean): String = {
    val symSel = if (keyed) "sym, " else ""
    val grp = if (keyed) " GROUP BY sym" else ""
    s"""arr AS (SELECT ${symSel}MIN(rn) AS rn0,
       |    list({'g': gain, 'l': loss, 'ag': gain, 'al': loss} ORDER BY rn) AS xs
       |  FROM gl$grp),
       |fold AS (SELECT ${symSel}rn0,
       |    list_reduce(list_transform(xs, z -> [z]),
       |      (acc, x) -> list_append(acc, {'g': x[1].g, 'l': x[1].l,
       |        'ag': $A14 * x[1].g + $B14 * acc[-1].ag,
       |        'al': $A14 * x[1].l + $B14 * acc[-1].al})) AS st
       |  FROM arr),
       |u AS (SELECT ${symSel}rn0, generate_subscripts(st, 1) AS i, unnest(st) AS v FROM fold),
       |rec AS (SELECT ${symSel}rn0 + i - 1 AS rn, v.ag AS ag, v.al AS al FROM u)""".stripMargin
  }

  /** MACD fold fragment: from a CTE `s(sym?, rn, close, …)` produces
    * `macdrec(sym?, rn, macd, sig)` — the e12/e26 EMAs plus signal EMA,
    * seeded (close, close, 0, 0) at rn = 1, each derived value recomputed
    * inline exactly as the old recursive CTE's nested derived tables did
    * (recomputing a deterministic IEEE expression is bit-identical to
    * reusing it).
    */
  private def macdFoldSql(keyed: Boolean): String = {
    val (a12, b12) = (aSpan(12), bSpan(12))
    val (a26, b26) = (aSpan(26), bSpan(26))
    val (a9, b9) = (aSpan(9), bSpan(9))
    val e12 = s"$a12*x[1].c + $b12*acc[-1].e12"
    val e26 = s"$a26*x[1].c + $b26*acc[-1].e26"
    val symSel = if (keyed) "sym, " else ""
    val grp = if (keyed) " GROUP BY sym" else ""
    s"""marr AS (SELECT ${symSel}MIN(rn) AS rn0,
       |    list({'c': close, 'e12': close, 'e26': close,
       |          'macd': CAST(0.0 AS DOUBLE), 'sig': CAST(0.0 AS DOUBLE)} ORDER BY rn) AS xs
       |  FROM s$grp),
       |mfold AS (SELECT ${symSel}rn0,
       |    list_reduce(list_transform(xs, z -> [z]),
       |      (acc, x) -> list_append(acc, {'c': x[1].c,
       |        'e12': $e12,
       |        'e26': $e26,
       |        'macd': ($e12) - ($e26),
       |        'sig': $a9*(($e12) - ($e26)) + $b9*acc[-1].sig})) AS st
       |  FROM marr),
       |mu AS (SELECT ${symSel}rn0, generate_subscripts(st, 1) AS i, unnest(st) AS v FROM mfold),
       |macdrec AS (SELECT ${symSel}rn0 + i - 1 AS rn, v.macd AS macd, v.sig AS sig FROM mu)""".stripMargin
  }

  val w1Sma: Q = Q(
    "w1_sma",
    s"""WITH ${Series.DailySql},
       |s AS (SELECT d, close, ROW_NUMBER() OVER (ORDER BY d) AS rn FROM daily)
       |SELECT d, close,
       |  SUM(close) OVER (ORDER BY d ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)/50.0 AS sma_50
       |FROM s QUALIFY rn >= 50 ORDER BY d""".stripMargin) { (spark, dir) =>
    Indicators.withSma(Series.daily(spark, dir), "close", "sma_50", 50, "d")
      .filter(col("sma_50").isNotNull)
      .orderBy(col("d"))
  }

  val w3Bollinger: Q = Q(
    "w3_bollinger",
    s"""WITH ${Series.DailySql},
       |s AS (SELECT d, close, ROW_NUMBER() OVER (ORDER BY d) AS rn,
       |  SUM(close) OVER w AS s1,
       |  SUM(close*close) OVER w AS s2
       |  FROM daily WINDOW w AS (ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
       |SELECT d, close,
       |  s1/20.0 + 2.0 * sqrt(GREATEST((s2 - s1*s1/20.0)/19.0, 0.0)) AS bb_upper,
       |  s1/20.0 - 2.0 * sqrt(GREATEST((s2 - s1*s1/20.0)/19.0, 0.0)) AS bb_lower
       |FROM s WHERE rn >= 20 ORDER BY d""".stripMargin) { (spark, dir) =>
    Indicators.withBollinger(Series.daily(spark, dir), "close", "bb_upper", "bb_lower", 20, 2.0, "d")
      .filter(col("bb_upper").isNotNull)
      .orderBy(col("d"))
  }

  val w2Rsi: Q = Q(
    "w2_rsi",
    s"""WITH ${Series.DailySql},
       |s AS (SELECT d, close, ROW_NUMBER() OVER (ORDER BY d) AS rn FROM daily),
       |gl AS (
       |  SELECT rn, d, close,
       |    CASE WHEN delta > 0 THEN delta ELSE 0.0 END AS gain,
       |    CASE WHEN delta < 0 THEN -delta ELSE 0.0 END AS loss
       |  FROM (SELECT rn, d, close, close - LAG(close) OVER (ORDER BY rn) AS delta FROM s)
       |  WHERE delta IS NOT NULL),
       |${rsiFoldSql(keyed = false)}
       |SELECT s.d, s.close,
       |  CASE WHEN r.al = 0.0 THEN (CASE WHEN r.ag > 0.0 THEN 100.0 ELSE NULL END)
       |       ELSE 100.0 - 100.0/(1.0 + r.ag/r.al) END AS rsi_14
       |FROM rec r JOIN s ON s.rn = r.rn
       |WHERE r.rn >= 15 AND NOT (r.al = 0.0 AND r.ag = 0.0) ORDER BY s.d""".stripMargin) { (spark, dir) =>
    Indicators.withRsi(Series.daily(spark, dir), "close", "rsi_14", 14, "d")
      .filter(col("rsi_14").isNotNull)
      .orderBy(col("d"))
  }

  val w4Macd: Q = {
    Q(
      "w4_macd",
      s"""WITH ${Series.DailySql},
         |s AS (SELECT d, close, ROW_NUMBER() OVER (ORDER BY d) AS rn FROM daily),
         |${macdFoldSql(keyed = false)}
         |SELECT s.d, s.close, r.macd, r.sig AS macd_signal, r.macd - r.sig AS macd_histogram
         |FROM macdrec r JOIN s ON s.rn = r.rn ORDER BY s.d""".stripMargin) { (spark, dir) =>
      Indicators.withMacd(Series.daily(spark, dir), "close",
        "macd", "macd_signal", "macd_histogram", 12, 26, 9, "d")
        .select("d", "close", "macd", "macd_signal", "macd_histogram")
        .orderBy(col("d"))
    }
  }

  val m2Target: Q = Q(
    "m2_target_return",
    s"""WITH ${Series.DailySql},
       |t AS (SELECT d, close, LEAD(close) OVER (ORDER BY d) AS nxt FROM daily)
       |SELECT d, close, (nxt - close)/close*100.0 AS target_return
       |FROM t WHERE nxt IS NOT NULL ORDER BY d""".stripMargin) { (spark, dir) =>
    MlPrep.withTargetReturn(Series.daily(spark, dir), "close", "d")
      .orderBy(col("d"))
  }

  val m3CvSplits: Q = Q(
    "m3_cv_splits",
    s"""WITH ${Series.DailySql},
       |s AS (SELECT d, ROW_NUMBER() OVER (ORDER BY d) AS rn FROM daily),
       |p AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(FLOOR(COUNT(*) / 6.0) AS BIGINT) AS tsz FROM s),
       |folds AS (
       |  SELECT CAST(f.fold AS BIGINT) AS fold, p.n - (6 - f.fold) * p.tsz AS train_rows, p.tsz AS test_rows
       |  FROM (VALUES (1),(2),(3),(4),(5)) AS f(fold) CROSS JOIN p)
       |SELECT fold, train_rows, test_rows, MIN(s.d) AS test_start, MAX(s.d) AS test_end
       |FROM folds JOIN s ON s.rn > folds.train_rows AND s.rn <= folds.train_rows + folds.test_rows
       |GROUP BY fold, train_rows, test_rows ORDER BY fold""".stripMargin) { (spark, dir) =>
    MlPrep.timeSeriesSplitSummary(Series.daily(spark, dir), "d", 5)
  }

  /** Multi-symbol daily series: `o_orderpriority` stands in for the symbol,
    * so every window/EMA below runs per-key — the shape that scales to
    * millions of series (one shuffle on the key, per-key O(1) state).
    */
  private val DailyBySymSql =
    """daily2 AS (
      |  SELECT o_orderpriority AS sym, CAST(o_orderdate AS DATE) AS d,
      |         CAST(FLOOR(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / 100.0) AS DOUBLE) AS close
      |  FROM orders GROUP BY o_orderpriority, CAST(o_orderdate AS DATE))""".stripMargin

  private def dailyBySym(spark: org.apache.spark.sql.SparkSession, dir: String) =
    graft.Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("sym"), to_date(col("o_orderdate")).as("d"))
      .agg(floor(sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
        .cast(org.apache.spark.sql.types.DoubleType) / 100.0)
        .cast(org.apache.spark.sql.types.DoubleType).as("close"))

  /** W1 partitioned: SMA-20 per symbol. */
  val w5SmaBySymbol: Q = Q(
    "w5_sma_by_symbol",
    s"""WITH $DailyBySymSql,
       |s AS (SELECT sym, d, close, ROW_NUMBER() OVER (PARTITION BY sym ORDER BY d) AS rn FROM daily2)
       |SELECT sym, d, close,
       |  SUM(close) OVER (PARTITION BY sym ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)/20.0 AS sma_20
       |FROM s QUALIFY rn >= 20 ORDER BY sym, d""".stripMargin) { (spark, dir) =>
    Indicators.withSma(dailyBySym(spark, dir), "close", "sma_20", 20, "d", partitionCols = Seq("sym"))
      .filter(col("sma_20").isNotNull)
      .orderBy(col("sym"), col("d"))
  }

  /** W2 partitioned: the recursive Wilder RSI per symbol — exercises the
    * per-key EMA scan (repartition + sorted partition pass with state reset
    * on key change) against a per-key sequential-fold oracle.
    */
  val w6RsiBySymbol: Q = Q(
    "w6_rsi_by_symbol",
    s"""WITH $DailyBySymSql,
       |s AS (SELECT sym, d, close, ROW_NUMBER() OVER (PARTITION BY sym ORDER BY d) AS rn FROM daily2),
       |gl AS (
       |  SELECT sym, rn, d, close,
       |    CASE WHEN delta > 0 THEN delta ELSE 0.0 END AS gain,
       |    CASE WHEN delta < 0 THEN -delta ELSE 0.0 END AS loss
       |  FROM (SELECT sym, rn, d, close,
       |          close - LAG(close) OVER (PARTITION BY sym ORDER BY rn) AS delta FROM s)
       |  WHERE delta IS NOT NULL),
       |${rsiFoldSql(keyed = true)}
       |SELECT s.sym, s.d, s.close,
       |  CASE WHEN r.al = 0.0 THEN (CASE WHEN r.ag > 0.0 THEN 100.0 ELSE NULL END)
       |       ELSE 100.0 - 100.0/(1.0 + r.ag/r.al) END AS rsi_14
       |FROM rec r JOIN s ON s.sym = r.sym AND s.rn = r.rn
       |WHERE r.rn >= 15 AND NOT (r.al = 0.0 AND r.ag = 0.0) ORDER BY s.sym, s.d""".stripMargin) { (spark, dir) =>
    Indicators.withRsi(dailyBySym(spark, dir), "close", "rsi_14", 14, "d", partitionCols = Seq("sym"))
      .filter(col("rsi_14").isNotNull)
      .orderBy(col("sym"), col("d"))
  }

  /** The COMPLETE reference transformer (`technical_indicators`) as one
    * oracle query, per symbol: OHLCV in → ISO-8601 date strings, all seven
    * hardcoded indicator columns, warmup rows dropped — every piece of the
    * flagship operator checked at once against a DuckDB reconstruction.
    */
  val w7IndicatorsFull: Q = {
    Q(
      "w7_technical_indicators_full",
      s"""WITH bars AS (
         |  SELECT o_orderpriority AS sym, CAST(o_orderdate AS DATE) AS d,
         |    CAST(FLOOR(CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / 100.0) AS DOUBLE) AS open,
         |    CAST(FLOOR(CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / 100.0) AS DOUBLE) + 1.0 AS high,
         |    CAST(FLOOR(CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / 100.0) AS DOUBLE) - 1.0 AS low,
         |    CAST(FLOOR(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / 100.0) AS DOUBLE) AS close,
         |    CAST(COUNT(*) AS DOUBLE) AS volume
         |  FROM orders GROUP BY o_orderpriority, CAST(o_orderdate AS DATE)),
         |s AS (
         |  SELECT sym, strftime(CAST(d AS TIMESTAMP), '%Y-%m-%dT%H:%M:%SZ') AS date,
         |    open, high, low, close, volume,
         |    ROW_NUMBER() OVER w AS rn,
         |    SUM(close) OVER (PARTITION BY sym ORDER BY d ROWS BETWEEN 49 PRECEDING AND CURRENT ROW) AS sma_sum,
         |    SUM(close) OVER w20 AS s1,
         |    SUM(close*close) OVER w20 AS s2,
         |    close - LAG(close) OVER w AS delta
         |  FROM bars
         |  WINDOW w AS (PARTITION BY sym ORDER BY d),
         |         w20 AS (PARTITION BY sym ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
         |gl AS (
         |  SELECT sym, rn,
         |    CASE WHEN delta > 0 THEN delta ELSE 0.0 END AS gain,
         |    CASE WHEN delta < 0 THEN -delta ELSE 0.0 END AS loss
         |  FROM s WHERE delta IS NOT NULL),
         |${rsiFoldSql(keyed = true)},
         |${macdFoldSql(keyed = true)}
         |SELECT s.sym, s.date, s.open, s.high, s.low, s.close, s.volume,
         |  s.sma_sum/50.0 AS sma_50,
         |  CASE WHEN rr.al = 0.0 THEN (CASE WHEN rr.ag > 0.0 THEN 100.0 ELSE NULL END)
         |       ELSE 100.0 - 100.0/(1.0 + rr.ag/rr.al) END AS rsi_14,
         |  s.s1/20.0 + 2.0 * sqrt(GREATEST((s.s2 - s.s1*s.s1/20.0)/19.0, 0.0)) AS bb_upper,
         |  s.s1/20.0 - 2.0 * sqrt(GREATEST((s.s2 - s.s1*s.s1/20.0)/19.0, 0.0)) AS bb_lower,
         |  m.macd, m.sig AS macd_signal, m.macd - m.sig AS macd_histogram
         |FROM s
         |JOIN rec rr ON rr.sym = s.sym AND rr.rn = s.rn
         |JOIN macdrec m ON m.sym = s.sym AND m.rn = s.rn
         |WHERE s.rn >= 50 AND NOT (rr.al = 0.0 AND rr.ag = 0.0)
         |ORDER BY s.sym, s.date""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.types._
      val D2 = DecimalType(18, 2)
      def fl(c: org.apache.spark.sql.Column) =
        floor(c.cast(DoubleType) / 100.0).cast(DoubleType)
      val bars = graft.Tables.orders(spark, dir)
        .groupBy(col("o_orderpriority").as("sym"), to_date(col("o_orderdate")).as("d"))
        .agg(
          fl(min(col("o_totalprice").cast(D2))).as("open"),
          (fl(max(col("o_totalprice").cast(D2))) + 1.0).as("high"),
          (fl(min(col("o_totalprice").cast(D2))) - 1.0).as("low"),
          fl(sum(col("o_totalprice").cast(D2))).as("close"),
          count(lit(1)).cast(DoubleType).as("volume"))
        .withColumn("date", col("d").cast(StringType)).drop("d")
      Indicators.technicalIndicators(bars, Indicators.Config(), partitionCols = Seq("sym"))
        .orderBy(col("sym"), col("date"))
    }
  }

  /** W-family extension: the stochastic oscillator (%K/%D, 14-3) per symbol
    * over the OHLC bars — the rolling-EXTREMA indicator primitive (min/max
    * window selections) that the SMA/Bollinger/EMA family doesn't exercise.
    * %D is a fixed-association 3-term mean of lagged %K (see
    * [[Indicators.withStochastic]] for the cross-engine determinism
    * rationale: extrema are exact selections; a windowed double SUM is not
    * order-stable). Flat 14-row windows (max == min) yield null %K — those
    * rows and the first two %K rows per symbol are dropped, mirroring the
    * transformer's warmup-drop convention.
    */
  val w9Stochastic: Q = Q(
    "w9_stochastic",
    """WITH bars AS (
      |  SELECT o_orderpriority AS sym, CAST(o_orderdate AS DATE) AS d,
      |    CAST(FLOOR(CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / 100.0) AS DOUBLE) + 1.0 AS high,
      |    CAST(FLOOR(CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / 100.0) AS DOUBLE) - 1.0 AS low,
      |    CAST(FLOOR(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / 100.0) AS DOUBLE) AS close
      |  FROM orders GROUP BY o_orderpriority, CAST(o_orderdate AS DATE)),
      |s AS (
      |  SELECT sym, d, close,
      |    ROW_NUMBER() OVER w AS rn,
      |    MIN(low) OVER w14 AS lo,
      |    MAX(high) OVER w14 AS hi
      |  FROM bars
      |  WINDOW w AS (PARTITION BY sym ORDER BY d),
      |         w14 AS (PARTITION BY sym ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
      |k AS (
      |  SELECT sym, d, close,
      |    CASE WHEN rn >= 14 AND hi <> lo THEN 100.0 * (close - lo) / (hi - lo) END AS pct_k
      |  FROM s),
      |kd AS (
      |  SELECT sym, d, close, pct_k,
      |    ((LAG(pct_k, 2) OVER w + LAG(pct_k, 1) OVER w) + pct_k) / 3.0 AS pct_d
      |  FROM k WINDOW w AS (PARTITION BY sym ORDER BY d))
      |SELECT sym, d, close, pct_k, pct_d FROM kd
      |WHERE pct_k IS NOT NULL AND pct_d IS NOT NULL
      |ORDER BY sym, d""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types._
    val D2 = DecimalType(18, 2)
    def fl(c: org.apache.spark.sql.Column) =
      floor(c.cast(DoubleType) / 100.0).cast(DoubleType)
    val bars = graft.Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("sym"), to_date(col("o_orderdate")).as("d"))
      .agg(
        (fl(max(col("o_totalprice").cast(D2))) + 1.0).as("high"),
        (fl(min(col("o_totalprice").cast(D2))) - 1.0).as("low"),
        fl(sum(col("o_totalprice").cast(D2))).as("close"))
    Indicators.withStochastic(bars, "high", "low", "close",
        "pct_k", "pct_d", kPeriod = 14, dPeriod = 3, orderCol = "d",
        partitionCols = Seq("sym"))
      .filter(col("pct_k").isNotNull && col("pct_d").isNotNull)
      .select("sym", "d", "close", "pct_k", "pct_d")
      .orderBy(col("sym"), col("d"))
  }

  /** Feature standardization (z-score) over lineitem quantity — the
    * StandardScaler ML-prep step at corpus scale: ONE exact global
    * aggregate (n, Σx, Σx² as BIGINTs — quantity is integer-valued, so the
    * sums are exact and every engine casts them to the same doubles),
    * broadcast back over the table as a narrow projection. mean/std/z are
    * the identical IEEE op sequence in both engines, so the gate is
    * bit-exact. Mergeable by construction (partial sums add) — the same
    * scaling pass works as a streaming accumulator or a 1000-executor
    * treeAggregate.
    */
  val m8StandardScaler: Q = Q(
    "m8_standard_scaler",
    """WITH s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
      |             CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxx
      |           FROM lineitem)
      |SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity,
      |  (l_quantity - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
      |    / sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
      |           / (CAST(n AS DOUBLE) - 1.0)) AS z
      |FROM lineitem, s
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types._
    val li = graft.Tables.lineitem(spark, dir)
    val s = li.agg(
      count(lit(1)).as("n"),
      sum(col("l_quantity").cast(LongType)).as("sx"),
      sum(col("l_quantity").cast(LongType) * col("l_quantity").cast(LongType)).as("sxx"))
    val nD = col("n").cast(DoubleType)
    val mean = col("sx").cast(DoubleType) / nD
    val std = sqrt((col("sxx").cast(DoubleType)
      - col("sx").cast(DoubleType) * col("sx").cast(DoubleType) / nD) / (nD - 1.0))
    li.crossJoin(broadcast(s))
      .select(col("l_orderkey"), col("l_linenumber").cast(LongType).as("l_linenumber"),
        col("l_quantity"), ((col("l_quantity") - mean) / std).as("z"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** One-hot encoding of a low-cardinality categorical (order priority, 5
    * known values) — the ML-prep indicator expansion as a pure narrow
    * projection with a STATIC value list (an inferred encoder would scan
    * for distinct values first; pinning the vocabulary keeps the schema
    * static and the pass shuffle-free, exactly how a feature pipeline
    * ships its encoder).
    */
  val m9OneHot: Q = Q(
    "m9_onehot_priority",
    """SELECT o_orderkey,
      |  CAST(CASE WHEN o_orderpriority = '1-URGENT'         THEN 1 ELSE 0 END AS BIGINT) AS p1_urgent,
      |  CAST(CASE WHEN o_orderpriority = '2-HIGH'           THEN 1 ELSE 0 END AS BIGINT) AS p2_high,
      |  CAST(CASE WHEN o_orderpriority = '3-MEDIUM'         THEN 1 ELSE 0 END AS BIGINT) AS p3_medium,
      |  CAST(CASE WHEN o_orderpriority = '4-NOT SPECIFIED'  THEN 1 ELSE 0 END AS BIGINT) AS p4_not_specified,
      |  CAST(CASE WHEN o_orderpriority = '5-LOW'            THEN 1 ELSE 0 END AS BIGINT) AS p5_low
      |FROM orders ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    val cats = Seq("1-URGENT" -> "p1_urgent", "2-HIGH" -> "p2_high",
      "3-MEDIUM" -> "p3_medium", "4-NOT SPECIFIED" -> "p4_not_specified",
      "5-LOW" -> "p5_low")
    graft.Tables.orders(spark, dir).select(
      col("o_orderkey") +: cats.map { case (v, name) =>
        when(col("o_orderpriority") === v, 1L).otherwise(0L).as(name)
      }: _*)
      .orderBy(col("o_orderkey"))
  }

  /** Winsorization (percentile clipping) of order totals per market
    * segment — the outlier-robust ML-prep step: values below the per-key
    * p05 (above p95) are replaced by the band value itself. Bounds come
    * from the [[MiscQueries.qPercentileBands]] rank-selection pass (lower
    * nearest-rank — a STORED row value, so no interpolation arithmetic to
    * diverge between engines), land in a 5-row table, and are broadcast
    * back over orders; the clip is a pure narrow CASE projection. At
    * 100 TB the bounds pass swaps to approx percentiles and the clip pass
    * is unchanged — the expensive and cheap halves are already separate.
    */
  val m10Winsorize: Q = Q(
    "m10_winsorize",
    """WITH r AS (
      |  SELECT c_mktsegment, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice, o_orderkey) AS rn,
      |    COUNT(*) OVER (PARTITION BY c_mktsegment) AS cnt
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |b AS (
      |  SELECT c_mktsegment,
      |    MIN(CASE WHEN rn = CAST(FLOOR(0.05 * (cnt - 1)) AS BIGINT) + 1 THEN o_totalprice END) AS lo,
      |    MIN(CASE WHEN rn = CAST(FLOOR(0.95 * (cnt - 1)) AS BIGINT) + 1 THEN o_totalprice END) AS hi
      |  FROM r GROUP BY c_mktsegment)
      |SELECT r.o_orderkey, r.c_mktsegment, r.o_totalprice,
      |  CASE WHEN r.o_totalprice < b.lo THEN b.lo
      |       WHEN r.o_totalprice > b.hi THEN b.hi
      |       ELSE r.o_totalprice END AS price_w
      |FROM r JOIN b ON r.c_mktsegment = b.c_mktsegment
      |ORDER BY r.o_orderkey""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val w = Window.partitionBy(col("c_mktsegment"))
    val r = graft.Tables.orders(spark, dir)
      .join(graft.Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(
        w.orderBy(col("o_totalprice"), col("o_orderkey"))))
      .withColumn("cnt", count(lit(1)).over(w))
    def band(q: Double, name: String) =
      min(when(col("rn") ===
        floor(lit(q) * (col("cnt") - 1)).cast(LongType) + 1L,
        col("o_totalprice"))).as(name)
    val bounds = r.groupBy(col("c_mktsegment").as("seg"))
      .agg(band(0.05, "lo"), band(0.95, "hi"))
    r.join(broadcast(bounds), col("c_mktsegment") === col("seg"))
      .select(col("o_orderkey"), col("c_mktsegment"), col("o_totalprice"),
        when(col("o_totalprice") < col("lo"), col("lo"))
          .when(col("o_totalprice") > col("hi"), col("hi"))
          .otherwise(col("o_totalprice")).as("price_w"))
      .orderBy(col("o_orderkey"))
  }

  /** Robust outlier ranking per market segment: modified z-score
    * 0.6745·(x − median)/MAD (Iglewicz–Hoaglin) — the outlier score that,
    * unlike m8's mean/std z-score, a single extreme value cannot drag.
    * Median and MAD both come from the rank-selection pass (stored row
    * values, no interpolation); the absolute deviations are derived
    * doubles, but both engines compute the identical subtraction so their
    * sort order and the selected MAD agree bit-wise. The query emits the
    * top-20 most extreme orders per segment (deterministic orderkey
    * tiebreak) rather than a fixed 3.5 cutoff — the TPC-H price column is
    * too well-behaved for the textbook cutoff to ever fire (max |rz|≈1.4),
    * and a 0-row gate verifies nothing; production would add the cutoff as
    * one more filter. Two segment-keyed sort-shuffles + two broadcast
    * 5-row bound tables + one rank pass; at 100 TB both medians swap to
    * approx percentiles and the top-k pass is unchanged.
    */
  val m11RobustOutliers: Q = Q(
    "m11_robust_outliers",
    """WITH r AS (
      |  SELECT c_mktsegment, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice, o_orderkey) AS rn,
      |    COUNT(*) OVER (PARTITION BY c_mktsegment) AS cnt
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |med AS (
      |  SELECT c_mktsegment,
      |    MIN(CASE WHEN rn = CAST(FLOOR(0.5 * (cnt - 1)) AS BIGINT) + 1 THEN o_totalprice END) AS med
      |  FROM r GROUP BY c_mktsegment),
      |dev AS (
      |  SELECT r.c_mktsegment, r.o_orderkey, r.o_totalprice, med.med,
      |    ABS(r.o_totalprice - med.med) AS ad,
      |    ROW_NUMBER() OVER (PARTITION BY r.c_mktsegment
      |      ORDER BY ABS(r.o_totalprice - med.med), r.o_orderkey) AS rn,
      |    COUNT(*) OVER (PARTITION BY r.c_mktsegment) AS cnt
      |  FROM r JOIN med ON r.c_mktsegment = med.c_mktsegment),
      |mad AS (
      |  SELECT c_mktsegment,
      |    MIN(CASE WHEN rn = CAST(FLOOR(0.5 * (cnt - 1)) AS BIGINT) + 1 THEN ad END) AS mad
      |  FROM dev GROUP BY c_mktsegment),
      |scored AS (
      |  SELECT d.o_orderkey, d.c_mktsegment, d.o_totalprice, d.med, m.mad,
      |    0.6745 * (d.o_totalprice - d.med) / m.mad AS rz,
      |    ROW_NUMBER() OVER (PARTITION BY d.c_mktsegment
      |      ORDER BY ABS(0.6745 * (d.o_totalprice - d.med) / m.mad) DESC,
      |               d.o_orderkey) AS rk
      |  FROM dev d JOIN mad m ON d.c_mktsegment = m.c_mktsegment)
      |SELECT o_orderkey, c_mktsegment, o_totalprice, med, mad, rz
      |FROM scored WHERE rk <= 20
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val w = Window.partitionBy(col("c_mktsegment"))
    def medianOf(df: org.apache.spark.sql.DataFrame, valueCol: String, out: String) =
      df.withColumn("rn", row_number().over(
          w.orderBy(col(valueCol), col("o_orderkey"))))
        .withColumn("cnt", count(lit(1)).over(w))
        .groupBy(col("c_mktsegment").as("seg"))
        .agg(min(when(col("rn") ===
          floor(lit(0.5) * (col("cnt") - 1)).cast(LongType) + 1L,
          col(valueCol))).as(out))
    // r feeds the median pass AND the deviation frame; dev feeds the MAD
    // pass AND the final ranking — materialize each once (round 15) so the
    // orders⋈customer join and the deviation projection run one time, not
    // once per consumer
    val r = graft.operators.Dedup.cachedForReuse(graft.Tables.orders(spark, dir)
      .join(graft.Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice")))
    val dev = graft.operators.Dedup.cachedForReuse(
      r.join(broadcast(medianOf(r, "o_totalprice", "med")),
        col("c_mktsegment") === col("seg")).drop("seg")
      .withColumn("ad", abs(col("o_totalprice") - col("med"))))
    val rz = lit(0.6745) * (col("o_totalprice") - col("med")) / col("mad")
    dev.join(broadcast(medianOf(dev, "ad", "mad")), col("c_mktsegment") === col("seg"))
      .withColumn("rk", row_number().over(
        w.orderBy(abs(rz).desc, col("o_orderkey"))))
      .filter(col("rk") <= 20)
      .select(col("o_orderkey"), col("c_mktsegment"), col("o_totalprice"),
        col("med"), col("mad"), rz.as("rz"))
      .orderBy(col("o_orderkey"))
  }

  /** Two-sample Kolmogorov–Smirnov drift statistic between the
    * `o_totalprice` distributions of finished (`F`) and open (`O`) orders —
    * the train/serve drift check a feature pipeline runs before refreshing
    * a model. D = max over all values of |ECDF_F − ECDF_O|, computed
    * entirely in integers: per-value counts (one group-by), cumulative
    * counts via ONE multi-column distributed prefix sum
    * ([[graft.operators.PrefixSum.withStartOffsets]] — both ECDFs in the
    * same range shuffle + two narrow passes), then
    * d_num = max |cum_a·n_b − cum_b·n_a| with denominator n_a·n_b, so the
    * argmax and the statistic's decision boundary are bit-exact on any
    * engine; the only double is the final one-division `ks` report value.
    * Scale: the group-by shrinks the scan to distinct values, the prefix
    * sum collects #partitions×2 longs, and the max/argmax reduce is a flat
    * aggregate — no global window, no driver data path. (At counts beyond
    * ~3·10⁹ per sample the int128-free product would need DECIMAL —
    * documented, not hit at any test SF.)
    */
  val m12KsDrift: Q = Q(
    "m12_ks_drift",
    """WITH g AS (
      |  SELECT o_totalprice AS v,
      |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS cb
      |  FROM orders WHERE o_orderstatus IN ('F', 'O') GROUP BY v),
      |t AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM g),
      |c AS (SELECT v,
      |        CAST(SUM(ca) OVER (ORDER BY v) AS BIGINT) AS cum_a,
      |        CAST(SUM(cb) OVER (ORDER BY v) AS BIGINT) AS cum_b
      |      FROM g),
      |d AS (SELECT c.v, ABS(cum_a * nb - cum_b * na) AS dn, na, nb FROM c, t),
      |m AS (SELECT MAX(dn) AS mx FROM d)
      |SELECT na AS n_a, nb AS n_b, mx AS d_num,
      |  CAST(mx AS DOUBLE) / (na * nb) AS ks, MIN(v) AS at_value
      |FROM d, m WHERE dn = mx GROUP BY na, nb, mx""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types._
    val g = graft.Tables.orders(spark, dir)
      .filter(col("o_orderstatus").isin("F", "O"))
      .groupBy(col("o_totalprice").as("v"))
      .agg(sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("ca"),
        sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("cb"))
    // sample sizes na/nb = the prefix-sum kernel's grand totals, already on
    // the driver after pass 1 — literals, not a second aggregate + crossJoin
    val (cums0, totals) = graft.operators.PrefixSum
      .withStartOffsetsAndTotals(g, "v", Seq("ca" -> "ca0", "cb" -> "cb0"))
    val (na, nb) = (totals(0), totals(1))
    val cums = cums0
      .select(col("v"), (col("ca0") + col("ca")).as("cum_a"),
        (col("cb0") + col("cb")).as("cum_b"))
    val d = cums
      .select(col("v"), abs(col("cum_a") * nb - col("cum_b") * na)
        .as("dn"), lit(na).as("na"), lit(nb).as("nb"))
    val mx = d.agg(max(col("dn")).as("mx"))
    d.crossJoin(broadcast(mx)).filter(col("dn") === col("mx"))
      .groupBy(col("na").as("n_a"), col("nb").as("n_b"), col("mx").as("d_num"))
      .agg(min(col("v")).as("at_value"))
      .select(col("n_a"), col("n_b"), col("d_num"),
        (col("d_num").cast(DoubleType) / (col("n_a") * col("n_b"))).as("ks"),
        col("at_value"))
  }

  /** Smoothed target encoding of the market segment against order value —
    * the categorical-encoding ML-prep step one step up from m9's one-hot:
    * `enc = (Σ_seg + prior·α) / (n_seg + α)` with the global mean as prior
    * and α = 10, so rare categories shrink toward the prior instead of
    * memorizing noise. Exactness: both sums are exact decimal
    * ([[graft.exprs.Exact.dsum]]); every double op afterwards (prior
    * division, ·α, +, final division) appears exactly once in an identical
    * expression tree on both engines, so the encodings match bit-for-bit.
    * Plan: one grouped aggregate + one broadcast 1-row global aggregate —
    * the encoding table is O(cardinality) and joins back to the fact table
    * as a broadcast at any scale.
    */
  val m13TargetEncode: Q = Q(
    "m13_target_encode",
    """WITH g AS (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS gs,
      |             CAST(COUNT(*) AS BIGINT) AS gn FROM orders),
      |s AS (SELECT c_mktsegment,
      |        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS ss,
      |        CAST(COUNT(*) AS BIGINT) AS n
      |      FROM orders JOIN customer ON o_custkey = c_custkey
      |      GROUP BY c_mktsegment)
      |SELECT c_mktsegment, n, ss / n AS seg_mean,
      |  (ss + (gs / gn) * 10) / (n + 10) AS enc
      |FROM s, g ORDER BY c_mktsegment""".stripMargin) { (spark, dir) =>
    import graft.exprs.Exact
    val g = graft.Tables.orders(spark, dir)
      .agg(Exact.dsum(col("o_totalprice")).as("gs"), count(lit(1)).as("gn"))
    val s = graft.Tables.orders(spark, dir)
      .join(graft.Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(Exact.dsum(col("o_totalprice")).as("ss"), count(lit(1)).as("n"))
    s.crossJoin(broadcast(g))
      .select(col("c_mktsegment"), col("n"),
        (col("ss") / col("n")).as("seg_mean"),
        ((col("ss") + (col("gs") / col("gn")) * 10) / (col("n") + 10)).as("enc"))
      .orderBy(col("c_mktsegment"))
  }

  /** Equal-frequency (decile) binning — the feature-discretization step
    * before monotonic models / WoE encoding: rank customers by
    * (c_acctbal, c_custkey), split into 10 bins whose sizes differ by at
    * most one (larger bins first — SQL NTILE's contract, but computed from
    * the rank in closed form so both engines run the SAME arithmetic
    * rather than trusting NTILE edge-case parity), then per-bin count /
    * bounds / exact-decimal total. The global rank is NOT a window: it is
    * the [[graft.operators.PrefixSum]] scan keyed by the unique
    * struct(acctbal, custkey) order — one range shuffle, no
    * single-partition sort, so the binning holds at 100 TB where
    * `ROW_NUMBER() OVER (ORDER BY …)` would serialize. The bin report is
    * bins×5 — driver-sized output from any input.
    */
  val m14QuantileBinning: Q = Q(
    "m14_quantile_binning",
    """WITH r AS (
      |  SELECT c_custkey, c_acctbal,
      |    ROW_NUMBER() OVER (ORDER BY c_acctbal, c_custkey) AS rn,
      |    COUNT(*) OVER () AS n
      |  FROM customer),
      |b AS (
      |  SELECT c_acctbal,
      |    CASE WHEN rn <= (n % 10) * (n // 10 + 1)
      |         THEN (rn - 1) // (n // 10 + 1) + 1
      |         ELSE (n % 10) + (rn - (n % 10) * (n // 10 + 1) - 1) // (n // 10) + 1
      |    END AS bin
      |  FROM r)
      |SELECT CAST(bin AS BIGINT) AS bin, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  MIN(c_acctbal) AS lo, MAX(c_acctbal) AS hi,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM b GROUP BY bin ORDER BY bin""".stripMargin) { (spark, dir) =>
    import graft.exprs.Exact
    import org.apache.spark.sql.types.LongType
    val c = graft.Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_acctbal"))
      .withColumn("one", lit(1L))
      .withColumn("ord", struct(col("c_acctbal"), col("c_custkey")))
    // n = the kernel's grand total of the all-ones column — a literal, not
    // a count() job that would re-run pass 2 plus a crossJoin
    val (rn0, nTot) = graft.operators.PrefixSum
      .withStartOffsetAndTotal(c, "ord", "one", "rn0")
    val rn = rn0.withColumn("rn", col("rn0") + 1L)
    rn.withColumn("n", lit(nTot))
      .withColumn("bin",
        when(col("rn") <= (col("n") % 10) * (expr("n div 10") + 1),
          expr("(rn - 1) div (n div 10 + 1)") + 1)
        .otherwise(col("n") % 10 +
          expr("(rn - (n % 10) * (n div 10 + 1) - 1) div (n div 10)") + 1)
        .cast(LongType))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("c_acctbal")).as("lo"), max(col("c_acctbal")).as("hi"),
        Exact.dsum(col("c_acctbal")).as("total"))
      .orderBy(col("bin"))
  }

  /** Exact ROC AUC (Mann–Whitney) of document length as a predictor of
    * "document is English" — the feature-vs-label ranking diagnostic of a
    * curation pipeline, in pure integer rationals (graft.operators.Eval).
    */
  val m15RankAuc: Q = Q(
    "m15_auc",
    """WITH sc AS (
      |  SELECT n_chars AS s,
      |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pos,
      |    CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS neg
      |  FROM documents GROUP BY n_chars),
      |c AS (
      |  SELECT pos, neg,
      |    COALESCE(SUM(neg) OVER (ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_neg
      |  FROM sc),
      |t AS (SELECT SUM(pos * cum_neg) AS conc, SUM(pos * neg) AS ties,
      |             SUM(pos) AS p, SUM(neg) AS nn
      |      FROM c)
      |SELECT CAST(p AS BIGINT) AS pos_n, CAST(nn AS BIGINT) AS neg_n,
      |  CAST(2 * conc + ties AS DOUBLE) AS auc_num,
      |  CAST(2 * p * nn AS DOUBLE) AS auc_den,
      |  CASE WHEN p = 0 OR nn = 0 THEN NULL
      |       ELSE CAST((2 * conc + ties) * 10000 // (2 * p * nn) AS BIGINT)
      |  END AS auc_bp
      |FROM t""".stripMargin) { (spark, dir) =>
    graft.operators.Eval.rankAuc(
      graft.Tables.documents(spark, dir).select(col("n_chars"), (col("lang") === "en").as("y")),
      "n_chars", "y")
  }

  /** Per-source sliced AUC ([[graft.operators.Eval.groupedRankAuc]]): does
    * document length rank English-ness WITHIN each source — the sliced-eval
    * report (20 AUC rows) next to m15's single corpus-level number.
    */
  val m25GroupedAuc: Q = Q(
    "m25_grouped_auc",
    """WITH sc AS (
      |  SELECT source, n_chars AS s,
      |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pos,
      |    CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS neg
      |  FROM documents GROUP BY source, n_chars),
      |c AS (
      |  SELECT source, pos, neg,
      |    COALESCE(SUM(neg) OVER (PARTITION BY source ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_neg
      |  FROM sc),
      |t AS (SELECT source, SUM(pos * cum_neg) AS conc, SUM(pos * neg) AS ties,
      |             SUM(pos) AS p, SUM(neg) AS nn
      |      FROM c GROUP BY source)
      |SELECT source, CAST(p AS BIGINT) AS pos_n, CAST(nn AS BIGINT) AS neg_n,
      |  CAST(2 * conc + ties AS DOUBLE) AS auc_num,
      |  CAST(2 * p * nn AS DOUBLE) AS auc_den,
      |  CASE WHEN p = 0 OR nn = 0 THEN NULL
      |       ELSE CAST((2 * conc + ties) * 10000 // (2 * p * nn) AS BIGINT)
      |  END AS auc_bp
      |FROM t ORDER BY source""".stripMargin) { (spark, dir) =>
    graft.operators.Eval.groupedRankAuc(
      graft.Tables.documents(spark, dir)
        .select(col("source"), col("n_chars"), (col("lang") === "en").as("y")),
      "source", "n_chars", "y")
  }

  /** Pearson chi-square of order priority × order status over the FULL
    * margin grid — per-cell observed, expected (milli-units), and chi2
    * contribution (centi-units), all integer-exact.
    */
  val m16Chi2: Q = Q(
    "m16_chi2",
    """WITH o AS (SELECT o_orderpriority AS a, o_orderstatus AS b,
      |             CAST(COUNT(*) AS BIGINT) AS obs
      |           FROM orders GROUP BY 1, 2),
      |r AS (SELECT a, SUM(obs) AS rt FROM o GROUP BY a),
      |c AS (SELECT b, SUM(obs) AS ct FROM o GROUP BY b),
      |t AS (SELECT SUM(obs) AS n FROM o)
      |SELECT a, b, CAST(COALESCE(obs, 0) AS BIGINT) AS obs,
      |  CAST(rt * ct * 1000 // n AS BIGINT) AS exp_milli,
      |  CAST(CAST(COALESCE(obs, 0) * n - rt * ct AS HUGEINT)
      |         * (COALESCE(obs, 0) * n - rt * ct) * 100
      |       // (CAST(n AS HUGEINT) * rt * ct) AS BIGINT) AS chi2_cbp
      |FROM r CROSS JOIN c LEFT JOIN o USING (a, b), t
      |ORDER BY a, b""".stripMargin) { (spark, dir) =>
    graft.operators.Eval.chi2Contingency(
      graft.Tables.orders(spark, dir), "o_orderpriority", "o_orderstatus")
  }

  /** Confusion-matrix sweep of the m15 score/label pair over five decision
    * thresholds — the operating-point selection step after an AUC check:
    * tp/fp/fn/tn plus precision/recall/F1 in integer basis points
    * ([[graft.operators.Eval.thresholdMetrics]]). The corpus reduces to
    * per-score counts once; the sweep is arithmetic over that bounded frame.
    */
  val m17ThresholdMetrics: Q = Q(
    "m17_threshold_metrics",
    """WITH sc AS (
      |  SELECT n_chars AS s,
      |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pos,
      |    CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS neg
      |  FROM documents GROUP BY n_chars),
      |th AS (SELECT CAST(unnest([100, 200, 500, 1000, 2000]) AS BIGINT) AS threshold),
      |m AS (SELECT th.threshold,
      |    CAST(SUM(CASE WHEN s >= threshold THEN pos ELSE 0 END) AS BIGINT) AS tp,
      |    CAST(SUM(CASE WHEN s >= threshold THEN neg ELSE 0 END) AS BIGINT) AS fp,
      |    CAST(SUM(CASE WHEN s < threshold THEN pos ELSE 0 END) AS BIGINT) AS fn,
      |    CAST(SUM(CASE WHEN s < threshold THEN neg ELSE 0 END) AS BIGINT) AS tn
      |  FROM sc CROSS JOIN th GROUP BY th.threshold)
      |SELECT threshold, tp, fp, fn, tn,
      |  CASE WHEN tp + fp = 0 THEN NULL
      |       ELSE CAST(tp * 10000 // (tp + fp) AS BIGINT) END AS precision_bp,
      |  CASE WHEN tp + fn = 0 THEN NULL
      |       ELSE CAST(tp * 10000 // (tp + fn) AS BIGINT) END AS recall_bp,
      |  CASE WHEN 2*tp + fp + fn = 0 THEN NULL
      |       ELSE CAST(2 * tp * 10000 // (2*tp + fp + fn) AS BIGINT) END AS f1_bp
      |FROM m ORDER BY threshold""".stripMargin) { (spark, dir) =>
    graft.operators.Eval.thresholdMetrics(
      graft.Tables.documents(spark, dir)
        .select(col("n_chars"), (col("lang") === "en").as("y")),
      "n_chars", "y", Seq(100L, 200L, 500L, 1000L, 2000L))
  }

  /** Reliability-diagram calibration of the same score/label pair: ten
    * fixed-width 200-char bins (top bin open), per bin the observed positive
    * rate vs the mean score, both in basis points of the 2000-char full
    * scale ([[graft.operators.Eval.calibrationBins]]) — the
    * well-calibrated-classifier audit as one bounded integer aggregate.
    */
  val m18CalibrationBins: Q = Q(
    "m18_calibration_bins",
    """WITH b AS (
      |  SELECT LEAST(n_chars // 200, 9) AS bin, n_chars AS s,
      |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      |  FROM documents)
      |SELECT CAST(bin AS BIGINT) AS bin, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(y) AS BIGINT) AS pos, CAST(SUM(s) AS BIGINT) AS score_sum,
      |  CAST(SUM(y) * 10000 // COUNT(*) AS BIGINT) AS pos_rate_bp,
      |  CAST(SUM(s) * 10000 // (COUNT(*) * 2000) AS BIGINT) AS mean_score_bp
      |FROM b GROUP BY bin ORDER BY bin""".stripMargin) { (spark, dir) =>
    graft.operators.Eval.calibrationBins(
      graft.Tables.documents(spark, dir)
        .select(col("n_chars"), (col("lang") === "en").as("y")),
      "n_chars", "y", binWidth = 200L, nBins = 10, fullScale = 2000L)
  }

  /** Decile gain/lift table — the model-targeting diagnostic (how much of
    * the positive class lives in the top-k% by score): rank by
    * (score desc, id), split into 10 equal-frequency deciles with the m14
    * closed-form NTILE arithmetic, then per-decile positives with cumulative
    * gain and lift in integer basis points. The global rank is the
    * distributed [[graft.operators.PrefixSum]] (descending via negated
    * score in the order struct), and BOTH grand totals (row count N,
    * positive count P) fall out of its pass-1 partition totals as literals
    * — zero extra aggregate jobs, two passes total at any scale. The
    * cumulative window runs over 10 decile rows — driver-sized.
    */
  val m20DecileLift: Q = Q(
    "m20_decile_lift",
    """WITH r AS (
      |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
      |    ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rn,
      |    COUNT(*) OVER () AS n
      |  FROM documents),
      |b AS (
      |  SELECT y, CASE WHEN rn <= (n % 10) * (n // 10 + 1)
      |       THEN (rn - 1) // (n // 10 + 1) + 1
      |       ELSE (n % 10) + (rn - (n % 10) * (n // 10 + 1) - 1) // (n // 10) + 1
      |  END AS decile FROM r),
      |g AS (SELECT decile, COUNT(*) AS n_rows, SUM(y) AS pos FROM b GROUP BY decile),
      |t AS (SELECT SUM(pos) AS p, SUM(n_rows) AS nn FROM g),
      |c AS (SELECT decile, n_rows, pos,
      |        SUM(n_rows) OVER (ORDER BY decile) AS cum_n,
      |        SUM(pos) OVER (ORDER BY decile) AS cum_pos
      |      FROM g)
      |SELECT CAST(decile AS BIGINT) AS decile, CAST(n_rows AS BIGINT) AS n_rows,
      |  CAST(pos AS BIGINT) AS pos, CAST(cum_pos AS BIGINT) AS cum_pos,
      |  CASE WHEN p = 0 THEN NULL
      |       ELSE CAST(cum_pos * 10000 // p AS BIGINT) END AS gain_bp,
      |  CASE WHEN p = 0 OR cum_n = 0 THEN NULL
      |       ELSE CAST(cum_pos * nn * 10000 // (p * cum_n) AS BIGINT) END AS lift_bp
      |FROM c, t ORDER BY decile""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.LongType
    val d = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      .withColumn("one", lit(1L))
      // descending score order = ascending (−score, id) struct key
      .withColumn("ord", struct((-col("n_chars")).as("ns"), col("doc_id")))
    val (rn0, totals) = graft.operators.PrefixSum.withStartOffsetsAndTotals(
      d, "ord", Seq("one" -> "rn0", "y" -> "unused_cum"))
    val (nTot, pTot) = (totals(0), totals(1))
    val w = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rn0.withColumn("rn", col("rn0") + 1L).withColumn("n", lit(nTot))
      .withColumn("decile",
        when(col("rn") <= (col("n") % 10) * (expr("n div 10") + 1),
          expr("(rn - 1) div (n div 10 + 1)") + 1)
        .otherwise(col("n") % 10 +
          expr("(rn - (n % 10) * (n div 10 + 1) - 1) div (n div 10)") + 1)
        .cast(LongType))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_rows"), sum(col("y")).as("pos"))
      .withColumn("cum_n", sum(col("n_rows")).over(w))
      .withColumn("cum_pos", sum(col("pos")).over(w))
      .select(col("decile"), col("n_rows"), col("pos"), col("cum_pos"),
        when(lit(pTot) === 0, lit(null).cast(LongType))
          .otherwise(expr(s"cum_pos * 10000 div ${pTot}L")).as("gain_bp"),
        when(lit(pTot) === 0 || col("cum_n") === 0, lit(null).cast(LongType))
          .otherwise(expr(s"cum_pos * ${nTot}L * 10000 div (${pTot}L * cum_n)"))
          .as("lift_bp"))
      .orderBy(col("decile"))
  }

  /** On-balance volume over the daily series — the price/volume
    * accumulation indicator: obv_t = obv_{t−1} + sign(close_t −
    * close_{t−1})·vol_t. All-integer (the close series is integer-valued by
    * construction, volume is a count), and BOTH sequential dependencies run
    * on the distributed scan kernel: the close delta via
    * [[graft.operators.PrefixSum.withLag]] (the two-pass LAG(1) — no
    * single-partition window) and the accumulation via `withStartOffset`.
    * The same plan shape runs a years-long per-metric OBV at 100 TB where
    * `SUM() OVER (ORDER BY d)` would serialize onto one task.
    */
  val w8Obv: Q = Q(
    "w8_obv",
    s"""WITH ${Series.DailySql},
       |v AS (SELECT CAST(o_orderdate AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS vol
       |      FROM orders GROUP BY 1),
       |j AS (SELECT daily.d, CAST(close AS BIGINT) AS c, close, vol
       |      FROM daily JOIN v USING (d)),
       |l AS (SELECT *, LAG(c) OVER (ORDER BY d) AS pc FROM j),
       |s AS (SELECT *,
       |        CASE WHEN pc IS NULL THEN 0
       |             WHEN c > pc THEN vol WHEN c < pc THEN -vol ELSE 0 END AS sv
       |      FROM l)
       |SELECT d, close, vol,
       |  CAST(SUM(sv) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT) AS obv
       |FROM s ORDER BY d""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types.LongType
    import graft.operators.PrefixSum
    val vol = graft.Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(count(lit(1)).as("vol"))
    // kernel key = epoch-day INT (same order as d): integral keys take the
    // exact equal-width partitioning path — deterministic under any input
    // layout — where a DATE key would fall back to sampled ranges
    val j = Series.daily(spark, dir).join(vol, "d")
      .withColumn("c", col("close").cast(LongType))
      .withColumn("dk", unix_date(col("d")))
    val lagged = PrefixSum.withLag(j, "dk", "c", "pc")
      .withColumn("sv",
        when(col("pc").isNull, 0L)
          .when(col("c") > col("pc"), col("vol"))
          .when(col("c") < col("pc"), -col("vol"))
          .otherwise(0L))
    PrefixSum.withStartOffset(lagged, "dk", "sv", "obv0")
      .select(col("d"), col("close"), col("vol"),
        (col("obv0") + col("sv")).as("obv"))
      .orderBy(col("d"))
  }

  /** Pairwise feature association (r², the squared Pearson correlation) over
    * lineitem's numeric features — the redundancy screen run before feature
    * selection. Everything sums ONCE in exact decimal(38,0) integer
    * arithmetic (quantity unit, price cents, discount bp — per-row products
    * widen an operand first, the Eval discipline); the final ratio converts
    * the exact sums to doubles through the IDENTICAL expression shape in
    * both engines, so the floored basis-point result is bit-stable. One
    * aggregate scan produces every pair — adding features grows the
    * aggregate width, never the pass count. (Exactness bounds: each
    * per-row LONG product needs |x·y| < 2⁶³, i.e. values below ~3·10⁹
    * cents — ANSI throws, never wraps, beyond; n·Σx² fits decimal(38,0)
    * to ~10¹² rows at cents scale — shard the sums and merge above that.)
    */
  val m21FeatureR2: Q = {
    def r2(sx: String, sy: String, sxx: String, syy: String, sxy: String) =
      s"""CASE WHEN CAST(n*$sxx - $sx*$sx AS DOUBLE) = 0.0
         |      OR CAST(n*$syy - $sy*$sy AS DOUBLE) = 0.0 THEN NULL
         |     ELSE CAST(FLOOR(
         |       CAST(n*$sxy - $sx*$sy AS DOUBLE) * CAST(n*$sxy - $sx*$sy AS DOUBLE) * 10000.0
         |       / (CAST(n*$sxx - $sx*$sx AS DOUBLE) * CAST(n*$syy - $sy*$sy AS DOUBLE)))
         |     AS BIGINT) END""".stripMargin
    Q(
      "m21_feature_r2",
      s"""WITH x AS (
         |  SELECT CAST(l_quantity AS BIGINT) AS q,
         |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS p,
         |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS dc
         |  FROM lineitem),
         |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(CAST(q AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sq,
         |  CAST(SUM(CAST(p AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sp,
         |  CAST(SUM(CAST(dc AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sd,
         |  CAST(SUM(CAST(q AS DECIMAL(38,0)) * q) AS DECIMAL(38,0)) AS sqq,
         |  CAST(SUM(CAST(p AS DECIMAL(38,0)) * p) AS DECIMAL(38,0)) AS spp,
         |  CAST(SUM(CAST(dc AS DECIMAL(38,0)) * dc) AS DECIMAL(38,0)) AS sdd,
         |  CAST(SUM(CAST(q AS DECIMAL(38,0)) * p) AS DECIMAL(38,0)) AS sqp,
         |  CAST(SUM(CAST(q AS DECIMAL(38,0)) * dc) AS DECIMAL(38,0)) AS sqd,
         |  CAST(SUM(CAST(p AS DECIMAL(38,0)) * dc) AS DECIMAL(38,0)) AS spd
         |  FROM x)
         |SELECT * FROM (
         |  SELECT 'quantity' AS col_a, 'extendedprice' AS col_b, n,
         |    ${r2("sq", "sp", "sqq", "spp", "sqp")} AS r2_bp FROM a
         |  UNION ALL
         |  SELECT 'quantity', 'discount', n,
         |    ${r2("sq", "sd", "sqq", "sdd", "sqd")} FROM a
         |  UNION ALL
         |  SELECT 'extendedprice', 'discount', n,
         |    ${r2("sp", "sd", "spp", "sdd", "spd")} FROM a)
         |ORDER BY col_a, col_b""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.types.{DecimalType, LongType}
      val dec = DecimalType(38, 0)
      val x = graft.Tables.lineitem(spark, dir).select(
        col("l_quantity").cast(LongType).as("q"),
        expr("cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint)").as("p"),
        expr("cast(cast(l_discount as decimal(18,2)) * 100 as bigint)").as("dc"))
      // Per-row arithmetic stays in LONG (cents-scale products fit 63 bits
      // up to |x| < ~3·10⁹ cents — ANSI throws, not wraps, beyond); only
      // the per-product CAST feeds the decimal(38,0) accumulator, which
      // Spark keeps on its compact-long fast path. The previous form
      // multiplied Decimal(38,0) per input row — a Java BigDecimal multiply
      // in the innermost loop, ~10× the cost for the identical exact sums.
      val a = x.agg(
        count(lit(1)).as("n"),
        sum(col("q").cast(dec)).cast(dec).as("sq"),
        sum(col("p").cast(dec)).cast(dec).as("sp"),
        sum(col("dc").cast(dec)).cast(dec).as("sd"),
        sum((col("q") * col("q")).cast(dec)).cast(dec).as("sqq"),
        sum((col("p") * col("p")).cast(dec)).cast(dec).as("spp"),
        sum((col("dc") * col("dc")).cast(dec)).cast(dec).as("sdd"),
        sum((col("q") * col("p")).cast(dec)).cast(dec).as("sqp"),
        sum((col("q") * col("dc")).cast(dec)).cast(dec).as("sqd"),
        sum((col("p") * col("dc")).cast(dec)).cast(dec).as("spd"))
      a.select(col("n"), explode(array(
          struct(lit("quantity").as("col_a"), lit("extendedprice").as("col_b"),
            expr(r2("sq", "sp", "sqq", "spp", "sqp")).as("r2_bp")),
          struct(lit("quantity").as("col_a"), lit("discount").as("col_b"),
            expr(r2("sq", "sd", "sqq", "sdd", "sqd")).as("r2_bp")),
          struct(lit("extendedprice").as("col_a"), lit("discount").as("col_b"),
            expr(r2("sp", "sd", "spp", "sdd", "spd")).as("r2_bp")))).as("pr"))
        .select(col("pr.col_a").as("col_a"), col("pr.col_b").as("col_b"),
          col("n"), col("pr.r2_bp").as("r2_bp"))
        .orderBy(col("col_a"), col("col_b"))
    }
  }

  /** The FULL precision-recall curve — one point per distinct score value
    * (predict positive iff score ≥ s), not m17's fixed sweep: cumulative
    * tp/fp in descending score order with precision/recall in integer
    * basis points. The cumulation is the distributed
    * [[graft.operators.PrefixSum]] over the bounded per-score frame
    * (descending via negated key), and the positive total P is a literal
    * from its pass-1 partition totals — two passes over |distinct scores|
    * rows, regardless of corpus size.
    */
  val m22PrCurve: Q = Q(
    "m22_pr_curve",
    """WITH sc AS (
      |  SELECT n_chars AS s,
      |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pos,
      |    CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS neg
      |  FROM documents GROUP BY n_chars),
      |c AS (SELECT s, pos, neg,
      |    CAST(SUM(pos) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
      |    CAST(SUM(neg) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp
      |  FROM sc),
      |t AS (SELECT CAST(SUM(pos) AS BIGINT) AS p FROM sc)
      |SELECT s AS threshold, tp, fp,
      |  CAST(tp * 10000 // (tp + fp) AS BIGINT) AS precision_bp,
      |  CASE WHEN p = 0 THEN NULL
      |       ELSE CAST(tp * 10000 // p AS BIGINT) END AS recall_bp
      |FROM c, t ORDER BY threshold""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types.LongType
    val perScore = graft.Tables.documents(spark, dir)
      .groupBy(col("n_chars").cast(LongType).as("s"))
      .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("pos"),
        sum(when(col("lang") === "en", 0L).otherwise(1L)).as("neg"))
      .withColumn("ord", -col("s"))
    val (cum, totals) = graft.operators.PrefixSum.withStartOffsetsAndTotals(
      perScore, "ord", Seq("pos" -> "tp0", "neg" -> "fp0"))
    val pTot = totals.head
    cum.select(col("s").as("threshold"),
        (col("tp0") + col("pos")).as("tp"), (col("fp0") + col("neg")).as("fp"))
      .select(col("threshold"), col("tp"), col("fp"),
        expr("tp * 10000 div (tp + fp)").as("precision_bp"),
        when(lit(pTot) === 0, lit(null).cast(LongType))
          .otherwise(expr(s"tp * 10000 div ${pTot}L")).as("recall_bp"))
      .orderBy(col("threshold"))
  }

  /** Average true range per symbol ([[Indicators.withAtr]]): the Wilder-EMA
    * smoothed true range — the gap-aware volatility indicator (Bollinger
    * measures dispersion of closes; ATR sees the high/low span AND overnight
    * gaps via |high/low − prevClose|). Checked against a list-fold
    * oracle evaluating the identical IEEE recurrence, like w2/w4.
    */
  val w10Atr: Q = Q(
    "w10_atr",
    s"""WITH bars AS (
      |  SELECT o_orderpriority AS sym, CAST(o_orderdate AS DATE) AS d,
      |    CAST(FLOOR(CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / 100.0) AS DOUBLE) + 1.0 AS high,
      |    CAST(FLOOR(CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / 100.0) AS DOUBLE) - 1.0 AS low,
      |    CAST(FLOOR(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / 100.0) AS DOUBLE) AS close
      |  FROM orders GROUP BY o_orderpriority, CAST(o_orderdate AS DATE)),
      |s AS (SELECT sym, d, high, low, close,
      |        ROW_NUMBER() OVER w AS rn, LAG(close) OVER w AS pc
      |      FROM bars WINDOW w AS (PARTITION BY sym ORDER BY d)),
      |tr AS (SELECT sym, d, rn,
      |        CASE WHEN pc IS NULL THEN high - low
      |             ELSE GREATEST(high - low, ABS(high - pc), ABS(low - pc)) END AS tr
      |      FROM s),
      |arr AS (SELECT sym, MIN(rn) AS rn0,
      |    list({'tr': tr, 'atr': tr} ORDER BY rn) AS xs FROM tr GROUP BY sym),
      |fold AS (SELECT sym, rn0,
      |    list_reduce(list_transform(xs, z -> [z]),
      |      (acc, x) -> list_append(acc, {'tr': x[1].tr,
      |        'atr': $A14 * x[1].tr + $B14 * acc[-1].atr})) AS st
      |  FROM arr),
      |u AS (SELECT sym, rn0, generate_subscripts(st, 1) AS i, unnest(st) AS v FROM fold),
      |rec AS (SELECT sym, rn0 + i - 1 AS rn, v.atr AS atr FROM u)
      |SELECT s.sym, s.d, s.close, r.atr AS atr_14
      |FROM rec r JOIN s ON s.sym = r.sym AND s.rn = r.rn
      |WHERE r.rn >= 14 ORDER BY s.sym, s.d""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types._
    val D2 = DecimalType(18, 2)
    def fl(c: org.apache.spark.sql.Column) =
      floor(c.cast(DoubleType) / 100.0).cast(DoubleType)
    val bars = graft.Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("sym"), to_date(col("o_orderdate")).as("d"))
      .agg(
        (fl(max(col("o_totalprice").cast(D2))) + 1.0).as("high"),
        (fl(min(col("o_totalprice").cast(D2))) - 1.0).as("low"),
        fl(sum(col("o_totalprice").cast(D2))).as("close"))
    Indicators.withAtr(bars, "high", "low", "close", "atr_14", 14,
        orderCol = "d", partitionCols = Seq("sym"))
      .filter(col("atr_14").isNotNull)
      .select("sym", "d", "close", "atr_14")
      .orderBy(col("sym"), col("d"))
  }

  /** Rolling 20-day VWAP per symbol ([[Indicators.withVwap]]): exact
    * integer-valued window sums of close·volume and volume, one float
    * division at the end — the liquidity-weighted price benchmark.
    */
  val w11Vwap: Q = Q(
    "w11_vwap",
    """WITH bars AS (
      |  SELECT o_orderpriority AS sym, CAST(o_orderdate AS DATE) AS d,
      |    CAST(FLOOR(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / 100.0) AS DOUBLE) AS close,
      |    CAST(COUNT(*) AS DOUBLE) AS volume
      |  FROM orders GROUP BY o_orderpriority, CAST(o_orderdate AS DATE)),
      |s AS (SELECT sym, d, close,
      |        ROW_NUMBER() OVER w AS rn,
      |        SUM(close * volume) OVER w20 AS pv,
      |        SUM(volume) OVER w20 AS v
      |      FROM bars
      |      WINDOW w AS (PARTITION BY sym ORDER BY d),
      |             w20 AS (PARTITION BY sym ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
      |SELECT sym, d, close, pv / v AS vwap_20
      |FROM s WHERE rn >= 20 ORDER BY sym, d""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types._
    val D2 = DecimalType(18, 2)
    val bars = graft.Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("sym"), to_date(col("o_orderdate")).as("d"))
      .agg(
        floor(sum(col("o_totalprice").cast(D2)).cast(DoubleType) / 100.0)
          .cast(DoubleType).as("close"),
        count(lit(1)).cast(DoubleType).as("volume"))
    Indicators.withVwap(bars, "close", "volume", "vwap_20", 20,
        orderCol = "d", partitionCols = Seq("sym"))
      .filter(col("vwap_20").isNotNull)
      .select("sym", "d", "close", "vwap_20")
      .orderBy(col("sym"), col("d"))
  }

  /** Keltner channels per symbol ([[Indicators.withKeltner]]): EMA(tp, 20)
    * middle with ±2·ATR(10) bands — trend plus gap-aware volatility in one
    * channel. The oracle carries BOTH recursions (Wilder ATR and standard
    * EMA) through one `list_reduce` fold carrying (atr, mid), reproducing
    * the identical IEEE sequence the native `ewm` window function computes.
    */
  val w12Keltner: Q = Q(
    "w12_keltner",
    """WITH bars AS (
      |  SELECT o_orderpriority AS sym, CAST(o_orderdate AS DATE) AS d,
      |    CAST(FLOOR(CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / 100.0) AS DOUBLE) + 1.0 AS high,
      |    CAST(FLOOR(CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / 100.0) AS DOUBLE) - 1.0 AS low,
      |    CAST(FLOOR(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / 100.0) AS DOUBLE) AS close
      |  FROM orders GROUP BY o_orderpriority, CAST(o_orderdate AS DATE)),
      |s AS (SELECT sym, d, high, low, close,
      |        (high + low + close) / 3.0 AS tp,
      |        ROW_NUMBER() OVER w AS rn, LAG(close) OVER w AS pc
      |      FROM bars WINDOW w AS (PARTITION BY sym ORDER BY d)),
      |tr AS (SELECT sym, d, rn, tp,
      |        CASE WHEN pc IS NULL THEN high - low
      |             ELSE GREATEST(high - low, ABS(high - pc), ABS(low - pc)) END AS tr
      |      FROM s),
      |arr AS (SELECT sym, MIN(rn) AS rn0,
      |    list({'tr': tr, 'tp': tp, 'atr': tr, 'mid': tp} ORDER BY rn) AS xs FROM tr GROUP BY sym),
      |fold AS (SELECT sym, rn0,
      |    list_reduce(list_transform(xs, z -> [z]),
      |      (acc, x) -> list_append(acc, {'tr': x[1].tr, 'tp': x[1].tp,
      |        'atr': (CAST(1.0 AS DOUBLE)/10.0) * x[1].tr + (1.0 - CAST(1.0 AS DOUBLE)/10.0) * acc[-1].atr,
      |        'mid': (CAST(2.0 AS DOUBLE)/21.0) * x[1].tp + (1.0 - CAST(2.0 AS DOUBLE)/21.0) * acc[-1].mid})) AS st
      |  FROM arr),
      |u AS (SELECT sym, rn0, generate_subscripts(st, 1) AS i, unnest(st) AS v FROM fold),
      |rec AS (SELECT sym, rn0 + i - 1 AS rn, v.atr AS atr, v.mid AS mid FROM u)
      |SELECT s.sym, s.d, s.close, r.mid AS kc_mid,
      |  r.mid + 2.0 * r.atr AS kc_up, r.mid - 2.0 * r.atr AS kc_lo
      |FROM rec r JOIN s ON s.sym = r.sym AND s.rn = r.rn
      |WHERE r.rn >= 20 ORDER BY s.sym, s.d""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types._
    val D2 = DecimalType(18, 2)
    def fl(c: org.apache.spark.sql.Column) =
      floor(c.cast(DoubleType) / 100.0).cast(DoubleType)
    val bars = graft.Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("sym"), to_date(col("o_orderdate")).as("d"))
      .agg(
        (fl(max(col("o_totalprice").cast(D2))) + 1.0).as("high"),
        (fl(min(col("o_totalprice").cast(D2))) - 1.0).as("low"),
        fl(sum(col("o_totalprice").cast(D2))).as("close"))
    Indicators.withKeltner(bars, "high", "low", "close", "kc",
        emaPeriod = 20, atrPeriod = 10, mult = 2.0,
        orderCol = "d", partitionCols = Seq("sym"))
      .filter(col("kc_mid").isNotNull && col("kc_up").isNotNull)
      .select("sym", "d", "close", "kc_mid", "kc_up", "kc_lo")
      .orderBy(col("sym"), col("d"))
  }

  /** Donchian channels per symbol ([[Indicators.withDonchian]]): trailing
    * 20-row max(high)/min(low) breakout envelope — exact rolling extrema,
    * no accumulation anywhere, the simplest bit-stable channel.
    */
  val w13Donchian: Q = Q(
    "w13_donchian",
    """WITH bars AS (
      |  SELECT o_orderpriority AS sym, CAST(o_orderdate AS DATE) AS d,
      |    CAST(FLOOR(CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / 100.0) AS DOUBLE) + 1.0 AS high,
      |    CAST(FLOOR(CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / 100.0) AS DOUBLE) - 1.0 AS low
      |  FROM orders GROUP BY o_orderpriority, CAST(o_orderdate AS DATE)),
      |s AS (SELECT sym, d,
      |        ROW_NUMBER() OVER w AS rn,
      |        MAX(high) OVER w20 AS dc_up, MIN(low) OVER w20 AS dc_lo
      |      FROM bars
      |      WINDOW w AS (PARTITION BY sym ORDER BY d),
      |             w20 AS (PARTITION BY sym ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
      |SELECT sym, d, dc_up, dc_lo, (dc_up + dc_lo) / 2.0 AS dc_mid
      |FROM s WHERE rn >= 20 ORDER BY sym, d""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types._
    val D2 = DecimalType(18, 2)
    def fl(c: org.apache.spark.sql.Column) =
      floor(c.cast(DoubleType) / 100.0).cast(DoubleType)
    val bars = graft.Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("sym"), to_date(col("o_orderdate")).as("d"))
      .agg(
        (fl(max(col("o_totalprice").cast(D2))) + 1.0).as("high"),
        (fl(min(col("o_totalprice").cast(D2))) - 1.0).as("low"))
    Indicators.withDonchian(bars, "high", "low", "dc", 20,
        orderCol = "d", partitionCols = Seq("sym"))
      .filter(col("dc_up").isNotNull)
      .select("sym", "d", "dc_up", "dc_lo", "dc_mid")
      .orderBy(col("sym"), col("d"))
  }

  /** Ichimoku cloud per symbol ([[Indicators.withIchimoku]]): five exact
    * extrema-midpoint/displacement lines off one keyed window sort; rows
    * kept once every backward component exists (chikou stays null near
    * the series end by construction — the lead has nothing to read).
    */
  val w14Ichimoku: Q = Q(
    "w14_ichimoku",
    """WITH bars AS (
      |  SELECT o_orderpriority AS sym, CAST(o_orderdate AS DATE) AS d,
      |    CAST(FLOOR(CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / 100.0) AS DOUBLE) + 1.0 AS high,
      |    CAST(FLOOR(CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / 100.0) AS DOUBLE) - 1.0 AS low,
      |    CAST(FLOOR(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / 100.0) AS DOUBLE) AS close
      |  FROM orders GROUP BY o_orderpriority, CAST(o_orderdate AS DATE)),
      |s AS (SELECT sym, d, close,
      |    ROW_NUMBER() OVER w AS rn,
      |    CASE WHEN COUNT(high) OVER w9 = 9
      |         THEN (MAX(high) OVER w9 + MIN(low) OVER w9) / 2.0 END AS tenkan,
      |    CASE WHEN COUNT(high) OVER w26 = 26
      |         THEN (MAX(high) OVER w26 + MIN(low) OVER w26) / 2.0 END AS kijun,
      |    CASE WHEN COUNT(high) OVER w52 = 52
      |         THEN (MAX(high) OVER w52 + MIN(low) OVER w52) / 2.0 END AS mid52
      |  FROM bars
      |  WINDOW w AS (PARTITION BY sym ORDER BY d),
      |    w9 AS (PARTITION BY sym ORDER BY d ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
      |    w26 AS (PARTITION BY sym ORDER BY d ROWS BETWEEN 25 PRECEDING AND CURRENT ROW),
      |    w52 AS (PARTITION BY sym ORDER BY d ROWS BETWEEN 51 PRECEDING AND CURRENT ROW)),
      |i AS (SELECT sym, d, close, rn, tenkan, kijun,
      |    LAG((tenkan + kijun) / 2.0, 26) OVER w AS senkou_a,
      |    LAG(mid52, 26) OVER w AS senkou_b,
      |    LEAD(close, 26) OVER w AS chikou
      |  FROM s WINDOW w AS (PARTITION BY sym ORDER BY d))
      |SELECT sym, d, close, tenkan, kijun, senkou_a, senkou_b, chikou
      |FROM i WHERE rn >= 78 ORDER BY sym, d""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types._
    val D2 = DecimalType(18, 2)
    def fl(c: org.apache.spark.sql.Column) =
      floor(c.cast(DoubleType) / 100.0).cast(DoubleType)
    val bars = graft.Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("sym"), to_date(col("o_orderdate")).as("d"))
      .agg(
        (fl(max(col("o_totalprice").cast(D2))) + 1.0).as("high"),
        (fl(min(col("o_totalprice").cast(D2))) - 1.0).as("low"),
        fl(sum(col("o_totalprice").cast(D2))).as("close"))
    // keep rows where the deepest displaced lookback exists (52 + 26 = 78)
    Indicators.withIchimoku(bars, "high", "low", "close",
        orderCol = "d", partitionCols = Seq("sym"))
      .filter(col("senkou_b").isNotNull)
      .select("sym", "d", "close", "tenkan", "kijun", "senkou_a", "senkou_b", "chikou")
      .orderBy(col("sym"), col("d"))
  }

  /** Cohen's kappa ([[graft.operators.Eval.cohensKappa]]): chance-corrected
    * agreement between the true quantity tertile and a "noisy rater" —
    * the same tertile of quantity perturbed by a deterministic md5-derived
    * ±5 offset (clamped to [1,50]) — the inter-annotator/model-vs-rule
    * agreement statistic in exact integer rational form. Measured
    * κ ≈ 0.836 at every SF, so the non-negative-`div` contract holds.
    */
  val m24Kappa: Q = Q(
    "m24_cohens_kappa",
    """WITH l AS (SELECT CAST(l_quantity AS BIGINT) AS q,
      |    CAST(concat('0x', substr(md5(concat(CAST(l_orderkey AS VARCHAR), ':',
      |      CAST(l_linenumber AS VARCHAR))), 1, 8)) AS BIGINT) % 11 - 5 AS noise
      |  FROM lineitem),
      |c AS (SELECT CASE WHEN q <= 17 THEN 0 WHEN q <= 34 THEN 1 ELSE 2 END AS a,
      |    CASE WHEN LEAST(GREATEST(q + noise, 1), 50) <= 17 THEN 0
      |         WHEN LEAST(GREATEST(q + noise, 1), 50) <= 34 THEN 1 ELSE 2 END AS b
      |  FROM l),
      |ct AS (SELECT a, b, COUNT(*) AS cnt FROM c GROUP BY a, b),
      |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
      |          CAST(SUM(CASE WHEN a = b THEN cnt ELSE 0 END) AS BIGINT) AS agree_n
      |        FROM ct),
      |rows_ AS (SELECT a AS cls, SUM(cnt) AS rn FROM ct GROUP BY a),
      |cols_ AS (SELECT b AS cls, SUM(cnt) AS cn FROM ct GROUP BY b),
      |src AS (SELECT SUM(rn * cn) AS src FROM rows_ JOIN cols_ USING (cls))
      |SELECT tot.n, tot.agree_n,
      |  CAST(src.src AS BIGINT) AS margin_prod_sum,
      |  CAST(CASE WHEN tot.n * tot.n = src.src THEN NULL
      |    ELSE (tot.n * tot.agree_n - src.src) * 10000 // (tot.n * tot.n - src.src)
      |    END AS BIGINT) AS kappa_bp
      |FROM tot, src""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types._
    val li = graft.Tables.lineitem(spark, dir)
    val q = col("l_quantity").cast(LongType)
    val key = concat_ws(":", col("l_orderkey").cast(StringType),
      col("l_linenumber").cast(StringType))
    val noise = conv(substring(md5(key), 1, 8), 16, 10).cast(LongType) % 11 - 5
    def tertile(c: org.apache.spark.sql.Column) =
      when(c <= 17, 0L).when(c <= 34, 1L).otherwise(2L)
    val rated = li.select(
      tertile(q).as("a"),
      tertile(least(greatest(q + noise, lit(1L)), lit(50L))).as("b"))
    graft.operators.Eval.cohensKappa(rated, "a", "b")
  }

  /** Kendall tau-a + Goodman–Kruskal gamma
    * ([[graft.operators.Eval.ordinalAssociation]]) of quantity vs discount
    * points — "does a bigger order rank a bigger discount?" in exact
    * concordant/discordant pair rationals over the 50×11 value grid (the
    * pair-count sibling of m15's AUC; G² grid pairs, never n² row pairs).
    */
  val m26OrdinalAssoc: Q = Q(
    "m26_ordinal_assoc",
    """WITH g AS (SELECT CAST(l_quantity AS BIGINT) AS x,
      |    CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS y,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1, 2),
      |p AS (SELECT
      |    COALESCE(SUM(CASE WHEN a.y < b.y
      |        THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END), 0) AS conc,
      |    COALESCE(SUM(CASE WHEN a.y > b.y
      |        THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END), 0) AS disc
      |  FROM g a JOIN g b ON a.x < b.x),
      |t AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM g)
      |SELECT t.n, CAST(p.conc AS BIGINT) AS conc,
      |  CAST(p.disc AS BIGINT) AS disc,
      |  CAST(CASE WHEN t.n < 2 THEN NULL
      |    ELSE (CASE WHEN p.conc >= p.disc THEN 1 ELSE -1 END)
      |         * (abs(p.conc - p.disc) * 2 * 10000
      |            // (CAST(t.n AS HUGEINT) * (t.n - 1)))
      |    END AS BIGINT) AS tau_a_bp,
      |  CAST(CASE WHEN p.conc + p.disc = 0 THEN NULL
      |    ELSE (CASE WHEN p.conc >= p.disc THEN 1 ELSE -1 END)
      |         * (abs(p.conc - p.disc) * 10000 // (p.conc + p.disc))
      |    END AS BIGINT) AS gamma_bp
      |FROM p, t""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types.LongType
    val li = graft.Tables.lineitem(spark, dir).select(
      col("l_quantity").cast(LongType).as("x"),
      floor(col("l_discount") * 100 + 0.5).cast(LongType).as("y"))
    graft.operators.Eval.ordinalAssociation(li, "x", "y")
  }

  /** Poisson bootstrap ([[graft.operators.Eval.poissonBootstrap]]) of the
    * mean order price: 32 hash-deterministic replicas in one pass — the
    * distribution a CI on the mean reads off, computed the way it actually
    * distributes (per-row Poisson(1) multiplicities, no global-n draw).
    */
  val m27PoissonBootstrap: Q = Q(
    "m27_poisson_bootstrap",
    """WITH reps AS (SELECT UNNEST(range(0, 32)) AS b),
      |x AS (SELECT o_orderkey AS id,
      |        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |      FROM orders),
      |d AS (SELECT r.b, x.v,
      |    CAST(concat('0x', substr(md5(concat(CAST(x.id AS VARCHAR), ':',
      |      CAST(r.b AS VARCHAR))), 1, 8)) AS BIGINT) AS h
      |  FROM x CROSS JOIN reps r),
      |w AS (SELECT b, v,
      |    CASE WHEN h < 1580030168 THEN 0 WHEN h < 3160060337 THEN 1
      |         WHEN h < 3950075421 THEN 2 WHEN h < 4213413783 THEN 3
      |         WHEN h < 4279248373 THEN 4 WHEN h < 4292415291 THEN 5
      |         WHEN h < 4294609777 THEN 6 WHEN h < 4294923276 THEN 7
      |         ELSE 8 END AS w
      |  FROM d),
      |agg AS (SELECT b, CAST(SUM(w) AS BIGINT) AS n_eff,
      |          SUM(CAST(w AS HUGEINT) * v) AS w_sum
      |        FROM w GROUP BY b)
      |SELECT b, n_eff, CAST(w_sum AS BIGINT) AS w_sum,
      |  CAST(CASE WHEN n_eff = 0 THEN NULL
      |       ELSE w_sum * 1000 // CAST(n_eff AS HUGEINT) END AS BIGINT) AS mean_milli
      |FROM agg ORDER BY b""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types.{DecimalType, LongType}
    val x = graft.Tables.orders(spark, dir).select(
      col("o_orderkey").as("id"),
      (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast(LongType).as("v"))
    graft.operators.Eval.poissonBootstrap(x, "id", "v", 32)
  }

  /** Exact token-mass Gini over `documents`
    * ([[graft.operators.Eval.giniCoefficient]]): how concentrated the
    * corpus's token budget is across documents, in basis points — the
    * scalar a curation dashboard tracks next to the q_pareto share curve.
    */
  val m28Gini: Q = Q(
    "m28_gini",
    """WITH x AS (SELECT doc_id AS id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS v FROM documents),
      |r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v, id) AS rn FROM x),
      |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS sum_v,
      |        SUM(CAST(rn AS HUGEINT) * v) AS ix FROM r)
      |SELECT n, sum_v, CAST(ix AS DOUBLE) AS rank_weighted_sum,
      |  CAST(CASE WHEN n = 0 OR sum_v = 0 THEN NULL
      |    ELSE (ix * 2 - (CAST(n AS HUGEINT) + 1) * sum_v) * 10000
      |         // (CAST(n AS HUGEINT) * sum_v) END AS BIGINT) AS gini_bp
      |FROM t""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types.LongType
    val x = graft.Tables.documents(spark, dir).select(
      col("doc_id").as("id"),
      graft.operators.TextAnalysis.tokenCount(col("text")).cast(LongType).as("v"))
    graft.operators.Eval.giniCoefficient(x, "id", "v")
  }

  /** Exact closed-form OLS ([[graft.operators.Eval.olsNormalEq2]]):
    * extended price (cents) on quantity and discount points — the
    * regression a feature report computes from ONE moment scan, with
    * Cramer determinant ratios as exact micro-unit rationals.
    */
  val m29Ols: Q = Q(
    "m29_ols_normal_eq",
    """WITH v AS (SELECT CAST(l_quantity AS BIGINT) AS x1,
      |    CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS x2,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      |  FROM lineitem),
      |m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(x1) AS HUGEINT) AS s1, CAST(SUM(x2) AS HUGEINT) AS s2,
      |    CAST(SUM(y) AS HUGEINT) AS sy,
      |    CAST(SUM(x1 * x1) AS HUGEINT) AS s11,
      |    CAST(SUM(x1 * x2) AS HUGEINT) AS s12,
      |    CAST(SUM(x2 * x2) AS HUGEINT) AS s22,
      |    CAST(SUM(CAST(x1 AS HUGEINT) * y) AS HUGEINT) AS s1y,
      |    CAST(SUM(CAST(x2 AS HUGEINT) * y) AS HUGEINT) AS s2y
      |  FROM v),
      |d AS (SELECT n,
      |    n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
      |      + s2 * (s1 * s12 - s11 * s2) AS det,
      |    sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
      |      + s2 * (s1y * s12 - s11 * s2y) AS det0,
      |    n * (s1y * s22 - s2y * s12) - sy * (s1 * s22 - s12 * s2)
      |      + s2 * (s1 * s2y - s1y * s2) AS det1,
      |    n * (s11 * s2y - s12 * s1y) - s1 * (s1 * s2y - s2 * s1y)
      |      + sy * (s1 * s12 - s11 * s2) AS det2
      |  FROM m)
      |SELECT CAST(n AS BIGINT) AS n, CAST(det AS DOUBLE) AS det,
      |  CAST(CASE WHEN det = 0 THEN NULL
      |    ELSE (CASE WHEN (det0 >= 0) = (det >= 0) THEN 1 ELSE -1 END)
      |         * (abs(det0) * 1000000 // abs(det)) END AS BIGINT) AS b0_micro,
      |  CAST(CASE WHEN det = 0 THEN NULL
      |    ELSE (CASE WHEN (det1 >= 0) = (det >= 0) THEN 1 ELSE -1 END)
      |         * (abs(det1) * 1000000 // abs(det)) END AS BIGINT) AS b1_micro,
      |  CAST(CASE WHEN det = 0 THEN NULL
      |    ELSE (CASE WHEN (det2 >= 0) = (det >= 0) THEN 1 ELSE -1 END)
      |         * (abs(det2) * 1000000 // abs(det)) END AS BIGINT) AS b2_micro
      |FROM d""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types.{DecimalType, LongType}
    val v = graft.Tables.lineitem(spark, dir).select(
      col("l_quantity").cast(LongType).as("x1"),
      floor(col("l_discount") * 100 + 0.5).cast(LongType).as("x2"),
      (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
        .cast(LongType).as("y"))
    graft.operators.Eval.olsNormalEq2(v, "x1", "x2", "y")
  }

  /** Per-segment closed-form OLS
    * ([[graft.operators.Eval.groupedOlsNormalEq2]]): one price model per
    * return flag from one keyed moment scan — m29's fit at segment
    * fan-out, 9 map-combinable sums per group.
    */
  val m30GroupedOls: Q = Q(
    "m30_grouped_ols",
    """WITH v AS (SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS x1,
      |    CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS x2,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      |  FROM lineitem),
      |m AS (SELECT g, CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(x1) AS HUGEINT) AS s1, CAST(SUM(x2) AS HUGEINT) AS s2,
      |    CAST(SUM(y) AS HUGEINT) AS sy,
      |    CAST(SUM(x1 * x1) AS HUGEINT) AS s11,
      |    CAST(SUM(x1 * x2) AS HUGEINT) AS s12,
      |    CAST(SUM(x2 * x2) AS HUGEINT) AS s22,
      |    CAST(SUM(CAST(x1 AS HUGEINT) * y) AS HUGEINT) AS s1y,
      |    CAST(SUM(CAST(x2 AS HUGEINT) * y) AS HUGEINT) AS s2y
      |  FROM v GROUP BY g),
      |d AS (SELECT g, n,
      |    n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
      |      + s2 * (s1 * s12 - s11 * s2) AS det,
      |    sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
      |      + s2 * (s1y * s12 - s11 * s2y) AS det0,
      |    n * (s1y * s22 - s2y * s12) - sy * (s1 * s22 - s12 * s2)
      |      + s2 * (s1 * s2y - s1y * s2) AS det1,
      |    n * (s11 * s2y - s12 * s1y) - s1 * (s1 * s2y - s2 * s1y)
      |      + sy * (s1 * s12 - s11 * s2) AS det2
      |  FROM m)
      |SELECT g, CAST(n AS BIGINT) AS n, CAST(det AS DOUBLE) AS det,
      |  CAST(CASE WHEN det = 0 THEN NULL
      |    ELSE (CASE WHEN (det0 >= 0) = (det >= 0) THEN 1 ELSE -1 END)
      |         * (abs(det0) * 1000000 // abs(det)) END AS BIGINT) AS b0_micro,
      |  CAST(CASE WHEN det = 0 THEN NULL
      |    ELSE (CASE WHEN (det1 >= 0) = (det >= 0) THEN 1 ELSE -1 END)
      |         * (abs(det1) * 1000000 // abs(det)) END AS BIGINT) AS b1_micro,
      |  CAST(CASE WHEN det = 0 THEN NULL
      |    ELSE (CASE WHEN (det2 >= 0) = (det >= 0) THEN 1 ELSE -1 END)
      |         * (abs(det2) * 1000000 // abs(det)) END AS BIGINT) AS b2_micro
      |FROM d ORDER BY g""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types.{DecimalType, LongType}
    val v = graft.Tables.lineitem(spark, dir).select(
      col("l_returnflag").as("g"),
      col("l_quantity").cast(LongType).as("x1"),
      floor(col("l_discount") * 100 + 0.5).cast(LongType).as("x2"),
      (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
        .cast(LongType).as("y"))
    graft.operators.Eval.groupedOlsNormalEq2(v, "g", "x1", "x2", "y")
  }

  /** Commodity Channel Index ([[Indicators.withCci]]) per symbol over the
    * integer typical-price bars — the exact-rational form (cci_centi =
    * 20000·n·(n·tp−S) div (3·Σ|n·tpⱼ−S|), sign split before the division).
    * The oracle computes the window-relative MAD through an explicit
    * rn-range self-join (each bar against its 19 predecessors), the
    * engine through a codegen'd per-row array aggregate — different plans,
    * bit-identical integers.
    */
  val w15Cci: Q = Q(
    "w15_cci",
    """WITH bars AS (
      |  SELECT o_orderpriority AS sym, CAST(o_orderdate AS DATE) AS d,
      |    CAST(FLOOR(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / 100.0) AS BIGINT) AS tp
      |  FROM orders GROUP BY 1, 2),
      |s AS (SELECT sym, d, tp,
      |        ROW_NUMBER() OVER (PARTITION BY sym ORDER BY d) AS rn,
      |        SUM(tp) OVER (PARTITION BY sym ORDER BY d
      |                      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS s20
      |      FROM bars),
      |m AS (SELECT a.sym, a.d, SUM(ABS(20 * b.tp - a.s20)) AS madsum
      |      FROM s a JOIN s b ON b.sym = a.sym AND b.rn BETWEEN a.rn - 19 AND a.rn
      |      GROUP BY a.sym, a.d)
      |SELECT a.sym, a.d, a.tp,
      |  CAST(CASE WHEN m.madsum = 0 THEN NULL
      |    ELSE (CASE WHEN 20 * a.tp - a.s20 >= 0 THEN 1 ELSE -1 END)
      |         * (ABS(20000 * 20 * (20 * a.tp - a.s20)) // (3 * m.madsum))
      |    END AS BIGINT) AS cci_centi
      |FROM s a JOIN m ON m.sym = a.sym AND m.d = a.d
      |WHERE a.rn >= 20 ORDER BY a.sym, a.d""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types._
    val D2 = DecimalType(18, 2)
    val bars = graft.Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("sym"), to_date(col("o_orderdate")).as("d"))
      .agg(floor(sum(col("o_totalprice").cast(D2)).cast(DoubleType) / 100.0)
        .cast(LongType).as("tp"))
    import org.apache.spark.sql.expressions.Window
    val rn = row_number().over(Window.partitionBy("sym").orderBy("d"))
    Indicators.withCci(bars, "tp", "cci_centi", 20,
        orderCol = "d", partitionCols = Seq("sym"))
      .withColumn("__rn", rn)
      .filter(col("__rn") >= 20)
      .select("sym", "d", "tp", "cci_centi")
      .orderBy(col("sym"), col("d"))
  }

  /** Spearman rho ([[graft.operators.Eval.spearmanRho]]) between daily
    * order count and daily revenue — "do busier days take more money?" as
    * a midrank monotone-association statistic. Exact decimal moments (the
    * calendar bound keeps doubled ranks ≤ ~5·10³, so every moment is far
    * inside 2⁵³ and even the rho double path is exact); the oracle builds
    * the identical midranks from per-axis running sums.
    */
  val m31Spearman: Q = Q(
    "m31_spearman",
    """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
      |    CAST(COUNT(*) AS BIGINT) AS x,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |g AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c FROM daily GROUP BY 1, 2),
      |xr AS (SELECT x, SUM(c) AS cc FROM g GROUP BY x),
      |xr2 AS (SELECT x, 2 * COALESCE(SUM(cc) OVER (ORDER BY x
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cc + 1 AS r2x
      |        FROM xr),
      |yr AS (SELECT y, SUM(c) AS cc FROM g GROUP BY y),
      |yr2 AS (SELECT y, 2 * COALESCE(SUM(cc) OVER (ORDER BY y
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cc + 1 AS r2y
      |        FROM yr),
      |j AS (SELECT g.c, xr2.r2x, yr2.r2y FROM g
      |      JOIN xr2 USING (x) JOIN yr2 USING (y)),
      |a AS (SELECT SUM(c) AS n, SUM(c * r2x) AS sx, SUM(c * r2y) AS sy,
      |        SUM(c * r2x * r2x) AS sxx, SUM(c * r2y * r2y) AS syy,
      |        SUM(c * r2x * r2y) AS sxy FROM j)
      |SELECT CAST(n AS BIGINT) AS n,
      |  CAST(n * sxy - sx * sy AS DOUBLE) AS num,
      |  CAST(n * sxx - sx * sx AS DOUBLE) AS var_x,
      |  CAST(n * syy - sy * sy AS DOUBLE) AS var_y,
      |  CAST(CASE WHEN n * sxx = sx * sx OR n * syy = sy * sy THEN NULL
      |    ELSE FLOOR(CAST(n * sxy - sx * sy AS DOUBLE) * 10000.0
      |         / SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
      |         / SQRT(CAST(n * syy - sy * sy AS DOUBLE)) + 0.5)
      |    END AS BIGINT) AS rho_bp
      |FROM a""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types._
    val daily = graft.Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(count(lit(1)).as("x"),
        (sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
          .cast(LongType).as("y"))
    graft.operators.Eval.spearmanRho(daily, "x", "y")
  }

  /** McNemar's paired test ([[graft.operators.Eval.mcnemar]]): a
    * value-threshold rule vs an event-type rule predicting the same
    * high-value flag on the same events — the discordant-cell test an A/B
    * model comparison runs when both models score the SAME corpus.
    */
  val m32Mcnemar: Q = Q(
    "m32_mcnemar",
    """WITH e AS (SELECT
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) >= 10000 AS truth,
      |    CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0 AS a,
      |    event_type IN ('purchase', 'click') AS b
      |  FROM events),
      |ct AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CASE WHEN a = truth AND b <> truth THEN 1 ELSE 0 END) AS BIGINT) AS b01,
      |  CAST(SUM(CASE WHEN a <> truth AND b = truth THEN 1 ELSE 0 END) AS BIGINT) AS b10
      |FROM e)
      |SELECT n, b01, b10,
      |  CAST(CASE WHEN b01 + b10 = 0 THEN NULL
      |    ELSE (ABS(CAST(b01 AS HUGEINT) - b10) - 1)
      |         * (ABS(CAST(b01 AS HUGEINT) - b10) - 1)
      |         * 10000 // (CAST(b01 AS HUGEINT) + b10)
      |    END AS BIGINT) AS chi2_cc_bp
      |FROM ct""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types._
    val e = graft.Tables.events(spark, dir).select(
      ((col("value").cast(DecimalType(18, 2)) * 100).cast(LongType) >= 10000L)
        .as("truth"),
      (conv(substring(md5(col("event_id").cast(StringType)), 1, 8), 16, 10)
        .cast(LongType) % 2 === 0).as("a"),
      col("event_type").isin("purchase", "click").as("b"))
    graft.operators.Eval.mcnemar(e, "truth", "a", "b")
  }

  /** Heikin-Ashi candles per symbol: ha_close is the plain OHLC mean, but
    * ha_open is RECURSIVE — the midpoint of the previous bar's ha_open and
    * ha_close — i.e. exactly the `y ← α·x + (1−α)·y` recurrence at α = ½
    * with x = previous ha_close, seeded at (open₁+close₁)/2. It runs
    * through the native [[graft.functions.Ewm]] window function (one
    * WindowExec per symbol partition, no single-task pass); the oracle
    * replays the identical IEEE recurrence in a per-symbol list fold
    * (the w2/w4 discipline), so values are bit-exact, not approximate.
    * Opens/closes pick the day's first/last order by key (arg_min/arg_max —
    * selections, not sums, so no decimal gymnastics needed).
    */
  val w16HeikinAshi: Q = Q(
    "w16_heikin_ashi",
    """WITH bars AS (
      |  SELECT o_orderpriority AS sym, CAST(o_orderdate AS DATE) AS d,
      |    FLOOR(arg_min(o_totalprice, o_orderkey) / 100.0) AS o,
      |    FLOOR(MAX(o_totalprice) / 100.0) AS h,
      |    FLOOR(MIN(o_totalprice) / 100.0) AS l,
      |    FLOOR(arg_max(o_totalprice, o_orderkey) / 100.0) AS c
      |  FROM orders GROUP BY 1, 2),
      |s AS (SELECT sym, d, o, h, l, c,
      |        (o + h + l + c) / 4.0 AS hc,
      |        ROW_NUMBER() OVER (PARTITION BY sym ORDER BY d) AS rn
      |      FROM bars),
      |arr AS (SELECT sym, MIN(rn) AS rn0,
      |    list({'hcin': hc, 'ho': (o + c) / 2.0, 'hc': hc} ORDER BY rn) AS xs FROM s GROUP BY sym),
      |fold AS (SELECT sym, rn0,
      |    list_reduce(list_transform(xs, z -> [z]),
      |      (acc, x) -> list_append(acc, {'hcin': x[1].hcin,
      |        'ho': 0.5 * acc[-1].hc + 0.5 * acc[-1].ho,
      |        'hc': x[1].hcin})) AS st
      |  FROM arr),
      |u AS (SELECT sym, rn0, generate_subscripts(st, 1) AS i, unnest(st) AS v FROM fold),
      |rec AS (SELECT sym, rn0 + i - 1 AS rn, v.ho AS ho, v.hc AS hc FROM u)
      |SELECT s.sym, s.d, r.ho AS ha_open, r.hc AS ha_close,
      |  GREATEST(s.h, r.ho, r.hc) AS ha_high,
      |  LEAST(s.l, r.ho, r.hc) AS ha_low
      |FROM rec r JOIN s ON s.sym = r.sym AND s.rn = r.rn
      |ORDER BY s.sym, s.d""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val bars = graft.Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("sym"), to_date(col("o_orderdate")).as("d"))
      .agg(
        floor(min_by(col("o_totalprice"), col("o_orderkey")) / 100.0).as("o"),
        floor(max(col("o_totalprice")) / 100.0).as("h"),
        floor(min(col("o_totalprice")) / 100.0).as("l"),
        floor(max_by(col("o_totalprice"), col("o_orderkey")) / 100.0).as("c"))
    val w = Window.partitionBy("sym").orderBy("d")
    val wRun = w.rowsBetween(Window.unboundedPreceding, 0)
    bars
      .withColumn("hc", (col("o") + col("h") + col("l") + col("c")) / 4.0)
      .withColumn("x",
        coalesce(lag(col("hc"), 1).over(w), (col("o") + col("c")) / 2.0))
      .withColumn("ho", expr("ewm(x, 0.5, 0)").over(wRun))
      .select(col("sym"), col("d"), col("ho").as("ha_open"), col("hc").as("ha_close"),
        greatest(col("h"), col("ho"), col("hc")).as("ha_high"),
        least(col("l"), col("ho"), col("hc")).as("ha_low"))
      .orderBy(col("sym"), col("d"))
  }

  /** Wilder ADX per symbol ([[Indicators.withAdx]]): the TWO-stage
    * recursion — three Wilder smoothings (+DM/−DM/TR) feeding ±DI and DX,
    * then DX itself Wilder-smoothed into ADX. The oracle replays all four
    * recursions as ONE `list_reduce` fold carrying the full smoothed state
    * `(str, spdm, smdm, adx)` per step — DX is a pure function of the
    * current step's carried state, so the second-stage recursion consumes
    * it inline (a stacked recursion must be fused into the carried state,
    * never expressed as a second fold over the first). Every arithmetic step
    * is the identical `α·x + (1−α)·y` IEEE sequence (α = 1/14), so every
    * double matches bit-for-bit from the first emitted row
    * (rn = 2·period = 28).
    */
  val w17Adx: Q = {
    val a = A14
    val b = B14
    val sstr = s"$a * x[1].tr + $b * acc[-1].str"
    val sspdm = s"$a * x[1].pdm + $b * acc[-1].spdm"
    val ssmdm = s"$a * x[1].mdm + $b * acc[-1].smdm"
    val pdi = s"CASE WHEN ($sstr) <> 0.0 THEN 100.0 * ($sspdm) / ($sstr) END"
    val mdi = s"CASE WHEN ($sstr) <> 0.0 THEN 100.0 * ($ssmdm) / ($sstr) END"
    val dx = s"CASE WHEN ($pdi) + ($mdi) <> 0.0 THEN " +
      s"100.0 * ABS(($pdi) - ($mdi)) / (($pdi) + ($mdi)) END"
    Q(
      "w17_adx",
      s"""WITH bars AS (
         |  SELECT o_orderpriority AS sym, CAST(o_orderdate AS DATE) AS d,
         |    FLOOR(MAX(o_totalprice) / 100.0) + 1.0 AS h,
         |    FLOOR(MIN(o_totalprice) / 100.0) - 1.0 AS l,
         |    FLOOR(arg_max(o_totalprice, o_orderkey) / 100.0) AS c
         |  FROM orders GROUP BY 1, 2),
         |s AS (SELECT sym, d, h, l, c,
         |        ROW_NUMBER() OVER (PARTITION BY sym ORDER BY d) AS rn,
         |        LAG(h) OVER (PARTITION BY sym ORDER BY d) AS ph,
         |        LAG(l) OVER (PARTITION BY sym ORDER BY d) AS pl,
         |        LAG(c) OVER (PARTITION BY sym ORDER BY d) AS pc
         |      FROM bars),
         |dm AS (SELECT sym, d, rn,
         |        GREATEST(h - l, ABS(h - pc), ABS(l - pc)) AS tr,
         |        CASE WHEN h - ph > pl - l AND h - ph > 0.0 THEN h - ph ELSE 0.0 END AS pdm,
         |        CASE WHEN pl - l > h - ph AND pl - l > 0.0 THEN pl - l ELSE 0.0 END AS mdm
         |      FROM s WHERE pc IS NOT NULL),
         |arr AS (SELECT sym, MIN(rn) AS rn0,
         |    list({'rn': CAST(rn AS DOUBLE), 'tr': tr, 'pdm': pdm, 'mdm': mdm,
         |          'str': tr, 'spdm': pdm, 'smdm': mdm, 'adx': CAST(NULL AS DOUBLE)} ORDER BY rn) AS xs
         |  FROM dm GROUP BY sym),
         |fold AS (SELECT sym, rn0,
         |    list_reduce(list_transform(xs, z -> [z]),
         |      (acc, x) -> list_append(acc, {'rn': x[1].rn, 'tr': x[1].tr,
         |        'pdm': x[1].pdm, 'mdm': x[1].mdm,
         |        'str': $sstr, 'spdm': $sspdm, 'smdm': $ssmdm,
         |        'adx': CASE WHEN x[1].rn < 15 THEN CAST(NULL AS DOUBLE)
         |                    WHEN x[1].rn = 15 THEN ($dx)
         |                    ELSE $a * ($dx) + $b * acc[-1].adx END})) AS st
         |  FROM arr),
         |u AS (SELECT sym, rn0, generate_subscripts(st, 1) AS i, unnest(st) AS v FROM fold),
         |rec AS (SELECT sym, rn0 + i - 1 AS rn,
         |          v.str AS str, v.spdm AS spdm, v.smdm AS smdm, v.adx AS adx FROM u),
         |fin AS (
         |  SELECT sym, rn,
         |    CASE WHEN str <> 0.0 THEN 100.0 * spdm / str END AS pdi,
         |    CASE WHEN str <> 0.0 THEN 100.0 * smdm / str END AS mdi,
         |    adx
         |  FROM rec WHERE rn >= 28)
         |SELECT s.sym, s.d, f.pdi AS adx_pdi, f.mdi AS adx_mdi,
         |  CASE WHEN f.pdi + f.mdi <> 0.0
         |    THEN 100.0 * ABS(f.pdi - f.mdi) / (f.pdi + f.mdi) END AS adx_dx,
         |  f.adx AS adx_adx
         |FROM fin f
         |JOIN s ON s.sym = f.sym AND s.rn = f.rn
         |ORDER BY s.sym, s.d""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val bars = graft.Tables.orders(spark, dir)
        .groupBy(col("o_orderpriority").as("sym"), to_date(col("o_orderdate")).as("d"))
        .agg(
          (floor(max(col("o_totalprice")) / 100.0) + 1.0).as("h"),
          (floor(min(col("o_totalprice")) / 100.0) - 1.0).as("l"),
          floor(max_by(col("o_totalprice"), col("o_orderkey")) / 100.0).as("c"))
      val rn = row_number().over(Window.partitionBy("sym").orderBy("d"))
      Indicators.withAdx(bars, "h", "l", "c", "adx", 14,
          orderCol = "d", partitionCols = Seq("sym"))
        .withColumn("__rn", rn)
        .filter(col("__rn") >= 28)
        .select("sym", "d", "adx_pdi", "adx_mdi", "adx_dx", "adx_adx")
        .orderBy(col("sym"), col("d"))
    }
  }

  /** Parabolic SAR per symbol ([[Indicators.withPsar]]): the branchy
    * trend/EP/af state machine replayed by a SINGLE list fold carrying
    * the full state (trend, sar, ep, af, ph, pl) — the w17_adx discipline:
    * every derived value (raw SAR, one-bar clamp, reversal flags) is a
    * pure function of the carried state and the current bar, recomputed
    * inline in the fold lambda (deterministic IEEE expressions, so
    * recompute ≡ reuse bit-for-bit). All arithmetic
    * is the identical IEEE +,·,LEAST,GREATEST sequence on doubles, so
    * every (sar, up) matches bit-for-bit from the first emitted row
    * (rn = 2).
    */
  val w18Psar: Q = {
    val af0 = "CAST(0.02 AS DOUBLE)"
    val stp = "CAST(0.02 AS DOUBLE)"
    val mx = "CAST(0.2 AS DOUBLE)"
    val raw = "acc[-1].sar + acc[-1].af * (acc[-1].ep - acc[-1].sar)"
    val clamp = s"CASE WHEN acc[-1].trend THEN LEAST($raw, acc[-1].pl) " +
      s"ELSE GREATEST($raw, acc[-1].ph) END"
    val revUp = s"acc[-1].trend AND x[1].l < ($clamp)"
    val revDn = s"NOT acc[-1].trend AND x[1].h > ($clamp)"
    Q(
      "w18_psar",
      s"""WITH bars AS (
         |  SELECT o_orderpriority AS sym, CAST(o_orderdate AS DATE) AS d,
         |    FLOOR(MAX(o_totalprice) / 100.0) + 1.0 AS h,
         |    FLOOR(MIN(o_totalprice) / 100.0) - 1.0 AS l
         |  FROM orders GROUP BY 1, 2),
         |s AS (SELECT sym, d, h, l,
         |        ROW_NUMBER() OVER (PARTITION BY sym ORDER BY d) AS rn
         |      FROM bars),
         |arr AS (SELECT sym, MIN(rn) AS rn0,
         |    list({'h': h, 'l': l, 'trend': TRUE, 'sar': l, 'ep': h,
         |          'af': $af0, 'ph': h, 'pl': l} ORDER BY rn) AS xs
         |  FROM s GROUP BY sym),
         |fold AS (SELECT sym, rn0,
         |    list_reduce(list_transform(xs, z -> [z]),
         |      (acc, x) -> list_append(acc, {'h': x[1].h, 'l': x[1].l,
         |        'trend': CASE WHEN $revUp THEN FALSE WHEN $revDn THEN TRUE ELSE acc[-1].trend END,
         |        'sar': CASE WHEN ($revUp) OR ($revDn) THEN acc[-1].ep ELSE ($clamp) END,
         |        'ep': CASE WHEN $revUp THEN x[1].l WHEN $revDn THEN x[1].h
         |              WHEN acc[-1].trend THEN GREATEST(acc[-1].ep, x[1].h)
         |              ELSE LEAST(acc[-1].ep, x[1].l) END,
         |        'af': CASE WHEN ($revUp) OR ($revDn) THEN $af0
         |              WHEN NOT (($revUp) OR ($revDn))
         |                   AND CASE WHEN acc[-1].trend THEN x[1].h > acc[-1].ep ELSE x[1].l < acc[-1].ep END
         |                THEN LEAST(acc[-1].af + $stp, $mx)
         |              ELSE acc[-1].af END,
         |        'ph': x[1].h, 'pl': x[1].l})) AS st
         |  FROM arr),
         |u AS (SELECT sym, rn0, generate_subscripts(st, 1) AS i, unnest(st) AS v FROM fold),
         |rec AS (SELECT sym, rn0 + i - 1 AS rn, v.sar AS sar, v.trend AS trend FROM u),
         |emit AS (
         |  SELECT sym, rn, sar, trend FROM rec WHERE rn >= 2)
         |SELECT s.sym, s.d, e.sar AS psar_sar, e.trend AS psar_up
         |FROM emit e JOIN s ON s.sym = e.sym AND s.rn = e.rn
         |ORDER BY s.sym, s.d""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val bars = graft.Tables.orders(spark, dir)
        .groupBy(col("o_orderpriority").as("sym"), to_date(col("o_orderdate")).as("d"))
        .agg(
          (floor(max(col("o_totalprice")) / 100.0) + 1.0).as("h"),
          (floor(min(col("o_totalprice")) / 100.0) - 1.0).as("l"))
      val rn = row_number().over(Window.partitionBy("sym").orderBy("d"))
      Indicators.withPsar(bars, "h", "l", "psar", orderCol = "d",
          partitionCols = Seq("sym"))
        .withColumn("__rn", rn)
        .filter(col("__rn") >= 2)
        .select("sym", "d", "psar_sar", "psar_up")
        .orderBy(col("sym"), col("d"))
    }
  }

  /** SuperTrend per symbol ([[Indicators.withSupertrend]], period 14,
    * multiplier 3): the Wilder-ATR recursion AND the final-band
    * conditional-carry recursion fused into ONE list fold carrying
    * (satr, fub, flb, up, pc) — the basic bands are a pure function of
    * the carried smoothed TR, so the second-stage state machine consumes
    * them inline (the w17_adx single-fold discipline). Bit-exact from the
    * first emitted row (rn = period + 1 = 15).
    */
  val w19Supertrend: Q = {
    val a = A14
    val b = B14
    val m = "CAST(3.0 AS DOUBLE)"
    val satr = s"$a * x[1].tr + $b * acc[-1].satr"
    val bub = s"(x[1].h + x[1].l) / CAST(2.0 AS DOUBLE) + $m * ($satr)"
    val blb = s"(x[1].h + x[1].l) / CAST(2.0 AS DOUBLE) - $m * ($satr)"
    val nfub = s"CASE WHEN ($bub) < acc[-1].fub OR acc[-1].pc > acc[-1].fub THEN ($bub) ELSE acc[-1].fub END"
    val nflb = s"CASE WHEN ($blb) > acc[-1].flb OR acc[-1].pc < acc[-1].flb THEN ($blb) ELSE acc[-1].flb END"
    Q(
      "w19_supertrend",
      s"""WITH bars AS (
         |  SELECT o_orderpriority AS sym, CAST(o_orderdate AS DATE) AS d,
         |    FLOOR(MAX(o_totalprice) / 100.0) + 1.0 AS h,
         |    FLOOR(MIN(o_totalprice) / 100.0) - 1.0 AS l,
         |    FLOOR(arg_max(o_totalprice, o_orderkey) / 100.0) AS c
         |  FROM orders GROUP BY 1, 2),
         |s AS (SELECT sym, d, h, l, c,
         |        ROW_NUMBER() OVER (PARTITION BY sym ORDER BY d) AS rn,
         |        LAG(c) OVER (PARTITION BY sym ORDER BY d) AS pcl
         |      FROM bars),
         |dm AS (SELECT sym, d, rn, h, l, c,
         |        GREATEST(h - l, ABS(h - pcl), ABS(l - pcl)) AS tr
         |      FROM s WHERE pcl IS NOT NULL),
         |arr AS (SELECT sym, MIN(rn) AS rn0,
         |    list({'rn': CAST(rn AS DOUBLE), 'h': h, 'l': l, 'c': c, 'tr': tr,
         |          'satr': tr, 'fub': CAST(NULL AS DOUBLE), 'flb': CAST(NULL AS DOUBLE),
         |          'up': CAST(NULL AS BOOLEAN), 'pc': CAST(NULL AS DOUBLE)} ORDER BY rn) AS xs
         |  FROM dm GROUP BY sym),
         |fold AS (SELECT sym, rn0,
         |    list_reduce(list_transform(xs, z -> [z]),
         |      (acc, x) -> list_append(acc, {'rn': x[1].rn, 'h': x[1].h, 'l': x[1].l,
         |        'c': x[1].c, 'tr': x[1].tr,
         |        'satr': $satr,
         |        'fub': CASE WHEN x[1].rn < 15 THEN CAST(NULL AS DOUBLE)
         |                    WHEN x[1].rn = 15 THEN ($bub) ELSE ($nfub) END,
         |        'flb': CASE WHEN x[1].rn < 15 THEN CAST(NULL AS DOUBLE)
         |                    WHEN x[1].rn = 15 THEN ($blb) ELSE ($nflb) END,
         |        'up': CASE WHEN x[1].rn < 15 THEN CAST(NULL AS BOOLEAN)
         |                   WHEN x[1].rn = 15 THEN x[1].c > ($bub)
         |                   WHEN acc[-1].up THEN NOT (x[1].c < ($nflb))
         |                   ELSE x[1].c > ($nfub) END,
         |        'pc': CASE WHEN x[1].rn < 15 THEN CAST(NULL AS DOUBLE) ELSE x[1].c END})) AS st
         |  FROM arr),
         |u AS (SELECT sym, rn0, generate_subscripts(st, 1) AS i, unnest(st) AS v FROM fold),
         |rec AS (SELECT sym, rn0 + i - 1 AS rn, v.fub AS fub, v.flb AS flb, v.up AS up FROM u),
         |emit AS (SELECT sym, rn, fub, flb, up FROM rec WHERE rn >= 15)
         |SELECT s.sym, s.d, e.fub AS st_fub, e.flb AS st_flb,
         |  CASE WHEN e.up THEN e.flb ELSE e.fub END AS st_line,
         |  e.up AS st_up
         |FROM emit e JOIN s ON s.sym = e.sym AND s.rn = e.rn
         |ORDER BY s.sym, s.d""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val bars = graft.Tables.orders(spark, dir)
        .groupBy(col("o_orderpriority").as("sym"), to_date(col("o_orderdate")).as("d"))
        .agg(
          (floor(max(col("o_totalprice")) / 100.0) + 1.0).as("h"),
          (floor(min(col("o_totalprice")) / 100.0) - 1.0).as("l"),
          floor(max_by(col("o_totalprice"), col("o_orderkey")) / 100.0).as("c"))
      val rn = row_number().over(Window.partitionBy("sym").orderBy("d"))
      Indicators.withSupertrend(bars, "h", "l", "c", "st", 14, 3.0,
          orderCol = "d", partitionCols = Seq("sym"))
        .withColumn("__rn", rn)
        .filter(col("__rn") >= 15)
        .select("sym", "d", "st_fub", "st_flb", "st_line", "st_up")
        .orderBy(col("sym"), col("d"))
    }
  }

  /** Rolling 30-day OLS beta of one symbol's daily close against
    * another's (URGENT revenue vs MEDIUM revenue) — the rolling
    * hedge-ratio/exposure estimate, as an EXACT integer rational:
    * β = (nΣxy − ΣxΣy)·10³ div (nΣxx − (Σx)²) over each trailing window,
    * every sum a window aggregate of integer-valued closes in
    * decimal(38,0) — no doubles anywhere. NULL until a full window and on
    * a degenerate (constant-x) window. The two series align by date with
    * one inner join; all four window sums share a single WindowExec.
    */
  val w23RollingBeta: Q = Q(
    "w23_rolling_beta",
    """WITH bars AS (
      |  SELECT o_orderpriority AS sym, CAST(o_orderdate AS DATE) AS d,
      |    CAST(FLOOR(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / 100.0) AS BIGINT) AS close
      |  FROM orders GROUP BY 1, 2),
      |x AS (SELECT d, close AS xv FROM bars WHERE sym = '1-URGENT'),
      |y AS (SELECT d, close AS yv FROM bars WHERE sym = '3-MEDIUM'),
      |j AS (SELECT x.d, x.xv, y.yv FROM x JOIN y ON x.d = y.d),
      |w AS (SELECT d,
      |    COUNT(*) OVER fw AS cnt,
      |    SUM(CAST(xv AS HUGEINT)) OVER fw AS sx,
      |    SUM(CAST(yv AS HUGEINT)) OVER fw AS sy,
      |    SUM(CAST(xv AS HUGEINT) * xv) OVER fw AS sxx,
      |    SUM(CAST(xv AS HUGEINT) * yv) OVER fw AS sxy
      |  FROM j WINDOW fw AS (ORDER BY d ROWS BETWEEN 29 PRECEDING AND CURRENT ROW))
      |SELECT d,
      |  CAST(CASE WHEN cnt = 30 AND cnt * sxx - sx * sx <> 0
      |    THEN (cnt * sxy - sx * sy) * 1000 // (cnt * sxx - sx * sx)
      |    END AS BIGINT) AS beta_milli
      |FROM w ORDER BY d""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{DecimalType, LongType}
    val D = DecimalType(38, 0)
    val bars = graft.Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("sym"), to_date(col("o_orderdate")).as("d"))
      .agg(floor(sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double") / 100.0)
        .cast(LongType).as("close"))
    val x = bars.filter(col("sym") === "1-URGENT").select(col("d"), col("close").as("xv"))
    val y = bars.filter(col("sym") === "3-MEDIUM").select(col("d"), col("close").as("yv"))
    val j = x.join(y, "d")
    val fw = Window.orderBy("d").rowsBetween(-29, 0)
    j.withColumn("cnt", count(lit(1)).over(fw))
      .withColumn("sx", sum(col("xv").cast(D)).over(fw))
      .withColumn("sy", sum(col("yv").cast(D)).over(fw))
      .withColumn("sxx", sum(col("xv").cast(D) * col("xv")).over(fw))
      .withColumn("sxy", sum(col("xv").cast(D) * col("yv")).over(fw))
      .select(col("d"),
        when(col("cnt") === 30 && expr("cnt * sxx - sx * sx") =!= 0,
          expr("(cnt * sxy - sx * sy) * 1000 div (cnt * sxx - sx * sx)"))
          .cast(LongType).as("beta_milli"))
      .orderBy(col("d"))
  }

  /** Lag-1..5 autocorrelation of daily revenue — Pearson r over the
    * (xₜ, xₜ₊ₖ) pair sets, the ACF head a forecasting pass inspects before
    * model choice. All five lags evaluate in ONE WindowExec (five lag
    * columns over the same order), the pair moments accumulate exactly in
    * decimal(38,0) per lag, and r_bp passes through the m31 pinned double
    * order. Single-series by construction (the documented calendar-bounded
    * stance); per-key ACFs would partition the same window.
    */
  val m38Autocorr: Q = Q(
    "m38_autocorr",
    s"""WITH ${Series.DailySql},
       |v AS (SELECT d, CAST(close AS BIGINT) AS x FROM daily),
       |l AS (SELECT x,
       |    LAG(x, 1) OVER (ORDER BY d) AS y1, LAG(x, 2) OVER (ORDER BY d) AS y2,
       |    LAG(x, 3) OVER (ORDER BY d) AS y3, LAG(x, 4) OVER (ORDER BY d) AS y4,
       |    LAG(x, 5) OVER (ORDER BY d) AS y5
       |  FROM v),
       |p AS (SELECT 1 AS k, x, y1 AS y FROM l WHERE y1 IS NOT NULL
       |  UNION ALL SELECT 2, x, y2 FROM l WHERE y2 IS NOT NULL
       |  UNION ALL SELECT 3, x, y3 FROM l WHERE y3 IS NOT NULL
       |  UNION ALL SELECT 4, x, y4 FROM l WHERE y4 IS NOT NULL
       |  UNION ALL SELECT 5, x, y5 FROM l WHERE y5 IS NOT NULL),
       |a AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
       |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
       |    SUM(CAST(x AS HUGEINT) * x) AS sxx, SUM(CAST(y AS HUGEINT) * y) AS syy,
       |    SUM(CAST(x AS HUGEINT) * y) AS sxy
       |  FROM p GROUP BY k)
       |SELECT CAST(k AS BIGINT) AS lag_k, n,
       |  CAST(CASE WHEN n * sxx = sx * sx OR n * syy = sy * sy THEN NULL
       |    ELSE FLOOR(CAST(n * sxy - sx * sy AS DOUBLE) * 10000.0
       |      / SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
       |      / SQRT(CAST(n * syy - sy * sy AS DOUBLE)) + 0.5)
       |    END AS BIGINT) AS r_bp
       |FROM a ORDER BY lag_k""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{DecimalType, LongType}
    val D = DecimalType(38, 0)
    val w = Window.orderBy("d")
    val v = Series.daily(spark, dir).select(col("d"), col("close").cast(LongType).as("x"))
    val lags = (1 to 5).foldLeft(v) { (acc, k) =>
      acc.withColumn(s"y$k", lag(col("x"), k).over(w))
    }
    val stacked = lags.select(col("x"),
        expr("stack(5, 1L, y1, 2L, y2, 3L, y3, 4L, y4, 5L, y5) as (k, y)"))
      .filter(col("y").isNotNull)
    stacked.groupBy(col("k"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).cast(D).as("sx"), sum(col("y")).cast(D).as("sy"),
        sum(col("x").cast(D) * col("x")).cast(D).as("sxx"),
        sum(col("y").cast(D) * col("y")).cast(D).as("syy"),
        sum(col("x").cast(D) * col("y")).cast(D).as("sxy"))
      .select(col("k").as("lag_k"), col("n"),
        when(expr("n * sxx = sx * sx") || expr("n * syy = sy * sy"),
            lit(null).cast(LongType))
          .otherwise(floor(
            expr("cast(n * sxy - sx * sy as double)") * 10000.0
              / sqrt(expr("cast(n * sxx - sx * sx as double)"))
              / sqrt(expr("cast(n * syy - sy * sy as double)")) + 0.5)
            .cast(LongType)).as("r_bp"))
      .orderBy(col("lag_k"))
  }

  /** Distribution moments per event type
    * ([[graft.operators.Eval.momentsByGroup]]): mean, population skewness
    * and excess kurtosis from exact decimal power sums (values quantized
    * to whole units — the documented (n·max|v|)⁴ < 10³⁸ bound), the shape
    * profile a feature-QA pass reads before assuming normality. The
    * oracle replays the power-sum identities in HUGEINT and the identical
    * x·√x / ratio double steps.
    */
  val m37Moments: Q = Q(
    "m37_moments",
    """WITH src AS (SELECT event_type AS g,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 100 AS v
      |  FROM events),
      |a AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(v AS HUGEINT)) AS s1,
      |    SUM(CAST(v AS HUGEINT) * v) AS s2,
      |    SUM(CAST(v AS HUGEINT) * v * v) AS s3,
      |    SUM(CAST(v AS HUGEINT) * v * v * v) AS s4
      |  FROM src GROUP BY g),
      |m AS (SELECT g, n,
      |    CAST(s1 * 100 // n AS BIGINT) AS mean_centi,
      |    CAST(n AS HUGEINT) * s2 - s1 * s1 AS m2_n2,
      |    CAST(n AS HUGEINT) * n * s3
      |      - 3 * CAST(n AS HUGEINT) * s1 * s2 + 2 * s1 * s1 * s1 AS m3_n3,
      |    CAST(n AS HUGEINT) * n * n * s4
      |      - 4 * CAST(n AS HUGEINT) * n * s1 * s3
      |      + 6 * CAST(n AS HUGEINT) * s1 * s1 * s2
      |      - 3 * s1 * s1 * s1 * s1 AS m4_n4
      |  FROM a)
      |SELECT g, n, mean_centi,
      |  CAST(CASE WHEN n < 2 OR m2_n2 <= 0 THEN NULL
      |    ELSE FLOOR(CAST(m3_n3 AS DOUBLE)
      |      / (CAST(m2_n2 AS DOUBLE) * SQRT(CAST(m2_n2 AS DOUBLE)))
      |      * 1000.0 + 0.5) END AS BIGINT) AS skew_milli,
      |  CAST(CASE WHEN n < 2 OR m2_n2 <= 0 THEN NULL
      |    ELSE FLOOR((CAST(m4_n4 AS DOUBLE)
      |      / (CAST(m2_n2 AS DOUBLE) * CAST(m2_n2 AS DOUBLE)) - 3.0)
      |      * 1000.0 + 0.5) END AS BIGINT) AS kurt_milli
      |FROM m ORDER BY g""".stripMargin) { (spark, dir) =>
    val e = graft.Tables.events(spark, dir).select(
      col("event_type").as("g"),
      expr("cast(cast(value as decimal(18,2)) * 100 as bigint) div 100").as("v"))
    graft.operators.Eval.momentsByGroup(e, "g", "v")
      .orderBy(col("g"))
  }

  /** Vortex Indicator per symbol ([[Indicators.withVortex]], period 14):
    * trend-direction strength from window sums of vortex movements over
    * true range, in exact integer basis points (integer-valued bars keep
    * every term integral — no float anywhere). The oracle replays the
    * lags, the windowed sums, and both integer divisions.
    */
  val w22Vortex: Q = Q(
    "w22_vortex",
    """WITH bars AS (
      |  SELECT o_orderpriority AS sym, CAST(o_orderdate AS DATE) AS d,
      |    CAST(FLOOR(MAX(o_totalprice) / 100.0) + 1 AS BIGINT) AS h,
      |    CAST(FLOOR(MIN(o_totalprice) / 100.0) - 1 AS BIGINT) AS l,
      |    CAST(FLOOR(arg_max(o_totalprice, o_orderkey) / 100.0) AS BIGINT) AS c
      |  FROM orders GROUP BY 1, 2),
      |s AS (SELECT sym, d, h, l,
      |    ABS(h - LAG(l) OVER (PARTITION BY sym ORDER BY d)) AS vmp,
      |    ABS(l - LAG(h) OVER (PARTITION BY sym ORDER BY d)) AS vmm,
      |    CASE WHEN LAG(c) OVER (PARTITION BY sym ORDER BY d) IS NULL THEN NULL
      |      ELSE GREATEST(h - l,
      |        ABS(h - LAG(c) OVER (PARTITION BY sym ORDER BY d)),
      |        ABS(l - LAG(c) OVER (PARTITION BY sym ORDER BY d))) END AS tr
      |  FROM bars),
      |w AS (SELECT sym, d,
      |    COUNT(tr) OVER fw AS cnt,
      |    SUM(vmp) OVER fw AS vps, SUM(vmm) OVER fw AS vms,
      |    SUM(tr) OVER fw AS trs
      |  FROM s WINDOW fw AS (PARTITION BY sym ORDER BY d
      |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
      |SELECT sym, d,
      |  CASE WHEN cnt = 14 AND trs > 0 THEN vps * 10000 // trs END AS vi_plus_bp,
      |  CASE WHEN cnt = 14 AND trs > 0 THEN vms * 10000 // trs END AS vi_minus_bp
      |FROM w ORDER BY sym, d""".stripMargin) { (spark, dir) =>
    val bars = graft.Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("sym"), to_date(col("o_orderdate")).as("d"))
      .agg(
        (floor(max(col("o_totalprice")) / 100.0) + 1)
          .cast(org.apache.spark.sql.types.LongType).as("h"),
        (floor(min(col("o_totalprice")) / 100.0) - 1)
          .cast(org.apache.spark.sql.types.LongType).as("l"),
        floor(max_by(col("o_totalprice"), col("o_orderkey")) / 100.0)
          .cast(org.apache.spark.sql.types.LongType).as("c"))
    Indicators.withVortex(bars, "h", "l", "c", "vi", 14,
        orderCol = "d", partitionCols = Seq("sym"))
      .select(col("sym"), col("d"),
        col("vi_plus_bp"), col("vi_minus_bp"))
      .orderBy(col("sym"), col("d"))
  }

  /** Wald–Wolfowitz runs test ([[graft.operators.Eval.runsTest]]) on the
    * daily revenue series: is the above/below-median pattern random, or do
    * revenue regimes persist? Exact run/side counts; z through the pinned
    * double order. The oracle replays the grid median, the median-drop,
    * the lag-marked run starts, and the normal approximation.
    */
  val m36RunsTest: Q = Q(
    "m36_runs_test",
    s"""WITH ${Series.DailySql},
       |v AS (SELECT d, CAST(close AS BIGINT) AS v FROM daily),
       |grid AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY v),
       |m AS (SELECT MIN(v) AS med FROM (
       |    SELECT v, SUM(c) OVER (ORDER BY v) AS cum, SUM(c) OVER () AS nn
       |    FROM grid) WHERE cum >= (nn + 1) // 2),
       |kept AS (SELECT d, v > med AS s FROM v, m WHERE v <> med),
       |mk AS (SELECT s,
       |    CASE WHEN LAG(s) OVER (ORDER BY d) IS NULL THEN 1
       |         WHEN LAG(s) OVER (ORDER BY d) <> s THEN 1 ELSE 0 END AS chg
       |  FROM kept),
       |a AS (SELECT
       |    CAST(SUM(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |    CAST(SUM(CASE WHEN NOT s THEN 1 ELSE 0 END) AS BIGINT) AS n2,
       |    CAST(SUM(chg) AS BIGINT) AS runs
       |  FROM mk)
       |SELECT n1, n2, runs,
       |  CAST(CASE WHEN n1 = 0 OR n2 = 0 OR n1 + n2 < 2 THEN NULL
       |    ELSE FLOOR(
       |      CAST(runs * (n1 + n2) - 2 * n1 * n2 - (n1 + n2) AS DOUBLE)
       |      / CAST(n1 + n2 AS DOUBLE)
       |      / SQRT(CAST(2 * n1 * n2 * (2 * n1 * n2 - (n1 + n2)) AS DOUBLE)
       |          / CAST((n1 + n2) * (n1 + n2) * (n1 + n2 - 1) AS DOUBLE))
       |      * 1000.0 + 0.5) END AS BIGINT) AS z_milli
       |FROM a""".stripMargin) { (spark, dir) =>
    graft.operators.Eval.runsTest(Series.daily(spark, dir), "d", "close")
  }

  /** Welch's t ([[graft.operators.Eval.welchT]]) on the m33 two-sample
    * framing — mean value of purchase/click events vs the rest. Exact
    * integer moments (n, Σv, Σv² per group); t and the Welch–Satterthwaite
    * dof pass through double in the pinned op order, so both engines emit
    * the identical milli-unit integers.
    */
  val m35WelchT: Q = Q(
    "m35_welch_t",
    """WITH src AS (SELECT
      |    event_type IN ('purchase', 'click') AS g,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM events),
      |a AS (SELECT
      |    CAST(SUM(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN g THEN 0 ELSE 1 END) AS BIGINT) AS n2,
      |    SUM(CASE WHEN g THEN v ELSE 0 END) AS s1,
      |    SUM(CASE WHEN NOT g THEN v ELSE 0 END) AS s2,
      |    SUM(CASE WHEN g THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS q1,
      |    SUM(CASE WHEN NOT g THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS q2
      |  FROM src)
      |SELECT n1, n2, CAST(s1 AS BIGINT) AS sum1, CAST(s2 AS BIGINT) AS sum2,
      |  CAST(CASE WHEN n1 < 2 OR n2 < 2
      |         OR (n1 * q1 - s1 * s1 = 0 AND n2 * q2 - s2 * s2 = 0) THEN NULL
      |    ELSE FLOOR(
      |      CAST(s1 * n2 - s2 * n1 AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2)
      |      / SQRT(
      |          CAST(n1 * q1 - s1 * s1 AS DOUBLE)
      |            / (CAST(n1 AS DOUBLE) * (n1 - 1)) / CAST(n1 AS DOUBLE)
      |        + CAST(n2 * q2 - s2 * s2 AS DOUBLE)
      |            / (CAST(n2 AS DOUBLE) * (n2 - 1)) / CAST(n2 AS DOUBLE))
      |      * 1000.0 + 0.5) END AS BIGINT) AS t_milli,
      |  CAST(CASE WHEN n1 < 2 OR n2 < 2
      |         OR (n1 * q1 - s1 * s1 = 0 AND n2 * q2 - s2 * s2 = 0) THEN NULL
      |    ELSE FLOOR(
      |      (CAST(n1 * q1 - s1 * s1 AS DOUBLE)
      |          / (CAST(n1 AS DOUBLE) * (n1 - 1)) / CAST(n1 AS DOUBLE)
      |        + CAST(n2 * q2 - s2 * s2 AS DOUBLE)
      |          / (CAST(n2 AS DOUBLE) * (n2 - 1)) / CAST(n2 AS DOUBLE))
      |      * (CAST(n1 * q1 - s1 * s1 AS DOUBLE)
      |          / (CAST(n1 AS DOUBLE) * (n1 - 1)) / CAST(n1 AS DOUBLE)
      |        + CAST(n2 * q2 - s2 * s2 AS DOUBLE)
      |          / (CAST(n2 AS DOUBLE) * (n2 - 1)) / CAST(n2 AS DOUBLE))
      |      / (CAST(n1 * q1 - s1 * s1 AS DOUBLE)
      |           / (CAST(n1 AS DOUBLE) * (n1 - 1)) / CAST(n1 AS DOUBLE)
      |         * (CAST(n1 * q1 - s1 * s1 AS DOUBLE)
      |           / (CAST(n1 AS DOUBLE) * (n1 - 1)) / CAST(n1 AS DOUBLE))
      |         / CAST(n1 - 1 AS DOUBLE)
      |       + CAST(n2 * q2 - s2 * s2 AS DOUBLE)
      |           / (CAST(n2 AS DOUBLE) * (n2 - 1)) / CAST(n2 AS DOUBLE)
      |         * (CAST(n2 * q2 - s2 * s2 AS DOUBLE)
      |           / (CAST(n2 AS DOUBLE) * (n2 - 1)) / CAST(n2 AS DOUBLE))
      |         / CAST(n2 - 1 AS DOUBLE))
      |      * 1000.0 + 0.5) END AS BIGINT) AS dof_milli
      |FROM a""".stripMargin) { (spark, dir) =>
    val e = graft.Tables.events(spark, dir).select(
      col("event_type").isin("purchase", "click").as("g"),
      expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").as("v"))
    graft.operators.Eval.welchT(e, "g", "v")
  }

  /** Aroon oscillator per symbol ([[Indicators.withAroon]], period 25):
    * recency of the trailing window's high/low in basis points, ties
    * pinned to the most recent bar via the composite-integer-key argmax
    * (one plain MAX/MIN per side — no engine-dependent arg_max). The
    * oracle replays the identical key encode/decode arithmetic.
    */
  val w21Aroon: Q = Q(
    "w21_aroon",
    """WITH bars AS (
      |  SELECT o_orderpriority AS sym, CAST(o_orderdate AS DATE) AS d,
      |    CAST(FLOOR(MAX(o_totalprice) / 100.0) + 1 AS BIGINT) AS h,
      |    CAST(FLOOR(MIN(o_totalprice) / 100.0) - 1 AS BIGINT) AS l
      |  FROM orders GROUP BY 1, 2),
      |s AS (SELECT sym, d, h, l,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY sym ORDER BY d) AS BIGINT) AS rn
      |  FROM bars),
      |w AS (SELECT sym, d, rn,
      |    COUNT(*) OVER (PARTITION BY sym ORDER BY d
      |      ROWS BETWEEN 25 PRECEDING AND CURRENT ROW) AS cnt,
      |    MAX(h * 1000000000 + rn) OVER (PARTITION BY sym ORDER BY d
      |      ROWS BETWEEN 25 PRECEDING AND CURRENT ROW) AS hk,
      |    MIN(l * 1000000000 + (100000000 - rn)) OVER (PARTITION BY sym ORDER BY d
      |      ROWS BETWEEN 25 PRECEDING AND CURRENT ROW) AS lk
      |  FROM s)
      |SELECT sym, d,
      |  CASE WHEN cnt = 26
      |    THEN (25 - (rn - hk % 1000000000)) * 10000 // 25 END AS aroon_up,
      |  CASE WHEN cnt = 26
      |    THEN (25 - (rn - (100000000 - lk % 1000000000))) * 10000 // 25 END AS aroon_dn,
      |  CASE WHEN cnt = 26
      |    THEN (25 - (rn - hk % 1000000000)) * 10000 // 25
      |       - (25 - (rn - (100000000 - lk % 1000000000))) * 10000 // 25
      |    END AS aroon_osc
      |FROM w ORDER BY sym, d""".stripMargin) { (spark, dir) =>
    val bars = graft.Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("sym"), to_date(col("o_orderdate")).as("d"))
      .agg(
        (floor(max(col("o_totalprice")) / 100.0) + 1)
          .cast(org.apache.spark.sql.types.LongType).as("h"),
        (floor(min(col("o_totalprice")) / 100.0) - 1)
          .cast(org.apache.spark.sql.types.LongType).as("l"))
    Indicators.withAroon(bars, "h", "l", "aroon", 25,
        orderCol = "d", partitionCols = Seq("sym"))
      .select(col("sym"), col("d"), col("aroon_up"), col("aroon_dn"),
        col("aroon_osc"))
      .orderBy(col("sym"), col("d"))
  }

  /** Cramér's V ([[graft.operators.Eval.cramersV]]): effect size of the
    * association between event type and value band (50-unit buckets of the
    * cent-exact value) — the normalized strength behind an m16-style χ².
    * Per-cell contributions use the identical centi-bp quantization as
    * m16; only the final √(χ²/(n·min(r−1,c−1))) passes through double.
    */
  val m34CramersV: Q = Q(
    "m34_cramers_v",
    """WITH src AS (SELECT event_type AS av,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 5000 AS bv
      |  FROM events),
      |o AS (SELECT av, bv, CAST(COUNT(*) AS BIGINT) AS obs FROM src GROUP BY 1, 2),
      |r AS (SELECT av, SUM(obs) AS rt FROM o GROUP BY av),
      |c AS (SELECT bv, SUM(obs) AS ct FROM o GROUP BY bv),
      |t AS (SELECT SUM(obs) AS n FROM o),
      |cells AS (SELECT
      |    CAST(CAST(COALESCE(obs, 0) * n - rt * ct AS HUGEINT)
      |           * (COALESCE(obs, 0) * n - rt * ct) * 100
      |         // (CAST(n AS HUGEINT) * rt * ct) AS BIGINT) AS chi2_cbp,
      |    COALESCE(obs, 0) AS obs, av, bv
      |  FROM r CROSS JOIN c LEFT JOIN o USING (av, bv), t),
      |a AS (SELECT CAST(SUM(obs) AS BIGINT) AS n,
      |    CAST(COUNT(DISTINCT av) AS BIGINT) AS r,
      |    CAST(COUNT(DISTINCT bv) AS BIGINT) AS c,
      |    CAST(SUM(chi2_cbp) AS BIGINT) AS chi2_cbp
      |  FROM cells)
      |SELECT n, r, c, chi2_cbp,
      |  CAST(CASE WHEN LEAST(r - 1, c - 1) <= 0 OR n <= 0 THEN NULL
      |    ELSE FLOOR(SQRT(CAST(chi2_cbp AS DOUBLE) / 100.0
      |      / n / LEAST(r - 1, c - 1)) * 10000.0 + 0.5)
      |    END AS BIGINT) AS v_bp
      |FROM a""".stripMargin) { (spark, dir) =>
    val e = graft.Tables.events(spark, dir).select(
      col("event_type").as("av"),
      expr("cast(cast(value as decimal(18,2)) * 100 as bigint) div 5000").as("bv"))
    graft.operators.Eval.cramersV(e, "av", "bv")
  }

  /** Mann–Whitney U ([[graft.operators.Eval.mannWhitneyU]]): do
    * purchase/click events carry a stochastically larger value than the
    * other event types? Values quantize to whole currency units (≤ ~500
    * distinct keys — the bounded value-grid contract), midranks come from
    * one running sum over that grid, and every reported statistic is an
    * exact integer except z_bp, which both engines derive from the SAME
    * exact decimals through identical IEEE divide/sqrt steps.
    */
  val m33MannWhitney: Q = Q(
    "m33_mann_whitney",
    """WITH src AS (SELECT
      |    event_type IN ('purchase', 'click') AS g,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 100 AS v
      |  FROM events),
      |grid AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c,
      |    CAST(SUM(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS c1
      |  FROM src GROUP BY v),
      |ranked AS (SELECT c, c1,
      |    2 * COALESCE(SUM(c) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS r2
      |  FROM grid),
      |a AS (SELECT SUM(c) AS n, SUM(c1) AS n1, SUM(c1 * r2) AS r1_x2,
      |    SUM(c * c * c - c) AS tie_sum FROM ranked)
      |SELECT CAST(n1 AS BIGINT) AS n1,
      |  CAST(n - n1 AS BIGINT) AS n2,
      |  CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
      |  CAST(tie_sum AS BIGINT) AS tie_sum,
      |  CAST(CASE WHEN n1 * (n - n1)
      |         * ((n + 1) * n * (n - 1) - tie_sum) <= 0 THEN NULL
      |    ELSE FLOOR(CAST(r1_x2 - n1 * (n1 + 1) - n1 * (n - n1) AS DOUBLE)
      |      * 10000.0
      |      / (2.0 * SQRT(
      |          CAST(n1 * (n - n1) * ((n + 1) * n * (n - 1) - tie_sum) AS DOUBLE)
      |          / CAST(12 * n * (n - 1) AS DOUBLE))) + 0.5)
      |    END AS BIGINT) AS z_bp
      |FROM a""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types._
    val e = graft.Tables.events(spark, dir).select(
      col("event_type").isin("purchase", "click").as("g"),
      expr("cast(cast(value as decimal(18,2)) * 100 as bigint) div 100").as("v"))
    graft.operators.Eval.mannWhitneyU(e, "g", "v")
  }

  /** TRIX per symbol ([[Indicators.withTrix]]): a TRIPLE exponential
    * smoothing (e1 = EMA(close), e2 = EMA(e1), e3 = EMA(e2), α = 0.125 —
    * span 15, exactly representable) followed by the 1-step rate of change
    * of e3. The oracle replays all three recursions as ONE list fold
    * carrying the fused state `(e1, e2, e3)` per step — e2's update consumes
    * the CURRENT step's e1 and e3's the current e2, so the whole chain stays
    * a single strictly-linear recursion (the w17_adx rule: a stacked
    * recursion must be fused into the carried state, never expressed as a
    * second fold over the first). The final rate of change is a
    * plain LAG over the materialized recursion — non-recursive, linear.
    * Every update is the identical `α·x + (1−α)·y` IEEE sequence with exact
    * α = 0.125 / β = 0.875, so e1/e2/e3 and trix match bit-for-bit.
    */
  val w20Trix: Q = {
    val e1 = "0.125 * x[1].c + 0.875 * acc[-1].e1"
    val e2 = s"0.125 * ($e1) + 0.875 * acc[-1].e2"
    val e3 = s"0.125 * ($e2) + 0.875 * acc[-1].e3"
    Q(
    "w20_trix",
    s"""WITH bars AS (
      |  SELECT o_orderpriority AS sym, CAST(o_orderdate AS DATE) AS d,
      |    FLOOR(arg_max(o_totalprice, o_orderkey) / 100.0) AS c
      |  FROM orders GROUP BY 1, 2),
      |s AS (SELECT sym, d, CAST(c AS DOUBLE) AS c,
      |        ROW_NUMBER() OVER (PARTITION BY sym ORDER BY d) AS rn
      |      FROM bars),
      |arr AS (SELECT sym, MIN(rn) AS rn0,
      |    list({'c': c, 'e1': c, 'e2': c, 'e3': c} ORDER BY rn) AS xs FROM s GROUP BY sym),
      |fold AS (SELECT sym, rn0,
      |    list_reduce(list_transform(xs, z -> [z]),
      |      (acc, x) -> list_append(acc, {'c': x[1].c,
      |        'e1': $e1, 'e2': $e2, 'e3': $e3})) AS st
      |  FROM arr),
      |u AS (SELECT sym, rn0, generate_subscripts(st, 1) AS i, unnest(st) AS v FROM fold),
      |rec AS (SELECT sym, rn0 + i - 1 AS rn, v.e3 AS e3 FROM u),
      |lagged AS (
      |  SELECT sym, rn, e3,
      |    LAG(e3) OVER (PARTITION BY sym ORDER BY rn) AS pe3
      |  FROM rec)
      |SELECT s.sym, s.d, x.e3 AS trix_e3,
      |  CASE WHEN x.pe3 <> 0.0
      |    THEN 100.0 * (x.e3 - x.pe3) / x.pe3 END AS trix
      |FROM lagged x JOIN s ON s.sym = x.sym AND s.rn = x.rn
      |ORDER BY s.sym, s.d""".stripMargin) { (spark, dir) =>
    val bars = graft.Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("sym"), to_date(col("o_orderdate")).as("d"))
      .agg(floor(max_by(col("o_totalprice"), col("o_orderkey")) / 100.0).as("c"))
    Indicators.withTrix(bars, "c", "trix", 15,
        orderCol = "d", partitionCols = Seq("sym"))
      .select("sym", "d", "trix_e3", "trix")
      .orderBy(col("sym"), col("d"))
    }
  }

  /** Holt linear-trend smoothing of the per-priority daily close — level,
    * trend, and the one-step-ahead fitted value, through the native
    * [[graft.operators.Indicators.withHolt]] window state machine (ONE
    * keyed WindowExec; the coupled 2-state recursion no single EWMA
    * expresses). α = 0.5, β = 0.25 — exact binary fractions, so every
    * double is a fixed IEEE sequence the oracle's SINGLE list fold
    * carrying (l, b) replays bit-for-bit (the w17_adx discipline: one
    * recursion, full state carried, nothing nested).
    */
  val w24Holt: Q = {
    val hl = "0.5 * x[1].c + 0.5 * (acc[-1].l + acc[-1].b)"
    Q(
    "w24_holt",
    s"""WITH bars AS (
      |  SELECT o_orderpriority AS sym, CAST(o_orderdate AS DATE) AS d,
      |    FLOOR(arg_max(o_totalprice, o_orderkey) / 100.0) AS c
      |  FROM orders GROUP BY 1, 2),
      |s AS (SELECT sym, d, CAST(c AS DOUBLE) AS c,
      |        ROW_NUMBER() OVER (PARTITION BY sym ORDER BY d) AS rn
      |      FROM bars),
      |arr AS (SELECT sym, MIN(rn) AS rn0,
      |    list({'c': c, 'l': c, 'b': CAST(0 AS DOUBLE),
      |          'fitted': CAST(NULL AS DOUBLE)} ORDER BY rn) AS xs FROM s GROUP BY sym),
      |fold AS (SELECT sym, rn0,
      |    list_reduce(list_transform(xs, z -> [z]),
      |      (acc, x) -> list_append(acc, {'c': x[1].c,
      |        'l': $hl,
      |        'b': 0.25 * (($hl) - acc[-1].l) + 0.75 * acc[-1].b,
      |        'fitted': acc[-1].l + acc[-1].b})) AS st
      |  FROM arr),
      |u AS (SELECT sym, rn0, generate_subscripts(st, 1) AS i, unnest(st) AS v FROM fold),
      |rec AS (SELECT sym, rn0 + i - 1 AS rn, v.l AS l, v.b AS b, v.fitted AS fitted FROM u)
      |SELECT s.sym, s.d, x.l AS holt_level, x.b AS holt_trend,
      |       x.fitted AS holt_fitted
      |FROM rec x JOIN s ON s.sym = x.sym AND s.rn = x.rn
      |ORDER BY s.sym, s.d""".stripMargin) { (spark, dir) =>
    val bars = graft.Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("sym"), to_date(col("o_orderdate")).as("d"))
      .agg(floor(max_by(col("o_totalprice"), col("o_orderkey")) / 100.0).as("c"))
    Indicators.withHolt(bars, "c", "holt", alpha = 0.5, beta = 0.25,
        orderCol = "d", partitionCols = Seq("sym"))
      .select("sym", "d", "holt_level", "holt_trend", "holt_fitted")
      .orderBy(col("sym"), col("d"))
    }
  }

  /** Gini-gain feature screen over lineitem: which candidate feature
    * (line status, quantity bucket, discount pct, tax pct, ship month)
    * best splits the return-flag label — the CART criterion as the
    * log-free mutual-information stand-in ([[graft.operators.Eval.giniGain]]).
    * One stacked corpus pass into the (feature, value, label) cell grid;
    * all derived numbers are truncating integer divisions over
    * decimal(38,0) sums (exact, hash-stable). Bucketizations are pinned
    * half-up via floor(x·100 + 0.5) — DuckDB's double→BIGINT cast rounds
    * while Spark's truncates, so neither engine's raw cast appears.
    */
  val m39GiniGain: Q = Q(
    "m39_gini_gain",
    """WITH base AS (
      |  SELECT l_returnflag AS y,
      |    l_linestatus AS linestatus,
      |    CAST((CAST(l_quantity AS BIGINT) - 1) // 10 AS VARCHAR) AS qty_bucket,
      |    CAST(CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS VARCHAR) AS disc_pct,
      |    CAST(CAST(FLOOR(l_tax * 100 + 0.5) AS BIGINT) AS VARCHAR) AS tax_pct,
      |    CAST(month(l_shipdate) AS VARCHAR) AS ship_month
      |  FROM lineitem),
      |st AS (
      |  SELECT 'linestatus' AS feature, linestatus AS v, y FROM base UNION ALL
      |  SELECT 'qty_bucket', qty_bucket, y FROM base UNION ALL
      |  SELECT 'disc_pct', disc_pct, y FROM base UNION ALL
      |  SELECT 'tax_pct', tax_pct, y FROM base UNION ALL
      |  SELECT 'ship_month', ship_month, y FROM base),
      |cells AS (SELECT feature, v, y, CAST(COUNT(*) AS BIGINT) AS n_xy
      |          FROM st GROUP BY 1, 2, 3),
      |pv AS (SELECT feature, v, SUM(n_xy) AS n_x,
      |         SUM(CAST(n_xy AS HUGEINT) * n_xy) * 1000000 AS s_x6
      |       FROM cells GROUP BY 1, 2),
      |per AS (SELECT feature, CAST(COUNT(*) AS BIGINT) AS n_values,
      |          SUM(s_x6 // n_x) AS sp
      |        FROM pv GROUP BY 1),
      |lab AS (SELECT feature, SUM(CAST(n_y AS HUGEINT) * n_y) AS sy2, SUM(n_y) AS n
      |        FROM (SELECT feature, y, SUM(n_xy) AS n_y
      |              FROM cells GROUP BY 1, 2) GROUP BY 1)
      |SELECT per.feature, n_values,
      |  CAST(1000000 - sy2 * 1000000 // (CAST(n AS HUGEINT) * n) AS BIGINT) AS base_gini_ppm,
      |  CAST(1000000 - sp // n AS BIGINT) AS child_gini_ppm,
      |  CAST(sp // n - sy2 * 1000000 // (CAST(n AS HUGEINT) * n) AS BIGINT) AS gain_ppm
      |FROM per JOIN lab ON per.feature = lab.feature
      |ORDER BY gain_ppm DESC, per.feature""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types.LongType
    val li = graft.Tables.lineitem(spark, dir)
    graft.operators.Eval.giniGain(li, Seq(
        "linestatus" -> col("l_linestatus"),
        "qty_bucket" -> expr("(cast(l_quantity as bigint) - 1) div 10"),
        "disc_pct" -> floor(col("l_discount") * 100 + 0.5).cast(LongType),
        "tax_pct" -> floor(col("l_tax") * 100 + 0.5).cast(LongType),
        "ship_month" -> month(col("l_shipdate"))),
      col("l_returnflag"))
  }

  /** Ulcer Index per symbol ([[Indicators.withUlcer]], the pandas_ta
    * rolling-max convention): trailing-14 drawdowns from the rolling max
    * in truncating integer basis points, then the quadratic mean of the
    * trailing 14 drawdowns. All-Long until the final `/14` + `sqrt` —
    * two correctly-rounded IEEE ops, bit-stable cross-engine. Both
    * stages ride one keyed window sort.
    */
  val w25Ulcer: Q = Q(
    "w25_ulcer",
    """WITH bars AS (
      |  SELECT o_orderpriority AS sym, CAST(o_orderdate AS DATE) AS d,
      |    CAST(FLOOR(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / 100.0) AS BIGINT) AS close
      |  FROM orders GROUP BY o_orderpriority, CAST(o_orderdate AS DATE)),
      |s AS (SELECT sym, d, close,
      |        ROW_NUMBER() OVER w AS rn,
      |        CASE WHEN ROW_NUMBER() OVER w >= 14 THEN
      |          ((MAX(close) OVER w14 - close) * 10000) // MAX(close) OVER w14 END AS dd_bp
      |      FROM bars
      |      WINDOW w AS (PARTITION BY sym ORDER BY d),
      |             w14 AS (PARTITION BY sym ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
      |u AS (SELECT sym, d, dd_bp,
      |        CASE WHEN COUNT(dd_bp) OVER w14 = 14 THEN
      |          sqrt(CAST(SUM(dd_bp * dd_bp) OVER w14 AS DOUBLE) / 14.0) END AS ui
      |      FROM s
      |      WINDOW w14 AS (PARTITION BY sym ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
      |SELECT sym, d, dd_bp AS ulcer_dd_bp, ui AS ulcer_ui
      |FROM u WHERE dd_bp IS NOT NULL ORDER BY sym, d""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types._
    val D2 = DecimalType(18, 2)
    val bars = graft.Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("sym"), to_date(col("o_orderdate")).as("d"))
      .agg(floor(sum(col("o_totalprice").cast(D2)).cast(DoubleType) / 100.0)
        .cast(LongType).as("close"))
    Indicators.withUlcer(bars, "close", "ulcer", 14,
        orderCol = "d", partitionCols = Seq("sym"))
      .filter(col("ulcer_dd_bp").isNotNull)
      .select("sym", "d", "ulcer_dd_bp", "ulcer_ui")
      .orderBy(col("sym"), col("d"))
  }

  /** Brier score + Murphy decomposition ([[Eval.brierDecomposition]]) on
    * m18's calibration framing: forecast = n_chars scaled to bp (capped
    * at 10⁴), outcome = lang='en', bins = m18's fixed-width deciles.
    * Every statistic exact truncating integer arithmetic; the pinned
    * per-term div order makes all four bit-exact cross-engine.
    */
  val m40Brier: Q = Q(
    "m40_brier_decomposition",
    """WITH b AS (SELECT LEAST(n_chars * 5, 10000) AS p,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
      |    LEAST(n_chars // 200, 9) AS bin
      |  FROM documents),
      |k AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS nk,
      |        CAST(SUM(y) AS BIGINT) AS ok, CAST(SUM(p) AS BIGINT) AS ak,
      |        SUM(CAST(p - 10000 * y AS HUGEINT) * (p - 10000 * y)) AS sqk
      |      FROM b GROUP BY bin),
      |t AS (SELECT CAST(SUM(nk) AS BIGINT) AS n, CAST(SUM(ok) AS BIGINT) AS pos,
      |             SUM(sqk) AS sq FROM k),
      |terms AS (SELECT
      |    SUM(CAST(ak - 10000 * ok AS HUGEINT) * (ak - 10000 * ok) * 1000000
      |        // (CAST(100000000 AS HUGEINT) * nk)) AS rel_num,
      |    SUM(CAST(ok * t.n - t.pos * nk AS HUGEINT) * (ok * t.n - t.pos * nk) * 1000000
      |        // (CAST(nk AS HUGEINT) * t.n * t.n)) AS res_num
      |  FROM k, t)
      |SELECT t.n, t.pos,
      |  CAST(sq * 1000000 // (CAST(100000000 AS HUGEINT) * t.n) AS BIGINT) AS brier_ppm,
      |  CAST(rel_num // t.n AS BIGINT) AS rel_ppm,
      |  CAST(res_num // t.n AS BIGINT) AS res_ppm,
      |  CAST(t.pos * (t.n - t.pos) * 1000000 // (CAST(t.n AS HUGEINT) * t.n) AS BIGINT) AS unc_ppm
      |FROM terms, t""".stripMargin) { (spark, dir) =>
    graft.operators.Eval.brierDecomposition(
      graft.Tables.documents(spark, dir),
      least(col("n_chars") * 5L, lit(10000L)),
      (col("lang") === "en").cast("long"),
      least(expr("n_chars div 200L"), lit(9L)))
  }

  /** Wilcoxon signed-rank test ([[Eval.wilcoxonSignedRank]]): paired
    * daily revenues (1-URGENT vs 2-HIGH per order date, both sides
    * present), differences quantized to whole dollars (the bounded-grid
    * contract), zero differences dropped, tie-corrected z in half-up bp
    * through the pinned IEEE order.
    */
  val m41Wilcoxon: Q = Q(
    "m41_wilcoxon_signed_rank",
    """WITH p AS (SELECT CAST(o_orderdate AS DATE) AS d,
      |    CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
      |          THEN CAST(o_totalprice AS DECIMAL(18,2)) END) * 100 AS BIGINT) AS xc,
      |    CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH'
      |          THEN CAST(o_totalprice AS DECIMAL(18,2)) END) * 100 AS BIGINT) AS yc
      |  FROM orders GROUP BY 1),
      |dd AS (SELECT xc // 100 - yc // 100 AS d FROM p
      |       WHERE xc IS NOT NULL AND yc IS NOT NULL AND xc // 100 - yc // 100 <> 0),
      |grid AS (SELECT ABS(d) AS a, CAST(COUNT(*) AS BIGINT) AS c,
      |    CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS cpos
      |  FROM dd GROUP BY 1),
      |ranked AS (SELECT c, cpos,
      |    2 * COALESCE(SUM(c) OVER (ORDER BY a
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS r2
      |  FROM grid),
      |a AS (SELECT SUM(c) AS n, SUM(cpos * r2) AS wp2,
      |    SUM(c * c * c - c) AS tie_sum FROM ranked)
      |SELECT CAST(n AS BIGINT) AS n_pairs,
      |  CAST(wp2 AS BIGINT) AS w_plus_x2,
      |  CAST(tie_sum AS BIGINT) AS tie_sum,
      |  CAST(CASE WHEN 2 * n * (n + 1) * (2 * n + 1) - tie_sum <= 0 THEN NULL
      |    ELSE FLOOR(CAST(wp2 - n * (n + 1) // 2 AS DOUBLE) * 10000.0
      |      / (2.0 * SQRT(
      |          CAST(2 * n * (n + 1) * (2 * n + 1) - tie_sum AS DOUBLE) / 48.0))
      |      + 0.5)
      |    END AS BIGINT) AS z_bp
      |FROM a""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types._
    val D2 = DecimalType(18, 2)
    val p = graft.Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(
        expr("cast(sum(case when o_orderpriority = '1-URGENT'" +
          " then cast(o_totalprice as decimal(18,2)) end) * 100 as bigint)").as("xc"),
        expr("cast(sum(case when o_orderpriority = '2-HIGH'" +
          " then cast(o_totalprice as decimal(18,2)) end) * 100 as bigint)").as("yc"))
      .filter(col("xc").isNotNull && col("yc").isNotNull)
      .select(expr("xc div 100 - yc div 100").as("dq"))
    graft.operators.Eval.wilcoxonSignedRank(p, "dq")
  }

  /** Chaikin Money Flow per symbol ([[Indicators.withCmf]]): per-bar
    * money-flow volume in truncating integer bp (negative-pressure bars
    * exercise toward-zero division — identical in Spark `div` and
    * DuckDB `//`), then the 20-bar window ratio. Volume = daily order
    * count, so every input is an exact integer.
    */
  val w26Cmf: Q = Q(
    "w26_cmf",
    """WITH bars AS (
      |  SELECT o_orderpriority AS sym, CAST(o_orderdate AS DATE) AS d,
      |    CAST(FLOOR(CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / 100.0) AS BIGINT) + 1 AS h,
      |    CAST(FLOOR(CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / 100.0) AS BIGINT) - 1 AS l,
      |    CAST(FLOOR(CAST(arg_max(CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey) AS DOUBLE) / 100.0) AS BIGINT) AS c,
      |    CAST(COUNT(*) AS BIGINT) AS v
      |  FROM orders GROUP BY 1, 2),
      |m AS (SELECT sym, d, v,
      |    CASE WHEN h <> l THEN ((2 * c - h - l) * 10000 * v) // (h - l)
      |         ELSE 0 END AS mfv,
      |    ROW_NUMBER() OVER w AS rn
      |  FROM bars WINDOW w AS (PARTITION BY sym ORDER BY d)),
      |s AS (SELECT sym, d, rn,
      |    SUM(mfv) OVER w20 AS ms, SUM(v) OVER w20 AS vs
      |  FROM m WINDOW w20 AS (PARTITION BY sym ORDER BY d
      |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
      |SELECT sym, d, CAST(ms // vs AS BIGINT) AS cmf_bp
      |FROM s WHERE rn >= 20 AND vs <> 0 ORDER BY sym, d""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types._
    val D2 = DecimalType(18, 2)
    def fl(c: org.apache.spark.sql.Column) =
      floor(c.cast(DoubleType) / 100.0).cast(LongType)
    val bars = graft.Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("sym"), to_date(col("o_orderdate")).as("d"))
      .agg(
        (fl(max(col("o_totalprice").cast(D2))) + 1L).as("h"),
        (fl(min(col("o_totalprice").cast(D2))) - 1L).as("l"),
        fl(max_by(col("o_totalprice").cast(D2), col("o_orderkey"))).as("c"),
        count(lit(1)).as("v"))
    Indicators.withCmf(bars, "h", "l", "c", "v", "cmf_bp", 20,
        orderCol = "d", partitionCols = Seq("sym"))
      .filter(col("cmf_bp").isNotNull)
      .select("sym", "d", "cmf_bp")
      .orderBy(col("sym"), col("d"))
  }

  /** KAMA per symbol ([[Indicators.withKama]]): Kaufman's adaptive MA —
    * an EMA whose per-row smoothing constant derives from the 10-bar
    * efficiency ratio, run through the native
    * [[graft.functions.VarEwm]] variable-alpha window state machine (ONE
    * keyed WindowExec evaluates the lag/rolling-sum warmup columns AND
    * the recursion). er/sc are exact-integral-double arithmetic (the
    * bars are floor-cents units, so the 10-term volatility sum is exact
    * in any order); the smoothing bounds are the written IEEE divisions
    * `2/3` and `2/31`; sc squares by self-multiplication (no `pow`). The
    * oracle replays the recursion as a SINGLE list fold carrying
    * kama, seeded kama = close at rn 11 (the first row with a defined
    * efficiency ratio — full-window-only warmup, the w1 discipline).
    */
  val w27Kama: Q = Q(
    "w27_kama",
    """WITH bars AS (
      |  SELECT o_orderpriority AS sym, CAST(o_orderdate AS DATE) AS d,
      |    FLOOR(arg_max(o_totalprice, o_orderkey) / 100.0) AS c
      |  FROM orders GROUP BY 1, 2),
      |s0 AS (SELECT sym, d, CAST(c AS DOUBLE) AS c,
      |        ROW_NUMBER() OVER (PARTITION BY sym ORDER BY d) AS rn
      |      FROM bars),
      |s1 AS (SELECT sym, d, c, rn,
      |        ABS(c - LAG(c, 1) OVER w) AS absd,
      |        ABS(c - LAG(c, 10) OVER w) AS chg
      |      FROM s0 WINDOW w AS (PARTITION BY sym ORDER BY rn)),
      |s2 AS (SELECT sym, d, c, rn, chg,
      |        CASE WHEN COUNT(absd) OVER wv = 10
      |          THEN SUM(absd) OVER wv END AS vol
      |      FROM s1 WINDOW wv AS (PARTITION BY sym ORDER BY rn
      |        ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)),
      |se AS (SELECT sym, d, c, rn,
      |        CASE WHEN chg IS NOT NULL AND vol IS NOT NULL THEN
      |          CASE WHEN vol > 0.0 THEN chg / vol ELSE 0.0 END
      |        END AS er
      |      FROM s2),
      |sc AS (SELECT sym, d, c, rn, er,
      |        (er * (2.0/3.0 - 2.0/31.0) + 2.0/31.0)
      |          * (er * (2.0/3.0 - 2.0/31.0) + 2.0/31.0) AS sc
      |      FROM se),
      |arr AS (SELECT sym, MIN(rn) AS rn0,
      |    list({'c': c, 'sc': sc, 'kama': c} ORDER BY rn) AS xs
      |  FROM sc WHERE rn >= 11 GROUP BY sym),
      |fold AS (SELECT sym, rn0,
      |    list_reduce(list_transform(xs, z -> [z]),
      |      (acc, x) -> list_append(acc, {'c': x[1].c, 'sc': x[1].sc,
      |        'kama': acc[-1].kama + x[1].sc * (x[1].c - acc[-1].kama)})) AS st
      |  FROM arr),
      |u AS (SELECT sym, rn0, generate_subscripts(st, 1) AS i, unnest(st) AS v FROM fold),
      |rec AS (SELECT sym, rn0 + i - 1 AS rn, v.kama AS kama FROM u)
      |SELECT x.sym, x.d, x.er AS kama_er, x.sc AS kama_sc, r.kama AS kama
      |FROM sc x LEFT JOIN rec r ON r.sym = x.sym AND r.rn = x.rn
      |ORDER BY x.sym, x.d""".stripMargin) { (spark, dir) =>
    val bars = graft.Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("sym"), to_date(col("o_orderdate")).as("d"))
      .agg(floor(max_by(col("o_totalprice"), col("o_orderkey")) / 100.0).as("c"))
    Indicators.withKama(bars, "c", "kama", 10, 2, 30,
        orderCol = "d", partitionCols = Seq("sym"))
      .select(col("sym"), col("d"), col("kama_er"), col("kama_sc"), col("kama"))
      .orderBy(col("sym"), col("d"))
  }

  /** Holt–Winters additive seasonal smoothing of the per-priority daily
    * close, weekly period m = 7 ([[Indicators.withHoltWinters]] /
    * [[graft.functions.HoltWinters]]): the triple-coupled recursion
    * (level, trend, 7 rotating seasonal states) as ONE keyed WindowExec
    * — the m-slot seasonal vector unrolls into scalar buffer slots at
    * plan time. α = 0.5, β = 0.25, γ = 0.5 — exact binary fractions, so
    * every double is a fixed IEEE sequence the oracle's SINGLE recursive
    * CTE carrying (l, b, s1..s7) replays bit-for-bit (w17_adx
    * discipline; the chained nL→nB→nS bindings nest as subqueries, the
    * w20_trix pattern). Zero-seeded seasonal convention documented on
    * the function.
    */
  val w28HoltWinters: Q = {
    val hwl = "0.5 * (x[1].c - acc[-1].s1) + 0.5 * (acc[-1].l + acc[-1].b)"
    val hwns = "0.5 * (x[1].c - (acc[-1].l + acc[-1].b)) + 0.5 * acc[-1].s1"
    Q(
    "w28_holt_winters",
    s"""WITH bars AS (
      |  SELECT o_orderpriority AS sym, CAST(o_orderdate AS DATE) AS d,
      |    FLOOR(arg_max(o_totalprice, o_orderkey) / 100.0) AS c
      |  FROM orders GROUP BY 1, 2),
      |s AS (SELECT sym, d, CAST(c AS DOUBLE) AS c,
      |        ROW_NUMBER() OVER (PARTITION BY sym ORDER BY d) AS rn
      |      FROM bars),
      |arr AS (SELECT sym, MIN(rn) AS rn0,
      |    list({'c': c, 'l': c, 'b': CAST(0 AS DOUBLE),
      |          's1': CAST(0 AS DOUBLE), 's2': CAST(0 AS DOUBLE),
      |          's3': CAST(0 AS DOUBLE), 's4': CAST(0 AS DOUBLE),
      |          's5': CAST(0 AS DOUBLE), 's6': CAST(0 AS DOUBLE),
      |          's7': CAST(0 AS DOUBLE),
      |          'fitted': CAST(NULL AS DOUBLE), 'snew': CAST(0 AS DOUBLE)} ORDER BY rn) AS xs
      |  FROM s GROUP BY sym),
      |fold AS (SELECT sym, rn0,
      |    list_reduce(list_transform(xs, z -> [z]),
      |      (acc, x) -> list_append(acc, {'c': x[1].c,
      |        'l': $hwl,
      |        'b': 0.25 * (($hwl) - acc[-1].l) + 0.75 * acc[-1].b,
      |        's1': acc[-1].s2, 's2': acc[-1].s3, 's3': acc[-1].s4,
      |        's4': acc[-1].s5, 's5': acc[-1].s6, 's6': acc[-1].s7,
      |        's7': $hwns,
      |        'fitted': acc[-1].l + acc[-1].b + acc[-1].s1,
      |        'snew': $hwns})) AS st
      |  FROM arr),
      |u AS (SELECT sym, rn0, generate_subscripts(st, 1) AS i, unnest(st) AS v FROM fold),
      |rec AS (SELECT sym, rn0 + i - 1 AS rn, v.l AS l, v.b AS b,
      |          v.fitted AS fitted, v.snew AS snew FROM u)
      |SELECT x.sym, x.d, r.l AS hw_level, r.b AS hw_trend,
      |  r.snew AS hw_seasonal, r.fitted AS hw_fitted
      |FROM rec r JOIN s x ON x.sym = r.sym AND x.rn = r.rn
      |ORDER BY x.sym, x.d""".stripMargin) { (spark, dir) =>
    val bars = graft.Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("sym"), to_date(col("o_orderdate")).as("d"))
      .agg(floor(max_by(col("o_totalprice"), col("o_orderkey")) / 100.0).as("c"))
    Indicators.withHoltWinters(bars, "c", "hw", 0.5, 0.25, 0.5, 7,
        orderCol = "d", partitionCols = Seq("sym"))
      .select(col("sym"), col("d"), col("hw_level"), col("hw_trend"),
        col("hw_seasonal"), col("hw_fitted"))
      .orderBy(col("sym"), col("d"))
    }
  }

  /** Kruskal–Wallis H ([[graft.operators.Eval.kruskalWallis]]): do the
    * five event types carry different value distributions? The k-group
    * rank test completing the nonparametric family (m33 two-sample,
    * m41 paired): values quantize to whole currency units (the bounded
    * value-grid contract), doubled midranks come from one running sum
    * over that grid, and every reported count/rank-sum is an exact
    * integer. Only H/H_c pass through doubles — a fixed IEEE sequence
    * with the five per-group terms summed in alphabetical group order
    * (the written, left-associative order in BOTH engines).
    */
  val m42KruskalWallis: Q = {
    val groups = Seq("click", "error", "purchase", "signup", "view")
    val gridCols = groups.map(g =>
      s"CAST(SUM(CASE WHEN g = '$g' THEN 1 ELSE 0 END) AS BIGINT) AS c_$g")
      .mkString(",\n      |    ")
    val aggCols = groups.map(g =>
      s"SUM(c_$g) AS n_$g, SUM(c_$g * r2) AS r2x2_$g").mkString(",\n      |    ")
    val tTerms = groups.map(g =>
      s"CASE WHEN n_$g > 0 THEN CAST(r2x2_$g AS DOUBLE) * CAST(r2x2_$g AS DOUBLE)" +
        s" / CAST(n_$g AS DOUBLE) ELSE 0.0 END").mkString("\n      |    + ")
    val outInts = groups.map(g =>
      s"CAST(n_$g AS BIGINT) AS n_$g, CAST(r2x2_$g AS BIGINT) AS r2x2_$g")
      .mkString(",\n      |  ")
    Q(
      "m42_kruskal_wallis",
      s"""WITH src AS (SELECT event_type AS g,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 100 AS v
      |  FROM events),
      |grid AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c,
      |    $gridCols
      |  FROM src GROUP BY v),
      |ranked AS (SELECT *, 2 * COALESCE(SUM(c) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS r2
      |  FROM grid),
      |a AS (SELECT SUM(c) AS n, SUM(c * c * c - c) AS tie_sum,
      |    $aggCols
      |  FROM ranked),
      |b AS (SELECT *, $tTerms AS t
      |  FROM a),
      |h AS (SELECT *,
      |    3.0 * t / CAST(n * (n + 1) AS DOUBLE) - 3.0 * (CAST(n AS DOUBLE) + 1.0) AS h
      |  FROM b)
      |SELECT CAST(n AS BIGINT) AS n, CAST(tie_sum AS BIGINT) AS tie_sum,
      |  $outInts,
      |  CAST(FLOOR(h * 10000.0 + 0.5) AS BIGINT) AS h_bp,
      |  CAST(CASE WHEN tie_sum < n * n * n - n THEN
      |    FLOOR(h / (1.0 - CAST(tie_sum AS DOUBLE) / CAST(n * n * n - n AS DOUBLE))
      |      * 10000.0 + 0.5) END AS BIGINT) AS hc_bp
      |FROM h""".stripMargin) { (spark, dir) =>
      val e = graft.Tables.events(spark, dir).select(
        col("event_type").as("g"),
        expr("cast(cast(value as decimal(18,2)) * 100 as bigint) div 100").as("v"))
      graft.operators.Eval.kruskalWallis(e, "g", "v", groups)
    }
  }

  /** Jonckheere–Terpstra ordered-trend test
    * ([[graft.operators.Eval.jonckheereTerpstra]]): does order value trend
    * monotonically across the FIVE ORDERED priority classes (1-URGENT →
    * 5-LOW)? The ordered-alternative companion to m42's unordered H:
    * priorities collapse to their leading digit (a clean ordered key),
    * values to 100-unit buckets (the bounded grid contract). J2/E2 and
    * all five Lehmann tie-corrected variance pieces are exact decimals
    * from one grid aggregate + one bounded-grid prefix window; only
    * var/z pass through the pinned three-term IEEE sequence.
    */
  val m43Jonckheere: Q = {
    val groups = Seq("1", "2", "3", "4", "5")
    val k = groups.length
    val gridCols = groups.zipWithIndex.map { case (g, i) =>
      s"CAST(SUM(CASE WHEN g = '$g' THEN 1 ELSE 0 END) AS BIGINT) AS c$i"
    }.mkString(",\n      |    ")
    val preCols = (0 until k).map(i =>
      s"COALESCE(SUM(c$i) OVER wp, 0) AS p$i").mkString(",\n      |    ")
    val pairs = for { j <- 0 until k; i <- 0 until j } yield (i, j)
    val j2Terms = pairs.map { case (i, j) => s"c$j * (2 * p$i + c$i)" }
      .mkString("\n      |      + ")
    val nSums = (0 until k).map(i => s"SUM(c$i) AS n$i").mkString(", ")
    val e2 = pairs.map { case (i, j) => s"n$i * n$j" }.mkString(" + ")
    val gA = (0 until k).map(i => s"n$i * (n$i - 1) * (n$i * 2 + 5)").mkString(" + ")
    val gB = (0 until k).map(i => s"n$i * (n$i - 1) * (n$i - 2)").mkString(" + ")
    val gD = (0 until k).map(i => s"n$i * (n$i - 1)").mkString(" + ")
    val outNs = groups.zipWithIndex.map { case (g, i) =>
      s"CAST(n$i AS BIGINT) AS n_$g" }.mkString(", ")
    Q(
      "m43_jonckheere",
      s"""WITH src AS (SELECT substr(o_orderpriority, 1, 1) AS g,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 10000 AS v
      |  FROM orders),
      |grid AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c,
      |    $gridCols
      |  FROM src GROUP BY v),
      |pre AS (SELECT *,
      |    $preCols
      |  FROM grid WINDOW wp AS (ORDER BY v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |a AS (SELECT SUM(c) AS n,
      |    SUM($j2Terms) AS j2,
      |    SUM(c * (c - 1) * (c * 2 + 5)) AS tv_a,
      |    SUM(c * (c - 1) * (c - 2)) AS tv_b,
      |    SUM(c * (c - 1)) AS tv_d,
      |    $nSums
      |  FROM pre),
      |b AS (SELECT *,
      |    $e2 AS e2,
      |    n * (n - 1) * (n * 2 + 5) - ($gA) - tv_a AS va,
      |    ($gB) * tv_b AS vb,
      |    n * (n - 1) * (n - 2) AS vc,
      |    ($gD) * tv_d AS vd,
      |    n * (n - 1) AS ve
      |  FROM a),
      |f AS (SELECT *,
      |    CAST(va AS DOUBLE) / 72.0
      |      + CAST(vb AS DOUBLE) / (36.0 * CAST(vc AS DOUBLE))
      |      + CAST(vd AS DOUBLE) / (8.0 * CAST(ve AS DOUBLE)) AS vr
      |  FROM b)
      |SELECT CAST(n AS BIGINT) AS n, CAST(j2 AS BIGINT) AS j2,
      |  CAST(e2 AS BIGINT) AS e2, $outNs,
      |  CAST(CASE WHEN vr > 0.0 THEN
      |    FLOOR(CAST(j2 - e2 AS DOUBLE) * 10000.0 / (2.0 * SQRT(vr)) + 0.5)
      |    END AS BIGINT) AS z_bp
      |FROM f""".stripMargin) { (spark, dir) =>
      val e = graft.Tables.orders(spark, dir).select(
        substring(col("o_orderpriority"), 1, 1).as("g"),
        expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint) div 10000")
          .as("v"))
      graft.operators.Eval.jonckheereTerpstra(e, "g", "v", groups)
    }
  }

  /** Friedman test ([[graft.operators.Eval.friedman]]): do the five event
    * types rank consistently WITHIN users (blocks = users with all five
    * types, value = the user's exact total cents per type)? The
    * repeated-measures member completing the rank family — and the only
    * one that is a PURE INTEGER RATIONAL end to end: doubled within-block
    * midranks, Conover's tie-corrected χ² as (k−1)·Σ(R2_j−n(k+1))² over
    * Σr2²−nk(k+1)², one truncating milli division, no doubles anywhere.
    */
  val m44Friedman: Q = {
    val ts = Seq("click", "error", "purchase", "signup", "view")
    val k = ts.length
    val rCols = ts.zipWithIndex.map { case (t, i) =>
      s"SUM(CASE WHEN t = '$t' THEN r2 ELSE 0 END) AS r2_$i" }.mkString(",\n      |    ")
    val numSql = ts.indices.map(i =>
      s"(r2_$i - n * ${k + 1}) * (r2_$i - n * ${k + 1})").mkString("\n      |      + ")
    val outR = ts.zipWithIndex.map { case (t, i) =>
      s"CAST(r2_$i AS BIGINT) AS r2_$t" }.mkString(", ")
    Q(
      "m44_friedman",
      s"""WITH src AS (SELECT user_id AS b, event_type AS t,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
      |  FROM events GROUP BY 1, 2),
      |comp AS (SELECT b FROM src GROUP BY b
      |         HAVING COUNT(*) = $k AND COUNT(DISTINCT t) = $k),
      |r AS (SELECT s.b, s.t, s.v,
      |    2 * RANK() OVER (PARTITION BY s.b ORDER BY s.v)
      |      + COUNT(*) OVER (PARTITION BY s.b, s.v) - 1 AS r2
      |  FROM src s JOIN comp USING (b)),
      |a AS (SELECT COUNT(*) // $k AS n, SUM(r2 * r2) AS a2,
      |    $rCols
      |  FROM r),
      |f AS (SELECT *,
      |    ${k - 1} * ($numSql) AS num,
      |    a2 - n * ${k * (k + 1) * (k + 1)} AS den
      |  FROM a)
      |SELECT CAST(n AS BIGINT) AS n_blocks, $outR,
      |  CAST(CASE WHEN den > 0 THEN (num * 1000) // den END AS BIGINT) AS chi2_milli
      |FROM f""".stripMargin) { (spark, dir) =>
      val src = graft.Tables.events(spark, dir)
        .select(col("user_id").as("b"), col("event_type").as("t"),
          expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").as("cents"))
        .groupBy(col("b"), col("t"))
        .agg(sum(col("cents")).as("v"))
      graft.operators.Eval.friedman(src, "b", "t", "v", ts)
    }
  }

  /** Stochastic RSI ([[Indicators.withStochRsi]]): RSI₁₄ re-normalized to
    * its own trailing 14-value range, (rsi − min)/(max − min) — the
    * momentum-of-momentum oscillator (Chande & Kroll 1994, public
    * literature). Composes the Wilder-recursive RSI (w6's proven
    * bit-exact recursion) with two rolling extrema and ONE double
    * division; full-window-only, flat-range (max = min) pinned NULL.
    * The window rides the rsi frame's existing (sym, d) sort.
    */
  val w29StochRsi: Q = Q(
    "w29_stoch_rsi",
    s"""WITH $DailyBySymSql,
       |s AS (SELECT sym, d, close, ROW_NUMBER() OVER (PARTITION BY sym ORDER BY d) AS rn FROM daily2),
       |gl AS (
       |  SELECT sym, rn, d, close,
       |    CASE WHEN delta > 0 THEN delta ELSE 0.0 END AS gain,
       |    CASE WHEN delta < 0 THEN -delta ELSE 0.0 END AS loss
       |  FROM (SELECT sym, rn, d, close,
       |          close - LAG(close) OVER (PARTITION BY sym ORDER BY rn) AS delta FROM s)
       |  WHERE delta IS NOT NULL),
       |${rsiFoldSql(keyed = true)},
       |rs AS (SELECT s.sym, s.d,
       |    CASE WHEN r.al = 0.0 THEN (CASE WHEN r.ag > 0.0 THEN 100.0 ELSE NULL END)
       |         ELSE 100.0 - 100.0/(1.0 + r.ag/r.al) END AS rsi_14
       |  FROM rec r JOIN s ON s.sym = r.sym AND s.rn = r.rn
       |  WHERE r.rn >= 15 AND NOT (r.al = 0.0 AND r.ag = 0.0)),
       |r2 AS (SELECT sym, d, rsi_14,
       |    ROW_NUMBER() OVER (PARTITION BY sym ORDER BY d) AS rn FROM rs),
       |w AS (SELECT sym, d, rsi_14,
       |    MIN(rsi_14) OVER wd AS mn, MAX(rsi_14) OVER wd AS mx,
       |    COUNT(*) OVER wd AS c
       |  FROM r2 WINDOW wd AS (PARTITION BY sym ORDER BY rn
       |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
       |SELECT sym, d, rsi_14,
       |  CASE WHEN c = 14 AND mx <> mn THEN (rsi_14 - mn) / (mx - mn) END AS stoch_rsi
       |FROM w ORDER BY sym, d""".stripMargin) { (spark, dir) =>
    Indicators.withStochRsi(dailyBySym(spark, dir), "close", "rsi_14", "stoch_rsi",
        rsiPeriod = 14, stochPeriod = 14, orderCol = "d", partitionCols = Seq("sym"))
      .select("sym", "d", "rsi_14", "stoch_rsi")
      .orderBy(col("sym"), col("d"))
  }

  val all: Seq[Q] = Seq(w1Sma, w3Bollinger, w2Rsi, w4Macd, m2Target, m3CvSplits,
    w5SmaBySymbol, w6RsiBySymbol, w7IndicatorsFull, m8StandardScaler, m9OneHot,
    m10Winsorize, m11RobustOutliers, m12KsDrift, m13TargetEncode,
    m14QuantileBinning, m15RankAuc, m16Chi2, m17ThresholdMetrics,
    m18CalibrationBins, m20DecileLift, w8Obv, m21FeatureR2, m22PrCurve,
    w9Stochastic, m24Kappa, w10Atr, w11Vwap, m25GroupedAuc, m26OrdinalAssoc,
    m27PoissonBootstrap, m28Gini, w12Keltner, w13Donchian, m29Ols, w14Ichimoku,
    m30GroupedOls, w15Cci, m31Spearman, m32Mcnemar, w16HeikinAshi, w17Adx,
    w18Psar, w19Supertrend, w20Trix, m33MannWhitney, m34CramersV, w21Aroon,
    m35WelchT, m36RunsTest, w22Vortex, m37Moments, m38Autocorr, w23RollingBeta,
    w24Holt, m39GiniGain, w25Ulcer, m40Brier, m41Wilcoxon, w26Cmf, w27Kama,
    m42KruskalWallis, w28HoltWinters, m43Jonckheere, m44Friedman, w29StochRsi)
}
