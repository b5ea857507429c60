package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.operators.Temporal

/** Analytics-breadth operators beyond the reference's inventory: batch
  * sessionization, multi-level aggregation (ROLLUP/CUBE + grouping id),
  * pivot, the rank/offset window-function family, histogramming, and token
  * document frequency. Each is the composition a warehouse user reaches for
  * daily; all are single-shuffle plans that survive a 100× scale-up (the
  * scaladoc on each query names the shuffle).
  */
object AnalyticsQueries {

  /** Gap-based sessionization of the click-stream (30-minute gap), then a
    * per-session rollup — the canonical web-analytics query. One shuffle on
    * `user_id` for the window pass; the aggregate reuses that partitioning
    * (user_id ⊂ group key), so no second exchange.
    */
  val qSessionize: Q = Q(
    "q_sessionize_op", // CoreQueries owns plain "q_sessionize" (window-lag
    // form); this is the graft.operators.Temporal.sessionize form — both
    // gated since the rename (pre-r5 the shared name shadowed this one).
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t FROM events),
      |f AS (SELECT user_id, t,
      |        CASE WHEN LAG(t) OVER w IS NULL OR t - LAG(t) OVER w > 1800000000
      |             THEN 1 ELSE 0 END AS nf
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
      |s AS (SELECT user_id, t,
      |        CAST(SUM(nf) OVER (PARTITION BY user_id ORDER BY t) AS BIGINT) AS session_id
      |      FROM f)
      |SELECT user_id, session_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  MIN(t) AS start_us, MAX(t) AS end_us,
      |  MAX(t) - MIN(t) AS duration_us
      |FROM s GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin) { (spark, dir) =>
    val sessions = Temporal.sessionize(
      Tables.events(spark, dir), Seq("user_id"), "ts", gapUs = 1800000000L)
    sessions
      .select(col("user_id"), col("session_id"), unix_micros(col("ts")).as("t"))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("t")).as("start_us"),
        max(col("t")).as("end_us"),
        (max(col("t")) - min(col("t"))).as("duration_us"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** ROLLUP with a grouping id — subtotal + grand-total rows in one pass.
    * Spark expands the grouping sets before the aggregate, so it is still a
    * single shuffle; sums use the exact-decimal convention. NULLS FIRST is
    * explicit in the oracle (DuckDB defaults to NULLS LAST, Spark to FIRST).
    */
  val qRollup: Q = Q(
    "q_rollup",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (spark, dir) =>
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        (grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus")))
          .cast(LongType).as("gid"),
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"))
      .select("l_returnflag", "l_linestatus", "gid", "n", "sum_qty")
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)
  }

  /** CUBE over two order dimensions — all 2² grouping sets in one shuffle. */
  val qCube: Q = Q(
    "q_cube",
    """SELECT o_orderpriority, o_orderstatus,
      |  CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS BIGINT) AS gid,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders
      |GROUP BY CUBE(o_orderpriority, o_orderstatus)
      |ORDER BY gid, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin) { (spark, dir) =>
    Tables.orders(spark, dir)
      .cube(col("o_orderpriority"), col("o_orderstatus"))
      .agg(
        (grouping(col("o_orderpriority")) * 2 + grouping(col("o_orderstatus")))
          .cast(LongType).as("gid"),
        count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType).as("revenue"))
      .select("o_orderpriority", "o_orderstatus", "gid", "n", "revenue")
      .orderBy(col("gid"), col("o_orderpriority").asc_nulls_first,
        col("o_orderstatus").asc_nulls_first)
  }

  /** Arbitrary GROUPING SETS — the general form ROLLUP/CUBE specialize:
    * two DISJOINT single-dimension sets (per-returnflag and per-linestatus
    * marginals) in ONE aggregate pass. Not expressible as any rollup/cube of
    * the same columns; exercised through the SQL surface (the DataFrame API
    * exposes only the rollup/cube specializations). Still one Expand + one
    * shuffle — the same single-pass plan shape as [[qRollup]].
    */
  val qGroupingSets: Q = {
    val sql =
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin
    Q("q_grouping_sets", sql) { (spark, dir) =>
      Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem")
      spark.sql(sql)
    }
  }

  /** Pivot: per-user event-type counts as columns, written as conditional
    * aggregation (`count(when(type = v, 1))` per value) rather than
    * `RelationalGroupedDataset.pivot` — the explicit-list pivot still plans
    * TWO hash aggregates/exchanges ((user, type) then user), while the
    * conditional form is one scan + one shuffle on `user_id` with map-side
    * partials, and the value list being static keeps the schema static.
    * That is the at-scale shape (an inferred pivot additionally scans twice
    * for the distinct values). PlanShapeSpec pins the single exchange.
    */
  val qPivot: Q = Q(
    "q_pivot",
    """SELECT user_id,
      |  CAST(COUNT(*) FILTER (event_type = 'click')    AS BIGINT) AS click,
      |  CAST(COUNT(*) FILTER (event_type = 'error')    AS BIGINT) AS error,
      |  CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
      |  CAST(COUNT(*) FILTER (event_type = 'signup')   AS BIGINT) AS signup,
      |  CAST(COUNT(*) FILTER (event_type = 'view')     AS BIGINT) AS view
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (spark, dir) =>
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        count(when(col("event_type") === types.head, 1)).as(types.head),
        types.tail.map(t => count(when(col("event_type") === t, 1)).as(t)): _*)
      .orderBy(col("user_id"))
  }

  /** The rank/offset window family over the daily series: lag/lead,
    * row_number/rank/dense_rank/ntile by close, percent_rank/cume_dist.
    * The ratio functions divide two exact integers — IEEE division is
    * correctly rounded, so both engines produce the identical double. One
    * single-partition window (the series is one small group by construction;
    * the per-key variants in WindowQueries cover the partitioned case).
    */
  val qWindowFns: Q = Q(
    "q_window_fns",
    s"""WITH ${Series.DailySql},
       |r AS (
       |  SELECT d, close,
       |    LAG(close, 1)  OVER (ORDER BY d) AS prev_close,
       |    LEAD(close, 1) OVER (ORDER BY d) AS next_close,
       |    CAST(ROW_NUMBER()   OVER (ORDER BY close, d) AS BIGINT) AS rn,
       |    CAST(RANK()         OVER (ORDER BY close)    AS BIGINT) AS rnk,
       |    CAST(DENSE_RANK()   OVER (ORDER BY close)    AS BIGINT) AS drnk,
       |    CAST(NTILE(4)       OVER (ORDER BY close, d) AS BIGINT) AS quartile,
       |    PERCENT_RANK()      OVER (ORDER BY close)    AS pct_rank,
       |    CUME_DIST()         OVER (ORDER BY close)    AS cume
       |  FROM daily)
       |SELECT * FROM r ORDER BY d""".stripMargin) { (spark, dir) =>
    val byD = Window.orderBy(col("d"))
    val byClose = Window.orderBy(col("close"))
    val byCloseD = Window.orderBy(col("close"), col("d"))
    Series.daily(spark, dir)
      .withColumn("prev_close", lag(col("close"), 1).over(byD))
      .withColumn("next_close", lead(col("close"), 1).over(byD))
      .withColumn("rn", row_number().over(byCloseD).cast(LongType))
      .withColumn("rnk", rank().over(byClose).cast(LongType))
      .withColumn("drnk", dense_rank().over(byClose).cast(LongType))
      .withColumn("quartile", ntile(4).over(byCloseD).cast(LongType))
      .withColumn("pct_rank", percent_rank().over(byClose))
      .withColumn("cume", cume_dist().over(byClose))
      .orderBy(col("d"))
  }

  /** Fixed-width histogram of order totals. The bucket is `floor(x / w)` on
    * the SAME parquet double with the SAME constant — IEEE division and
    * floor are deterministic functions of the input bits, so both engines
    * bucket identically even at representability edges. Pure map + one
    * aggregate shuffle on the bucket id.
    */
  val qHistogram: Q = Q(
    "q_histogram",
    """SELECT CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT) AS bucket,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin) { (spark, dir) =>
    Tables.orders(spark, dir)
      .groupBy(floor(col("o_totalprice") / 25000.0).cast(LongType).as("bucket"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType).as("total"))
      .orderBy(col("bucket"))
  }

  /** Token document frequency — the corpus-statistics half of TF-IDF and the
    * vocabulary primitive of a training-data pipeline. Per-doc distinct
    * tokens (narrow explode + distinct fused into the aggregate), then a
    * count per token and a deterministic top-50 (df DESC, token ASC —
    * a total order, so LIMIT is stable). At scale: partial aggregation
    * map-side, one shuffle on token, TakeOrdered for the top-k.
    */
  val tx8DocFreq: Q = Q(
    "tx8_doc_freq",
    """SELECT g AS token, CAST(COUNT(*) AS BIGINT) AS df
      |FROM (SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS g
      |      FROM documents)
      |WHERE g <> ''
      |GROUP BY g ORDER BY df DESC, token LIMIT 50""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
      .filter(col("token") =!= "")
      .distinct()
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("token"))
      .limit(50)
  }

  /** Time-RANGE window frame: a trailing 7-calendar-day moving sum/count/max
    * over the (gappy) daily series. RANGE frames answer "last 7 DAYS", not
    * "last 7 ROWS" — on a series with missing dates the two differ, and the
    * SMA family (w1/w5) covers the ROWS case. Both engines order by the
    * integer epoch-day so the frame bounds are plain integer arithmetic;
    * sums stay exact because the series is integer-valued. Single window
    * pass, one sort.
    */
  val qRangeFrame: Q = Q(
    "q_range_frame",
    s"""WITH ${Series.DailySql}
       |SELECT d, close,
       |  CAST(SUM(close)  OVER w AS DOUBLE) AS sum_7d,
       |  CAST(COUNT(*)    OVER w AS BIGINT) AS n_7d,
       |  CAST(MAX(close)  OVER w AS DOUBLE) AS max_7d
       |FROM daily
       |WINDOW w AS (ORDER BY (d - DATE '1970-01-01')
       |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
       |ORDER BY d""".stripMargin) { (spark, dir) =>
    val w = Window.orderBy(unix_date(col("d"))).rangeBetween(-6, 0)
    Series.daily(spark, dir)
      .select(col("d"), col("close"),
        sum(col("close")).over(w).cast(DoubleType).as("sum_7d"),
        count(lit(1)).over(w).as("n_7d"),
        max(col("close")).over(w).cast(DoubleType).as("max_7d"))
      .orderBy(col("d"))
  }

  /** SCD Type-2 dimension build ([[Temporal.scd2Versions]]): each customer's
    * order-priority change history as versioned rows with
    * valid_from/valid_to/is_current — the standard slowly-changing-dimension
    * materialization from a raw change feed. The change feed is orders in
    * (o_orderdate, o_orderkey) order per customer — a total order, so
    * version boundaries are deterministic. One keyed sort-shuffle.
    */
  val qScd2: Q = Q(
    "q_scd2_priority",
    """WITH e AS (SELECT o_custkey AS custkey, CAST(o_orderdate AS DATE) AS eff_date,
      |                  o_orderpriority AS priority, o_orderkey AS seq FROM orders),
      |c AS (SELECT *, LAG(priority) OVER w AS prev,
      |             ROW_NUMBER() OVER w AS rn
      |      FROM e WINDOW w AS (PARTITION BY custkey ORDER BY eff_date, seq)),
      |v AS (SELECT custkey, priority, eff_date AS valid_from, seq
      |      FROM c WHERE rn = 1 OR prev <> priority)
      |SELECT custkey, priority, valid_from,
      |       LEAD(valid_from) OVER w2 AS valid_to,
      |       CAST(CASE WHEN LEAD(valid_from) OVER w2 IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
      |FROM v WINDOW w2 AS (PARTITION BY custkey ORDER BY valid_from, seq)
      |ORDER BY custkey, valid_from, seq""".stripMargin) { (spark, dir) =>
    val events = Tables.orders(spark, dir).select(
      col("o_custkey").as("custkey"),
      to_date(col("o_orderdate")).as("eff_date"),
      col("o_orderpriority").as("priority"),
      col("o_orderkey").as("seq"))
    Temporal.scd2Versions(events, Seq("custkey"), Seq("eff_date", "seq"),
        "priority", "eff_date")
      .select("custkey", "priority", "valid_from", "valid_to", "is_current")
      .orderBy(col("custkey"), col("valid_from"), col("seq"))
  }

  /** Date-spine resample + forward fill over the shared daily series: every
    * calendar day between min and max gets a row, gaps carry the last
    * observed close (`last(..., ignoreNulls)` over an unbounded-preceding
    * frame) plus a fill flag — the time-series regularization step before
    * any fixed-frequency model. Single-series global window, documented
    * like w1–w4 (the per-key variant partitions the same plan by symbol);
    * the spine is a broadcast 1-row `sequence` explode, no generator table.
    */
  val qResampleFfill: Q = Q(
    "q_resample_ffill",
    s"""WITH ${Series.DailySql},
       |b AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM daily),
       |spine0 AS (SELECT unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS ts FROM b),
       |spine AS (SELECT CAST(ts AS DATE) AS d FROM spine0),
       |j AS (SELECT s.d, daily.close FROM spine s LEFT JOIN daily ON daily.d = s.d)
       |SELECT d,
       |  LAST_VALUE(close IGNORE NULLS) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close_ffill,
       |  CAST(CASE WHEN close IS NULL THEN 1 ELSE 0 END AS BIGINT) AS filled
       |FROM j ORDER BY d""".stripMargin) { (spark, dir) =>
    val daily = Series.daily(spark, dir)
    val spine = daily.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"),
        expr("interval 1 day"))).as("d"))
    val w = Window.orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("d"), "left")
      .select(col("d"),
        last(col("close"), ignoreNulls = true).over(w).as("close_ffill"),
        when(col("close").isNull, 1L).otherwise(0L).as("filled"))
      .orderBy(col("d"))
  }

  /** Order-priority TRANSITION matrix — for every customer's consecutive
    * order pairs (ordered by date, ties by order key), the (from, to)
    * priority counts and each row's share in basis points: the Markov
    * view of "do urgent customers stay urgent?". One lag window
    * partitioned by customer (the sessionize shuffle shape) + a
    * ≤25-cell aggregate; the row-share window runs over the bounded
    * transition grid. All-integer.
    *
    * r9 bench anomaly (12.1 s, jit +989 ms, 6 tasks) investigated r10:
    * NOT the plan — reproduces at 0.6–1.0 s warm/cold in isolation AND
    * when re-run directly after q_peak_concurrency's 17 s JIT burst
    * (ProfQueries, 3 runs each); the one-off driver reading is ambient
    * machine contention during the shared-box bench, the same class as
    * the r3 sim1–sim4 wobble. Plan shape unchanged on purpose.
    */
  val qPriorityTransitions: Q = Q(
    "q_priority_transitions",
    """WITH o AS (SELECT o_custkey, o_orderpriority AS p,
      |    CAST(o_orderdate AS DATE) AS d, o_orderkey AS k
      |  FROM orders),
      |s AS (SELECT o_custkey, p,
      |    LAG(p) OVER (PARTITION BY o_custkey ORDER BY d, k) AS prev_p
      |  FROM o),
      |c AS (SELECT prev_p AS from_p, p AS to_p, CAST(COUNT(*) AS BIGINT) AS n
      |      FROM s WHERE prev_p IS NOT NULL GROUP BY 1, 2)
      |SELECT from_p, to_p, n,
      |  CAST(n * 10000 // SUM(n) OVER (PARTITION BY from_p) AS BIGINT) AS row_share_bp
      |FROM c ORDER BY from_p, to_p""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy(col("d"), col("k"))
    val c = graft.Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderpriority").as("p"),
        to_date(col("o_orderdate")).as("d"), col("o_orderkey").as("k"))
      .withColumn("prev_p", lag(col("p"), 1).over(w))
      .filter(col("prev_p").isNotNull)
      .groupBy(col("prev_p").as("from_p"), col("p").as("to_p"))
      .agg(count(lit(1)).as("n"))
    c.withColumn("__rt", sum(col("n")).over(Window.partitionBy("from_p")))
      .select(col("from_p"), col("to_p"), col("n"),
        expr("n * 10000 div __rt").as("row_share_bp"))
      .orderBy(col("from_p"), col("to_p"))
  }

  /** Day-of-week seasonality profile of order revenue: per ISO weekday,
    * order count, exact revenue cents, the day's share in basis points,
    * and the deviation from a uniform-across-days baseline in centi-bp
    * (the m16 χ²-contribution quantization) — the weekly-cycle screen a
    * forecasting pass runs before de-seasonalizing. All-integer; one
    * 7-key map-side-combinable aggregate, grand totals broadcast.
    */
  val qDowSeasonality: Q = Q(
    "q_dow_seasonality",
    """WITH o AS (SELECT isodow(CAST(o_orderdate AS DATE)) AS dow,
      |    CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS cents
      |  FROM orders),
      |a AS (SELECT CAST(dow AS BIGINT) AS dow,
      |    CAST(COUNT(*) AS BIGINT) AS n_orders,
      |    CAST(SUM(cents) AS BIGINT) AS revenue_cents
      |  FROM o GROUP BY 1),
      |t AS (SELECT SUM(n_orders) AS tn, SUM(revenue_cents) AS tr,
      |             CAST(COUNT(*) AS BIGINT) AS days FROM a)
      |SELECT dow, n_orders, revenue_cents,
      |  CAST(revenue_cents * 10000 // t.tr AS BIGINT) AS share_bp,
      |  CAST(CAST(revenue_cents * t.days - t.tr AS HUGEINT)
      |         * (revenue_cents * t.days - t.tr) * 100
      |       // (CAST(t.tr AS HUGEINT) * t.days) AS BIGINT) AS dev_cbp
      |FROM a, t ORDER BY dow""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types.{DecimalType, LongType}
    val a = graft.Tables.orders(spark, dir)
      .select(dayofweek(to_date(col("o_orderdate"))).as("dw"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast(LongType).as("cents"))
      // Spark dayofweek: 1=Sunday..7=Saturday; ISO dow: 1=Monday..7=Sunday
      .select(expr("cast((dw + 5) % 7 + 1 as bigint)").as("dow"), col("cents"))
      .groupBy(col("dow"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("revenue_cents"))
    val t = a.agg(sum(col("n_orders")).as("tn"),
      sum(col("revenue_cents")).as("tr"), count(lit(1)).as("days"))
    a.crossJoin(broadcast(t))
      .select(col("dow"), col("n_orders"), col("revenue_cents"),
        expr("revenue_cents * 10000 div tr").as("share_bp"),
        expr("""cast(cast(revenue_cents as decimal(38,0)) * days - tr as decimal(38,0))
               | * (cast(revenue_cents as decimal(38,0)) * days - tr) * 100
               | div (cast(tr as decimal(38,0)) * days)""".stripMargin)
          .cast(LongType).as("dev_cbp"))
      .orderBy(col("dow"))
  }

  /** Linear-INTERPOLATION gap fill over the same daily spine as
    * [[qResampleFfill]] (pandas `interpolate(method='time')` semantics in
    * exact integers): every missing day takes
    * `v₀·100 + (v₁−v₀)·100·(d−d₀) div (d₁−d₀)` centi-units between its
    * nearest observed anchors (two ignore-nulls window passes carry value
    * AND anchor date in each direction); edge gaps with only one anchor
    * fall back to that anchor. Truncating integer division is identical
    * in both engines (both truncate toward zero), so the fill is
    * bit-exact. Same single-series window stance as the ffill variant.
    */
  val qResampleInterp: Q = Q(
    "q_resample_interp",
    s"""WITH ${Series.DailySql},
       |b AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM daily),
       |spine0 AS (SELECT unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS ts FROM b),
       |spine AS (SELECT CAST(ts AS DATE) AS d FROM spine0),
       |j AS (SELECT s.d, CAST(daily.close AS BIGINT) AS v
       |      FROM spine s LEFT JOIN daily ON daily.d = s.d),
       |a AS (SELECT d, v,
       |    LAST_VALUE(v IGNORE NULLS) OVER (ORDER BY d
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v0,
       |    LAST_VALUE(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS)
       |      OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
       |    FIRST_VALUE(v IGNORE NULLS) OVER (ORDER BY d
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v1,
       |    FIRST_VALUE(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS)
       |      OVER (ORDER BY d ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
       |  FROM j)
       |SELECT d,
       |  CAST(CASE
       |    WHEN v IS NOT NULL THEN v * 100
       |    WHEN v0 IS NOT NULL AND v1 IS NOT NULL THEN
       |      v0 * 100 + (v1 - v0) * 100 * CAST(d - pd AS BIGINT) // CAST(nd - pd AS BIGINT)
       |    WHEN v0 IS NOT NULL THEN v0 * 100
       |    ELSE v1 * 100 END AS BIGINT) AS close_centi,
       |  CAST(CASE WHEN v IS NULL THEN 1 ELSE 0 END AS BIGINT) AS filled
       |FROM a ORDER BY d""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types.LongType
    val daily = Series.daily(spark, dir)
      .select(col("d"), col("close").cast(LongType).as("v"))
    val spine = daily.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"),
        expr("interval 1 day"))).as("d"))
    val wB = Window.orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.orderBy(col("d"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val a = spine.join(daily, Seq("d"), "left")
      .withColumn("v0", last(col("v"), ignoreNulls = true).over(wB))
      .withColumn("pd", last(when(col("v").isNotNull, col("d")), ignoreNulls = true).over(wB))
      .withColumn("v1", first(col("v"), ignoreNulls = true).over(wF))
      .withColumn("nd", first(when(col("v").isNotNull, col("d")), ignoreNulls = true).over(wF))
    a.select(col("d"),
        when(col("v").isNotNull, col("v") * 100)
          .when(col("v0").isNotNull && col("v1").isNotNull,
            col("v0") * 100 + expr(
              "(v1 - v0) * 100 * cast(datediff(d, pd) as bigint) div cast(datediff(nd, pd) as bigint)"))
          .when(col("v0").isNotNull, col("v0") * 100)
          .otherwise(col("v1") * 100)
          .cast(LongType).as("close_centi"),
        when(col("v").isNull, 1L).otherwise(0L).as("filled"))
      .orderBy(col("d"))
  }

  /** The PER-KEY form of [[qResampleFfill]] — the scale path its scaladoc
    * promises: each priority-symbol's daily series gets its own date
    * spine (per-key min..max, generated inside the aggregate row, no
    * global bounds) and forward fill runs under `partitionBy(sym)` — the
    * whole operator is one keyed shuffle regardless of key count, where
    * the single-series form is a one-partition window by construction.
    */
  val qResampleBySymbol: Q = Q(
    "q_resample_by_symbol",
    """WITH bars AS (
      |  SELECT o_orderpriority AS sym, CAST(o_orderdate AS DATE) AS d,
      |    CAST(FLOOR(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / 100.0) AS DOUBLE) AS close
      |  FROM orders GROUP BY 1, 2),
      |b AS (SELECT sym, MIN(d) AS d0, MAX(d) AS d1 FROM bars GROUP BY sym),
      |spine0 AS (SELECT sym, unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS ts FROM b),
      |spine AS (SELECT sym, CAST(ts AS DATE) AS d FROM spine0),
      |j AS (SELECT s.sym, s.d, bars.close
      |      FROM spine s LEFT JOIN bars ON bars.sym = s.sym AND bars.d = s.d)
      |SELECT sym, d,
      |  LAST_VALUE(close IGNORE NULLS) OVER (PARTITION BY sym ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close_ffill,
      |  CAST(CASE WHEN close IS NULL THEN 1 ELSE 0 END AS BIGINT) AS filled
      |FROM j ORDER BY sym, d""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types._
    val bars = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("sym"), to_date(col("o_orderdate")).as("d"))
      .agg(floor(sum(col("o_totalprice").cast(DecimalType(18, 2)))
        .cast(DoubleType) / 100.0).cast(DoubleType).as("close"))
    val spine = bars.groupBy(col("sym"))
      .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(col("sym"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("d"))
    val w = Window.partitionBy(col("sym")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(bars, Seq("sym", "d"), "left")
      .select(col("sym"), col("d"),
        last(col("close"), ignoreNulls = true).over(w).as("close_ffill"),
        when(col("close").isNull, 1L).otherwise(0L).as("filled"))
      .orderBy(col("sym"), col("d"))
  }

  /** Cohort retention: customers bucketed by first-order month, then
    * distinct active customers per (cohort, month offset) — the standard
    * retention triangle. Month indices are pure integer arithmetic
    * (year*12+month), counts are BIGINTs, so the gate is exact by
    * construction. Two keyed shuffles: the per-customer min, then the
    * (cohort, offset) aggregate; the first-order frame broadcasts back
    * onto orders (customer count ≪ order count at any scale).
    */
  val qCohortRetention: Q = Q(
    "q_cohort_retention",
    """WITH o AS (SELECT o_custkey,
      |             CAST(date_part('year', o_orderdate) * 12 + date_part('month', o_orderdate) AS BIGINT) AS m
      |           FROM orders),
      |f AS (SELECT o_custkey, MIN(m) AS cohort_m FROM o GROUP BY o_custkey)
      |SELECT f.cohort_m, o.m - f.cohort_m AS month_offset,
      |  CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_active
      |FROM o JOIN f ON o.o_custkey = f.o_custkey
      |GROUP BY f.cohort_m, month_offset
      |ORDER BY cohort_m, month_offset""".stripMargin) { (spark, dir) =>
    val o = Tables.orders(spark, dir).select(col("o_custkey"),
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast(LongType).as("m"))
    val f = o.groupBy(col("o_custkey")).agg(min(col("m")).as("cohort_m"))
    o.join(f, "o_custkey")
      .groupBy(col("cohort_m"), (col("m") - col("cohort_m")).as("month_offset"))
      .agg(countDistinct(col("o_custkey")).as("n_active"))
      .orderBy(col("cohort_m"), col("month_offset"))
  }

  /** Ordered event funnel: signup → first click at-or-after signup → first
    * purchase at-or-after that click, per user — the product-analytics
    * conversion query. Three STACKED window aggregates over the same
    * `user_id` partitioning (each stage's conditional min sees the previous
    * stage's column), so the whole funnel costs ONE hash exchange + the
    * final per-user collapse that reuses it — no join chain, no
    * re-shuffles. All stage timestamps are deterministic mins. Emits
    * per-user stage timestamps (µs); the count-per-stage rollup is a
    * trivial downstream aggregate.
    */
  val qFunnel: Q = Q(
    "q_funnel",
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
      |s AS (SELECT user_id, MIN(CASE WHEN event_type = 'signup' THEN t END) AS signup_t
      |      FROM e GROUP BY user_id),
      |c AS (SELECT e.user_id, MIN(e.t) AS click_t
      |      FROM e JOIN s ON e.user_id = s.user_id
      |      WHERE e.event_type = 'click' AND e.t >= s.signup_t
      |      GROUP BY e.user_id),
      |p AS (SELECT e.user_id, MIN(e.t) AS purchase_t
      |      FROM e JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND e.t >= c.click_t
      |      GROUP BY e.user_id)
      |SELECT s.user_id, s.signup_t, c.click_t, p.purchase_t
      |FROM s LEFT JOIN c ON c.user_id = s.user_id
      |       LEFT JOIN p ON p.user_id = s.user_id
      |WHERE s.signup_t IS NOT NULL
      |ORDER BY s.user_id""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy(col("user_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("t"))
      .withColumn("signup_t",
        min(when(col("event_type") === "signup", col("t"))).over(w))
      .withColumn("click_t",
        min(when(col("event_type") === "click" && col("t") >= col("signup_t"),
          col("t"))).over(w))
      .withColumn("purchase_t",
        min(when(col("event_type") === "purchase" && col("t") >= col("click_t"),
          col("t"))).over(w))
      .filter(col("signup_t").isNotNull)
      .groupBy(col("user_id"))
      .agg(min(col("signup_t")).as("signup_t"), min(col("click_t")).as("click_t"),
        min(col("purchase_t")).as("purchase_t"))
      .orderBy(col("user_id"))
  }

  /** Complex-event-processing first match: per user, the first
    * view → click → purchase sequence completing within 24 hours — the
    * MATCH_RECOGNIZE staple (fraud patterns, conversion attribution) in
    * skip-till-next, tightest-completion semantics: the purchase binds to
    * the LATEST preceding click that itself has a preceding view (the
    * click carries ITS latest view along), and the first qualifying
    * purchase per user wins. Two STACKED running-max windows over one
    * (user_id, ts, id) sort — each event type's "latest so far" struct
    * embeds the previous stage's binding, the q_funnel trick upgraded to
    * carry event identities — so pattern detection over an arbitrarily
    * long history is ONE hash exchange + one sort, no self-joins and no
    * per-pattern-length join chain. Struct max is (us, id)-lexicographic
    * in both engines, so the binding (and the oracle compare) is exact.
    */
  val qCepFirstMatch: Q = Q(
    "q_cep_first_match",
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id AS id FROM events),
      |w1 AS (SELECT *,
      |    MAX(CASE WHEN event_type = 'view' THEN struct_pack(us := us, id := id) END) OVER
      |      (PARTITION BY user_id ORDER BY us, id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lv
      |  FROM e),
      |w2 AS (SELECT *,
      |    MAX(CASE WHEN event_type = 'click' AND lv IS NOT NULL
      |         THEN struct_pack(cus := us, cid := id, vus := lv.us, vid := lv.id) END) OVER
      |      (PARTITION BY user_id ORDER BY us, id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cv
      |  FROM w1),
      |m AS (SELECT user_id, cv.vus AS v_us, cv.vid AS v_id, cv.cus AS c_us,
      |             cv.cid AS c_id, us AS p_us, id AS p_id
      |      FROM w2
      |      WHERE event_type = 'purchase' AND cv IS NOT NULL
      |        AND us - cv.vus <= 86400000000)
      |SELECT user_id, v_us, v_id, c_us, c_id, p_us, p_id
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY p_us, p_id) AS rn FROM m)
      |WHERE rn = 1 ORDER BY user_id""".stripMargin) { (spark, dir) =>
    val wp = Window.partitionBy(col("user_id")).orderBy(col("us"), col("id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val matches = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id").as("id"))
      .withColumn("lv",
        max(when(col("event_type") === "view",
          struct(col("us"), col("id")))).over(wp))
      .withColumn("cv",
        max(when(col("event_type") === "click" && col("lv").isNotNull,
          struct(col("us").as("cus"), col("id").as("cid"),
            col("lv.us").as("vus"), col("lv.id").as("vid")))).over(wp))
      .filter(col("event_type") === "purchase" && col("cv").isNotNull &&
        col("us") - col("cv.vus") <= 86400000000L)
      .select(col("user_id"), col("cv.vus").as("v_us"), col("cv.vid").as("v_id"),
        col("cv.cus").as("c_us"), col("cv.cid").as("c_id"),
        col("us").as("p_us"), col("id").as("p_id"))
    val first = Window.partitionBy(col("user_id")).orderBy(col("p_us"), col("p_id"))
    matches.withColumn("rn", row_number().over(first)).filter(col("rn") === 1)
      .drop("rn").orderBy(col("user_id"))
  }

  /** Month-over-month revenue growth: exact-decimal monthly sums, lag, and
    * a growth ratio whose operands are exact — so the double division is
    * the single deterministic rounding. ~84 monthly rows: the lag window
    * is global by construction (a partitioned variant would key by
    * region/segment), same documented class as the w1–w4 series.
    */
  val qMomGrowth: Q = Q(
    "q_mom_growth",
    """WITH m AS (SELECT CAST(date_part('year', o_orderdate) * 12 + date_part('month', o_orderdate) AS BIGINT) AS m,
      |             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |           FROM orders GROUP BY 1)
      |SELECT m, revenue, LAG(revenue) OVER (ORDER BY m) AS prev_revenue,
      |  (revenue - LAG(revenue) OVER (ORDER BY m)) / LAG(revenue) OVER (ORDER BY m) AS growth
      |FROM m ORDER BY m""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("m"))
    Tables.orders(spark, dir)
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast(LongType).as("m"))
      .agg(graft.exprs.Exact.dsum(col("o_totalprice")).as("revenue"))
      .withColumn("prev_revenue", lag(col("revenue"), 1).over(w))
      .withColumn("growth",
        (col("revenue") - col("prev_revenue")) / col("prev_revenue"))
      .orderBy(col("m"))
  }

  /** Least-squares trend line over the daily series via EXPLICIT integer
    * sums (n, Σx, Σy, Σxx, Σxy as BIGINTs — x is the epoch day, y the
    * integer-valued close), so slope/intercept derive from exact integers
    * with deterministic long→double rounding. The built-in
    * `regr_slope`/`regr_intercept` use order-dependent streaming-mean
    * updates and would NOT hash-match across engines — this formulation is
    * also the mergeable one (partial sums add), i.e. the 100 TB shape.
    */
  val qTrendLine: Q = Q(
    "q_trend_line",
    s"""WITH ${Series.DailySql},
       |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |        CAST(SUM(date_diff('day', DATE '1970-01-01', d)) AS BIGINT) AS sx,
       |        CAST(SUM(CAST(close AS BIGINT)) AS BIGINT) AS sy,
       |        CAST(SUM(date_diff('day', DATE '1970-01-01', d) * date_diff('day', DATE '1970-01-01', d)) AS BIGINT) AS sxx,
       |        CAST(SUM(date_diff('day', DATE '1970-01-01', d) * CAST(close AS BIGINT)) AS BIGINT) AS sxy
       |      FROM daily)
       |SELECT n, sx, sy, sxx, sxy,
       |  CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
       |  (CAST(sy AS DOUBLE) - (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept
       |FROM s""".stripMargin) { (spark, dir) =>
    val daily = Series.daily(spark, dir).select(
      datediff(col("d"), lit(java.sql.Date.valueOf("1970-01-01")))
        .cast(LongType).as("x"),
      col("close").cast(LongType).as("y"))
    val s = daily.agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
      (col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType)
    s.select(col("n"), col("sx"), col("sy"), col("sxx"), col("sxy"),
      slope.as("slope"),
      ((col("sy").cast(DoubleType) - slope * col("sx").cast(DoubleType)) /
        col("n").cast(DoubleType)).as("intercept"))
  }

  /** 2-D skyline (Pareto frontier): customers not dominated on
    * (order count, account balance) — the preference-query operator
    * (maximize both dims; a dominates b iff ≥ on both and > on at least
    * one). The oracle is the O(n²) NOT-EXISTS dominance scan; the Spark
    * side is the O(n log n) sweep as TWO window passes: first keep only
    * the max-y row(s) per x (same-x dominance), then keep rows whose y
    * strictly exceeds the max y over all STRICTLY larger x (a RANGE frame
    * from x+1). Same-x ties on max y are all kept (no strict dominance),
    * matching the oracle exactly. Both windows are global-ordered by
    * design — the frontier input here is one small aggregate per entity
    * (customers, not orders); the grouped variant partitions the same
    * plan by key.
    */
  val qSkyline: Q = Q(
    "q_skyline",
    """WITH agg AS (
      |  SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
      |         c.c_acctbal
      |  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      |  GROUP BY c.c_custkey, c.c_acctbal)
      |SELECT c_custkey, n_orders, c_acctbal FROM agg a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM agg b
      |  WHERE b.n_orders >= a.n_orders AND b.c_acctbal >= a.c_acctbal
      |    AND (b.n_orders > a.n_orders OR b.c_acctbal > a.c_acctbal))
      |ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val agg = Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir),
        col("o_custkey") === col("c_custkey"), "left")
      .groupBy(col("c_custkey"), col("c_acctbal"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .select("c_custkey", "n_orders", "c_acctbal")
    val perX = Window.partitionBy(col("n_orders"))
    val sweep = Window.orderBy(col("n_orders"))
      .rangeBetween(1L, Window.unboundedFollowing)
    agg
      .withColumn("__maxy_same_x", max(col("c_acctbal")).over(perX))
      .filter(col("c_acctbal") === col("__maxy_same_x"))
      .withColumn("__maxy_higher_x", max(col("c_acctbal")).over(sweep))
      .filter(col("__maxy_higher_x").isNull ||
        col("c_acctbal") > col("__maxy_higher_x"))
      .select("c_custkey", "n_orders", "c_acctbal")
      .orderBy(col("c_custkey"))
  }

  /** Triangle counting on the co-purchase graph (users purchasing within
    * the same hour) — the graph-analytics staple behind clustering
    * coefficients and community detection. Edges are ORIENTED by
    * (degree, id) — every edge points from its lower-degree endpoint to
    * the higher — and each triangle is counted exactly once as a
    * (s,a)⋈(s,b)⋈(a,b) wedge close over the oriented adjacency: the
    * compact-forward / degree-ordering algorithm (Latapy 2008), whose
    * per-node wedge work is arboricity-bounded O(√m) instead of
    * max-degree-bounded — the skew-safe form for hub-heavy graphs. The
    * total is orientation-invariant, so the oracle replays the simpler
    * id-oriented SQL and the counts agree exactly. Counts are exact
    * integers. The sf0.1 graph is DENSE by construction (1.5k users, 244k
    * edges over 720 hourly buckets → ~40M wedges), making this the
    * suite's deliberate heavy-join stressor — the cost exact triangle
    * counting pays at this density on any engine.
    */
  val qTriangles: Q = Q(
    "q_triangles",
    """WITH p AS (SELECT DISTINCT user_id, date_trunc('hour', ts) AS h
      |           FROM events WHERE event_type = 'purchase'),
      |e AS (SELECT DISTINCT a.user_id AS u, b.user_id AS v
      |      FROM p a JOIN p b ON a.h = b.h AND a.user_id < b.user_id),
      |t AS (SELECT COUNT(*) AS n_triangles
      |      FROM e e1 JOIN e e2 ON e2.u = e1.v
      |                JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
      |SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
      |       CAST(t.n_triangles AS BIGINT) AS n_triangles
      |FROM t""".stripMargin) { (spark, dir) =>
    // edge table feeds FOUR consumers (degree build ×2, orientation join,
    // edge count) and is built IDENTICALLY by q_kcore — one cross-query
    // materialization (round 15; SCALE.md invariant #3)
    val e = Shared.purchaseCoEdges(spark, dir)
    // Degree orientation (the standard compact-forward algorithm): point
    // every edge from its lower-(degree, id) endpoint to the higher one and
    // build wedges only from ORIENTED out-edges. Triangle counts are
    // orientation-invariant (the oracle's id-oriented SQL computes the
    // identical totals), but max out-degree drops from max-degree to
    // O(√m), so the wedge join's biggest task is arboricity-bounded — a
    // hub with a million neighbors no longer produces a 10¹²-row wedge
    // task at 100 TB, the graph-skew analogue of salting.
    val d = e.select(col("u").as("x")).unionByName(e.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("deg"))
    val o = graft.operators.Dedup.cachedForReuse(
      e.join(d.select(col("x").as("u"), col("deg").as("du")), "u")
        .join(d.select(col("x").as("v"), col("deg").as("dv")), "v")
        .select(
          when(col("du") < col("dv") ||
               (col("du") === col("dv") && col("u") < col("v")),
            struct(col("u").as("s"), col("v").as("t")))
          .otherwise(
            struct(col("v").as("s"), col("u").as("t")))
          .as("r"))
        .select(col("r.s").as("s"), col("r.t").as("t")))
    // Count each triangle once at its two LOWEST (orientation-order)
    // vertices' edge: a triangle s<a<b (in the (deg, id) orientation order)
    // is oriented s→a, s→b, a→b, so it appears exactly once as b ∈
    // N⁺(s) ∩ N⁺(a) on edge (s, a) — and never on (s, b) or (a, b), whose
    // out-neighborhoods cannot contain the lower vertices. Summing
    // |N⁺(u) ∩ N⁺(v)| over oriented edges therefore counts every triangle
    // exactly once (round 15: replaces the two-step wedge join, which
    // materialized the full O(Σ d⁺²) wedge stream — ~40M rows at sf0.1 —
    // through a second join; the adjacency form intersects two ≤ O(√m)
    // sorted lists per EDGE inside one codegen stage, no wedge
    // materialization, same arboricity bound on the per-row work). The
    // node-keyed adjacency table is vocabulary-sized — broadcast on both
    // probes, so the edge frame never shuffles.
    val adj = o.groupBy(col("s")).agg(sort_array(collect_list(col("t"))).as("nb"))
    val tri = o
      .join(broadcast(adj.select(col("s").as("u1"), col("nb").as("nb1"))),
        col("s") === col("u1"))
      .join(broadcast(adj.select(col("s").as("u2"), col("nb").as("nb2"))),
        col("t") === col("u2"))
      .agg(coalesce(sum(size(array_intersect(col("nb1"), col("nb2")))), lit(0L))
        .cast(LongType).as("n_triangles"))
    e.agg(count(lit(1)).as("n_edges")).crossJoin(broadcast(tri))
      .select(col("n_edges"), col("n_triangles"))
  }

  /** Fixed-point PageRank (5 iterations, damping 0.85) on the part
    * co-occurrence graph — parts appearing in the same order, edges in both
    * directions. Ranks travel as BIGINT micro-units (node mass starts at
    * 1,000,000) and every step is integer-exact: a node's per-edge
    * contribution is `floor(rank/outdeg)`, the damped update is
    * `150000 + floor(0.85·Σ contrib)` — `0.85·x` is one IEEE double
    * multiply of an integer-valued double (< 2^53, exact in any summation
    * order), so both engines floor the identical value and the ranks match
    * bit-for-bit, the same quantization trick as sim7's fixed-point
    * centroids. Plan: the edge table is built once and
    * reused by all 5 iterations plus the degree table
    * ([[graft.operators.Dedup.cachedForReuse]]); each iteration is one
    * equi-join of the (small) rank table to edges + one group-by on the
    * destination — the standard distributed PageRank round, 5 bounded
    * shuffles total, no driver-side state. At 1000 executors the rank
    * table co-partitions with the edge table's `u` key and each round is a
    * single co-located shuffle; dangling nodes cannot arise here because
    * co-occurrence edges are symmetric (every node has outdeg ≥ 1).
    */
  val qPagerank: Q = {
    // one damped update step, shared verbatim by the 5 oracle CTE rounds
    def itSql(k: Int): String =
      s"""it$k AS (
         |  SELECT e.v AS node,
         |    CAST(150000 + FLOOR(0.85 * SUM(FLOOR(CAST(p.r AS DOUBLE) / d.deg))) AS BIGINT) AS r
         |  FROM it${k - 1} p JOIN deg d ON d.u = p.node JOIN e ON e.u = p.node
         |  GROUP BY e.v)""".stripMargin
    Q(
      "q_pagerank",
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
         |      FROM li a JOIN li b
         |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
         |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY u),
         |it0 AS (SELECT u AS node, CAST(1000000 AS BIGINT) AS r FROM deg),
         |${(1 to 5).map(itSql).mkString(",\n")}
         |SELECT node AS l_partkey, r AS rank_fp
         |FROM it5 ORDER BY r DESC, node LIMIT 100""".stripMargin) { (spark, dir) =>
      // The degree is FOLDED INTO the edge table once — (u, v, deg_u) —
      // so each iteration is exactly one equi-join of the small rank table
      // to the stationary edge frame + one group-by on the destination:
      // per-edge contribution floor(rank/deg) evaluates inline from the
      // edge row, no per-round rank⋈deg join. The raw edge frame is the
      // memoized [[Shared.partEdges]] (also consumed by q_reachability);
      // the degree-annotated copy is materialized once, pre-partitioned on
      // the join key `u`, and its checkpoint scan keeps that partitioning,
      // so only the (much smaller) rank side shuffles per round (SCALE.md
      // invariant #3).
      val ed = Shared.partEdges(spark, dir)
      val ranks = graft.operators.Dedup.withStaticPlan(spark) {
        var rk = ed.select(col("u").as("node")).distinct()
          .withColumn("r", lit(1000000L))
        // Each round re-roots on a materialized RDD (O(1) plan size across
        // rounds — the iterative-Spark lineage rule) and frees the previous
        // round's blocks deterministically (round 1's input is a plan over
        // the memoized edges, which are not this loop's to free).
        for (round <- 1 to 5) {
          // shuffled-HASH on the rank side: the checkpointed rank frame has
          // no size statistics, so the static planner would fall back to
          // sort-merge and re-sort the stationary edge partitions EVERY
          // round; hashing the small per-partition rank build side skips
          // that sort at any scale (guide §3.1)
          val next = ed.join(rk.hint("shuffle_hash"), ed("u") === rk("node"))
            .groupBy(col("v"))
            .agg((floor(lit(0.85) * sum(
              floor(col("r").cast(DoubleType) / col("deg")))) + 150000L)
              .cast(LongType).as("r"))
            .select(col("v").as("node"), col("r"))
            .localCheckpoint(true)
          if (round > 1) graft.core.Blocks.release(rk)
          rk = next
        }
        rk
      }
      ranks.orderBy(col("r").desc, col("node"))
        .limit(100)
        .select(col("node").as("l_partkey"), col("r").as("rank_fp"))
    }
  }

  /** First-order Markov transition counts over each user's time-ordered
    * event sequence: for every (current → next) event-type pair, the
    * transition count and probability in integer basis points. The
    * sequence pairing is one `lead()` over the natural `user_id` window
    * (skew-bounded, same shuffle as sessionization); the 5×5 transition
    * matrix aggregate and its row-total join are tiny. The classic
    * sequence-mining shape: at 100 TB the only data-sized operation is
    * still the per-user window sort.
    */
  val qEventTransitions: Q = Q(
    "q_event_transitions",
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t, event_id FROM events),
      |p AS (SELECT user_id, event_type AS cur,
      |        LEAD(event_type) OVER (PARTITION BY user_id ORDER BY t, event_id) AS nxt
      |      FROM e),
      |c AS (SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n
      |      FROM p WHERE nxt IS NOT NULL GROUP BY cur, nxt),
      |tot AS (SELECT cur, CAST(SUM(n) AS BIGINT) AS tn FROM c GROUP BY cur)
      |SELECT c.cur, c.nxt, c.n, c.n * 10000 // t.tn AS p_bp
      |FROM c JOIN tot t USING (cur) ORDER BY cur, nxt""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("event_id"))
    val p = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("t"), col("event_id"))
      .withColumn("nxt", lead(col("event_type"), 1).over(w))
      .filter(col("nxt").isNotNull)
    val c = p.groupBy(col("event_type").as("cur"), col("nxt"))
      .agg(count(lit(1)).as("n"))
    val tot = c.groupBy(col("cur").as("tc")).agg(sum(col("n")).as("tn"))
    c.join(broadcast(tot), col("cur") === col("tc"))
      .select(col("cur"), col("nxt"), col("n"),
        expr("n * 10000 div tn").as("p_bp"))
      .orderBy(col("cur"), col("nxt"))
  }

  /** Peak session concurrency via the distributed sweep line: sessionize
    * the stream (30-min gap), emit +count/−count boundary events keyed by
    * `t·2 + phase` (phase 0 = starts, 1 = ends — so all sessions starting
    * at t are counted before any ending at t closes), and running-sum the
    * deltas with the range-partitioned prefix-sum operator
    * ([[graft.operators.PrefixSum]]) — no global single-partition window
    * anywhere, the concurrency curve materializes across partitions. Peak
    * and its earliest µs are then a flat max + argmin. The same plan
    * answers "max concurrent anything" (connections, jobs, visitors) at
    * any scale; every value is an integer, so the result is bit-exact.
    */
  val qPeakConcurrency: Q = Q(
    "q_peak_concurrency",
    """WITH x AS (
      |  SELECT user_id, epoch_us(ts) AS t, event_id,
      |    CASE WHEN LAG(ts) OVER w IS NULL
      |              OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |y AS (SELECT user_id, t,
      |        CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
      |      FROM x),
      |s AS (SELECT user_id, sid, MIN(t) AS st, MAX(t) AS en FROM y GROUP BY user_id, sid),
      |ev AS (SELECT st * 2 AS k, CAST(COUNT(*) AS BIGINT) AS delta FROM s GROUP BY st
      |       UNION ALL
      |       SELECT en * 2 + 1, -CAST(COUNT(*) AS BIGINT) FROM s GROUP BY en),
      |g AS (SELECT k, CAST(SUM(delta) AS BIGINT) AS delta FROM ev GROUP BY k),
      |c AS (SELECT k, CAST(SUM(delta) OVER (ORDER BY k) AS BIGINT) AS conc FROM g),
      |m AS (SELECT MAX(conc) AS peak FROM c)
      |SELECT peak, MIN(k) // 2 AS at_us FROM c, m WHERE conc = peak
      |GROUP BY peak""".stripMargin) { (spark, dir) =>
    // The whole sweep runs eagerly under a static plan (fixed shapes over
    // bounded frames; AQE would schedule every exchange as its own job).
    // The session frame has exactly ONE consumer since the round-15
    // boundary-explode fusion (both ±1 branches come from one explode), so
    // it is NOT checkpointed here — the prefix-sum kernel's materializedOnce
    // roots the boundary grid, and the sessionize window runs exactly once
    // inside that single materialization (one fewer eager pass).
    graft.operators.Dedup.withStaticPlan(spark) {
      val sess = graft.operators.Temporal.sessionize(
          Tables.events(spark, dir), Seq("user_id"), "ts", gapUs = 1800000000L)
        .select(col("user_id"), col("session_id"), unix_micros(col("ts")).as("t"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("t")).as("st"), max(col("t")).as("en"))
      // both boundary branches in ONE exchange (round 15): each session row
      // explodes into its (+1 at st·2, −1 at en·2+1) boundary pair — a
      // narrow projection — and a single keyed aggregate sums the deltas;
      // the old two-aggregate union + re-aggregate shuffled sess twice and
      // the merged grid a third time for the same sums
      val g = sess.select(explode(array(
          struct((col("st") * 2).as("k"), lit(1L).as("delta")),
          struct((col("en") * 2 + 1).as("k"), lit(-1L).as("delta")))).as("b"))
        .groupBy(col("b.k").as("k")).agg(sum(col("b.delta")).as("delta"))
      val c = graft.operators.PrefixSum
        .withStartOffset(g, "k", "delta", "c0")
        .select(col("k"), (col("c0") + col("delta")).as("conc"))
      val m = c.agg(max(col("conc")).as("peak"))
      graft.operators.Dedup.cachedForReuse(
        c.crossJoin(broadcast(m)).filter(col("conc") === col("peak"))
          .groupBy(col("peak"))
          .agg(expr("min(k) div 2").as("at_us")))
    }
  }

  /** CUSUM change-point sweep (Page 1954) over the daily revenue series:
    * drift d_i = n·close_i − Σclose (close minus the global mean, scaled by
    * n to stay in exact integer arithmetic), then the one-sided CUSUM
    * statistic S_i = max(0, S_{i−1} + d_i) — the standard "has the level
    * shifted upward" detector. The sequential recurrence is re-expressed as
    * prefix-sum − prefix-min and runs on the distributed scan kernel
    * ([[graft.operators.PrefixSum.withCusum]]): one range shuffle, no
    * global single-partition window, so the same plan sweeps a
    * years-long series per metric at 100 TB. All-integer → bit-exact.
    */
  val qCusumDrift: Q = Q(
    "q_cusum_drift",
    s"""WITH ${Series.DailySql},
       |t AS (SELECT d, CAST(close AS BIGINT) AS close FROM daily),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |              CAST(SUM(close) AS BIGINT) AS tot FROM t),
       |dr AS (SELECT d, close, CAST(close * n - tot AS BIGINT) AS drift FROM t, st),
       |c AS (SELECT d, close, drift,
       |        CAST(SUM(drift) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p
       |      FROM dr)
       |SELECT d, close, drift,
       |  CAST(p - LEAST(0, MIN(p) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)) AS BIGINT) AS cusum
       |FROM c ORDER BY d""".stripMargin) { (spark, dir) =>
    val daily = Series.daily(spark, dir)
      .select(col("d"), col("close").cast(LongType).as("close"))
    val stats = daily.agg(count(lit(1)).as("n"), sum(col("close")).as("tot"))
    // epoch-day INT kernel key (same order as d) → the exact equal-width
    // partitioning path instead of the layout-sensitive sampled ranges
    val drift = daily.crossJoin(broadcast(stats))
      .select(col("d"), col("close"),
        (col("close") * col("n") - col("tot")).as("drift"))
      .withColumn("dk", unix_date(col("d")))
    graft.operators.PrefixSum.withCusum(drift, "dk", "drift", "cusum")
      .select(col("d"), col("close"), col("drift"), col("cusum"))
      .orderBy(col("d"))
  }

  /** Market-basket association rules (Agrawal–Srikant A-priori, the 2-itemset
    * level): for every part pair co-occurring in ≥3 orders, support,
    * confidence P(p2|p1) and lift P(p1,p2)/(P(p1)P(p2)) — in integer basis
    * points (`support·10⁴ div cnt₁`, `support·N·10⁴ div (cnt₁·cnt₂)`) so the
    * ranking is bit-exact with no float division. The pair generation is the
    * one real shuffle (self-join on order key; per-basket cost is O(k²) with
    * k = basket size, bounded by construction); the two marginal tables are
    * vocabulary-sized broadcasts and N a broadcast scalar — at 100 TB the
    * baskets shard by order key and nothing else grows. The long-range bound
    * (support·N·10⁴ < 2⁶³) documents when the lift needs DECIMAL(38).
    */
  val qMarketBasket: Q = Q(
    "q_market_basket",
    """WITH i AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |n AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM i),
      |s AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS cnt FROM i GROUP BY p),
      |pr AS (SELECT a.p AS p1, b.p AS p2, CAST(COUNT(*) AS BIGINT) AS support
      |       FROM i a JOIN i b ON a.o = b.o AND a.p < b.p GROUP BY a.p, b.p)
      |SELECT p1, p2, support,
      |  CAST(support * 10000 // s1.cnt AS BIGINT) AS conf_bp,
      |  CAST(support * n_orders * 10000 // (s1.cnt * s2.cnt) AS BIGINT) AS lift_bp
      |FROM pr JOIN s s1 ON p1 = s1.p JOIN s s2 ON p2 = s2.p, n
      |WHERE support >= 3
      |ORDER BY support DESC, lift_bp DESC, p1, p2 LIMIT 50""".stripMargin) { (spark, dir) =>
    // one shuffle builds the baskets; pair generation is a per-basket HOF
    // (collect_set dedups in-place), replacing the distinct + self-join
    // two-shuffle plan — per-basket cost O(k²) with k the basket size
    // spread the checkpointed basket table to the core count when the input
    // is a narrow small-file scan: AQE coalesces the small basket aggregate
    // to a handful of partitions, and every narrow consumer stage — in
    // particular the O(k²) per-basket pair explode — inherits that width
    // (the q_grid_closest_pair lesson: size partitions for the work, not
    // the bytes). The probe reads the SCAN's split count (plan-only, no
    // execution — probing the aggregate itself would run it under AQE);
    // a real multi-split table at scale skips the extra exchange.
    val P = spark.sparkContext.defaultParallelism
    val li = graft.Tables.lineitem(spark, dir)
    val agg = li.groupBy(col("l_orderkey").as("o"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
    val baskets = graft.operators.Dedup.cachedForReuse(
      if (li.rdd.getNumPartitions < P) agg.repartition(P) else agg)
    val n = baskets.agg(count(lit(1)).as("n_orders"))
    val s = baskets.select(explode(col("ps")).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("cnt"))
    val pairs = baskets
      .select(explode(expr(
        """flatten(transform(ps, (x, ix) ->
          |  transform(slice(ps, ix + 2, size(ps)), y -> struct(x AS p1, y AS p2))))"""
          .stripMargin)).as("pr"))
      .groupBy(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
      .agg(count(lit(1)).as("support"))
    pairs.filter(col("support") >= 3)
      .join(broadcast(s.select(col("p").as("sp1"), col("cnt").as("cnt1"))),
        col("p1") === col("sp1"))
      .join(broadcast(s.select(col("p").as("sp2"), col("cnt").as("cnt2"))),
        col("p2") === col("sp2"))
      .crossJoin(broadcast(n))
      .select(col("p1"), col("p2"), col("support"),
        expr("support * 10000 div cnt1").as("conf_bp"),
        expr("support * n_orders * 10000 div (cnt1 * cnt2)").as("lift_bp"))
      .orderBy(col("support").desc, col("lift_bp").desc, col("p1"), col("p2"))
      .limit(50)
  }

  /** Tick→bar OHLC resampling — the reference's OHLCV domain, built the
    * other way: aggregate raw purchase events into hourly bars (open = value
    * at the earliest (ts, event_id), close at the latest, high/low extrema,
    * exact-decimal volume). The Spark side is ONE hash aggregate using
    * `min_by`/`max_by` keyed by the `struct(t, event_id)` total order — no
    * window, no sort, partial-aggregable on the map side, so bar-building
    * over a 100 TB tick stream is a single shuffle on the bar key. The
    * oracle reaches the same rows via per-bucket ROW_NUMBER (DuckDB lacks
    * struct-ordered arg_min tiebreaks) — two very different plans, same
    * bytes. Times compared in epoch µs (the events table is nanosecond
    * parquet; see Tables.events).
    */
  val qOhlcBars: Q = Q(
    "q_ohlc_bars",
    """WITH e AS (SELECT epoch_us(date_trunc('hour', ts)) AS h, epoch_us(ts) AS t,
      |             event_id, value FROM events WHERE event_type = 'purchase'),
      |r AS (SELECT h, value,
      |        ROW_NUMBER() OVER (PARTITION BY h ORDER BY t, event_id) AS ra,
      |        ROW_NUMBER() OVER (PARTITION BY h ORDER BY t DESC, event_id DESC) AS rd
      |      FROM e)
      |SELECT h, MAX(CASE WHEN ra = 1 THEN value END) AS open,
      |  MAX(value) AS high, MIN(value) AS low,
      |  MAX(CASE WHEN rd = 1 THEN value END) AS close,
      |  CAST(COUNT(*) AS BIGINT) AS n_trades,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume
      |FROM r GROUP BY h ORDER BY h""".stripMargin) { (spark, dir) =>
    import graft.exprs.Exact
    val e = graft.Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(unix_micros(date_trunc("hour", col("ts"))).as("h"),
        unix_micros(col("ts")).as("t"), col("event_id"), col("value"))
    e.groupBy(col("h"))
      .agg(min_by(col("value"), struct(col("t"), col("event_id"))).as("open"),
        max(col("value")).as("high"), min(col("value")).as("low"),
        max_by(col("value"), struct(col("t"), col("event_id"))).as("close"),
        count(lit(1)).as("n_trades"),
        Exact.dsum(col("value")).as("volume"))
      .orderBy(col("h"))
  }

  /** Gaps-and-islands: per-user maximal runs of CONSECUTIVE active days in
    * the click-stream — the activity-streak query (login streaks, SLA
    * uptime runs, coverage gaps). The classic trick: within a user,
    * `day_number − ROW_NUMBER()` is constant exactly along a gap-free run,
    * so islands fall out of one GROUP BY with no self-join and no
    * gap-enumeration blow-up. Plan: distinct (user, day) — shrinks the scan
    * to active-days — then a window and two aggregates all partitioned by
    * `user_id`, so the day-level window never sees more than one user's
    * rows and the whole query is one shuffle on the user key. All values
    * integer/date — exact on any engine.
    */
  val qGapsIslands: Q = Q(
    "q_gaps_islands",
    """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |i AS (SELECT user_id, day,
      |        date_diff('day', DATE '1970-01-01', day)
      |          - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
      |      FROM d),
      |s AS (SELECT user_id, MIN(day) AS start_day, MAX(day) AS end_day,
      |        CAST(COUNT(*) AS BIGINT) AS len
      |      FROM i GROUP BY user_id, grp)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_streaks, MAX(len) AS longest,
      |  MIN(start_day) AS first_day, MAX(end_day) AS last_day
      |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types.LongType
    val d = graft.Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val islands = d
      .withColumn("grp",
        datediff(col("day"), lit(java.sql.Date.valueOf("1970-01-01")))
          .cast(LongType) - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(min(col("day")).as("start_day"), max(col("day")).as("end_day"),
        count(lit(1)).as("len"))
    islands.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_streaks"), max(col("len")).as("longest"),
        min(col("start_day")).as("first_day"), max(col("end_day")).as("last_day"))
      .orderBy(col("user_id"))
  }

  /** RFM segmentation — the classic customer-value cube: per customer
    * Recency (days since last order, relative to the corpus max date),
    * Frequency (order count) and Monetary (exact-decimal lifetime value),
    * each quintiled, then one row per (r,f,m) cell. Quintile boundaries use
    * NTILE's standard distribution over a TOTAL order (metric, custkey), so
    * both engines assign identical buckets; R is ranked with most-recent
    * last (score 5 = best) to match the marketing convention. Plan: one
    * grouped aggregate to customer grain, a broadcast 1-row max date, then
    * THREE [[graft.operators.PrefixSum]] rank scans over the once-
    * materialized customer frame — each a range shuffle + two narrow
    * passes, NO single-partition WindowExec anywhere — with NTILE's
    * larger-buckets-first assignment recovered from the rank in closed
    * form (the m14 arithmetic; the oracle keeps the NTILE window form —
    * different plan, same buckets). A final cell aggregate; cell value
    * re-enters exact decimal before summing, keeping the report
    * order-independent. Local trade, measured at sf0.1: ~2.8 s vs ~0.8 s
    * for the three serialized windows — the scans pay fixed range-shuffle
    * cost that the window form amortizes only while |customers| fits one
    * task; at 100 TB the window form is a single-executor sort × 3 and
    * this one is three bounded-partition scans.
    */
  val qRfm: Q = Q(
    "q_rfm",
    """WITH mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS maxd FROM orders),
      |c AS (SELECT o_custkey AS custkey,
      |        date_diff('day', MAX(CAST(o_orderdate AS DATE)), maxd) AS recency_days,
      |        CAST(COUNT(*) AS BIGINT) AS frequency,
      |        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
      |      FROM orders, mx GROUP BY o_custkey, maxd),
      |s AS (SELECT custkey, recency_days, frequency, monetary,
      |        CAST(NTILE(5) OVER (ORDER BY recency_days DESC, custkey) AS BIGINT) AS r,
      |        CAST(NTILE(5) OVER (ORDER BY frequency, custkey) AS BIGINT) AS f,
      |        CAST(NTILE(5) OVER (ORDER BY monetary, custkey) AS BIGINT) AS m
      |      FROM c)
      |SELECT r, f, m, CAST(COUNT(*) AS BIGINT) AS n_customers,
      |  CAST(SUM(CAST(monetary AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM s GROUP BY r, f, m ORDER BY r, f, m""".stripMargin) { (spark, dir) =>
    import graft.exprs.Exact
    import graft.operators.PrefixSum
    import org.apache.spark.sql.types.LongType
    val orders = graft.Tables.orders(spark, dir)
    val mx = orders.agg(max(to_date(col("o_orderdate"))).as("maxd"))
    // materialized once: three rank scans + the cell aggregate all read it
    val c = orders.crossJoin(broadcast(mx))
      .groupBy(col("o_custkey").as("custkey"), col("maxd"))
      .agg(datediff(col("maxd"), max(to_date(col("o_orderdate")))).as("recency_days"),
        count(lit(1)).as("frequency"),
        Exact.dsum(col("o_totalprice")).as("monetary"),
        // the monetary sort key as an exact integer (cents of the same
        // DECIMAL(18,2) sum): cents/100 → double is exact below 2^53, so
        // ordering by cents ≡ ordering by the double — and an integral
        // first field puts this scan on the prefix-sum kernel's windowed
        // fast path (the R/F scans qualify already)
        (sum(Exact.money(col("o_totalprice"))) * 100)
          .cast(LongType).as("cents"))
      .withColumn("one", lit(1L))
      // r orders most-recent LAST (recency_days DESC): negate for the
      // ascending scan; ties by custkey in every order → unique total order
      .withColumn("ordR",
        struct((-col("recency_days")).cast(LongType), col("custkey")))
      .withColumn("ordF", struct(col("frequency"), col("custkey")))
      .withColumn("ordM", struct(col("cents"), col("custkey")))
      .localCheckpoint(eager = false)
    // NTILE(5) from a 1-based rank in closed form: the first n%5 buckets
    // carry ceil(n/5) rows (SQL NTILE's contract), identical to the window
    // form on any engine — same arithmetic as m14_quantile_binning. All
    // integer `div`; n is a pass-1 literal, so the CASE folds per branch.
    def ntile5(rn0Col: String, n: Long): org.apache.spark.sql.Column = {
      val q = n / 5; val rem = n % 5
      val rn = s"($rn0Col + 1)"
      (if (rem == 0L) expr(s"($rn - 1) div $q + 1")
       else expr(s"CASE WHEN $rn <= ${rem * (q + 1)}" +
         s" THEN ($rn - 1) div ${q + 1} + 1" +
         s" ELSE $rem + ($rn - ${rem * (q + 1)} - 1) div $q + 1 END"))
        .cast(LongType)
    }
    val (s1, n) = PrefixSum.withStartOffsetAndTotal(c, "ordR", "one", "rnR0")
    val s2 = PrefixSum.withStartOffset(s1, "ordF", "one", "rnF0")
    val s3 = PrefixSum.withStartOffset(s2, "ordM", "one", "rnM0")
    s3
      .withColumn("r", ntile5("rnR0", n))
      .withColumn("f", ntile5("rnF0", n))
      .withColumn("m", ntile5("rnM0", n))
      .groupBy(col("r"), col("f"), col("m"))
      .agg(count(lit(1)).as("n_customers"),
        Exact.dsum(col("monetary")).as("total_value"))
      .orderBy(col("r"), col("f"), col("m"))
  }

  /** Pareto / ABC inventory classification: parts ranked by lifetime
    * discounted revenue; class A = parts inside the first 80% of cumulative
    * revenue, B to 95%, C the tail. The cumulative sum is NOT a global
    * window: revenue is scaled to an exact integer (DECIMAL(·,4) × 10⁴) and
    * scanned by [[graft.operators.PrefixSum]] over the (−revenue, partkey)
    * range order — one range shuffle + two narrow passes, no
    * single-partition sort, so the ranking holds where
    * `SUM() OVER (ORDER BY …)` would serialize (the m12/m14 pattern; the
    * oracle uses the window form — different plan, same bytes). Cumulative
    * share is one double division of exact integers → identical class
    * boundaries on both engines. (Int64 revenue units cap at ~9·10¹⁴
    * currency — beyond that the scan needs the DECIMAL variant.)
    */
  val qPareto: Q = Q(
    "q_pareto",
    """WITH p AS (
      |  SELECT l_partkey,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |             (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) * 10000
      |         AS BIGINT) AS rev4
      |  FROM lineitem GROUP BY l_partkey),
      |r AS (SELECT l_partkey, rev4,
      |        CAST(SUM(rev4) OVER (ORDER BY rev4 DESC, l_partkey) AS BIGINT) AS cum4,
      |        CAST(SUM(rev4) OVER () AS BIGINT) AS tot4
      |      FROM p),
      |c AS (SELECT l_partkey, rev4,
      |        CASE WHEN CAST(cum4 AS DOUBLE) / CAST(tot4 AS DOUBLE) <= 0.8 THEN 'A'
      |             WHEN CAST(cum4 AS DOUBLE) / CAST(tot4 AS DOUBLE) <= 0.95 THEN 'B'
      |             ELSE 'C' END AS cls,
      |        CAST(cum4 AS DOUBLE) / CAST(tot4 AS DOUBLE) AS share
      |      FROM r)
      |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_parts,
      |  CAST(SUM(rev4) AS DOUBLE) / 10000 AS revenue, MAX(share) AS cum_share_hi
      |FROM c GROUP BY cls ORDER BY cls""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types._
    val one = lit(new java.math.BigDecimal("1.00"))
    val d2 = DecimalType(18, 2)
    val p = graft.Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg((sum(col("l_extendedprice").cast(d2) * (one - col("l_discount").cast(d2)))
        * 10000).cast(LongType).as("rev4"))
      .withColumn("ord", struct((-col("rev4")).as("nr"), col("l_partkey")))
    // tot4 is NOT a separate aggregate job: the prefix-sum kernel's pass-1
    // per-partition totals are already on the driver, and their sum IS the
    // grand total — injected as a literal, killing one full scan + one
    // crossJoin job (the BENCH_r06 driver-env stall charged per job).
    val (cum0, tot4) = graft.operators.PrefixSum.withStartOffsetAndTotal(
      p, "ord", "rev4", "cum0")
    val cum = cum0.withColumn("cum4", col("cum0") + col("rev4"))
    val share = col("cum4").cast(DoubleType) / lit(tot4).cast(DoubleType)
    cum
      .withColumn("cls",
        when(share <= 0.8, "A").when(share <= 0.95, "B").otherwise("C"))
      .withColumn("share", share)
      .groupBy(col("cls"))
      .agg(count(lit(1)).as("n_parts"),
        (sum(col("rev4")).cast(DoubleType) / 10000).as("revenue"),
        max(col("share")).as("cum_share_hi"))
      .orderBy(col("cls"))
  }

  /** Per-source language-diversity report for a training corpus: document
    * count, distinct languages, Gini impurity (1 − Σp²) and majority-class
    * share. The impurity is computed LOG-FREE (the tx9 rule: ln is not
    * correctly rounded across libms) from exact integer counts —
    * `1 − Σcnt²/total²` is two exact integer aggregates and ONE double
    * division, bit-identical on any engine while Shannon entropy would not
    * be. Plan: two grouped aggregates (source×lang, then source) that share
    * the source key — partial aggregation does the heavy lifting and the
    * report is O(|sources|).
    */
  val qSourceDiversity: Q = Q(
    "q_source_diversity",
    """WITH c AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS cnt
      |           FROM documents GROUP BY source, lang)
      |SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_docs,
      |  CAST(COUNT(*) AS BIGINT) AS n_langs,
      |  1.0 - CAST(SUM(cnt * cnt) AS DOUBLE) / CAST(SUM(cnt) * SUM(cnt) AS DOUBLE)
      |    AS gini_impurity,
      |  CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) AS top_share
      |FROM c GROUP BY source ORDER BY source""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types.DoubleType
    graft.Tables.documents(spark, dir)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_docs"), count(lit(1)).as("n_langs"),
        sum(col("cnt") * col("cnt")).as("sumsq"), max(col("cnt")).as("top_cnt"))
      .select(col("source"), col("n_docs"), col("n_langs"),
        (lit(1.0) - col("sumsq").cast(DoubleType) /
          (col("n_docs") * col("n_docs")).cast(DoubleType)).as("gini_impurity"),
        (col("top_cnt").cast(DoubleType) / col("n_docs").cast(DoubleType))
          .as("top_share"))
      .orderBy(col("source"))
  }

  /** Multi-hop reachability with exact hop distance: BFS from the seed set
    * (parts 1–10) over the q_pagerank co-purchase graph, 3 synchronous
    * rounds, `dist = min hops`. Each round is relax-all (join the FULL
    * frontier-so-far against the edge table, take the min) — at scale the
    * frontier-only variant prunes the join's left side, but the relax-all
    * form is the simpler fixed-point and its oracle is three identical
    * unrolled CTEs, so both engines execute the same arithmetic. The edge
    * table materializes once for the 3 rounds (the q_pagerank invariant);
    * the per-round state is one (node, dist) frame keyed by node — the
    * min-aggregate keeps it a set, never a path list.
    */
  val qReachability: Q = {
    def stepSql(i: Int) =
      s"""r$i AS (SELECT node, CAST(MIN(d) AS BIGINT) AS d FROM (
         |  SELECT node, d FROM r${i - 1}
         |  UNION ALL
         |  SELECT e.v AS node, r${i - 1}.d + 1 AS d
         |  FROM e JOIN r${i - 1} ON e.u = r${i - 1}.node) GROUP BY node)""".stripMargin
    Q(
      "q_reachability",
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
         |      FROM li a JOIN li b
         |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
         |r0 AS (SELECT p_partkey AS node, CAST(0 AS BIGINT) AS d FROM part
         |       WHERE p_partkey <= 10),
         |${(1 to 3).map(stepSql).mkString(",\n")}
         |SELECT node AS l_partkey, d AS dist FROM r3 ORDER BY node""".stripMargin) {
      (spark, dir) =>
        // BFS frontier rounds over the memoized co-occurrence edges
        // ([[Shared.partEdges]]): each round re-roots on a materialized
        // RDD under the static plan (one scheduler job per round — the
        // round body references `dist` twice, union + join, so a carried
        // plan would also double per round).
        val e = Shared.partEdges(spark, dir)
        graft.operators.Dedup.withStaticPlan(spark) {
          var dist = Tables.part(spark, dir)
            .filter(col("p_partkey") <= 10)
            .select(col("p_partkey").as("node"), lit(0L).as("d"))
          for (round <- 1 to 3) {
            val next = dist
              // shuffled-hash on the frontier side — the q_pagerank round
              // treatment: never re-sort the stationary edge partitions
              .unionAll(e.join(dist.hint("shuffle_hash"), col("u") === col("node"))
                .select(col("v").as("node"), (col("d") + 1L).as("d")))
              .groupBy(col("node")).agg(min(col("d")).as("d"))
              .localCheckpoint(true)
            if (round > 1) graft.core.Blocks.release(dist)
            dist = next
          }
          dist.select(col("node").as("l_partkey"), col("d").as("dist"))
            .orderBy(col("l_partkey"))
        }
    }
  }

  /** Exact trailing-7-day rolling distinct users + event volume per observed
    * day ([[graft.operators.Temporal.rollingDistinct]]) — the sliding-window
    * COUNT DISTINCT an HLL dashboard only approximates, kept exact by the
    * bounded ×7 presence-grid fan-out instead of a per-window rescan or a
    * global window. The volume column rides the same fan-out over the
    * (day, count) frame — the window-end semi-join is shared broadcast work.
    */
  val qRollingDistinct: Q = Q(
    "q_rolling_distinct",
    """WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS w_end FROM events),
      |offs AS (SELECT UNNEST(range(0, 7)) AS o),
      |du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
      |u AS (SELECT ex.w_end, CAST(COUNT(DISTINCT ex.user_id) AS BIGINT) AS active_keys
      |      FROM (SELECT du.d + CAST(o.o AS INT) AS w_end, du.user_id
      |            FROM du CROSS JOIN offs o) ex
      |      JOIN days USING (w_end) GROUP BY ex.w_end),
      |dc AS (SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
      |       FROM events GROUP BY 1),
      |e7 AS (SELECT ex.w_end, CAST(SUM(ex.n) AS BIGINT) AS n_events
      |       FROM (SELECT dc.d + CAST(o.o AS INT) AS w_end, dc.n
      |             FROM dc CROSS JOIN offs o) ex
      |       JOIN days USING (w_end) GROUP BY ex.w_end)
      |SELECT w_end, active_keys, n_events FROM u JOIN e7 USING (w_end)
      |ORDER BY w_end""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types.IntegerType
    val ev = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("d"), col("user_id"))
    val act = graft.operators.Temporal.rollingDistinct(ev, "d", "user_id", 7)
    val daily = ev.groupBy(col("d")).agg(count(lit(1)).as("n"))
    val days = daily.select(col("d").as("w_end")).distinct()
    val offsets = spark.range(7).select(col("id").cast(IntegerType).as("o"))
    val e7 = daily.crossJoin(broadcast(offsets))
      .select(date_add(col("d"), col("o")).as("w_end"), col("n"))
      .join(broadcast(days), Seq("w_end"), "left_semi")
      .groupBy(col("w_end")).agg(sum(col("n")).as("n_events"))
    act.join(e7, Seq("w_end"))
      .select(col("w_end"), col("active_keys"), col("n_events"))
      .orderBy(col("w_end"))
  }

  /** Equi-DEPTH histogram (16 buckets of equal row count) of the price
    * column — the profiling complement of [[qHistogram]]'s equi-width form,
    * and the quantile-boundary primitive behind range partitioning and
    * percentile reporting. A global NTILE window would sort the corpus in
    * ONE task — the scale cliff — so the plan instead reduces the corpus to
    * its VALUE GRID (groupBy cents → counts: one bounded-key shuffle), runs
    * the distributed [[graft.operators.PrefixSum]] over the distinct values
    * to get each value's 0-based global rank range [start, start+cnt), and
    * assigns bucket overlap by pure integer arithmetic: ranks in bucket b
    * are [⌈bn/B⌉, ⌈(b+1)n/B⌉), so each value explodes to ≤ its bucket-span
    * rows with an exact overlap count. Per-bucket stats (count, min, max,
    * sum) are tie-order invariant, so the oracle's ROW_NUMBER formulation
    * matches bit-for-bit.
    */
  val qEquiDepthHist: Q = Q(
    "q_equi_depth_hist",
    """WITH v AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM lineitem),
      |n AS (SELECT COUNT(*) AS n FROM v),
      |r AS (SELECT cents, ROW_NUMBER() OVER (ORDER BY cents) - 1 AS r FROM v)
      |SELECT CAST(r.r * 16 // n.n AS BIGINT) AS bucket,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  MIN(cents) AS lo_cents, MAX(cents) AS hi_cents,
      |  CAST(SUM(cents) AS BIGINT) AS total_cents
      |FROM r, n GROUP BY 1 ORDER BY bucket""".stripMargin) { (spark, dir) =>
    val B = 16
    val g = Tables.lineitem(spark, dir)
      .select((col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
        .cast(LongType).as("cents"))
      .groupBy("cents").agg(count(lit(1)).as("cnt"))
    val (pref, n) = graft.operators.PrefixSum
      .withStartOffsetAndTotal(g, "cents", "cnt", "start")
    pref
      .withColumn("b", explode(expr(
        s"sequence(start * $B div ${n}L, (start + cnt - 1) * $B div ${n}L)")))
      .withColumn("lo_r", expr(s"(b * ${n}L + ${B - 1}) div $B"))
      .withColumn("hi_r", expr(s"((b + 1) * ${n}L + ${B - 1}) div $B - 1"))
      .withColumn("ov",
        least(col("hi_r"), col("start") + col("cnt") - 1)
          - greatest(col("lo_r"), col("start")) + 1)
      .groupBy(col("b").cast(LongType).as("bucket"))
      .agg(sum(col("ov")).as("n_rows"),
        min(col("cents")).as("lo_cents"), max(col("cents")).as("hi_cents"),
        sum(col("cents").cast(DecimalType(38, 0)) * col("ov"))
          .cast(LongType).as("total_cents"))
      .orderBy(col("bucket"))
  }

  /** ABC (Pareto-class) inventory classification per market: within each
    * customer nation, brands sort by exact decimal revenue and classify by
    * the cumulative share INCLUDING the current brand — A ≤ 70 %, B ≤ 90 %,
    * C above, with share held as an exact integer in basis points (cum·10⁴
    * div total, both decimal(38,0) cents — no float drift at class
    * boundaries). The window partitions by nation over the AGGREGATED
    * (nation, brand) frame — bounded by the brand catalog per market, not
    * corpus rows, so the per-partition sort stays trivial at 100 TB; the
    * revenue rollup itself is the usual partial-aggregated join star
    * (lineitem⨝orders on orderkey, customer/nation/part broadcast).
    */
  val qAbcByNation: Q = Q(
    "q_abc_by_nation",
    """WITH rev AS (
      |  SELECT n.n_name AS nation, p.p_brand AS brand,
      |    CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100) AS HUGEINT) AS cents
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  JOIN part p ON l.l_partkey = p.p_partkey
      |  GROUP BY 1, 2),
      |w AS (SELECT nation, brand, cents,
      |        SUM(cents) OVER (PARTITION BY nation ORDER BY cents DESC, brand
      |                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |        SUM(cents) OVER (PARTITION BY nation) AS tot
      |      FROM rev)
      |SELECT nation, brand, CAST(cents AS BIGINT) AS cents,
      |  CAST(cum * 10000 // tot AS BIGINT) AS cum_bp,
      |  CASE WHEN cum * 10000 // tot <= 7000 THEN 'A'
      |       WHEN cum * 10000 // tot <= 9000 THEN 'B' ELSE 'C' END AS abc
      |FROM w ORDER BY nation, cents DESC, brand""".stripMargin) { (spark, dir) =>
    val rev = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.part(spark, dir)),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("n_name").as("nation"), col("p_brand").as("brand"))
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
        .cast(DecimalType(38, 0)).as("cents"))
    val byNation = Window.partitionBy("nation")
    val cum = sum(col("cents"))
      .over(byNation.orderBy(col("cents").desc, col("brand"))
        .rowsBetween(Window.unboundedPreceding, 0))
    val tot = sum(col("cents")).over(byNation)
    rev
      .withColumn("cum", cum)
      .withColumn("tot", tot)
      .withColumn("cum_bp", expr("cum * 10000 div tot").cast(LongType))
      .select(col("nation"), col("brand"),
        col("cents").cast(LongType).as("cents"), col("cum_bp"),
        when(col("cum_bp") <= 7000, "A")
          .when(col("cum_bp") <= 9000, "B").otherwise("C").as("abc"))
      .orderBy(col("nation"), col("cents").desc, col("brand"))
  }

  /** Time-BOUNDED funnel (windowFunnel-STYLE, with strict time increase —
    * ClickHouse's default mode also admits equal-timestamp steps; this
    * query's chain requires t_next > t_prev, i.e. the opt-in
    * `strict_increase` behavior): per user,
    * the deepest view → click → purchase chain whose whole span fits in one
    * hour from the anchoring view — unlike [[qFunnel]]'s unbounded
    * earliest-chain semantics, a late purchase does NOT count. Levels come
    * from chain EXISTS joins keyed on user_id (every join shuffles on the
    * same key, so AQE coalesces them into one partitioning; per-user event
    * counts bound the pair fan-out, and at real scale the time bound itself
    * caps candidates — events more than an hour apart never pair, so a
    * time-bucketed variant of the same join stays linear in the stream).
    * The oracle proves the same levels with NO pair join at all: one
    * reversed running-min window yields each event's next-click/next-
    * purchase time (strict via integer-µs RANGE 1 PRECEDING on the DESC
    * order), and a chain exists iff next_click(view) ≤ view+1h and
    * next_purchase(that click) ≤ view+1h — the earliest follow-up is
    * always a witness, so existence is unchanged (58.2 s of per-user pair
    * fan-out at sf0.1 → 0.2 s).
    */
  val qWindowFunnel: Q = Q(
    "q_window_funnel",
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
      |nx AS (SELECT user_id, event_type, t,
      |    MIN(CASE WHEN event_type = 'click' THEN t END) OVER w AS nc,
      |    MIN(CASE WHEN event_type = 'purchase' THEN t END) OVER w AS np
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY t DESC
      |               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |v AS (SELECT user_id, t, nc FROM nx WHERE event_type = 'view'),
      |ck AS (SELECT DISTINCT user_id, t, np FROM nx WHERE event_type = 'click'),
      |lv2 AS (SELECT DISTINCT user_id FROM v WHERE nc <= t + 3600000000),
      |lv3 AS (SELECT DISTINCT v.user_id
      |        FROM v JOIN ck ON ck.user_id = v.user_id AND ck.t = v.nc
      |        WHERE ck.np <= v.t + 3600000000),
      |u AS (SELECT DISTINCT user_id FROM v)
      |SELECT u.user_id,
      |  CAST(CASE WHEN l3.user_id IS NOT NULL THEN 3
      |            WHEN l2.user_id IS NOT NULL THEN 2 ELSE 1 END AS BIGINT) AS level
      |FROM u
      |LEFT JOIN lv2 l2 ON l2.user_id = u.user_id
      |LEFT JOIN lv3 l3 ON l3.user_id = u.user_id
      |ORDER BY u.user_id""".stripMargin) { (spark, dir) =>
    val hourUs = 3600000000L
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("t"))
    val v = e.filter(col("event_type") === "view").select(col("user_id"), col("t"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("t").as("ct"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("t").as("pt"))
    val vc = v.join(c, col("cu") === col("user_id")
      && col("ct") > col("t") && col("ct") <= col("t") + hourUs)
    val lv2 = vc.select(col("user_id")).distinct()
      .withColumn("l2", lit(1))
    val lv3 = vc.join(p, col("pu") === col("user_id")
        && col("pt") > col("ct") && col("pt") <= col("t") + hourUs)
      .select(col("user_id")).distinct()
      .withColumn("l3", lit(1))
    v.select("user_id").distinct()
      .join(lv2, Seq("user_id"), "left")
      .join(lv3, Seq("user_id"), "left")
      .select(col("user_id"),
        when(col("l3").isNotNull, 3L)
          .when(col("l2").isNotNull, 2L).otherwise(1L).as("level"))
      .orderBy(col("user_id"))
  }

  /** Grid-bucketed closest pair over a 2D integer point set (second-of-day ×
    * value cents) — the spatial-join primitive: bucket every point into a
    * C×C grid cell, replicate each point into its 3×3 cell neighborhood on
    * ONE side of the join, and equi-join on the cell key, so candidate
    * generation is a plain hash shuffle (never an all-pairs product) and
    * each unordered pair within the neighborhood is tested exactly once
    * (id₁ < id₂ on the replicated side's match). Semantics are
    * radius-bounded by construction — pairs beyond one cell apart are out
    * of scope on BOTH engines identically — and with real densities the
    * true closest pair is far inside one cell. Winner selection is the
    * lexicographically least (d², id₁, id₂): fully deterministic, one
    * TakeOrdered. At 100 TB the same plan holds with cell statistics
    * choosing C (salting any hot cell); nothing is quadratic in the corpus.
    * The oracle spells out the SAME explode-into-neighborhood equi-join —
    * its earlier `BETWEEN cx±1` form planned as a DuckDB nested-loop
    * (234.9 s at sf0.1 vs 1.5 s equi-joined), identical pair set either way.
    */
  val qGridClosestPair: Q = Q(
    "q_grid_closest_pair",
    """WITH pts AS (SELECT event_id AS id,
      |    epoch_us(ts) // 1000000 % 86400 AS x,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      |  FROM events),
      |cells AS (SELECT id, x, y, x // 500 AS cx, y // 500 AS cy FROM pts),
      |nbr AS (SELECT id AS id2, x AS x2, y AS y2,
      |    cx + u.dx AS jx, cy + v.dy AS jy
      |  FROM cells CROSS JOIN range(-1, 2) u(dx) CROSS JOIN range(-1, 2) v(dy)),
      |pairs AS (SELECT a.id AS id1, b.id2 AS id2,
      |    (a.x - b.x2) * (a.x - b.x2) + (a.y - b.y2) * (a.y - b.y2) AS d2
      |  FROM cells a JOIN nbr b
      |    ON b.jx = a.cx AND b.jy = a.cy AND a.id < b.id2),
      |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
      |          CAST(MIN(d2) AS BIGINT) AS min_d2 FROM pairs),
      |best AS (SELECT CAST(id1 AS BIGINT) AS best_id1, CAST(id2 AS BIGINT) AS best_id2
      |         FROM pairs, agg WHERE d2 = min_d2 ORDER BY id1, id2 LIMIT 1)
      |SELECT CAST((SELECT COUNT(*) FROM pts) AS BIGINT) AS n_points,
      |  agg.n_candidates, agg.min_d2, best.best_id1, best.best_id2
      |FROM agg LEFT JOIN best ON TRUE""".stripMargin) { (spark, dir) =>
    val C = 500L
    val pts = Tables.events(spark, dir).select(
      col("event_id").as("id"),
      expr("unix_micros(ts) div 1000000 % 86400").as("x"),
      (col("value").cast(DecimalType(18, 2)) * 100).cast(LongType).as("y"))
      .withColumn("cx", expr(s"x div $C")).withColumn("cy", expr(s"y div $C"))
      .localCheckpoint(eager = false)
    val nbr = pts.select(col("id").as("id2"), col("x").as("x2"),
        col("y").as("y2"), col("cx").as("cx2"), col("cy").as("cy2"))
      .withColumn("dx", explode(lit(Array(-1, 0, 1))))
      .withColumn("dy", explode(lit(Array(-1, 0, 1))))
      .select(col("id2"), col("x2"), col("y2"),
        (col("cx2") + col("dx")).as("jx"), (col("cy2") + col("dy")).as("jy"))
    // The join's INPUT is tiny (a few MB of point rows) but its OUTPUT is
    // the candidate-pair stream — AQE sizes the post-shuffle partition
    // count from input bytes and coalesced this stage to ~6 tasks at sf0.1,
    // serializing the distance evaluation on a 32-core box (guide §2.2/2.5:
    // size partitions for the work, not the bytes). Pin the cell-key
    // shuffle at defaultParallelism on BOTH sides — explicit user
    // repartitions are exempt from AQE coalescing, and the width tracks
    // the core count at any scale.
    val P = spark.sparkContext.defaultParallelism
    val pairs = pts.repartition(P, col("cx"), col("cy"))
      .join(nbr.repartition(P, col("jx"), col("jy")),
        col("jx") === col("cx") && col("jy") === col("cy")
          && col("id") < col("id2"))
      .select(col("id").as("id1"), col("id2"),
        ((col("x") - col("x2")) * (col("x") - col("x2"))
          + (col("y") - col("y2")) * (col("y") - col("y2"))).as("d2"))
    val nPts = pts.count()
    pairs.agg(
        count(lit(1)).as("n_candidates"),
        // lexicographic struct min ≡ the oracle's ORDER BY d2, id1, id2
        // LIMIT 1 — one aggregate, no second pass over the pair frame
        min(struct(col("d2"), col("id1"), col("id2"))).as("m"))
      .select(lit(nPts).as("n_points"), col("n_candidates"),
        col("m.d2").as("min_d2"),
        col("m.id1").as("best_id1"), col("m.id2").as("best_id2"))
  }

  /** EXACT per-group percentiles (p50/p90/p99) without a corpus sort: the
    * distribution compresses to its per-group VALUE GRID (groupBy (group,
    * cents) — one bounded-key shuffle with map-side combine), cumulative
    * counts come from a window over the grid PARTITIONED by group (each
    * partition is that group's distinct values, not its rows), and
    * percentile p is the smallest value whose cumulative count reaches
    * ⌈p·n/100⌉ — the discrete lower-percentile definition, exact integer
    * arithmetic end to end. This is the profiling shape that replaces
    * `percentile_approx` when the answer must be exact at 100 TB: grid
    * cardinality, not row count, bounds every sort.
    */
  /** Interpolated percentiles per event type
    * ([[graft.operators.Eval.percentileCont]]): PERCENTILE_CONT / pandas
    * default-quantile semantics in exact integer centi-cents —
    * `v[lo]·100 + (v[lo+1] − v[lo])·fn` at the 0-based position p·(n−1)/100.
    * The linear-interpolation companion to q_percentile_report's
    * nearest-rank picks; the oracle spells out the identical integer
    * arithmetic per percentile.
    */
  /** k-core of the purchase co-occurrence graph ([[graft.operators.Dedup
    * .kCore]], k = 3): iteratively peel users with fewer than 3 same-hour
    * co-purchasers until stable, emit survivors with their within-core
    * degree. The oracle replays the peel as ONE recursive CTE whose step
    * recomputes degrees with window counts over the surviving edge set and
    * carries a `go` flag — a round that drops nothing re-emits the fixpoint
    * once with `go = false` and the recursion stops (the w17 discipline:
    * single recursion, strictly linear, no nesting).
    */
  val qKcore: Q = Q(
    "q_kcore",
    """WITH RECURSIVE p AS (SELECT DISTINCT user_id, date_trunc('hour', ts) AS h
      |           FROM events WHERE event_type = 'purchase'),
      |e AS (SELECT DISTINCT a.user_id AS u, b.user_id AS v
      |      FROM p a JOIN p b ON a.h = b.h AND a.user_id < b.user_id),
      |sym AS (SELECT u AS a, v AS b FROM e UNION SELECT v, u FROM e),
      |rec AS (
      |  SELECT 0 AS r, a, b, true AS go FROM sym
      |  UNION ALL
      |  SELECT r + 1, a, b, cnt_new < cnt_old FROM (
      |    SELECT r, a, b, cnt_old, COUNT(*) OVER () AS cnt_new FROM (
      |      SELECT r, a, b, cnt_old FROM (
      |        SELECT r, a, b,
      |          COUNT(*) OVER (PARTITION BY a) AS da,
      |          COUNT(*) OVER (PARTITION BY b) AS db,
      |          COUNT(*) OVER () AS cnt_old
      |        FROM rec WHERE go
      |      ) d WHERE da >= 3 AND db >= 3
      |    ) f
      |  ) g)
      |SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS deg
      |FROM rec WHERE NOT go GROUP BY a ORDER BY node""".stripMargin) { (spark, dir) =>
    graft.operators.Dedup.kCore(
        Shared.purchaseCoEdges(spark, dir), "u", "v", k = 3)
      .orderBy(col("node"))
  }

  /** Per-group Tukey boxplot ([[graft.operators.Eval.boxplot]]): order
    * values by priority — exact quartiles (PERCENTILE_CONT parity,
    * centi-cents), 1.5·IQR fences carried in DOUBLED centi-units so no
    * division ever happens, and low/high outlier counts from a broadcast
    * re-join of the 5-row fence table against the raw values.
    */
  val qBoxplot: Q = {
    def term(p: Int): String = {
      val lo = s"$p * (n - 1) // 100"
      val vlo = s"MIN(CASE WHEN cum >= $lo + 1 THEN v END)"
      val vhi = s"MIN(CASE WHEN cum >= $lo + 2 THEN v END)"
      val fn = s"MAX($p * (n - 1) - ($lo) * 100)"
      s"CAST($vlo * 100 + (COALESCE($vhi, $vlo) - $vlo) * $fn AS BIGINT) AS p${p}_centi"
    }
    Q(
      "q_boxplot",
      s"""WITH src AS (SELECT o_orderpriority AS g,
         |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
         |  FROM orders),
         |grid AS (SELECT g, v, COUNT(*) AS c FROM src GROUP BY 1, 2),
         |w AS (SELECT g, v, c,
         |        SUM(c) OVER (PARTITION BY g ORDER BY v) AS cum,
         |        SUM(c) OVER (PARTITION BY g) AS n FROM grid),
         |q AS (SELECT g, CAST(MAX(n) AS BIGINT) AS n,
         |    ${Seq(25, 50, 75).map(term).mkString(",\n         |    ")}
         |  FROM w GROUP BY g),
         |f AS (SELECT *, p75_centi - p25_centi AS iqr_centi,
         |    2 * p25_centi - 3 * (p75_centi - p25_centi) AS lo_fence_centi_x2,
         |    2 * p75_centi + 3 * (p75_centi - p25_centi) AS hi_fence_centi_x2
         |  FROM q)
         |SELECT f.g AS o_orderpriority, f.n, f.p25_centi, f.p50_centi, f.p75_centi,
         |  f.iqr_centi, f.lo_fence_centi_x2, f.hi_fence_centi_x2,
         |  CAST(SUM(CASE WHEN s.v * 200 < f.lo_fence_centi_x2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_low_outliers,
         |  CAST(SUM(CASE WHEN s.v * 200 > f.hi_fence_centi_x2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_high_outliers
         |FROM f JOIN src s ON s.g = f.g
         |GROUP BY 1, 2, 3, 4, 5, 6, 7, 8
         |ORDER BY o_orderpriority""".stripMargin) { (spark, dir) =>
      val src = Tables.orders(spark, dir).select(
        col("o_orderpriority").as("g"),
        expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)").as("cents"))
      graft.operators.Eval.boxplot(src, "g", "cents")
        .withColumnRenamed("g", "o_orderpriority")
        .orderBy(col("o_orderpriority"))
    }
  }

  val qPercentileCont: Q = {
    val ps = Seq(25, 50, 75, 90, 99)
    def term(p: Int): String = {
      val lo = s"$p * (n - 1) // 100"
      val vlo = s"MIN(CASE WHEN cum >= $lo + 1 THEN v END)"
      val vhi = s"MIN(CASE WHEN cum >= $lo + 2 THEN v END)"
      val fn = s"MAX($p * (n - 1) - ($lo) * 100)"
      s"CAST($vlo * 100 + (COALESCE($vhi, $vlo) - $vlo) * $fn AS BIGINT) AS p${p}_centi"
    }
    Q(
      "q_percentile_cont",
      s"""WITH src AS (SELECT event_type AS g,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v FROM events),
         |grid AS (SELECT g, v, COUNT(*) AS c FROM src GROUP BY 1, 2),
         |w AS (SELECT g, v, c,
         |        SUM(c) OVER (PARTITION BY g ORDER BY v) AS cum,
         |        SUM(c) OVER (PARTITION BY g) AS n FROM grid)
         |SELECT g AS event_type, CAST(MAX(n) AS BIGINT) AS n,
         |  ${ps.map(term).mkString(",\n         |  ")}
         |FROM w GROUP BY g ORDER BY event_type""".stripMargin) { (spark, dir) =>
      val e = graft.Tables.events(spark, dir).select(
        col("event_type").as("g"),
        expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").as("cents"))
      graft.operators.Eval.percentileCont(e, "g", "cents", ps)
        .withColumnRenamed("g", "event_type")
        .orderBy(col("event_type"))
    }
  }

  val qPercentileReport: Q = Q(
    "q_percentile_report",
    """WITH v AS (SELECT event_type AS g,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents FROM events),
      |grid AS (SELECT g, cents, COUNT(*) AS c FROM v GROUP BY 1, 2),
      |w AS (SELECT g, cents, c,
      |        SUM(c) OVER (PARTITION BY g ORDER BY cents) AS cum,
      |        SUM(c) OVER (PARTITION BY g) AS n FROM grid)
      |SELECT g AS event_type, CAST(MAX(n) AS BIGINT) AS n,
      |  MIN(cents) AS min_cents, MAX(cents) AS max_cents,
      |  MIN(CASE WHEN cum >= (n * 50 + 99) // 100 THEN cents END) AS p50_cents,
      |  MIN(CASE WHEN cum >= (n * 90 + 99) // 100 THEN cents END) AS p90_cents,
      |  MIN(CASE WHEN cum >= (n * 99 + 99) // 100 THEN cents END) AS p99_cents
      |FROM w GROUP BY g ORDER BY event_type""".stripMargin) { (spark, dir) =>
    val grid = Tables.events(spark, dir)
      .select(col("event_type").as("g"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast(LongType).as("cents"))
      .groupBy("g", "cents").agg(count(lit(1)).as("c"))
    val byG = Window.partitionBy("g")
    val cum = sum(col("c")).over(byG.orderBy("cents"))
    val n = sum(col("c")).over(byG)
    def pct(p: Int) =
      min(when(col("cum") >= expr(s"(n * $p + 99) div 100"), col("cents")))
        .as(s"p${p}_cents")
    grid.withColumn("cum", cum).withColumn("n", n)
      .groupBy(col("g").as("event_type"))
      .agg(max(col("n")).cast(LongType).as("n"),
        min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"),
        pct(50), pct(90), pct(99))
      .orderBy(col("event_type"))
  }

  /** Benford first-digit screen over order totals — the fraud/data-quality
    * classic: observed leading-digit shares vs the Benford expectation
    * log₁₀(1+1/d), with BOTH sides as integer basis points (the expected
    * shares are nine pinned literals, so no engine evaluates a log). The
    * digit comes from the first character of the cents value's decimal
    * rendering — integer-to-string, identical everywhere, no float log10
    * at power-of-ten boundaries. One groupBy onto nine keys (map-side
    * combinable) plus a nine-row window for the total.
    */
  val qBenford: Q = Q(
    "q_benford",
    """WITH v AS (SELECT substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |    AS VARCHAR), 1, 1) AS digit FROM orders),
      |g AS (SELECT digit, COUNT(*) AS n FROM v GROUP BY digit),
      |t AS (SELECT digit, n, SUM(n) OVER () AS total FROM g)
      |SELECT digit, CAST(n AS BIGINT) AS n,
      |  CAST(n * 10000 // total AS BIGINT) AS obs_bp,
      |  CAST(CASE digit WHEN '1' THEN 3010 WHEN '2' THEN 1760 WHEN '3' THEN 1249
      |    WHEN '4' THEN 969 WHEN '5' THEN 791 WHEN '6' THEN 669 WHEN '7' THEN 579
      |    WHEN '8' THEN 511 ELSE 457 END AS BIGINT) AS benford_bp,
      |  CAST(n * 10000 // total - CASE digit WHEN '1' THEN 3010 WHEN '2' THEN 1760
      |    WHEN '3' THEN 1249 WHEN '4' THEN 969 WHEN '5' THEN 791 WHEN '6' THEN 669
      |    WHEN '7' THEN 579 WHEN '8' THEN 511 ELSE 457 END AS BIGINT) AS dev_bp
      |FROM t ORDER BY digit""".stripMargin) { (spark, dir) =>
    val bp = Seq("1" -> 3010L, "2" -> 1760L, "3" -> 1249L, "4" -> 969L,
      "5" -> 791L, "6" -> 669L, "7" -> 579L, "8" -> 511L)
    val benford = bp.foldLeft(when(lit(false), 0L)) { case (acc, (d, v)) =>
      acc.when(col("digit") === d, v)
    }.otherwise(457L)
    Tables.orders(spark, dir)
      .select(substring((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast(LongType).cast(StringType), 1, 1).as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
      .withColumn("total", sum(col("n")).over(Window.partitionBy()))
      .select(col("digit"), col("n"),
        expr("n * 10000 div total").as("obs_bp"),
        benford.as("benford_bp"),
        (expr("n * 10000 div total") - benford).as("dev_bp"))
      .orderBy(col("digit"))
  }

  /** Referential-integrity audit across the star schema: for each FK edge,
    * the child count and the orphan count (children whose parent key is
    * absent) — the data-quality gate a pipeline runs before trusting joins.
    * Orphans are LEFT ANTI joins on the FK (broadcast where the parent is a
    * dim); each edge is one count aggregate, unioned into a fixed-height
    * report.
    */
  val qRefIntegrity: Q = Q(
    "q_ref_integrity",
    """SELECT * FROM (
      |  SELECT 'lineitem.l_orderkey->orders' AS edge,
      |    (SELECT COUNT(*) FROM lineitem) AS n_child,
      |    (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
      |      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
      |  UNION ALL
      |  SELECT 'lineitem.l_partkey->part',
      |    (SELECT COUNT(*) FROM lineitem),
      |    (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
      |      (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
      |  UNION ALL
      |  SELECT 'lineitem.l_suppkey->supplier',
      |    (SELECT COUNT(*) FROM lineitem),
      |    (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
      |      (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
      |  UNION ALL
      |  SELECT 'orders.o_custkey->customer',
      |    (SELECT COUNT(*) FROM orders),
      |    (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
      |      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
      |  UNION ALL
      |  SELECT 'customer.c_nationkey->nation',
      |    (SELECT COUNT(*) FROM customer),
      |    (SELECT COUNT(*) FROM customer c WHERE NOT EXISTS
      |      (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
      |) ORDER BY edge""".stripMargin) { (spark, dir) =>
    def edge(name: String, child: org.apache.spark.sql.DataFrame,
        childKey: String, parent: org.apache.spark.sql.DataFrame,
        parentKey: String, broadcastParent: Boolean) = {
      // one LEFT join + one aggregate per edge (parent keys are PKs, so the
      // join never fans out) — child count and orphan count from the SAME
      // pass, no separate count() job per edge; the union evaluates all
      // edges in a single action
      val pk = (if (broadcastParent) broadcast(parent) else parent)
        .select(col(parentKey), lit(1).as("__p"))
      child.select(col(childKey))
        .join(pk, col(childKey) === col(parentKey), "left")
        .agg(count(lit(1)).as("n_child"),
          sum(when(col("__p").isNull, 1L).otherwise(0L)).as("n_orphans"))
        .select(lit(name).as("edge"), col("n_child"), col("n_orphans"))
    }
    val li = Tables.lineitem(spark, dir); val o = Tables.orders(spark, dir)
    Seq(
      edge("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey", broadcastParent = false),
      edge("lineitem.l_partkey->part", li, "l_partkey", Tables.part(spark, dir), "p_partkey", broadcastParent = true),
      edge("lineitem.l_suppkey->supplier", li, "l_suppkey", Tables.supplier(spark, dir), "s_suppkey", broadcastParent = true),
      edge("orders.o_custkey->customer", o, "o_custkey", Tables.customer(spark, dir), "c_custkey", broadcastParent = true),
      edge("customer.c_nationkey->nation", Tables.customer(spark, dir), "c_nationkey", Tables.nation(spark, dir), "n_nationkey", broadcastParent = true))
      .reduce(_ unionAll _)
      .orderBy(col("edge"))
  }

  /** Top user journeys: each user's first 8 events (by time, event-id
    * tiebreak) rendered as an ordered `a>b>c` path, then counted — the
    * path-analysis staple behind funnel DISCOVERY (which sequences actually
    * happen, vs [[qFunnel]] which scores a known one). Per-user assembly is
    * one groupBy with a bounded sort_array+slice (≤ the user's events, cut
    * to 8 before any string work); path counting is a second bounded-key
    * groupBy. Both shuffles are map-side combinable; nothing global sorts.
    */
  val qPathAnalysis: Q = Q(
    "q_path_analysis",
    """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id, event_type FROM events),
      |r AS (SELECT user_id, event_type,
      |        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY t, event_id) AS rn
      |      FROM e),
      |p AS (SELECT user_id,
      |        string_agg(event_type, '>' ORDER BY rn) AS path
      |      FROM r WHERE rn <= 8 GROUP BY user_id)
      |SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
      |FROM p GROUP BY path ORDER BY n_users DESC, path""".stripMargin) { (spark, dir) =>
    Tables.events(spark, dir)
      .select(col("user_id"),
        struct(unix_micros(col("ts")).as("t"), col("event_id"),
          col("event_type")).as("s"))
      .groupBy("user_id")
      .agg(concat_ws(">",
        expr("transform(slice(sort_array(collect_list(s)), 1, 8), x -> x.event_type)"))
        .as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
  }

  val all: Seq[Q] = Seq(qSessionize, qRollup, qCube, qGroupingSets, qPivot,
    qWindowFns, qHistogram, qRangeFrame, tx8DocFreq, qScd2, qResampleFfill,
    qCohortRetention, qFunnel, qCepFirstMatch, qMomGrowth, qTrendLine, qSkyline, qTriangles,
    qResampleBySymbol, qPagerank, qEventTransitions, qPeakConcurrency,
    qCusumDrift, qMarketBasket, qOhlcBars, qGapsIslands, qRfm, qPareto,
    qSourceDiversity, qReachability, qRollingDistinct,
    qEquiDepthHist, qAbcByNation, qWindowFunnel, qGridClosestPair,
    qPercentileReport, qBenford, qRefIntegrity, qPathAnalysis, qPercentileCont, qResampleInterp, qDowSeasonality, qPriorityTransitions,
    qKcore, qBoxplot)
}
