package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Technical-indicator window operators mirroring the reference's
  * `technical_indicators` transformer
  * (`/root/reference/src/data_extractor/transformers/finance_transformer.py:35-144`).
  *
  * Component functions (`withSma`, `withBollinger`, `withRsi`, `withMacd`) are
  * reusable over any (partitioned) ordered series; `technicalIndicators`
  * reproduces the reference transformer end-to-end, including its quirks:
  * lowercased column names, dates re-emitted as ISO-8601 UTC strings, numeric
  * coercion with null-on-failure, output column names hardcoded to
  * `sma_50, rsi_14, bb_upper, bb_lower, macd, macd_signal, macd_histogram`
  * regardless of configured periods, and warmup rows (any null indicator)
  * dropped.
  *
  * Scale note: with `partitionCols` (e.g. a symbol column) every window and
  * EMA scan distributes per key. A single global series degrades to one task —
  * correct, and matching the reference's single-series scope.
  *
  * Driver cost: each Dataset step analyzes its plan again, and on a small
  * delivery that analysis outweighs the task compute. Each formula is one
  * column function (`trailingSums`, `smaCol`, `bollingerCols`, `rsiDeltaCol`,
  * `rsiAvgCols`, `rsiCol`, `macdLineCol`, `macdSignalCol`), shared by the
  * four components and by `technicalIndicators`. A component places its
  * columns in one `Dataset.withColumns` per dependent step.
  * `technicalIndicators` does not compose the components. It builds in two
  * window levels and one projection:
  *  1. one `withColumns` of every window over the raw series, which plans
  *     as one WindowExec: the SMA's and the bands' trailing counts and sums
  *     (each computed once), the RSI's lag and the MACD's fast and slow EMAs;
  *  2. one `withColumns` of the three EMAs over level-1 columns: the RSI's
  *     average gain and loss and the MACD signal;
  *  3. one `select` of the formulas over those columns, in the contract's
  *     column order.
  * The expressions are the components', so the values are bit-identical to
  * their composition.
  */
object Indicators {

  final case class Config(
      rsiPeriod: Int = 14,
      smaPeriod: Int = 50,
      bbPeriod: Int = 20,
      bbStd: Double = 2.0,
      macdFast: Int = 12,
      macdSlow: Int = 26,
      macdSignal: Int = 9)

  private def baseWindow(partitionCols: Seq[String], orderCol: String): WindowSpec =
    if (partitionCols.isEmpty) Window.orderBy(orderCol)
    else Window.partitionBy(partitionCols.map(col): _*).orderBy(orderCol)

  private def quoted(name: String): Column = col(s"`${name.replace("`", "``")}`")

  /** The native [[graft.functions.Ewm]] window function over `x`, with the
    * literals the SQL text `ewm(x, alpha, minPeriods)` parses to.
    */
  private def ewm(x: Column, alpha: Double, minPeriods: Int): Column =
    call_function("ewm", x, expr(alpha.toString), lit(minPeriods))

  /** W1 — simple moving average over the trailing `period` rows; null until a
    * full window is present (pandas `rolling(period).mean()`). Exact decimal
    * window sum keeps the value oracle-stable.
    */
  def withSma(
      df: DataFrame, closeCol: String, outCol: String, period: Int,
      orderCol: String, partitionCols: Seq[String] = Nil): DataFrame = {
    val (cnt, s, _) = trailingSums(col(closeCol), period, baseWindow(partitionCols, orderCol))
    df.withColumns(Map(outCol -> smaCol(cnt, s, period)))
  }

  /** The count and sum of `c` over the trailing `period` rows of the base
    * window `w`, and the sum of its squares: the windows of the SMA and the
    * Bollinger bands. Plain double window sums of x and x·x. For
    * integer-valued series (the oracle-checked path — see
    * [[graft.queries.Series]]) these are exact and order-independent; for
    * general series they carry the usual float-sum order caveat, same as
    * pandas' rolling std.
    */
  private def trailingSums(c: Column, period: Int, w: WindowSpec): (Column, Column, Column) = {
    val trailing = w.rowsBetween(-(period - 1), 0)
    (count(c).over(trailing), sum(c).over(trailing), sum(c * c).over(trailing))
  }

  /** The SMA from the trailing count and sum; null until the window is full. */
  private def smaCol(cnt: Column, s: Column, period: Int): Column =
    when(cnt === period, s / period.toDouble)

  /** W3 — Bollinger bands: SMA ± k·(sample stddev) over the trailing window.
    * Variance is computed from exact decimal window sums of x and x², then
    * combined in double — deterministic cross-engine, unlike `stddev_samp`
    * whose accumulation order is engine-internal.
    * Inputs are expected 4-decimal-canonical (see [[graft.exprs.Exact]]).
    *
    * The trailing count, sum and sum of squares are named first, then the
    * bands use them, then the scratch columns go: inline in both bands,
    * each occurrence would be its own window aggregate (10 where 3 differ).
    */
  def withBollinger(
      df: DataFrame, closeCol: String, upperCol: String, lowerCol: String,
      period: Int, k: Double, orderCol: String,
      partitionCols: Seq[String] = Nil): DataFrame = {
    val (cnt, s1, s2) = trailingSums(col(closeCol), period, baseWindow(partitionCols, orderCol))
    val (upper, lower) = bollingerCols(col("__bb_n"), col("__bb_s1"), col("__bb_s2"), period, k)
    df.withColumns(Map("__bb_n" -> cnt, "__bb_s1" -> s1, "__bb_s2" -> s2))
      .withColumns(Map(upperCol -> upper, lowerCol -> lower))
      .drop("__bb_n", "__bb_s1", "__bb_s2")
  }

  /** The upper and lower bands from the trailing count, sum and sum of
    * squares; null until the window is full.
    */
  private def bollingerCols(cnt: Column, s1: Column, s2: Column, period: Int, k: Double): (Column, Column) = {
    val n = period.toDouble
    val mean = s1 / n
    val variance = greatest((s2 - s1 * s1 / n) / (n - 1.0), lit(0.0))
    val std = sqrt(variance)
    (when(cnt === period, mean + lit(k) * std), when(cnt === period, mean - lit(k) * std))
  }

  /** W2 — Wilder RSI: EMA(α=1/period) of gains and losses from one-step price
    * deltas, masked until `period` observations (pandas
    * `ewm(alpha=1/n, min_periods=n, adjust=False)`), then
    * `100 − 100/(1+avgGain/avgLoss)`; all-loss-zero → 100, both-zero → null
    * (pandas 0/0 → NaN, dropped by the transformer's warmup dropna).
    *
    * Both EMAs run through the native [[graft.functions.Ewm]] window function
    * so they share ONE WindowExec (and its shuffle/sort) with each other —
    * the upstream plan stays distributed instead of being funneled through a
    * single-task `mapPartitions` pass per call. [[Ema.withEma]] remains the
    * bit-exact-tested fallback for callers without a window-able plan.
    *
    * Three projections and a drop: the delta (a window), the two EMAs of its
    * gain and loss (windows over it), the ratio of the EMAs (used twice each,
    * so named first rather than computed twice), then the scratch columns go.
    */
  def withRsi(
      df: DataFrame, closeCol: String, outCol: String, period: Int,
      orderCol: String, partitionCols: Seq[String] = Nil): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val w = baseWindow(partitionCols, orderCol)
    val (avgGain, avgLoss) = rsiAvgCols(col("__delta"), period, w)
    df.withColumns(Map("__delta" -> rsiDeltaCol(col(closeCol), w)))
      .withColumns(Map("__avg_gain" -> avgGain, "__avg_loss" -> avgLoss))
      .withColumns(Map(outCol -> rsiCol(col("__avg_gain"), col("__avg_loss"))))
      .drop("__delta", "__avg_gain", "__avg_loss")
  }

  /** The one-step price delta the RSI smooths. */
  private def rsiDeltaCol(c: Column, w: WindowSpec): Column = c - lag(c, 1).over(w)

  /** The RSI's average gain and loss: Wilder EMAs of the positive and
    * negative parts of `delta` (null where the delta is).
    */
  private def rsiAvgCols(delta: Column, period: Int, w: WindowSpec): (Column, Column) = {
    val gain = when(delta > 0, delta).otherwise(when(delta.isNotNull, lit(0.0)))
    val loss = when(delta < 0, -delta).otherwise(when(delta.isNotNull, lit(0.0)))
    val alpha = 1.0 / period.toDouble
    (ewm(gain, alpha, period).over(w), ewm(loss, alpha, period).over(w))
  }

  private def rsiCol(avgGain: Column, avgLoss: Column): Column =
    when(avgLoss === 0.0, when(avgGain > 0.0, lit(100.0)))
      .otherwise(lit(100.0) - lit(100.0) / (lit(1.0) + avgGain / avgLoss))

  /** W4 — MACD: EMA(fast) − EMA(slow) with α = 2/(span+1) seeded at x₀;
    * signal = EMA(signalSpan) of the MACD line; histogram = macd − signal.
    *
    * Fast and slow EMAs evaluate in ONE WindowExec via the native
    * [[graft.functions.Ewm]] window function; the signal EMA (which consumes
    * the MACD line) stacks a second Window over the same spec, reusing the
    * first's partitioning and sort — no second shuffle, and the upstream plan
    * runs distributed exactly once (the previous `Ema.withEma` route funneled
    * the whole upstream into a `coalesce(1)` task twice in sequence). Each
    * output is one projection: the line (both EMAs), the signal (its EMA),
    * the histogram (their difference).
    */
  def withMacd(
      df: DataFrame, closeCol: String,
      macdCol: String, signalCol: String, histCol: String,
      fast: Int, slow: Int, signalSpan: Int,
      orderCol: String, partitionCols: Seq[String] = Nil): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val w = baseWindow(partitionCols, orderCol)
    df.withColumns(Map(macdCol -> macdLineCol(quoted(closeCol), fast, slow, w)))
      .withColumns(Map(signalCol -> macdSignalCol(quoted(macdCol), signalSpan, w)))
      .withColumns(Map(histCol -> (quoted(macdCol) - quoted(signalCol))))
  }

  /** EMA span → α = 2/(span+1). */
  private def spanAlpha(span: Int): Double = 2.0 / (span.toDouble + 1.0)

  private def macdLineCol(c: Column, fast: Int, slow: Int, w: WindowSpec): Column =
    ewm(c, spanAlpha(fast), 0).over(w) - ewm(c, spanAlpha(slow), 0).over(w)

  private def macdSignalCol(line: Column, signalSpan: Int, w: WindowSpec): Column =
    ewm(line, spanAlpha(signalSpan), 0).over(w)

  /** Stochastic oscillator: %K = 100·(close − min(low, kPeriod)) /
    * (max(high, kPeriod) − min(low, kPeriod)), %D = the `dPeriod`-row simple
    * average of %K. Null until each full window is present (pandas
    * `rolling(n)` semantics, matching the other indicators); a flat window
    * (max == min) yields null %K — the 0/0 case pandas renders NaN.
    *
    * Determinism: the rolling extrema are exact SELECTIONS (no float
    * accumulation), so %K is the same IEEE expression over identical inputs
    * in any engine. %D is therefore computed from lagged %K values in a
    * FIXED left-to-right association — `((k₋₂ + k₋₁) + k) / d` — instead of
    * a windowed SUM, whose accumulation order is engine-internal for
    * non-integer doubles (DuckDB's segment tree vs Spark's frame iteration).
    * `dPeriod` is small by definition (3 in every charting convention), so
    * the chain stays shallow.
    *
    * Scale: with `partitionCols` both windows distribute per key — one
    * shuffle on the key, O(period) state per row, no global sort.
    */
  def withStochastic(
      df: DataFrame, highCol: String, lowCol: String, closeCol: String,
      kCol: String, dCol: String, kPeriod: Int, dPeriod: Int,
      orderCol: String, partitionCols: Seq[String] = Nil): DataFrame = {
    require(kPeriod >= 1 && dPeriod >= 1, "stochastic periods must be >= 1")
    val wk = baseWindow(partitionCols, orderCol).rowsBetween(-(kPeriod - 1), 0)
    val w = baseWindow(partitionCols, orderCol)
    val cnt = count(col(closeCol)).over(wk)
    val lo = min(col(lowCol)).over(wk)
    val hi = max(col(highCol)).over(wk)
    val withK = df.withColumn(kCol,
      when(cnt === kPeriod && hi =!= lo,
        lit(100.0) * (col(closeCol) - lo) / (hi - lo)))
    // fixed-association mean of the last dPeriod %K values, null unless all
    // dPeriod lags are full-window values
    val terms = (dPeriod - 1) to 0 by -1 map (i =>
      if (i == 0) col(kCol) else lag(col(kCol), i).over(w))
    val dSum = terms.reduceLeft(_ + _) // left-assoc: ((k₋ₙ₊₁ + …) + k)
    withK.withColumn(dCol, dSum / dPeriod.toDouble)
  }

  /** Average true range: TR = max(high−low, |high−prevClose|, |low−prevClose|)
    * (first row: high−low — no prior close), smoothed by the Wilder
    * EMA(α = 1/period) with `min_periods = period` (pandas
    * `tr.ewm(alpha=1/n, adjust=False, min_periods=n).mean()`), so the first
    * period−1 rows are null. Runs through the native [[graft.functions.Ewm]]
    * window function — the lag and the smoothing share one WindowExec, and
    * with `partitionCols` the whole thing distributes per key. Integer-valued
    * OHLC series keep TR integral → the recursion is the identical IEEE
    * sequence in any engine.
    */
  def withAtr(
      df: DataFrame, highCol: String, lowCol: String, closeCol: String,
      outCol: String, period: Int,
      orderCol: String, partitionCols: Seq[String] = Nil): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val w = baseWindow(partitionCols, orderCol)
    val prevClose = lag(col(closeCol), 1).over(w)
    val range = col(highCol) - col(lowCol)
    val tr = when(prevClose.isNull, range)
      .otherwise(greatest(range,
        abs(col(highCol) - prevClose), abs(col(lowCol) - prevClose)))
    df.withColumn("__tr", tr)
      .withColumn(outCol, expr(s"ewm(__tr, ${1.0 / period.toDouble}, $period)").over(w))
      .drop("__tr")
  }

  /** Keltner channels: middle = EMA(typical price, emaPeriod) with the
    * standard α = 2/(n+1), bands = middle ± mult·ATR(atrPeriod) — the
    * volatility envelope that pairs trend (EMA) with gap-aware range
    * ([[withAtr]]'s Wilder TR). Both recursions run through the native
    * [[graft.functions.Ewm]] window function over ONE shared WindowExec
    * (same partition/order), so per-symbol the whole channel is a single
    * keyed sort — the [[withAtr]] scale shape. Typical price (h+l+c)/3 and
    * the band arithmetic are fixed IEEE op sequences, so a recursive-CTE
    * oracle reproduces them bit-for-bit.
    */
  def withKeltner(
      df: DataFrame, highCol: String, lowCol: String, closeCol: String,
      outPrefix: String, emaPeriod: Int, atrPeriod: Int, mult: Double,
      orderCol: String, partitionCols: Seq[String] = Nil): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val w = baseWindow(partitionCols, orderCol)
    val alpha = 2.0 / (emaPeriod + 1).toDouble
    val atr = withAtr(df, highCol, lowCol, closeCol, "__kc_atr", atrPeriod,
      orderCol, partitionCols)
    atr
      .withColumn("__tp",
        (col(highCol) + col(lowCol) + col(closeCol)) / 3.0)
      .withColumn(s"${outPrefix}_mid",
        expr(s"ewm(__tp, $alpha, $emaPeriod)").over(w))
      .withColumn(s"${outPrefix}_up",
        col(s"${outPrefix}_mid") + lit(mult) * col("__kc_atr"))
      .withColumn(s"${outPrefix}_lo",
        col(s"${outPrefix}_mid") - lit(mult) * col("__kc_atr"))
      .drop("__tp", "__kc_atr")
  }

  /** Donchian channels: upper/lower = rolling max(high)/min(low) over the
    * trailing `period` rows (full windows only), middle = their midpoint.
    * Pure exact selections — no accumulation, so any engine agrees on any
    * data — in one keyed window sort shared by both extrema.
    */
  def withDonchian(
      df: DataFrame, highCol: String, lowCol: String, outPrefix: String,
      period: Int, orderCol: String, partitionCols: Seq[String] = Nil): DataFrame = {
    val w = baseWindow(partitionCols, orderCol).rowsBetween(-(period - 1), 0)
    val full = count(col(highCol)).over(w) === period
    val up = when(full, max(col(highCol)).over(w))
    val lo = when(full, min(col(lowCol)).over(w))
    df.withColumn(s"${outPrefix}_up", up)
      .withColumn(s"${outPrefix}_lo", lo)
      .withColumn(s"${outPrefix}_mid",
        (col(s"${outPrefix}_up") + col(s"${outPrefix}_lo")) / 2.0)
  }

  /** Ichimoku Kinkō Hyō: tenkan/kijun = midpoints of trailing 9/26-row
    * extrema, senkou A = the tenkan/kijun midpoint displaced 26 rows back
    * (lag — the "cloud" edge the CURRENT row sees), senkou B = the 52-row
    * extrema midpoint displaced 26, chikou = the close 26 rows AHEAD
    * (lead). Everything is exact rolling extrema, halvings and row
    * shifts — no accumulation anywhere, bit-stable on any engine — and
    * ALL six columns ride ONE keyed window sort (same partition/order
    * spec throughout). Full-window-only: each column is null until its
    * lookback (or lookahead) exists.
    */
  def withIchimoku(
      df: DataFrame, highCol: String, lowCol: String, closeCol: String,
      orderCol: String, partitionCols: Seq[String] = Nil): DataFrame = {
    val base = baseWindow(partitionCols, orderCol)
    def mid(p: Int) = {
      val w = base.rowsBetween(-(p - 1), 0)
      when(count(col(highCol)).over(w) === p,
        (max(col(highCol)).over(w) + min(col(lowCol)).over(w)) / 2.0)
    }
    df.withColumn("tenkan", mid(9))
      .withColumn("kijun", mid(26))
      .withColumn("__mid52", mid(52)) // named first: lag-of-window can't nest
      .withColumn("senkou_a", lag((col("tenkan") + col("kijun")) / 2.0, 26).over(base))
      .withColumn("senkou_b", lag(col("__mid52"), 26).over(base))
      .withColumn("chikou", lead(col(closeCol), 26).over(base))
      .drop("__mid52")
  }

  /** Rolling volume-weighted average price over the trailing `period` rows:
    * Σ(close·volume) / Σ(volume); null until a full window. For
    * integer-valued close and volume both window sums are exact in any
    * accumulation order (products stay below 2⁵³), so the final division is
    * the only float op — oracle-stable without decimal casts.
    */
  def withVwap(
      df: DataFrame, closeCol: String, volumeCol: String, outCol: String,
      period: Int, orderCol: String, partitionCols: Seq[String] = Nil): DataFrame = {
    val w = baseWindow(partitionCols, orderCol).rowsBetween(-(period - 1), 0)
    val cnt = count(col(closeCol)).over(w)
    val pv = sum(col(closeCol) * col(volumeCol)).over(w)
    val v = sum(col(volumeCol)).over(w)
    df.withColumn(outCol, when(cnt === period && v =!= 0.0, pv / v))
  }

  /** Wilder's ADX (Average Directional Index): directional movement
    * (+DM/−DM) and true range each Wilder-smoothed (α = 1/period), the
    * directional indicators ±DI = 100·smDM/smTR, DX = 100·|+DI − −DI| /
    * (+DI + −DI), and ADX = the SAME smoothing applied to DX — a
    * two-stage recursion. All four recursions run through the native
    * [[graft.functions.Ewm]] window function: stage one shares a single
    * keyed WindowExec (three ewm calls over one sort), stage two reuses
    * the same partitioning. Every derived value is a fixed IEEE op
    * sequence over the smoothed states, so a recursive-CTE oracle
    * replaying the identical expressions is bit-exact (the w2/w12
    * discipline). Convention: TR and ±DM are NULL on each key's first row
    * (no previous bar), so all smoothings seed at row 2 and, with
    * `minPeriods = period`, ±DI/DX first emit at row period+1 and ADX at
    * row 2·period. Zero smoothed denominators emit NULL (guarded, not
    * thrown); they cannot occur once a nonzero observation seeds the
    * state.
    */
  def withAdx(
      df: DataFrame, highCol: String, lowCol: String, closeCol: String,
      outPrefix: String, period: Int,
      orderCol: String, partitionCols: Seq[String] = Nil): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val w = baseWindow(partitionCols, orderCol)
    val a = 1.0 / period.toDouble
    val (h, l, c) = (col(highCol), col(lowCol), col(closeCol))
    val ph = lag(h, 1).over(w); val pl = lag(l, 1).over(w)
    val pc = lag(c, 1).over(w)
    val up = h - ph; val dn = pl - l
    val base = df
      .withColumn("__tr", when(pc.isNotNull,
        greatest(h - l, abs(h - pc), abs(l - pc))))
      .withColumn("__pdm", when(pc.isNotNull,
        when(up > dn && up > 0.0, up).otherwise(0.0)))
      .withColumn("__mdm", when(pc.isNotNull,
        when(dn > up && dn > 0.0, dn).otherwise(0.0)))
      .withColumn("__str", expr(s"ewm(__tr, $a, $period)").over(w))
      .withColumn("__spdm", expr(s"ewm(__pdm, $a, $period)").over(w))
      .withColumn("__smdm", expr(s"ewm(__mdm, $a, $period)").over(w))
      .withColumn(s"${outPrefix}_pdi",
        when(col("__str") =!= 0.0, lit(100.0) * col("__spdm") / col("__str")))
      .withColumn(s"${outPrefix}_mdi",
        when(col("__str") =!= 0.0, lit(100.0) * col("__smdm") / col("__str")))
      .withColumn("__dx", {
        val pdi = col(s"${outPrefix}_pdi"); val mdi = col(s"${outPrefix}_mdi")
        when(pdi + mdi =!= 0.0, lit(100.0) * abs(pdi - mdi) / (pdi + mdi))
      })
    base
      .withColumn(s"${outPrefix}_adx", expr(s"ewm(__dx, $a, $period)").over(w))
      .withColumn(s"${outPrefix}_dx", col("__dx"))
      .drop("__tr", "__pdm", "__mdm", "__str", "__spdm", "__smdm", "__dx")
  }

  /** Parabolic SAR per key through the native [[graft.functions.Psar]]
    * window state machine — one keyed WindowExec, no reshuffle beyond the
    * window sort. Appends `{outPrefix}_sar` (DOUBLE) and `{outPrefix}_up`
    * (BOOLEAN trend); each key's first row emits NULL (warmup — the seed
    * bar has no SAR). See [[graft.functions.Psar]] for the pinned variant
    * semantics and the bit-exactness argument.
    */
  def withPsar(
      df: DataFrame, highCol: String, lowCol: String,
      outPrefix: String, orderCol: String,
      partitionCols: Seq[String] = Nil,
      af0: Double = 0.02, step: Double = 0.02, afMax: Double = 0.2): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val w = baseWindow(partitionCols, orderCol)
    df.withColumn("__ps",
        expr(s"psar($highCol, $lowCol, $af0, $step, $afMax)").over(w))
      .withColumn(s"${outPrefix}_sar", col("__ps.sar"))
      .withColumn(s"${outPrefix}_up", col("__ps.up"))
      .drop("__ps")
  }

  /** SuperTrend per key: Wilder ATR (native [[graft.functions.Ewm]] over
    * TR, `minPeriods = period` warmup) → basic bands
    * `(h+l)/2 ± mult·ATR` → the final-band conditional-carry recursion
    * and trend flips through the native
    * [[graft.functions.SuperTrend]] window state machine. Both
    * recursions share ONE keyed WindowExec sort. Appends
    * `{outPrefix}_fub/_flb/_line/_up`; rows in the ATR warmup emit NULL.
    * Every emitted double is a fixed IEEE sequence over the carried
    * state, so a single recursive CTE carrying (smoothed TR, fub, flb,
    * up, prev close) replays it bit-for-bit — the w17_adx discipline.
    */
  def withSupertrend(
      df: DataFrame, highCol: String, lowCol: String, closeCol: String,
      outPrefix: String, period: Int, mult: Double,
      orderCol: String, partitionCols: Seq[String] = Nil): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val w = baseWindow(partitionCols, orderCol)
    val a = 1.0 / period.toDouble
    val (h, l, c) = (col(highCol), col(lowCol), col(closeCol))
    val pc = lag(c, 1).over(w)
    df
      .withColumn("__tr", when(pc.isNotNull,
        greatest(h - l, abs(h - pc), abs(l - pc))))
      .withColumn("__atr", expr(s"ewm(__tr, $a, $period)").over(w))
      .withColumn("__bub", (h + l) / 2.0 + lit(mult) * col("__atr"))
      .withColumn("__blb", (h + l) / 2.0 - lit(mult) * col("__atr"))
      .withColumn("__st", expr(s"supertrend(__bub, __blb, $closeCol)").over(w))
      .withColumn(s"${outPrefix}_fub", col("__st.fub"))
      .withColumn(s"${outPrefix}_flb", col("__st.flb"))
      .withColumn(s"${outPrefix}_line", col("__st.line"))
      .withColumn(s"${outPrefix}_up", col("__st.up"))
      .drop("__tr", "__atr", "__bub", "__blb", "__st")
  }

  /** Commodity Channel Index over an integer-valued typical-price column,
    * as an EXACT integer rational: CCI = (tp − SMA) / (0.015 · MAD), where
    * MAD is the mean absolute deviation of the window's prices from the
    * window's own mean. Clearing denominators (n = period, S = window sum):
    * CCI = 200·n·(n·tp − S) / (3·Σⱼ|n·tpⱼ − S|), so cci_centi
    * (hundredths) = 20000·n·(n·tp − S) div (3·Σ|…|), with the sign split
    * out before the division (truncate-vs-floor parity on negatives — the
    * [[graft.operators.Eval.ordinalAssociation]] rule). NULL until a full
    * window and when the window is constant (MAD = 0).
    *
    * The MAD term references the CURRENT row's window sum inside the
    * neighbor iteration, which no plain window aggregate expresses — it
    * runs as a codegen'd higher-order `aggregate` over the window's
    * `collect_list` (a `period`-element array per row, partition-local;
    * nothing shuffles beyond the window sort itself).
    *
    * Magnitude bound (the [[graft.operators.Eval.spearmanRho]]
    * discipline): the numerator `20000·n·(n·tp − S)` and the MAD
    * accumulator stay in plain Long arithmetic, so typical prices must
    * satisfy |tp| < 2⁶³ / (2·10⁴·n²) — ≈10¹² integer units at n = 20.
    * Under the session's default ANSI mode an excursion beyond the bound
    * THROWS rather than wrapping; widen `__tp` to decimal(38,0) if a
    * caller genuinely needs larger values.
    */
  def withCci(
      df: DataFrame, tpCol: String, outCol: String, period: Int,
      orderCol: String, partitionCols: Seq[String] = Nil): DataFrame = {
    val w = baseWindow(partitionCols, orderCol).rowsBetween(-(period - 1), 0)
    val tp = col(tpCol).cast(org.apache.spark.sql.types.LongType)
    df.withColumn("__tp", tp)
      .withColumn("__cnt", count(col(tpCol)).over(w))
      .withColumn("__s", sum(tp).over(w))
      .withColumn("__vals", collect_list(col("__tp")).over(w))
      .withColumn("__mad_n",
        expr(s"aggregate(__vals, 0L, (a, v) -> a + abs($period * v - __s))"))
      .withColumn(outCol,
        when(col("__cnt") === period && col("__mad_n") =!= 0,
          (when(expr(s"$period * __tp - __s") >= 0, 1L).otherwise(-1L) *
            expr(s"abs(20000 * $period * ($period * __tp - __s)) div (3 * __mad_n)"))
            .cast(org.apache.spark.sql.types.LongType)))
      .drop("__tp", "__cnt", "__s", "__vals", "__mad_n")
  }

  /** Aroon oscillator over INTEGER-valued high/low columns: how recently
    * did the trailing `period+1`-bar window set its high/low?
    * `aroon_up = (period − bars_since_high)·10⁴ div period` (basis points;
    * 10⁴ = high set this bar, 0 = high is `period` bars old), same for
    * down with the window low, plus the oscillator up − down. NULL until
    * a full window. Ties (the same extreme hit twice) resolve to the MOST
    * RECENT bar on both sides — pinned, not engine luck, via the composite
    * integer key trick: the argmax is decoded from one plain MAX over the
    * frame of `h·10⁹ + rn` (max picks the highest h, then the largest rn),
    * and the argmin from one MIN of `l·10⁹ + (10⁸ − rn)` — no arg_max
    * (whose tie rule differs by engine), no second pass, no collect. Needs
    * NON-NEGATIVE values (the decode uses truncated %, whose sign follows
    * the dividend) below 2⁶³/10⁹ ≈ 9·10⁹ integer units, and rn < 10⁸ per
    * key (ANSI mode throws past the upper bound rather than wrapping).
    *
    * Scale: two plain MIN/MAX frame aggregates and a row_number sharing
    * one WindowExec — per-key sort, O(1) state per row, distributes like
    * every other indicator here.
    */
  def withAroon(
      df: DataFrame, highCol: String, lowCol: String, outPrefix: String,
      period: Int, orderCol: String, partitionCols: Seq[String] = Nil): DataFrame = {
    require(period >= 1, "aroon period must be >= 1")
    val w = baseWindow(partitionCols, orderCol)
    val wf = w.rowsBetween(-period, 0)
    val K = 1000000000L
    val BIG = 100000000L
    val rn = row_number().over(w)
    val out = df
      .withColumn("__rn", rn.cast(LongType))
      .withColumn("__cnt", count(lit(1)).over(wf))
      .withColumn("__hk",
        max(col(highCol).cast(LongType) * K + col("__rn")).over(wf))
      .withColumn("__lk",
        min(col(lowCol).cast(LongType) * K + (lit(BIG) - col("__rn"))).over(wf))
      .withColumn(s"${outPrefix}_up",
        when(col("__cnt") === period + 1,
          expr(s"($period - (__rn - __hk % ${K}L)) * 10000 div $period")))
      .withColumn(s"${outPrefix}_dn",
        when(col("__cnt") === period + 1,
          expr(s"($period - (__rn - (${BIG}L - __lk % ${K}L))) * 10000 div $period")))
    out
      .withColumn(s"${outPrefix}_osc",
        col(s"${outPrefix}_up") - col(s"${outPrefix}_dn"))
      .drop("__rn", "__cnt", "__hk", "__lk")
  }

  /** Vortex Indicator over INTEGER-valued OHLC columns: VI⁺ = Σ|Hₜ −
    * Lₜ₋₁| / ΣTR and VI⁻ = Σ|Lₜ − Hₜ₋₁| / ΣTR over the trailing `period`
    * rows (TR = Wilder true range), emitted in exact basis points —
    * integer-valued bars keep every |·| term and every window sum
    * integral, so `vm⁺·10⁴ div tr_sum` needs no float at all. NULL until
    * `period` full VM terms exist (the first bar has no previous close)
    * and when the TR sum is zero (flat window). Two window sums + the lag
    * share ONE WindowExec; per-symbol everything distributes.
    */
  def withVortex(
      df: DataFrame, highCol: String, lowCol: String, closeCol: String,
      outPrefix: String, period: Int,
      orderCol: String, partitionCols: Seq[String] = Nil): DataFrame = {
    require(period >= 1, "vortex period must be >= 1")
    val w = baseWindow(partitionCols, orderCol)
    val wf = w.rowsBetween(-(period - 1), 0)
    val h = col(highCol).cast(LongType); val l = col(lowCol).cast(LongType)
    val ph = lag(h, 1).over(w); val pl = lag(l, 1).over(w)
    val pc = lag(col(closeCol).cast(LongType), 1).over(w)
    val out = df
      .withColumn("__vmp", abs(h - pl))
      .withColumn("__vmm", abs(l - ph))
      .withColumn("__tr",
        when(pc.isNull, lit(null).cast(LongType))
          .otherwise(greatest(h - l, abs(h - pc), abs(l - pc))))
      .withColumn("__cnt", count(col("__tr")).over(wf))
      .withColumn("__vps", sum(col("__vmp")).over(wf))
      .withColumn("__vms", sum(col("__vmm")).over(wf))
      .withColumn("__trs", sum(col("__tr")).over(wf))
    out
      .withColumn(s"${outPrefix}_plus_bp",
        when(col("__cnt") === period && col("__trs") > 0,
          expr(s"__vps * 10000 div __trs")))
      .withColumn(s"${outPrefix}_minus_bp",
        when(col("__cnt") === period && col("__trs") > 0,
          expr(s"__vms * 10000 div __trs")))
      .drop("__vmp", "__vmm", "__tr", "__cnt", "__vps", "__vms", "__trs")
  }

  /** Holt linear-trend (double exponential) smoothing per key — level,
    * trend, and the one-step-ahead fitted value ŷ_t = l_{t−1} + b_{t−1},
    * the forecasting-pass primitive (Hyndman & Athanasopoulos §8.2) that
    * no single EWMA expresses because level and trend feed each other.
    * Runs through the native [[graft.functions.HoltLinear]] window state
    * machine: ONE keyed WindowExec, no reshuffle beyond the window sort.
    * Seed at the first row: l = y, b = 0 (fitted NULL there); every
    * later update is the fixed IEEE sequence `α·y + (1−α)·(l+b)` then
    * `β·(l_new − l) + (1−β)·b`, so a single recursive CTE carrying
    * (l, b) replays it bit-for-bit (the w17_adx single-CTE discipline).
    * Appends `{outPrefix}_level/_trend/_fitted`.
    */
  def withHolt(
      df: DataFrame, valueCol: String, outPrefix: String,
      alpha: Double, beta: Double,
      orderCol: String, partitionCols: Seq[String] = Nil): DataFrame = {
    require(alpha > 0 && alpha <= 1 && beta >= 0 && beta <= 1,
      "holt: need 0 < alpha <= 1 and 0 <= beta <= 1")
    graft.functions.GraftFunctions.register(df.sparkSession)
    val w = baseWindow(partitionCols, orderCol)
    df.withColumn("__h", expr(s"holt($valueCol, $alpha, $beta)").over(w))
      .withColumn(s"${outPrefix}_level", col("__h.level"))
      .withColumn(s"${outPrefix}_trend", col("__h.trend"))
      .withColumn(s"${outPrefix}_fitted", col("__h.fitted"))
      .drop("__h")
  }

  /** TRIX — the 1-step rate of change of a TRIPLE exponential smoothing:
    * e1 = EMA(close), e2 = EMA(e1), e3 = EMA(e2) (all α = 2/(span+1),
    * `adjust=False`, seeded at the first close), then
    * trix = 100·(e3 − e3₋₁)/e3₋₁ (null on the first row and when
    * e3₋₁ = 0). Also emits the e3 line itself (`<out>_e3`) — charting
    * convention pairs them.
    *
    * The three stacked smoothings run through the native
    * [[graft.functions.Ewm]] window function over ONE window spec — Spark
    * chains them as successive Window projections reusing the first's
    * partitioning and sort, so the plan shuffles once per `partitionCols`
    * key set and never funnels through a single task (except the
    * mathematically forced single-series case, see docs/SCALE.md).
    *
    * Determinism: each update is the identical `α·x + (1−α)·y` IEEE
    * sequence; with α exactly representable (e.g. span 15 → α = 0.125)
    * every double matches a single recursive replay carrying (e1, e2, e3)
    * bit-for-bit — the fused-state oracle shape that keeps a SQL replay
    * strictly linear (the w17_adx lesson: never nest one recursion inside
    * another's step).
    */
  def withTrix(
      df: DataFrame, closeCol: String, outCol: String, span: Int,
      orderCol: String, partitionCols: Seq[String] = Nil): DataFrame = {
    require(span >= 1, "trix span must be >= 1")
    graft.functions.GraftFunctions.register(df.sparkSession)
    val alpha = 2.0 / (span.toDouble + 1.0)
    val w = baseWindow(partitionCols, orderCol)
    val e3Col = s"${outCol}_e3"
    df.withColumn("__trix_e1", expr(s"ewm(`$closeCol`, $alpha, 0)").over(w))
      .withColumn("__trix_e2", expr(s"ewm(__trix_e1, $alpha, 0)").over(w))
      .withColumn(e3Col, expr(s"ewm(__trix_e2, $alpha, 0)").over(w))
      .withColumn("__trix_pe3", lag(col(e3Col), 1).over(w))
      .withColumn(outCol,
        when(col("__trix_pe3") =!= 0.0,
          lit(100.0) * (col(e3Col) - col("__trix_pe3")) / col("__trix_pe3")))
      .drop("__trix_e1", "__trix_e2", "__trix_pe3")
  }

  /** Chaikin Money Flow (public literature): volume-weighted accumulation
    * pressure over a trailing window,
    * `CMF = Σ mfv / Σ vol` with `mfv = ((c−l) − (h−c))/(h−l) · vol`.
    * Exact-integer convention on integer-valued bars: per bar,
    * `mfv_bp = (2c − h − l)·10⁴·vol div (h − l)` (truncating; 0 when
    * h = l — the flat-bar convention), then
    * `cmf_bp = Σ mfv_bp div Σ vol` over the window. Both Spark `div` and
    * DuckDB `//` truncate toward zero, so the negative-pressure bars are
    * safe. Full-window-only; one keyed WindowExec.
    */
  def withCmf(
      df: DataFrame, highCol: String, lowCol: String, closeCol: String,
      volCol: String, outCol: String, period: Int,
      orderCol: String, partitionCols: Seq[String] = Nil): DataFrame = {
    require(period >= 1, "cmf period must be >= 1")
    val w = baseWindow(partitionCols, orderCol).rowsBetween(-(period - 1), 0)
    val mfv = when(col(highCol) =!= col(lowCol),
      expr(s"((2 * $closeCol - $highCol - $lowCol) * 10000 * $volCol)" +
        s" div ($highCol - $lowCol)")).otherwise(lit(0L))
    df.withColumn("__cmf_mfv", mfv)
      .withColumn("__cmf_sum", sum(col("__cmf_mfv")).over(w))
      .withColumn("__cmf_vol", sum(col(volCol)).over(w))
      .withColumn(outCol,
        when(count(col(closeCol)).over(w) === period && col("__cmf_vol") =!= 0L,
          expr("__cmf_sum div __cmf_vol")))
      .drop("__cmf_mfv", "__cmf_sum", "__cmf_vol")
  }

  /** Ulcer Index (Peter Martin's drawdown-depth risk measure — public
    * literature; the pandas_ta rolling-max convention): per row, the
    * drawdown from the trailing `period`-bar rolling maximum in integer
    * basis points, `dd_bp = (rollmax − close)·10000 div rollmax`, then
    * the index is the quadratic mean `sqrt(Σ dd_bp² / period)` of the
    * trailing `period` drawdowns.
    *
    * Exactness: `closeCol` must be POSITIVE integer-valued Longs (the
    * bars convention), so dd_bp is a truncating division of non-negative
    * Longs — identical in Spark's `div` and DuckDB's `//` — and
    * Σ dd_bp² is exact Long arithmetic (dd_bp ≤ 10⁴ ⇒ the sum is ≤
    * period·10⁸, far inside 2⁶³). Only the final `/period` and `sqrt`
    * pass through doubles — each ONE correctly-rounded IEEE op, so the
    * output is bit-stable cross-engine. Full-window-only on BOTH stages
    * (pandas rolling semantics): dd_bp is null until `period` bars
    * exist, the index until `period` drawdowns exist (row 2·period−1).
    *
    * Both stages ride the same keyed sort (one shuffle, stacked
    * WindowExec, second sort elided). Scale: partitions by the symbol
    * key; no joins, nothing global.
    */
  def withUlcer(
      df: DataFrame, closeCol: String, outPrefix: String, period: Int,
      orderCol: String, partitionCols: Seq[String] = Nil): DataFrame = {
    require(period >= 1, "ulcer period must be >= 1")
    val w = baseWindow(partitionCols, orderCol).rowsBetween(-(period - 1), 0)
    val ddCol = s"${outPrefix}_dd_bp"
    df.withColumn("__ui_rm", max(col(closeCol)).over(w))
      .withColumn(ddCol,
        when(count(col(closeCol)).over(w) === period,
          expr(s"((__ui_rm - $closeCol) * 10000L) div __ui_rm")))
      .withColumn(s"${outPrefix}_ui",
        when(count(col(ddCol)).over(w) === period,
          sqrt(sum(col(ddCol) * col(ddCol)).over(w).cast("double") / period.toDouble)))
      .drop("__ui_rm")
  }

  /** Stochastic RSI (Chande & Kroll, "The New Technical Trader", 1994 —
    * public literature): RSI re-normalized to its own trailing
    * `stochPeriod`-value range, `(rsi − min)/(max − min)` — the
    * momentum-of-momentum oscillator. Composes [[withRsi]] (the Wilder
    * recursion) with two rolling extrema and ONE IEEE double division.
    *
    * Pinned conventions: the stochastic runs over the NON-NULL rsi
    * stream (warmup and degenerate flat-history rows are dropped first —
    * the output contains only rows with a defined RSI); full-window-only
    * (`stochPeriod` rsi values present); a flat range (max = min) pins
    * NULL. Both window passes ride one keyed sort.
    */
  def withStochRsi(
      df: DataFrame, closeCol: String, rsiCol: String, outCol: String,
      rsiPeriod: Int, stochPeriod: Int,
      orderCol: String, partitionCols: Seq[String] = Nil): DataFrame = {
    require(stochPeriod >= 1, "stoch_rsi: stochPeriod must be >= 1")
    val w = baseWindow(partitionCols, orderCol)
      .rowsBetween(-(stochPeriod - 1), 0)
    withRsi(df, closeCol, rsiCol, rsiPeriod, orderCol, partitionCols)
      .filter(col(rsiCol).isNotNull)
      .withColumn("__sr_mn", min(col(rsiCol)).over(w))
      .withColumn("__sr_mx", max(col(rsiCol)).over(w))
      .withColumn(outCol,
        when(count(col(rsiCol)).over(w) === stochPeriod &&
             col("__sr_mx") =!= col("__sr_mn"),
          (col(rsiCol) - col("__sr_mn")) / (col("__sr_mx") - col("__sr_mn"))))
      .drop("__sr_mn", "__sr_mx")
  }

  /** Holt–Winters additive seasonal smoothing per key — level, trend,
    * the current seasonal state, and the one-step-ahead fitted value
    * ŷ_t = l_{t−1} + b_{t−1} + s_{t−m} (Winters 1960; Hyndman &
    * Athanasopoulos §8.3), through the native
    * [[graft.functions.HoltWinters]] window state machine: the m-slot
    * seasonal vector unrolls into scalar buffer slots at plan time, so
    * the whole triple-coupled recursion is ONE keyed WindowExec of pure
    * primitive expressions. Zero-seeded seasonal convention and pinned
    * IEEE update order documented on the function; a single recursive
    * CTE carrying (l, b, s1..s_m) replays it bit-for-bit. Appends
    * `{outPrefix}_level/_trend/_seasonal/_fitted`.
    */
  def withHoltWinters(
      df: DataFrame, valueCol: String, outPrefix: String,
      alpha: Double, beta: Double, gamma: Double, period: Int,
      orderCol: String, partitionCols: Seq[String] = Nil): DataFrame = {
    require(alpha > 0 && alpha <= 1 && beta >= 0 && beta <= 1 &&
      gamma >= 0 && gamma <= 1 && period >= 2,
      "holt_winters: need 0 < alpha <= 1, 0 <= beta,gamma <= 1, period >= 2")
    graft.functions.GraftFunctions.register(df.sparkSession)
    val w = baseWindow(partitionCols, orderCol)
    df.withColumn("__hw",
        expr(s"holt_winters($valueCol, $alpha, $beta, $gamma, $period)").over(w))
      .withColumn(s"${outPrefix}_level", col("__hw.level"))
      .withColumn(s"${outPrefix}_trend", col("__hw.trend"))
      .withColumn(s"${outPrefix}_seasonal", col("__hw.seasonal"))
      .withColumn(s"${outPrefix}_fitted", col("__hw.fitted"))
      .drop("__hw")
  }

  /** Kaufman's Adaptive Moving Average (Kaufman 1995, public literature)
    * — an EMA whose smoothing constant adapts per row to the efficiency
    * ratio of the last `period` bars:
    *
    *   er_t = |c_t − c_{t−n}| / Σ_{i=t−n+1..t} |c_i − c_{i−1}|   (0 if flat)
    *   sc_t = (er_t·(2/(fast+1) − 2/(slow+1)) + 2/(slow+1))²
    *   kama_t = kama_{t−1} + sc_t·(c_t − kama_{t−1})
    *
    * Plan: er/sc are ordinary rolling-window expressions (one lag-n, one
    * `period`-row sum of |diff|), and the recursion runs through the
    * native [[graft.functions.VarEwm]] window state machine — ONE keyed
    * WindowExec evaluates all of it, no reshuffle beyond the window sort.
    *
    * Pinned conventions (full-window-only, the w1 SMA discipline):
    *   - er is defined from row n+1 (both the lag-n change and all n
    *     one-bar diffs exist); er = 0 when the volatility sum is 0 (flat
    *     window — the chg numerator is then 0 too);
    *   - sc is NULL during warmup, so VarEwm seeds kama = close at row
    *     n+1 and updates from row n+2 — each update the fixed IEEE
    *     sequence `k + sc·(c − k)`;
    *   - the smoothing bounds enter as the written expressions
    *     `2.0/(fast+1) − 2.0/(slow+1)` and `2.0/(slow+1)` — correctly
    *     rounded IEEE divisions both engines reproduce bit-for-bit; sc
    *     squares by self-multiplication (never `pow`, which is not
    *     correctly rounded cross-libm).
    *
    * A single recursive CTE carrying kama replays the recursion exactly
    * (seed at rn = n+1, step `r.kama + g.sc·(g.c − r.kama)`).
    * Appends `{outPrefix}_er/_sc/{outPrefix}` (er/sc doubles, kama
    * double; all NULL during warmup).
    */
  def withKama(
      df: DataFrame, closeCol: String, outPrefix: String,
      period: Int = 10, fast: Int = 2, slow: Int = 30,
      orderCol: String = "date", partitionCols: Seq[String] = Nil): DataFrame = {
    require(period >= 1 && fast >= 1 && slow > fast,
      "kama: need period >= 1 and slow > fast >= 1")
    graft.functions.GraftFunctions.register(df.sparkSession)
    val w = baseWindow(partitionCols, orderCol)
    val wRun = w.rowsBetween(Window.unboundedPreceding, 0)
    val wVol = w.rowsBetween(-(period - 1), 0)
    val fastSc = 2.0 / (fast + 1)
    val slowSc = 2.0 / (slow + 1)
    val c = col(closeCol).cast(DoubleType)
    val erCol = s"${outPrefix}_er"; val scCol = s"${outPrefix}_sc"
    df.withColumn("__k_absd", abs(c - lag(c, 1).over(w)))
      .withColumn("__k_chg", abs(c - lag(c, period).over(w)))
      .withColumn("__k_vol",
        when(count(col("__k_absd")).over(wVol) === period,
          sum(col("__k_absd")).over(wVol)))
      .withColumn(erCol,
        when(col("__k_chg").isNotNull && col("__k_vol").isNotNull,
          when(col("__k_vol") > 0.0, col("__k_chg") / col("__k_vol"))
            .otherwise(lit(0.0))))
      .withColumn(scCol, {
        val t = col(erCol) * lit(fastSc - slowSc) + lit(slowSc)
        t * t
      })
      .withColumn(outPrefix, expr(s"var_ewm($closeCol, $scCol)").over(wRun))
      .drop("__k_absd", "__k_chg", "__k_vol")
  }

  /** The full reference transformer. Requires (case-insensitively)
    * `date, open, high, low, close, volume`; appends the seven hardcoded
    * indicator columns and drops warmup rows.
    */
  def technicalIndicators(
      df: DataFrame, cfg: Config = Config(),
      partitionCols: Seq[String] = Nil): DataFrame = {
    val required = Seq("date", "open", "high", "low", "close", "volume")
    val missing = required.filterNot(df.columns.map(_.toLowerCase).contains)
    require(missing.isEmpty, s"technical_indicators: missing required columns: ${missing.mkString(",")}")

    // Reference pre-processing, in one projection: lowercased column names;
    // dates → ISO-8601 UTC strings; numerics coerced with null-on-failure;
    // sort ascending by date (string sort == time sort for this format).
    def prep(name: String, c: Column): Column = name match {
      case "date" => date_format(try_to_timestamp(c), "yyyy-MM-dd'T'HH:mm:ss'Z'")
      case "open" | "high" | "low" | "close" | "volume" => c.cast(DoubleType)
      case _ => c
    }
    val prepped = df.select(df.columns.toSeq.map { c =>
      prep(c.toLowerCase, quoted(c)).as(c.toLowerCase)
    }: _*)

    // Two window levels, then one projection (see the object doc): every
    // window over the raw series, each computed once; the EMAs over level-1
    // columns; then the formulas over both, in the contract's order.
    graft.functions.GraftFunctions.register(df.sparkSession)
    val w = baseWindow(partitionCols, "date")
    val close = col("close")
    val (smaN, smaS, _) = trailingSums(close, cfg.smaPeriod, w)
    val (bbN, bbS1, bbS2) = trailingSums(close, cfg.bbPeriod, w)
    val level1 = prepped.withColumns(Map(
      "__sma_n" -> smaN, "__sma_s" -> smaS,
      "__bb_n" -> bbN, "__bb_s1" -> bbS1, "__bb_s2" -> bbS2,
      "macd" -> macdLineCol(close, cfg.macdFast, cfg.macdSlow, w),
      "__delta" -> rsiDeltaCol(close, w)))
    val (avgGain, avgLoss) = rsiAvgCols(col("__delta"), cfg.rsiPeriod, w)
    val level2 = level1.withColumns(Map(
      "__avg_gain" -> avgGain,
      "__avg_loss" -> avgLoss,
      "macd_signal" -> macdSignalCol(col("macd"), cfg.macdSignal, w)))
    val (bbUpper, bbLower) =
      bollingerCols(col("__bb_n"), col("__bb_s1"), col("__bb_s2"), cfg.bbPeriod, cfg.bbStd)
    val formulas = Map(
      "sma_50" -> smaCol(col("__sma_n"), col("__sma_s"), cfg.smaPeriod),
      "rsi_14" -> rsiCol(col("__avg_gain"), col("__avg_loss")),
      "bb_upper" -> bbUpper,
      "bb_lower" -> bbLower,
      "macd_histogram" -> (col("macd") - col("macd_signal")))
    val indicatorCols = Seq("sma_50", "rsi_14", "bb_upper", "bb_lower", "macd", "macd_signal", "macd_histogram")
    // an indicator column the input already has keeps its place, as the
    // components' `withColumns` keep it
    val withInd = level2.select(
      (prepped.columns.toSeq ++ indicatorCols.filterNot(prepped.columns.contains)).map { c =>
        formulas.get(c).map(_.as(c)).getOrElse(col(c))
      }: _*)
    withInd.na.drop("any", indicatorCols).orderBy((partitionCols :+ "date").map(col): _*)
  }
}
