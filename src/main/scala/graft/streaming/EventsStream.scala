package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured-streaming surface over the `events` table shape: watermarked
  * tumbling-window aggregation and stateful gap-based sessionization with
  * `flatMapGroupsWithState` — the streaming equivalents of the batch
  * `q_hourly_events` / `q_sessionize` queries.
  *
  * The reference has no streaming at all (SURVEY.md §2.8); this is the
  * beyond-reference scale surface. At 100 TB/day the same code runs against a
  * Kafka/file source: the aggregation state is keyed by (window, event_type)
  * and (user_id) respectively, both naturally partitioned.
  */
object EventsStream {

  /** The events schema as Spark reads it (ts truncated to µs — see
    * [[graft.Tables.events]]).
    */
  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over a directory of parquet events. */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(EventSchema).parquet(dir)

  /** Layout-aware file-source stream over the driver's `events.parquet`,
    * mirroring [[graft.Tables.events]]: a cheap batch footer read picks the
    * physical `ts` layout (nanos-as-long / µs TIMESTAMP_NTZ / µs TIMESTAMP),
    * then the stream is declared with that schema and normalized to
    * `TimestampType` before any watermark/window touches it.
    */
  def readEventsNormalized(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val physical = spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    def streamWith(tsType: DataType): DataFrame = spark.readStream
      .schema(StructType(EventSchema.fields.map(f =>
        if (f.name == "ts") StructField("ts", tsType) else f)))
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    physical match {
      case LongType         => streamWith(LongType).withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => streamWith(TimestampNTZType).withColumn("ts", col("ts").cast(TimestampType))
      case _                => streamWith(TimestampType)
    }
  }

  /** Watermarked tumbling 1-hour aggregation per event type. `total_value`
    * uses the exact-decimal sum convention ([[graft.exprs.Exact.dsum]]) so
    * the batch twin is bit-stable cross-engine (decimal partials also merge
    * deterministically across micro-batches).
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), graft.exprs.Exact.dsum(col("value")).as("total_value"))
      .select(col("window.start").as("h"), col("event_type"), col("n"), col("total_value"))

  /** Watermarked SLIDING-window aggregation (1-hour windows every 30
    * minutes) per event type — the overlapping-window counterpart to
    * [[hourlyCounts]]'s tumbling windows: each event lands in exactly
    * `window/slide` (= 2) windows, the shape of any rolling rate /
    * smoothed-throughput monitor. Same exact-decimal sum convention; state
    * per key expires with the watermark, so the store holds at most
    * (horizon / slide + window / slide) open windows per event type no
    * matter how long the stream runs. The batch twin of `window(w, s)` is
    * identical code — one groupBy whose key expansion (2 rows per event)
    * happens map-side before the shuffle.
    */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), graft.exprs.Exact.dsum(col("value")).as("total_value"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("total_value"))

  /** Streaming exact dedup — the streaming form of the batch `dd1` hash
    * dedup: re-deliveries of the same content hash within the watermark
    * horizon are dropped, and the per-hash state expires WITH the watermark,
    * so the state store stays bounded at (arrival rate × horizon) no matter
    * how long the stream runs. At 100 TB/day this is the ingest-side
    * first-seen filter in front of the batch near-dup passes.
    */
  def dedupByContent(
      events: DataFrame, contentCol: String, delay: String = "2 hours"): DataFrame =
    events
      .withColumn("content_hash", md5(col(contentCol).cast(StringType)))
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Cross-batch incremental exact dedup — the continuous-ingestion form of
    * batch `dd1` for a corpus that grows forever: each micro-batch is
    * deduped against ALL history via a persistent content-hash index, not
    * just the watermark horizon that bounds [[dedupByContent]]. Per batch:
    *
    *  1. in-batch keep-lowest-id per hash (window on the hash — the same
    *     key the index join shuffles on)
    *  2. left-anti join against the index parquet (shuffle on the hash; at
    *     real scale the index is bucketed by hash so this is co-located)
    *  3. append survivors to `outPath`, THEN their hashes to `indexPath`
    *
    * Write order is load-bearing: output-before-index means a crash between
    * the writes re-emits at most one batch on replay (at-least-once); the
    * reverse order would silently LOSE the batch (hashes present, rows
    * never written). A clean replay of a completed batch anti-joins to
    * zero rows, so steady-state redelivery is idempotent. Returns the
    * survivor count for monitoring.
    */
  def incrementalDedupBatch(
      batch: DataFrame, idCol: String, textCol: String,
      indexPath: String, outPath: String): Long = {
    import org.apache.spark.sql.expressions.Window
    val spark = batch.sparkSession
    val hashed = batch.withColumn("content_hash", md5(col(textCol)))
    val w = Window.partitionBy(col("content_hash")).orderBy(col(idCol))
    val inBatch = hashed.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(indexPath), spark.sparkContext.hadoopConfiguration)
    val seen = fs.exists(new org.apache.hadoop.fs.Path(indexPath))
    val survivors =
      (if (seen) inBatch.join(spark.read.parquet(indexPath),
          Seq("content_hash"), "left_anti")
       else inBatch)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = survivors.count()
      if (n > 0) {
        survivors.write.mode("append").parquet(outPath)
        survivors.select(col("content_hash")).write.mode("append").parquet(indexPath)
      }
      n
    } finally survivors.unpersist()
  }

  /** [[incrementalDedupBatch]] wired as a `foreachBatch` streaming sink. */
  def incrementalDedup(
      events: DataFrame, idCol: String, textCol: String,
      indexPath: String, outPath: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        incrementalDedupBatch(batch.toDF(), idCol, textCol, indexPath, outPath): Unit
    }

  /** Stream-static enrichment: the streaming side left-joins a STATIC
    * dimension frame — Spark re-plans the static side per micro-batch (a
    * broadcast hash join when the dim is small), so dimension updates are
    * picked up batch-to-batch and NO streaming state store is involved.
    * This is the standard ingest-time attribute attachment at any scale;
    * unmatched events keep flowing with null attributes (left join), never
    * silently dropped.
    */
  def enrich(
      events: DataFrame, dim: DataFrame,
      eventKey: String, dimKey: String): DataFrame =
    events.join(broadcast(dim), col(eventKey) === col(dimKey), "left_outer")
      .drop(dimKey)

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  /** `startUs` doubles as the session id: the session's first event time in
    * microseconds is unique per (user, session) WITHOUT any cross-session
    * counter — which matters because the dormant-flush timeout REMOVES the
    * key's state, and a counter would restart at 0 when the user returns,
    * colliding with pre-flush session ids downstream.
    */
  final case class SessionState(startUs: Long, lastTs: Long, nEvents: Long, total: Double)
  final case class SessionOut(user_id: Long, session_id: Long, n_events: Long, total_value: Double)

  /** Stateful gap sessionization (30-minute inactivity) per user with an
    * EVENT-TIME timeout: a session closes either when a later event arrives
    * past the gap, or when the WATERMARK passes `last activity + gap` — the
    * dormant-user case. On timeout the open session is emitted and the key's
    * state REMOVED, so the state store stays bounded at (active users within
    * the watermark horizon), not (all users ever seen) — at 100 TB/day the
    * difference between a fixed-size store and an unbounded leak.
    */
  def sessionize(
      events: Dataset[Event],
      watermarkDelay: String = "30 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMicros = 30L * 60 * 1000000
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            // watermark passed lastTs + gap with no new events: flush the
            // open session and drop the key's state entirely (ids stay
            // collision-free across the removal — see SessionState.startUs)
            val st = state.get
            state.remove()
            Iterator.single(SessionOut(userId, st.startUs, st.nEvents, st.total))
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue, 0L, 0.0))
            val out = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val tsMicros = e.ts.getTime * 1000
              if (st.nEvents == 0) {
                st = SessionState(tsMicros, tsMicros, 1L, e.value)
              } else if (tsMicros - st.lastTs > gapMicros) {
                out += SessionOut(userId, st.startUs, st.nEvents, st.total)
                st = SessionState(tsMicros, tsMicros, 1L, e.value)
              } else {
                // max, not assignment: a late-but-in-watermark event must not
                // REGRESS the session's last-activity time (that would split
                // the session early and arm the dormant flush too soon)
                st = st.copy(lastTs = math.max(st.lastTs, tsMicros),
                  nEvents = st.nEvents + 1, total = st.total + e.value)
              }
            }
            state.update(st)
            // arm the dormant-flush: fire once event time passes the gap
            // (Spark requires a timestamp beyond the current watermark)
            val fireAtMs = st.lastTs / 1000 + gapMicros / 1000
            state.setTimeoutTimestamp(math.max(fireAtMs, state.getCurrentWatermarkMs + 1))
            out.result().iterator
          }
        })
  }

  /** Streaming MATERIALIZED VIEW: the watermarked hourly aggregation upserted
    * into a SQL serving table per micro-batch (`foreachBatch` +
    * [[graft.sinks.JdbcLoader]]'s MERGE keyed on the group columns) — the
    * standard stream→serving-store pattern. Update-mode emits refresh a
    * window's row every time late-but-in-watermark data revises it, and the
    * PK-keyed MERGE makes batch replay IDEMPOTENT (a re-delivered batch
    * rewrites the same rows), so the serving table converges to the batch
    * answer without exactly-once sink machinery.
    */
  def hourlyCountsToJdbc(
      events: DataFrame, url: String, table: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    hourlyCounts(events).writeStream
      .outputMode(OutputMode.Update) // emit revised windows only
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        new graft.sinks.JdbcLoader(Map[String, Any](
          "connection_string" -> url, "table" -> table,
          "if_exists" -> "upsert",
          "primary_keys" -> Seq("h", "event_type"))).load(batch.toDF()): Unit
      }

  /** EXACT windowed distinct users — CHAINED stateful operators: a
    * watermarked streaming `dropDuplicates` on (window, user) feeding a
    * windowed count. The dedup state holds one entry per distinct
    * (window, user) pair inside the watermark horizon and the downstream
    * aggregate only counts survivors, so the exact distinct count streams
    * with bounded state — the metric HLL sketches usually approximate,
    * exact here because the distinct key space per horizon is what the
    * store holds anyway. Both operators evict on the same event-time
    * watermark (Spark's multi-stateful-operator chaining); the batch twin
    * is the identical expression (dedup → count), which the oracle states
    * as `COUNT(DISTINCT user_id)` per hour.
    */
  def windowedDistinctUsers(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .select(window(col("ts"), "1 hour").as("w"), col("user_id"))
      .dropDuplicates("w", "user_id")
      .groupBy(col("w"))
      .agg(count(lit(1)).as("active_users"))
      .select(col("w.start").as("h"), col("active_users"))

  /** Windowed trending event types through the NATIVE mergeable sketch
    * aggregate ([[graft.functions.MgTopK]]): per hourly window, one
    * ≤k-counter Misra–Gries summary of the event-type stream, exploded to
    * (window, type, count) rows ranked by count. The sketch buffer rides
    * the streaming state store exactly like Spark's own typed imperative
    * aggregates — per-window state is O(k), NOT O(distinct types), which
    * is the point at an unbounded-cardinality key (trending URLs, not
    * five event types). With k ≥ |domain| (here 9 ≥ 5) no cancellation
    * round ever fires, so the counts are EXACT and the batch twin equals
    * a plain windowed GROUP BY — which is what the oracle states.
    */
  def trendingTypes(events: DataFrame, k: Int = 9): DataFrame = {
    graft.functions.GraftFunctions.register(events.sparkSession)
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(expr(s"mg_topk(event_type, $k)").as("sk"))
      .select(col("w.start").as("h"), explode(col("sk")).as("e"))
      .select(col("h"), col("e.term").as("event_type"),
        col("e.cnt_lower").as("n"))
  }

  /** Windowed value HISTOGRAM — the streaming-safe building block for
    * "p50/p99 value per hour" monitoring: per hourly window, exact counts
    * per fixed-width value bucket (`cents div bucketCents`). This is a
    * plain watermarked streaming aggregate whose state is O(buckets) per
    * window — BOUNDED by construction, unlike a true streaming percentile
    * over raw values (state O(distinct values), unbounded) — which is
    * exactly the histogram-sketch trade a production metrics pipeline
    * makes. The percentile READOUT ([[histogramPercentiles]]) is a
    * stateless batch pass over the emitted histogram (foreachBatch / the
    * downstream table), so the streaming query itself stays a single
    * append-mode aggregate. The batch twin is the identical expression.
    */
  def windowedValueHistogram(events: DataFrame, bucketCents: Long): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .select(window(col("ts"), "1 hour").as("w"),
        expr(s"cast(cast(value as decimal(18,2)) * 100 as bigint)").as("__cents"))
      // FLOOR division (div truncates toward zero): negative cents in
      // (−bucketCents, 0) get their own bucket −1 with lower bound
      // −bucketCents, so histogramPercentiles' `bucket * bucketCents`
      // readout is a true lower bound for every sign. Spark's % carries the
      // dividend's sign, so the −1 correction applies exactly when the
      // truncated quotient rounded toward zero instead of −∞.
      .select(col("w"),
        expr(s"(__cents div ${bucketCents}L) - (case when __cents % ${bucketCents}L < 0 then 1 else 0 end)")
          .as("bucket"))
      .groupBy(col("w"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("h"), col("bucket"), col("n"))

  /** Nearest-rank percentiles from a [[windowedValueHistogram]] frame
    * `(h, bucket, n)`: per window, the LOWER BOUND (in cents) of the
    * bucket holding each requested percentile — the deterministic
    * bucket-resolution answer a histogram can give (error ≤ bucket width,
    * the documented trade). Exact integer arithmetic end to end; the
    * per-window cum/total windows run over the ≤buckets-row grid.
    */
  def histogramPercentiles(
      hist: DataFrame, bucketCents: Long, ps: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(ps.nonEmpty && ps.forall(p => p >= 1 && p <= 100))
    val wCum = Window.partitionBy("h").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy("h")
    val cumd = hist
      .withColumn("cum", sum(col("n")).over(wCum))
      .withColumn("tot", sum(col("n")).over(wAll))
    val pCols = ps.map { p =>
      (min(when(col("cum") >= expr(s"(tot * $p + 99) div 100"), col("bucket")))
        * bucketCents).as(s"p${p}_cents")
    }
    cumd.groupBy(col("h"))
      .agg(max(col("tot")).as("n"), pCols: _*)
  }

  /** STREAM-STREAM interval join: each purchase matched to the same user's
    * clicks in the 30 minutes before it — ad/click attribution, the
    * canonical two-stream correlation. Both sides are watermarked and the
    * join condition bounds event time in BOTH directions, so Spark can
    * evict buffered rows once the watermark passes their join horizon —
    * state is (arrival rate × horizon) per side, not the whole stream.
    * INNER join: emits as soon as a match arrives. The SAME expression
    * runs over batch frames (watermark nodes eliminated), which is how the
    * st5 oracle gates it; streaming parity is spec-pinned.
    */
  def clickAttribution(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val p = purchases.withWatermark("ts", "30 minutes")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
    val c = clicks.withWatermark("ts", "1 hour")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    p.join(c,
      col("c_user") === col("user_id") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
        col("c_ts") < col("p_ts"))
      .select(col("purchase_id"), col("user_id"), col("p_ts"),
        col("click_id"), col("c_ts"))
  }

  /** LEFT-OUTER interval stream-stream join — [[clickAttribution]] that
    * also emits UNMATCHED purchases (null click columns): the attribution
    * report that must show unattributed conversions, not silently drop
    * them. In streaming execution the outer row is emitted only once the
    * watermark proves no matching click can still arrive — the same state
    * eviction bound as the inner join (both sides watermarked, the join
    * range closed on both ends), so state stays (rate × horizon)-bounded;
    * the batch twin is a plain left join, which is what the oracle states.
    */
  def clickAttributionOuter(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val p = purchases.withWatermark("ts", "30 minutes")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
    val c = clicks.withWatermark("ts", "1 hour")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    p.join(c,
        col("c_user") === col("user_id") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
          col("c_ts") < col("p_ts"),
        "left_outer")
      .select(col("purchase_id"), col("user_id"), col("p_ts"),
        col("click_id"), col("c_ts"))
  }

  /** Declarative gap sessions via Spark's built-in `session_window` — the
    * engine-managed alternative to the [[sessionize]] state function: the
    * state store holds merge-capable session windows per key, the watermark
    * both closes sessions (append-mode emit) and evicts their state, and the
    * SAME expression runs over a batch frame (the watermark node is
    * eliminated in batch plans — the parity the spec pins). Prefer this
    * form when per-session output is an aggregate; drop to
    * `flatMapGroupsWithState` only for custom per-event state transitions.
    */
  def sessionWindows(
      events: DataFrame, gap: String = "30 minutes",
      watermarkDelay: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        graft.exprs.Exact.dsum(col("value")).as("total_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("total_value"))

  final case class CepState(
      hasV: Boolean, vus: Long, vid: Long,
      hasC: Boolean, cus: Long, cid: Long, cvus: Long, cvid: Long,
      done: Boolean)
  final case class CepMatch(user_id: Long, v_us: Long, v_id: Long,
      c_us: Long, c_id: Long, p_us: Long, p_id: Long)

  /** Streaming CEP first-match — the incremental twin of the batch
    * `q_cep_first_match` stacked-window query: per user, emit the FIRST
    * view → click → purchase sequence completing within `withinMicros`,
    * with the purchase binding to the latest preceding click that itself
    * carries its latest preceding view (skip-till-next, tightest
    * completion). The per-user state is O(1) — the latest view, the latest
    * view-carrying click, and a done flag — so a billion-user stream holds
    * three longs of NFA state per key, not history; events are folded in
    * (ts, id) order within each micro-batch, which reproduces the batch
    * window's `ROWS … 1 PRECEDING` semantics exactly for in-order
    * delivery (out-of-order arrivals across batches are the watermark's
    * problem, as with any event-time operator). After the first match the
    * key goes dormant (`done`) — a production variant would arm an
    * event-time timeout to GC those entries, as [[sessionize]] does.
    */
  def cepFirstMatch(
      events: Dataset[Event],
      withinMicros: Long = 86400000000L): Dataset[CepMatch] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[Event], state: GroupState[CepState]) => {
          var st = state.getOption.getOrElse(
            CepState(hasV = false, 0L, 0L, hasC = false, 0L, 0L, 0L, 0L, done = false))
          val out = Seq.newBuilder[CepMatch]
          // full microsecond precision (getTime alone truncates to ms and
          // would diverge from the batch query's unix_micros comparisons)
          def micros(t: java.sql.Timestamp): Long =
            t.getTime / 1000 * 1000000L + t.getNanos / 1000
          rows.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
            if (!st.done) {
              val us = micros(e.ts)
              e.event_type match {
                case "view" => st = st.copy(hasV = true, vus = us, vid = e.event_id)
                case "click" if st.hasV =>
                  st = st.copy(hasC = true, cus = us, cid = e.event_id,
                    cvus = st.vus, cvid = st.vid)
                case "purchase" if st.hasC && us - st.cvus <= withinMicros =>
                  out += CepMatch(userId, st.cvus, st.cvid, st.cus, st.cid,
                    us, e.event_id)
                  st = st.copy(done = true)
                case _ => ()
              }
            }
          }
          state.update(st)
          out.result().iterator
        })
  }

  /** State of the GENERALIZED first-match NFA ([[cepFirstMatchN]]): for
    * every proper prefix length k of the pattern, the latest partial match
    * of that length, flattened as [us₁,id₁,…,us_k,id_k] (empty = none),
    * plus the done flag. Size is BOUNDED BY THE PATTERN, not by history:
    * ≤ L−1 partials of ≤ 2(L−1) longs each — O(L²) longs per key
    * regardless of how many events the key ever produced (the 100 TB
    * stream concern; CepSpec pins the bound step-by-step).
    */
  final case class CepNState(partials: Seq[Seq[Long]], done: Boolean)
  final case class CepNMatch(user_id: Long, step_us: Seq[Long], step_id: Seq[Long])

  /** One NFA transition of the generalized matcher — PURE, so the state
    * bound and the transition semantics are unit-testable without a
    * streaming harness. Semantics (skip-till-next, latest-binding,
    * first-match) generalize [[cepFirstMatch]]'s fixed 3-step machine:
    *
    *  - every binding reads the PRE-event state (the batch stacked-window
    *    formulation's `ROWS … 1 PRECEDING`), so one event can extend
    *    several prefix lengths consistently when the pattern repeats a
    *    type;
    *  - an event matching step 1 restarts partial₁; matching step k>1
    *    extends the latest partial of length k−1 (if any) into the latest
    *    partial of length k;
    *  - an event matching the FINAL step completes iff last−first time ≤
    *    `withinMicros`; the key then goes dormant (first match only).
    */
  def cepStepN(pattern: IndexedSeq[String], withinMicros: Long)(
      st: CepNState, us: Long, id: Long, typ: String,
      userId: Long): (CepNState, Option[CepNMatch]) = {
    if (st.done) (st, None)
    else {
      val pre = st.partials
      val completed =
        if (pattern.last != typ) None
        else {
          val p = pre(pattern.size - 2)
          if (p.nonEmpty && us - p.head <= withinMicros) {
            val full = p ++ Seq(us, id)
            Some(CepNMatch(userId,
              full.indices.collect { case i if i % 2 == 0 => full(i) },
              full.indices.collect { case i if i % 2 == 1 => full(i) }))
          } else None
        }
      if (completed.isDefined) (st.copy(done = true), completed)
      else {
        val next = pre.zipWithIndex.map { case (cur, k) =>
          if (pattern(k) != typ) cur
          else if (k == 0) Seq(us, id)
          else { val prev = pre(k - 1); if (prev.isEmpty) cur else prev ++ Seq(us, id) }
        }
        (st.copy(partials = next), None)
      }
    }
  }

  /** [[cepFirstMatch]] generalized to a CONFIGURABLE pattern (a sequence of
    * event types, length ≥ 2): per user, the first occurrence of the whole
    * pattern in latest-binding skip-till-next semantics, completing within
    * `withinMicros` of its step-1 event. Same `flatMapGroupsWithState`
    * shape; per-key state is the O(pattern²)-long [[CepNState]] — see
    * [[cepStepN]] for the transition semantics and CepSpec for the
    * 3-step-equivalence and state-bound pins.
    */
  def cepFirstMatchN(
      events: Dataset[Event], pattern: Seq[String],
      withinMicros: Long = 86400000000L): Dataset[CepNMatch] = {
    require(pattern.size >= 2, "pattern needs at least two steps")
    import events.sparkSession.implicits._
    val pat = pattern.toIndexedSeq
    val step = cepStepN(pat, withinMicros) _
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[Event], state: GroupState[CepNState]) => {
          var st = state.getOption.getOrElse(
            CepNState(Seq.fill(pat.size - 1)(Seq.empty), done = false))
          val out = Seq.newBuilder[CepNMatch]
          def micros(t: java.sql.Timestamp): Long =
            t.getTime / 1000 * 1000000L + t.getNanos / 1000
          rows.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
            val (next, m) = step(st, micros(e.ts), e.event_id, e.event_type, userId)
            st = next
            m.foreach(out += _)
          }
          state.update(st)
          out.result().iterator
        })
  }

  final case class QuotaKept(user_id: Long, event_id: Long, t_us: Long, k: Long)

  /** Per-key ingest quota: admit each key's FIRST `quota` events in
    * (event time, id) order and drop the rest — the rate-limiting /
    * per-source cap applied at ingest (the streaming counterpart of mx7's
    * fixed per-group sample; a hot key cannot flood the pipeline past its
    * budget). Emits the kept events with `k` = the key's running admission
    * index (1-based), which makes the output self-describing and the
    * batch oracle a plain ROW_NUMBER ≤ quota.
    *
    * Per-key state is ONE long (events admitted so far) — 8 bytes per key
    * at any stream length, the O(1) bound a billion-key 100 TB stream
    * needs. State carries across micro-batches, so a key that used half
    * its quota in batch 1 gets only the remainder in batch 2 (pinned in
    * EvalMixSpec's MemoryStream parity test). In-order delivery within
    * the quota window is the same event-time caveat as every
    * [[flatMapGroupsWithState]] operator here.
    */
  def ingestQuota(events: Dataset[Event], quota: Int): Dataset[QuotaKept] = {
    require(quota > 0, "ingestQuota: quota must be positive")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[Event], state: GroupState[Long]) => {
          val taken0 = state.getOption.getOrElse(0L)
          def micros(t: java.sql.Timestamp): Long =
            t.getTime / 1000 * 1000000L + t.getNanos / 1000
          val room = math.max(0L, quota - taken0).toInt
          val kept = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id)).take(room)
          state.update(taken0 + kept.length)
          kept.iterator.zipWithIndex.map { case (e, i) =>
            QuotaKept(userId, e.event_id, micros(e.ts), taken0 + i + 1) }
        })
  }

  /** Demo main: stream the sf parquet through the hourly aggregation into a
    * memory sink and print the result (batch parity check with
    * `q_hourly_events`).
    */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session()

    val raw = readEventsNormalized(spark, sfDir)

    // Complete mode for the demo: with a one-shot static replay the watermark
    // never advances past the trailing windows, so append would emit nothing.
    val q = hourlyCounts(raw).writeStream
      .outputMode(OutputMode.Complete)
      .format("memory").queryName("hourly")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.sql("SELECT * FROM hourly ORDER BY h, event_type")
    println(s"hourly rows: ${out.count()}")
    out.show(10, truncate = false)
    spark.stop()
  }
}
