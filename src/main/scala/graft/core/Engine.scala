package graft.core

import java.util.concurrent.TimeoutException
import org.apache.spark.SparkContext
import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, max}
import org.slf4j.LoggerFactory
import graft.core.Config._

/** The pipeline run loop, in the exact order of the reference engine
  * (`/root/reference/src/data_extractor/engine.py:42-130`):
  *
  *  1. parse + validate config (fail-fast, before I/O)
  *  2. incremental setup: stored cursor (or initial; `--full-refresh` forces
  *     initial)
  *  3. plugin resolution via the registry
  *  4. extract — cursor injected into the source's `query_params`
  *     (the reference's only predicate pushdown: the REMOTE evaluates it),
  *     context-managed (disconnect even on failure), retried
  *  5. new cursor = max(cursor_field) over the RAW extracted frame, before
  *     transforms (warn+skip if the field is missing; no value — an empty
  *     delivery or an all-null field — leaves the cursor where it was).
  *     On a chain without stateful stages the max is an [[Observation]] on
  *     the raw frame, so the load's own action delivers it and the cursor
  *     costs no Spark job. It is taken only when that action alone ran the
  *     observed plan: the load passed on its first attempt and no transform
  *     ran the plan before it, both known once the listener bus has
  *     drained. Otherwise (those cases, a drain that timed out, a loader
  *     that ran no action over the frame, or a stateful chain, whose
  *     checkpoint hides the observation from the load) the cursor is
  *     computed in one Spark job ([[Engine.maxOf]]) after the load.
  *  6. transform chain, strictly sequential, no retry
  *  7. load, context-managed, retried
  *  8. cursor persisted ONLY after a successful load (load failure ⇒ state
  *     untouched ⇒ next run re-extracts the same window)
  *
  * On Spark the transform chain stays lazy — Catalyst fuses it into one plan
  * executed by the load action; per-stage row-count logging (which forces a
  * count per stage) is gated behind `settings.log_row_counts`, preserving the
  * single-plan fast path by default.
  *
  * `drainListenerBus` waits until the listener bus is empty and throws a
  * `TimeoutException` when it gives up; it is a parameter so specs can make
  * it give up.
  */
class Engine(spark: SparkSession,
    drainListenerBus: SparkContext => Unit = ListenerBusDrain.waitUntilEmpty) {
  private val log = LoggerFactory.getLogger(getClass)

  def runFile(configPath: String, fullRefresh: Boolean = false): DataFrame =
    run(Config.load(configPath), fullRefresh)

  def run(cfg: PipelineConfig, fullRefresh: Boolean = false): DataFrame = {
    Registries.bootstrap()

    // 2. incremental setup
    val state = cfg.incremental.map(inc => new StateManager(inc.statePath))
    val cursor: Option[Any] = cfg.incremental.flatMap { inc =>
      val stored = if (fullRefresh) None else state.get.get(cfg.name)
      stored.orElse(inc.initialValue)
    }

    // 3-4. extract (cursor injected into query_params; inline still wins? no —
    // the cursor is injected on top, as the reference does in engine.py:159-162)
    val extractConf0 = cfg.extract.resolved
    val extractConf = (cfg.incremental, cursor) match {
      case (Some(inc), Some(c)) =>
        val qp = extractConf0.get("query_params") match {
          case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]]
          case _ => Map.empty[String, Any]
        }
        extractConf0 + ("query_params" -> (qp + (inc.cursorParam -> c)))
      case _ => extractConf0
    }
    val mkExtractor = Registries.extractors.resolve(cfg.extract.stepType)
    val raw = withRetry(cfg.settings.retry, s"extract(${cfg.extract.stepType})") {
      val ex = mkExtractor(spark, extractConf)
      ex.connect()
      try ex.extract() finally ex.disconnect()
    }
    if (cfg.settings.logRowCounts) log.info(s"extracted ${raw.count()} rows")

    // 5. the new cursor: max(cursor_field) over the RAW frame, before
    // transforms. Observed on the frame and read after the load, unless a
    // stateful stage will pin the chain to a checkpoint the load reads
    // instead of the observed plan.
    val cursorField: Option[String] = cfg.incremental.map(_.cursorField).filter { f =>
      raw.columns.contains(f) || {
        log.warn(s"incremental: cursor field '$f' missing from extracted data; cursor not advanced")
        false
      }
    }
    val transformers = cfg.transform.map { step =>
      step.stepType -> Registries.transformers.resolve(step.stepType)(spark, step.resolved)
    }
    val stateful = transformers.collect { case (_, st: StatefulTransformer) => st }
    val cursorObs: Option[Observation] = cursorField.filter(_ => stateful.isEmpty).map(_ => Observation())

    // 6. transform chain
    var df = cursorField.zip(cursorObs).fold(raw) { case (f, obs) => raw.observe(obs, max(col(f))) }
    transformers.foreach { case (stepType, t) =>
      t.validate(df)
      df = t.transform(df)
      if (cfg.settings.logRowCounts) log.info(s"after $stepType: ${df.count()} rows")
    }

    // 7. load. With stateful stages in the chain, the frame's lazy plan
    // reads the store files the commits below will REPLACE — so pin it to
    // a lazy localCheckpoint first: the load action itself materializes
    // the blocks, the retry loop replays from them (no store re-read),
    // and the frame returned to the caller stays valid post-commit
    // instead of throwing FAILED_READ_FILE on the swapped-out files.
    val mkLoader = Registries.loaders.resolve(cfg.load.stepType)
    val out = if (stateful.nonEmpty) df.localCheckpoint(false) else df
    // an action in the chain that already ran the observed plan (a
    // row-count log, a transform's own pass) may have seen only part of it;
    // a drain that timed out leaves that unknown, which counts as seen
    val observedBeforeLoad = cursorObs.exists(obs => !settled(obs) || obs.future.isCompleted)
    var loadAttempts = 0
    withRetry(cfg.settings.retry, s"load(${cfg.load.stepType})") {
      loadAttempts += 1
      val ld = mkLoader(spark, cfg.load.resolved)
      ld.connect()
      try ld.load(out) finally ld.disconnect()
    }

    // The checkpoint is LAZY: the load action materializes the partitions
    // it consumes, but a loader that consumes only part of the frame
    // (sampling, limit-based) would leave unmaterialized partitions whose
    // post-commit evaluation re-reads the swapped-out store files and
    // throws FAILED_READ_FILE. Force the remainder NOW — before any store
    // swap — so the returned frame is valid regardless of how much of it
    // the loader actually read. (Partitions the load already materialized
    // are served from their blocks; only the remainder computes.)
    if (stateful.nonEmpty) { out.count(); () }

    // 5, read back: the load's observation when it alone ran the observed
    // plan (a failed attempt may have completed it from part of the
    // frame), else one job over the raw frame
    val newCursor: Option[Any] = cursorField.flatMap { f =>
      val observed = cursorObs
        .filter(obs => loadAttempts == 1 && !observedBeforeLoad && settled(obs))
        .flatMap(Engine.observedMax)
      observed.getOrElse(Engine.maxOf(raw, f))
    }

    // 8. cursor persisted only after successful load
    (cfg.incremental, state, newCursor) match {
      case (Some(_), Some(st), Some(nc)) => st.set(cfg.name, nc)
      case _ => ()
    }
    // 8b. operator state (incremental stores) under the SAME save-after-
    // load discipline — a load failure above threw before reaching here,
    // so the stores still describe the last fully-loaded delivery.
    // REVERSE chain order: a later stage's staged state plan reads its
    // upstream stages' output, which (lazily) reads THEIR pre-commit
    // stores — committing downstream-first preserves every such read
    // before the upstream swap replaces the files. Commits are NOT
    // cross-stage atomic (each stage's own store+manifest pair is
    // two-phase, but a failure mid-chain leaves later stages committed
    // and earlier ones not): surface WHICH stage failed loudly so the
    // operator can reconcile the state dirs before re-running.
    stateful.reverseIterator.zipWithIndex.foreach { case (st, i) =>
      try st.commit()
      catch {
        case e: Exception =>
          log.error(s"state commit FAILED at stateful stage " +
            s"${stateful.size - 1 - i} (${st.getClass.getSimpleName}); stages " +
            s"after it in the chain are already committed — reconcile the " +
            s"state dirs before re-running (${e.getMessage})")
          throw e
      }
    }
    // With stateful stages `out` is the load-materialized localCheckpoint:
    // post-commit actions on it read the checkpoint BLOCKS, never the
    // swapped-out store files. (The reference engine returns nothing here;
    // the frame is a convenience for tests/callers.)
    out
  }

  /** Whether `obs` has its final state: complete, or not completed by any
    * action so far. An observation completes on the listener bus after its
    * action returns, so an incomplete one is settled only once the bus has
    * drained; false when the drain timed out.
    */
  private def settled(obs: Observation): Boolean =
    obs.future.isCompleted ||
      (try { drainListenerBus(spark.sparkContext); true }
       catch { case _: TimeoutException => false })

  /** Exponential backoff: attempt 1..max, sleep backoff·2^(attempt−1), rethrow
    * the last failure (`engine.py:201-218`).
    */
  def withRetry[T](retry: RetrySettings, what: String)(body: => T): T = {
    var attempt = 1
    while (true) {
      try return body
      catch {
        case e: Exception if attempt < retry.maxAttempts =>
          val sleepS = retry.backoffSeconds * math.pow(2.0, attempt - 1)
          log.warn(s"$what attempt $attempt/${retry.maxAttempts} failed: ${e.getMessage}; retrying in ${sleepS}s")
          Thread.sleep((sleepS * 1000).toLong)
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

object Engine {
  /** What `obs` (a single `max`) delivered: `Some(value)` once an action that
    * ran the observed plan has finished — `Some(None)` when no row held a
    * value — and None before.
    */
  private def observedMax(obs: Observation): Option[Option[Any]] =
    obs.future.value.flatMap(_.toOption).map(r => Option(r.get(0)))

  /** `max(field)` over `df` with `max`'s semantics — nulls ignored, NaN
    * greatest, None when no row holds a value — in ONE job: a descending,
    * nulls-last top-1 plans as `TakeOrderedAndProject` (a top-1 per
    * partition, merged on the driver, no exchange), where `agg(max)` plans a
    * partial aggregate, an exchange and a final aggregate: two jobs under AQE.
    */
  def maxOf(df: DataFrame, field: String): Option[Any] = {
    val c = col(field)
    df.select(c).orderBy(c.desc_nulls_last).take(1).headOption.flatMap(r => Option(r.get(0)))
  }
}
