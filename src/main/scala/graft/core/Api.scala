package graft.core

import org.apache.spark.sql.DataFrame

/** Plugin contracts mirroring the reference's three ABCs
  * (`/root/reference/src/data_extractor/{extractors,transformers,loaders}/base.py`),
  * re-typed over Spark DataFrames.
  *
  * Lifecycle: the engine calls `connect → extract/load → disconnect`, with
  * `disconnect` guaranteed even on failure (context-manager semantics), and
  * wraps extract/load — never transforms — in retry.
  */
trait Extractor {
  def connect(): Unit = ()
  def extract(): DataFrame
  def disconnect(): Unit = ()
}

trait Transformer {
  /** Precondition hook; throw to abort the pipeline before transforming. */
  def validate(df: DataFrame): Unit = ()
  /** Pure function: must not mutate the input (free on Spark). */
  def transform(df: DataFrame): DataFrame
}

/** A transformer carrying OPERATOR STATE across pipeline runs — the
  * incremental state-travel family (dedup fingerprint stores, signature
  * stores, vocab stores) exposed through the engine. `transform` computes
  * the delivery's output and STAGES the grown state; the engine calls
  * `commit()` only after a successful load — the reference's cursor
  * discipline (save-after-load, `state.py:30-77` / `engine.py:126-130`)
  * extended to data-sized state: a failed load leaves the store untouched,
  * so the next run re-extracts and re-processes the same delta.
  */
trait StatefulTransformer extends Transformer {
  /** Persist the state staged by the last `transform`; idempotent no-op
    * when nothing is staged. The engine invokes commits in REVERSE chain
    * order: a staged state plan is lazy and (transitively) reads upstream
    * stages' outputs, which read THEIR pre-commit stores — downstream
    * commits must execute before an upstream swap replaces those files.
    */
  def commit(): Unit
}

/** A sink. `load` consumes its whole frame, in actions that end only after
  * their last row: the engine reads the delivery's cursor from an
  * `Observation` on the extracted frame, which the first such action to
  * finish completes. An action over part of the frame (a `limit`, an
  * emptiness probe) or one that returns before its rows are read
  * (`toLocalIterator`, whose SQL execution ends at once) would hand the
  * engine the max of the rows it had seen. Every registered loader keeps
  * this; a loader that runs no action leaves the engine to compute the
  * cursor in a job of its own.
  */
trait Loader {
  def connect(): Unit = ()
  def load(df: DataFrame): Unit
  def disconnect(): Unit = ()
}

/** Untyped plugin config: the merged YAML step config (file ∪ inline). */
object PluginConfig {
  type Conf = Map[String, Any]

  implicit class ConfOps(val c: Conf) extends AnyVal {
    def str(key: String): Option[String] = c.get(key).collect { case s: String => s }
    def strOr(key: String, default: String): String = str(key).getOrElse(default)
    def int(key: String): Option[Int] = c.get(key).collect {
      case i: Int => i
      case l: Long => l.toInt
      case s: String => s.toInt
    }
    def intOr(key: String, default: Int): Int = int(key).getOrElse(default)
    def dbl(key: String): Option[Double] = c.get(key).collect {
      case d: Double => d
      case f: Float => f.toDouble
      case i: Int => i.toDouble
      case l: Long => l.toDouble
      case s: String => s.toDouble
    }
    def dblOr(key: String, default: Double): Double = dbl(key).getOrElse(default)
    def bool(key: String, default: Boolean = false): Boolean = c.get(key).collect {
      case b: Boolean => b
    }.getOrElse(default)
    def strMap(key: String): Map[String, String] = c.get(key) match {
      case Some(m: Map[_, _]) => m.map { case (k, v) => k.toString -> String.valueOf(v) }
      case _ => Map.empty
    }
    def anyMap(key: String): Map[String, Any] = c.get(key) match {
      case Some(m: Map[_, _]) => m.map { case (k, v) => k.toString -> v }
      case _ => Map.empty
    }
    def strSeq(key: String): Seq[String] = c.get(key) match {
      case Some(s: Seq[_]) => s.map(String.valueOf)
      case _ => Nil
    }
  }
}
