package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.DataFrame
import graft.core._
import graft.core.Config.PipelineConfig

/** Traced stand-ins for every registered plugin. Each wrapper key
  * `perfbench.traced.<key>` delegates to the real factory and opens a span
  * around each call the engine makes into the plugin; a stateful transformer
  * stays a [[StatefulTransformer]], so the unmodified `Engine.run` still
  * commits it. [[traced]] rewrites a config to use the wrapper keys.
  */
object TracedPlugins {
  val Prefix = "perfbench.traced."
  /** Extractor and loader instantiations: one per engine attempt. */
  val attempts = new AtomicLong

  private var registered = false

  def register(): Unit = synchronized {
    if (registered) return
    registered = true
    Registries.bootstrap()
    Registries.extractors.keys.foreach { k =>
      Registries.extractors.register(Prefix + k) { (s, c) =>
        attempts.incrementAndGet()
        new TracedExtractor(Registries.extractors.resolve(k)(s, c))
      }
    }
    Registries.transformers.keys.filterNot(_.startsWith(Prefix)).foreach { k =>
      Registries.transformers.register(Prefix + k) { (s, c) =>
        Registries.transformers.resolve(k)(s, c) match {
          case st: StatefulTransformer => new TracedStateful(k, st)
          case t => new TracedTransformer(k, t)
        }
      }
    }
    Registries.loaders.keys.foreach { k =>
      Registries.loaders.register(Prefix + k) { (s, c) =>
        attempts.incrementAndGet()
        new TracedLoader(Registries.loaders.resolve(k)(s, c))
      }
    }
  }

  def traced(cfg: PipelineConfig): PipelineConfig = cfg.copy(
    extract = cfg.extract.copy(stepType = Prefix + cfg.extract.stepType),
    transform = cfg.transform.map(t => t.copy(stepType = Prefix + t.stepType)),
    load = cfg.load.copy(stepType = Prefix + cfg.load.stepType))

  final class TracedExtractor(inner: Extractor) extends Extractor {
    override def connect(): Unit = Tracer.span("sources.extract")(inner.connect())
    def extract(): DataFrame = Tracer.span("sources.extract")(inner.extract())
    override def disconnect(): Unit = Tracer.span("sources.extract")(inner.disconnect())
  }

  class TracedTransformer(key: String, inner: Transformer) extends Transformer {
    private val name = s"transformers.$key"
    override def validate(df: DataFrame): Unit = Tracer.span(name)(inner.validate(df))
    def transform(df: DataFrame): DataFrame = Tracer.span(name)(inner.transform(df))
  }

  final class TracedStateful(key: String, inner: StatefulTransformer)
      extends TracedTransformer(key, inner) with StatefulTransformer {
    def commit(): Unit = Tracer.span("core.state_commit")(inner.commit())
  }

  final class TracedLoader(inner: Loader) extends Loader {
    override def connect(): Unit = Tracer.span("sinks.load")(inner.connect())
    def load(df: DataFrame): Unit = Tracer.span("sinks.load")(inner.load(df))
    override def disconnect(): Unit = Tracer.span("sinks.load")(inner.disconnect())
  }
}
