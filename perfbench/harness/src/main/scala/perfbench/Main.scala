package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up, run the timed ops of one workload
  * as a single closed-loop client, and write the raw report the runner
  * (`perfbench/run.py`) turns into metrics and checks.
  *
  * Usage: `perfbench.Main <plan.json> <report.json>`. The plan names the
  * workload, its generated inputs, the output directory and whether to trace.
  */
object Main {

  /** One timed op: a query, a delivery or the ML protocol. */
  final class Op(val id: Long, val kind: String, val name: String) {
    var startNs = 0L
    var endNs = 0L
    var error: Option[String] = None
    val data = mutable.LinkedHashMap.empty[String, Any]
    def seconds: Double = (endNs - startNs) / 1e9
    def toJson: Map[String, Any] = Map(
      "id" -> id, "kind" -> kind, "name" -> name, "start_ns" -> startNs, "end_ns" -> endNs,
      "seconds" -> seconds, "error" -> error) ++ data
  }

  final class Run(val plan: Map[String, Any], val spark: SparkSession) {
    val trace: Boolean = plan("trace") == true
    val out: String = plan("out_dir").toString
    val ops = mutable.ArrayBuffer.empty[Op]
    val extra = mutable.LinkedHashMap.empty[String, Any]
    private var heapPeak = 0.0
    private var nextOp = 0L

    def str(k: String): String = plan(k).toString
    def strs(k: String): Seq[String] = plan(k).asInstanceOf[Seq[Any]].map(_.toString)

    /** Time `body` as one op; an exception is recorded, not rethrown. */
    def op(kind: String, name: String)(body: Op => Unit): Op = {
      nextOp += 1
      val o = new Op(nextOp, kind, name)
      o.startNs = Tracer.now()
      try Tracer.span("op", o.id)(body(o))
      catch { case e: Throwable =>
        o.error = Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(500))
      }
      o.endNs = Tracer.now()
      heapPeak = math.max(heapPeak, JvmCounters.heapAfterGcMb)
      System.err.println(f"[perfbench] $kind $name ${o.seconds}%.3f s${o.error.map(" " + _).getOrElse("")}")
      ops += o
      o
    }

    def heapPeakMb: Double = heapPeak
  }

  def main(args: Array[String]): Unit = {
    val plan = Json.read(args(0))
    val out = plan("out_dir").toString
    System.setProperty("derby.system.home", s"$out/derby")
    val cpus = plan("cpus").toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(plan, spark)
    graft.core.Registries.bootstrap()
    if (run.trace) {
      Tracer.enabled = true
      Tracer.install(spark.sparkContext, spark)
      TracedPlugins.register()
    }

    val workload: Workload = plan("workload") match {
      case "queries_mix" => QueriesMix
      case "etl_incremental" => EtlIncremental
      case "etl_finance_ml" => EtlFinanceMl
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    System.err.println(f"[perfbench] session up ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.3f s after JVM start")
    workload.setup(run)
    System.err.println(f"[perfbench] setup done ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.3f s after JVM start")
    Tracer.reset()
    TracedPlugins.attempts.set(0L)
    val setupDoneMs = System.currentTimeMillis()
    val gc0 = JvmCounters.gcMs; val jit0 = JvmCounters.jitMs; val cg0 = JvmCounters.codegenMs
    val t0 = Tracer.now()
    workload.timed(run)
    val t1 = Tracer.now()
    val gc1 = JvmCounters.gcMs; val jit1 = JvmCounters.jitMs; val cg1 = JvmCounters.codegenMs
    Tracer.drain()
    workload.finish(run)
    val report = Map[String, Any](
      "workload" -> plan("workload"),
      "setup_done_ms" -> setupDoneMs,
      "timed_start_ns" -> t0, "timed_end_ns" -> t1,
      "heap_peak_mb" -> run.heapPeakMb,
      "gc_ms" -> (gc1 - gc0), "jit_ms" -> (jit1 - jit0), "codegen_ms" -> (cg1 - cg0),
      "retry_attempts" -> TracedPlugins.attempts.get,
      "ops" -> run.ops.map(_.toJson),
      "spans" -> Tracer.spansJson,
      "jobs" -> Tracer.jobsJson) ++ run.extra
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(1)), Json.write(report))
    spark.stop()
  }
}

trait Workload {
  /** Untimed: warm the code paths the timed ops take. */
  def setup(run: Main.Run): Unit
  /** The timed ops, one after another. */
  def timed(run: Main.Run): Unit
  /** Untimed: gather what the output checks need. */
  def finish(run: Main.Run): Unit = ()
}
