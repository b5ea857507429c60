package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are epoch nanoseconds; `parent` is 0
  * for an op's root span. Spark work submitted while the span is the
  * innermost one on its thread is attributed to it.
  */
final class Span(val id: Long, val parent: Long, val op: Long, val name: String,
    val start: Long) {
  @volatile var end: Long = 0L
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskRunMs = new AtomicLong
  val schedDelayMs = new AtomicLong
  val shuffleReadB = new AtomicLong
  val shuffleWriteB = new AtomicLong
  val resultB = new AtomicLong

  def toJson: Map[String, Any] = Map(
    "id" -> id, "parent" -> parent, "op" -> op, "name" -> name,
    "start_ns" -> start, "end_ns" -> end, "jobs" -> jobs.get, "stages" -> stages.get,
    "tasks" -> tasks.get, "task_run_ms" -> taskRunMs.get,
    "sched_delay_ms" -> schedDelayMs.get, "shuffle_read_b" -> shuffleReadB.get,
    "shuffle_write_b" -> shuffleWriteB.get, "result_b" -> resultB.get)
}

/** Spans recorded from outside the program: the benchmark opens a span
  * around each call it makes into a layer, sets the span id as a Spark
  * local property on the calling thread, and a [[SparkListener]] reads it
  * back from each job to attribute jobs, stages and task metrics. Spans stay
  * in memory and are written out when the run ends. Disabled, `span` is a
  * plain call.
  */
object Tracer {
  val SpanProperty = "perfbench.span"
  @volatile var enabled = false
  private val nextId = new AtomicLong
  private val spans = mutable.LinkedHashMap.empty[Long, Span]
  private val stack = new ThreadLocal[List[Span]] { override def initialValue = Nil }
  private val nanoBase = System.currentTimeMillis() * 1000000L - System.nanoTime()
  @volatile private var sc: SparkContext = _
  // (job id -> span id), (stage id -> span id), job intervals (span, start ms, end ms)
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]
  private val jobStartMs = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  // planning phase ms of every execution that ended, drained per op
  private val planMs = new AtomicLong

  def now(): Long = System.nanoTime() + nanoBase

  def install(context: SparkContext, session: org.apache.spark.sql.SparkSession): Unit = {
    sc = context
    context.addSparkListener(Listener)
    session.listenerManager.register(PlanListener)
  }

  def current: Option[Span] = stack.get.headOption

  /** Run `body` inside a span `name`, child of the thread's current span
    * (or an op root when `op` is given).
    */
  def span[T](name: String, op: Long = -1L)(body: => T): T = {
    if (!enabled) return body
    val parent = current
    val s = new Span(nextId.incrementAndGet(), parent.map(_.id).getOrElse(0L),
      if (op >= 0) op else parent.map(_.op).getOrElse(0L), name, now())
    spans.synchronized(spans(s.id) = s)
    stack.set(s :: stack.get)
    sc.setLocalProperty(SpanProperty, s.id.toString)
    try body
    finally {
      s.end = now()
      stack.set(stack.get.tail)
      sc.setLocalProperty(SpanProperty, current.map(_.id.toString).orNull)
    }
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit =
    if (sc != null) org.apache.spark.graft.ListenerBusDrain.waitUntilEmpty(sc)

  /** Forget everything recorded so far (the untimed set-up). */
  def reset(): Unit = {
    drain()
    spans.synchronized(spans.clear())
    jobIntervals.synchronized(jobIntervals.clear())
    planMs.set(0L)
  }

  /** Planning ms accumulated since the last call (after [[drain]]). */
  def takePlanMs(): Long = planMs.getAndSet(0L)

  def spansJson: Seq[Map[String, Any]] = spans.synchronized(spans.values.map(_.toJson).toSeq)

  def jobsJson: Seq[Map[String, Any]] = jobIntervals.synchronized(jobIntervals.map {
    case (span, s, e) => Map[String, Any]("span" -> span, "start_ms" -> s, "end_ms" -> e)
  }.toSeq)

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(SpanProperty)))
      .flatMap(id => spans.synchronized(spans.get(id.toLong)))

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStartMs.put(e.jobId, e.time)
      spanOf(e.properties).foreach { s =>
        s.jobs.incrementAndGet()
        jobSpan.put(e.jobId, s)
        e.stageIds.foreach(stageSpan.put(_, s))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val start = Option(jobStartMs.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
      val span = Option(jobSpan.remove(e.jobId)).map(_.id).getOrElse(0L)
      jobIntervals.synchronized(jobIntervals += ((span, start, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(_.stages.incrementAndGet())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        s.tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          s.taskRunMs.addAndGet(m.executorRunTime)
          val info = e.taskInfo
          val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
          s.schedDelayMs.addAndGet(math.max(0L, delay))
          s.shuffleReadB.addAndGet(m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead)
          s.shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          s.resultB.addAndGet(m.resultSize)
        }
      }
  }

  private object PlanListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      planMs.addAndGet(Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }
}

/** Process-wide runtime counters the report takes deltas of. */
object JvmCounters {
  import scala.jdk.CollectionConverters._
  import java.lang.management.ManagementFactory

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum

  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime).getOrElse(0L)

  def codegenMs: Double =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6

  /** Heap in use right after the latest collection, summed over heap pools. */
  def heapAfterGcMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
}
