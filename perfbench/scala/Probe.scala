package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** In-memory spans, written out once at the end of a traced run. Times are
  * `System.nanoTime` (CLOCK_MONOTONIC on Linux), the clock the Python
  * generator's `time.monotonic_ns` reads, so both sides' spans line up. */
final class Tracer(val enabled: Boolean) {
  private val ids   = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[String]()

  def record(name: String, startNs: Long, endNs: Long, parent: String = "", rid: String = ""): String =
    if (!enabled) ""
    else {
      val id = s"h${ids.incrementAndGet()}"
      spans.add(Json.obj("id" -> id, "name" -> name, "start_ns" -> startNs, "end_ns" -> endNs,
        "parent" -> parent, "rid" -> rid))
      id
    }

  /** Reserve an id before the span ends, so children can name their parent. */
  def open(): String = if (enabled) s"h${ids.incrementAndGet()}" else ""

  def close(id: String, name: String, startNs: Long, parent: String = "", rid: String = ""): Unit =
    if (enabled)
      spans.add(Json.obj("id" -> id, "name" -> name, "start_ns" -> startNs, "end_ns" -> System.nanoTime(),
        "parent" -> parent, "rid" -> rid))

  def span[T](name: String, parent: String = "", rid: String = "")(f: String => T): T = {
    val id = open(); val t0 = System.nanoTime()
    try f(id) finally close(id, name, t0, parent, rid)
  }

  def write(path: java.nio.file.Path): Unit =
    java.nio.file.Files.write(path, spans.asScala.mkString("", "\n", "\n").getBytes("UTF-8"))
}

/** Work counters and job spans from Spark's own listener bus. A job's parent
  * span is the `perfbench.span` local property set by the caller before the
  * action; QueryProgressEvents of every session's streams (the ingester's
  * stream session is private) arrive through `onOtherEvent`. */
final class SparkProbe(tracer: Tracer) extends SparkListener {
  val jobs, stages, tasks                      = new LongAdder
  val inputBytes, shuffleRead, shuffleWrite    = new LongAdder
  val spillBytes, resultBytes, cpuNs, gcMs     = new LongAdder
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, String)]()
  // wall-clock ms (event times) to the monotonic ns clock of the spans
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()

  def snapshot(): Map[String, Long] = Map(
    "jobs" -> jobs.sum, "stages" -> stages.sum, "tasks" -> tasks.sum,
    "input_bytes" -> inputBytes.sum, "shuffle_read_bytes" -> shuffleRead.sum,
    "shuffle_write_bytes" -> shuffleWrite.sum, "spill_bytes" -> spillBytes.sum,
    "result_bytes" -> resultBytes.sum, "executor_cpu_ms" -> cpuNs.sum / 1000000L, "gc_ms" -> gcMs.sum)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.increment()
    val props  = Option(e.properties)
    val parent = props.flatMap(p => Option(p.getProperty("perfbench.span"))).getOrElse("")
    val rid    = props.flatMap(p => Option(p.getProperty("perfbench.rid"))).getOrElse("")
    jobStart.put(e.jobId, (e.time * 1000000L + offsetNs, parent, rid))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (t0, parent, rid) =>
      tracer.record("spark.job", t0, e.time * 1000000L + offsetNs, parent, rid)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    Option(e.taskMetrics).foreach { m =>
      inputBytes.add(m.inputMetrics.bytesRead)
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      resultBytes.add(m.resultSize)
      cpuNs.add(m.executorCpuTime)
      gcMs.add(m.jvmGCTime)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent => progress.add(p.progress)
    case _                     => ()
  }
}

/** Sums of `qe.tracker` phase times and action durations of one session. */
final class QePhases extends QueryExecutionListener {
  val analysisMs, optimizationMs, planningMs, executionMs, actions = new LongAdder

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String): Long = ph.get(k).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
    analysisMs.add(ms("analysis")); optimizationMs.add(ms("optimization")); planningMs.add(ms("planning"))
    executionMs.add(durationNs / 1000000L)
    actions.increment()
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def snapshot(): Map[String, Long] = Map(
    "analysis_ms" -> analysisMs.sum, "optimization_ms" -> optimizationMs.sum,
    "planning_ms" -> planningMs.sum, "execution_ms" -> executionMs.sum, "actions" -> actions.sum)
}

/** Just enough JSON writing for flat result records. */
object Json {
  def esc(s: String): String = graft.core.JsonUtil.escape(s)
  def value(v: Any): String = v match {
    case null                       => "null"
    case s: String                  => "\"" + esc(s) + "\""
    case d: Double if d.isNaN || d.isInfinite => "null"
    case b: Boolean                 => b.toString
    case n: java.lang.Number        => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => "\"" + esc(k.toString) + "\":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]            => xs.map(value).mkString("[", ",", "]")
    case Some(x)                    => value(x)
    case None                       => "null"
    case o                          => "\"" + esc(o.toString) + "\""
  }
  def obj(kv: (String, Any)*): String = value(scala.collection.immutable.ListMap(kv: _*))
}
