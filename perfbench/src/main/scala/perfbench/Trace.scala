package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** One traced call into a layer. `trace` is shared by the spans of one op. */
final case class Span(id: Int, name: String, trace: Int, parent: Int, startNs: Long,
    var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Engine work attributed to one span. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var recordsWritten = 0L
}

/**
 * Span recorder and engine-counter listener, active only in a traced run.
 *
 * Spans are recorded around the benchmark's own calls into the program's
 * public functions. The innermost open span id rides the SparkContext local
 * property `perfbench.span`; every job, stage and task the call starts is
 * attributed to it by the listener. Spans stay in memory until written out.
 */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val Key = "perfbench.span"
  val spans = ArrayBuffer[Span]()
  private var open = List.empty[Span]
  private var traceId = 0
  private val bySpan = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  @volatile private var listenerNs = 0L

  private val listener = new SparkListener {
    private def spanOf(props: java.util.Properties): Option[Int] =
      Option(props).flatMap(p => Option(p.getProperty(Key))).map(_.toInt)
    private def counters(id: Int) = bySpan.computeIfAbsent(id, _ => new Counters)
    private def timed(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f; listenerNs += System.nanoTime() - t0
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      spanOf(e.properties).foreach { id => val c = counters(id); c.synchronized(c.jobs += 1) }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
      spanOf(e.properties).foreach { id =>
        stageSpan.put(e.stageInfo.stageId, id)
        val c = counters(id); c.synchronized(c.stages += 1)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      Option(stageSpan.get(e.stageId)).foreach { id =>
        val c = counters(id)
        val m = e.taskMetrics
        c.synchronized {
          c.tasks += 1
          if (m != null) {
            c.taskMs += m.executorRunTime
            c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            c.inputBytes += m.inputMetrics.bytesRead
            c.outputBytes += m.outputMetrics.bytesWritten
            c.recordsWritten += m.outputMetrics.recordsWritten
          }
        }
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Starts a new op: later spans share a fresh trace id. */
  def newTrace(): Unit = traceId += 1

  /** Runs `f` inside a span named `name`; returns its result and the span.
    * With tracing off the span is neither recorded nor attributed. */
  def span[T](name: String)(f: => T): (T, Span) = {
    val s = Span(if (enabled) spans.length else -1, name, traceId,
      open.headOption.fold(-1)(_.id), System.nanoTime())
    if (!enabled) {
      val r = f
      s.endNs = System.nanoTime()
      (r, s)
    } else {
      spans += s
      open = s :: open
      sc.setLocalProperty(Key, s.id.toString)
      try (f, s)
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(Key, open.headOption.map(_.id.toString).orNull)
      }
    }
  }

  /** Waits for every queued listener event; call before reading counters. */
  def drain(): Unit = if (enabled) PerfbenchBus.drain(sc)

  def counters(s: Span): Counters = Option(bySpan.get(s.id)).getOrElse(new Counters)

  /** Seconds spent inside listener callbacks. */
  def listenerSeconds: Double = listenerNs / 1e9

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)

  /** Spans as JSON lines: name, start, end (ns from the first span),
    * parent, trace id and the span's engine counters. */
  def spansJson: String = {
    val t0 = spans.headOption.fold(0L)(_.startNs)
    spans.map { s =>
      val c = counters(s)
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "trace" -> s.trace, "parent" -> s.parent,
        "start_ns" -> (s.startNs - t0), "end_ns" -> (s.endNs - t0), "jobs" -> c.jobs,
        "stages" -> c.stages, "tasks" -> c.tasks, "task_ms" -> c.taskMs,
        "shuffle_bytes" -> c.shuffleBytes, "input_bytes" -> c.inputBytes,
        "output_bytes" -> c.outputBytes))
    }.mkString("\n") + "\n"
  }
}

/** Scan metrics of an executed query plan (adaptive plans included). */
object PlanScan extends AdaptiveSparkPlanHelper {
  /** (files read, rows output by the scans) of `df`'s executed plan. */
  def apply(df: DataFrame): (Long, Long) = {
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    def metric(s: FileSourceScanExec, k: String) = s.metrics.get(k).fold(0L)(_.value)
    (scans.map(metric(_, "numFiles")).sum, scans.map(metric(_, "numOutputRows")).sum)
  }
}
