package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval of the run. `kind` is the layer boundary it marks (run,
  * setup, artifact, pass, query, construct, plan, exec, job, stage); `parent`
  * is the span that caused it (0 for the run span). Times are epoch
  * microseconds. Counters are attributed by the listener and the log
  * appender while the span is the open phase.
  */
final class Span(val id: Long, val parent: Long, val kind: String, val name: String,
                 val start: Long) {
  @volatile var end: Long = -1L
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = synchronized { counters(k) = counters.getOrElse(k, 0.0) + v }
  def max(k: String, v: Double): Unit = synchronized { counters(k) = math.max(counters.getOrElse(k, 0.0), v) }
  def snapshot: Map[String, Double] = synchronized { counters.toMap }
  def seconds: Double = (end - start) / 1e6
}

/** Keeps every span in memory; [[Json]] writes them out when the run ends. */
final class Recorder {
  private val baseMicros = System.currentTimeMillis() * 1000L
  private val baseNanos = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0L
  /** The innermost open harness span: where log events are attributed. */
  @volatile var current: Span = _

  def now: Long = baseMicros + (System.nanoTime() - baseNanos) / 1000L

  def open(kind: String, name: String, parent: Span, start: Long = -1L): Span = synchronized {
    nextId += 1
    val s = new Span(nextId, if (parent == null) 0L else parent.id, kind, name,
      if (start >= 0) start else now)
    spans += s
    s
  }

  def close(s: Span, end: Long = -1L): Span = { s.end = if (end >= 0) end else now; s }

  /** Run `body` inside a span that is the current attribution target. */
  def span[T](kind: String, name: String, parent: Span)(body: Span => T): T = {
    val s = open(kind, name, parent)
    val outer = current
    current = s
    try body(s)
    finally { close(s); current = outer }
  }

  def all: Seq[Span] = synchronized { spans.toList }
}

/** Spark listener for the traced run: job and stage spans under the harness
  * phase that submitted them (the phase span id travels as a local property),
  * and task metrics summed onto that phase span. */
final class PhaseListener(rec: Recorder, orphan: Span) extends SparkListener {
  private val jobSpans = new ConcurrentHashMap[Int, Span]()
  private val stageJob = new ConcurrentHashMap[Int, Span]()
  private val phaseOf = new ConcurrentHashMap[Long, Span]()

  def register(phase: Span): Unit = phaseOf.put(phase.id, phase)

  private def phaseOfJob(job: Span): Span =
    Option(phaseOf.get(job.parent)).getOrElse(orphan)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val pid = Option(e.properties).flatMap(p => Option(p.getProperty(PhaseListener.SpanKey)))
      .map(_.toLong).getOrElse(orphan.id)
    val phase = Option(phaseOf.get(pid)).getOrElse(orphan)
    val job = rec.open("job", s"job ${e.jobId}", phase, e.time * 1000L)
    jobSpans.put(e.jobId, job)
    e.stageIds.foreach(id => stageJob.putIfAbsent(id, job))
    phase.add("jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpans.get(e.jobId)).foreach(rec.close(_, e.time * 1000L))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageJob.get(info.stageId)).foreach { job =>
      for (s <- info.submissionTime; c <- info.completionTime)
        rec.close(rec.open("stage", s"stage ${info.stageId}", job, s * 1000L), c * 1000L)
      phaseOfJob(job).add("stages", 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val phase = Option(stageJob.get(e.stageId)).map(phaseOfJob).getOrElse(orphan)
    phase.add("tasks", 1)
    phase.add("task_run_s", m.executorRunTime / 1e3)
    phase.add("task_cpu_s", m.executorCpuTime / 1e9)
    phase.add("gc_s", m.jvmGCTime / 1e3)
    phase.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
    phase.add("shuffle_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
    phase.add("shuffle_write_s", m.shuffleWriteMetrics.writeTime / 1e9)
    phase.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
    phase.add("shuffle_fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
    phase.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
    phase.add("input_records", m.inputMetrics.recordsRead.toDouble)
    phase.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
    phase.add("spill_bytes", m.diskBytesSpilled.toDouble)
    phase.max("peak_exec_bytes", m.peakExecutionMemory.toDouble)
  }
}

object PhaseListener {
  val SpanKey = "graftbench.span"
}

/** Log appender for the traced run: counts the warning classes graft's
  * operators are known to emit, and Janino compile events with their time,
  * onto the recorder's current span. */
final class WarningCounter(rec: Recorder)
    extends AbstractAppender("graftbench-counter", null, null, true, Property.EMPTY_ARRAY) {
  private val CompiledIn = """Code generated in ([0-9.]+) ms""".r.unanchored

  override def append(e: LogEvent): Unit = {
    val s = rec.current
    if (s == null) return
    val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
    if (e.getLevel.isMoreSpecificThan(Level.WARN)) {
      if (msg.contains("No Partition Defined for Window")) s.add("warn_global_window", 1)
      if (msg.contains("Whole-stage codegen disabled") || msg.contains("failed to compile"))
        s.add("warn_codegen_fallback", 1)
    }
    msg match {
      case CompiledIn(ms) =>
        s.add("codegen_compiles", 1)
        s.add("codegen_compile_s", ms.toDouble / 1e3)
      case _ =>
    }
  }
}

object WarningCounter {
  private val CodeGenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"

  def install(rec: Recorder): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new WarningCounter(rec)
    app.start()
    ctx.getConfiguration.getRootLogger.addAppender(app, null, null)
    ctx.updateLoggers()
    Configurator.setLevel(CodeGenLogger, Level.INFO)
  }
}

object Tracing {
  /** Install the listener and the log counter; return the listener. */
  def install(sc: SparkContext, rec: Recorder, orphan: Span): PhaseListener = {
    val l = new PhaseListener(rec, orphan)
    sc.addSparkListener(l)
    WarningCounter.install(rec)
    l
  }
}
