package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around layer calls. Each span sets the job description and the
  * `perfbench.span` local property, so every Spark job the call submits
  * carries the id of the innermost open span. Disabled, it is a plain call.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  var pass: Int = -1
  var batch: Int = -1

  /** Wall clock in epoch milliseconds with nanosecond resolution, so span
    * bounds line up with Spark's job and query-phase timestamps.
    */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNano) / 1e6

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.fold(-1)(_.id), name, pass, batch, nowMs)
      spans += s
      stack = s :: stack
      tag(Some(s))
      try body
      finally {
        s.endMs = nowMs
        stack = stack.tail
        tag(stack.headOption)
      }
    }

  private def tag(s: Option[Span]): Unit = {
    sc.setLocalProperty(Tracer.SpanKey, s.map(_.id.toString).orNull)
    sc.setJobDescription(s.map(_.name).orNull)
  }

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "pass" -> s.pass,
    "batch" -> s.batch, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
}

object Tracer {
  val SpanKey = "perfbench.span"

  final case class Span(id: Int, parent: Int, name: String, pass: Int, batch: Int,
      startMs: Double, var endMs: Double = Double.NaN)
}

/** Listener counters keyed by the span that submitted the work. Stages
  * and tasks are attributed through the submitting job's properties; job
  * intervals feed the driver-gap computation; query-phase timings come
  * from each action's `QueryExecution.tracker`.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  final class Counters {
    var jobs, stages, tasks, taskFailures = 0L
    var busyMs, gcMs, shuffleWrite, shuffleRead, spill, input, peakMem = 0L
    def toMap: Map[String, Any] = Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "task_failures" -> taskFailures,
      "task_busy_ms" -> busyMs, "gc_ms" -> gcMs, "shuffle_write_bytes" -> shuffleWrite,
      "shuffle_read_bytes" -> shuffleRead, "spill_bytes" -> spill, "input_bytes" -> input,
      "peak_exec_mem_bytes" -> peakMem)
  }

  private val bySpan = mutable.LinkedHashMap.empty[String, Counters]
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private val jobOpen = mutable.HashMap.empty[Int, (String, Long)]
  private val jobs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val phases = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def spanOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanKey))).getOrElse("-")
  private def counters(span: String) = bySpan.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val sp = spanOf(e.properties)
    jobOpen(e.jobId) = (sp, e.time)
    counters(sp).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOpen.remove(e.jobId).foreach { case (sp, start) =>
      jobs += Map("id" -> e.jobId, "span" -> sp, "start_ms" -> start, "end_ms" -> e.time)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val sp = spanOf(e.properties)
    stageSpan(e.stageInfo.stageId) = sp
    counters(sp).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageSpan.getOrElse(e.stageId, "-"))
    c.tasks += 1
    if (e.reason != org.apache.spark.Success) c.taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      c.busyMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.diskBytesSpilled
      c.input += m.inputMetrics.bytesRead
      c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
    }
  }

  private def recordPhases(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, ps) =>
      phases += Map("phase" -> name, "start_ms" -> ps.startTimeMs, "end_ms" -> ps.endTimeMs)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPhases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPhases(qe)

  def toJson: Map[String, Any] = synchronized {
    Map("counters" -> bySpan.map { case (k, v) => k -> v.toMap }.toMap,
      "jobs" -> jobs.toList, "phases" -> phases.toList)
  }
}
