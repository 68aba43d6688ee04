package graft.obs

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

/** The one metrics path of the bench, the profilers and the specs: run a
  * body and return what Spark reported about it.
  *
  * The listener bus delivers events asynchronously, so [[measure]] drains
  * it before registering its listener (no event of earlier work lands in
  * the record) and again after the body returns (every event of the
  * body's work has landed). Both waits sit outside the timed region.
  *
  * Every job that starts and ends inside the window is counted, whichever
  * thread submitted it: the pool threads of `Caching.overlapped` inherit
  * neither the caller's job group nor its description.
  */
object Recorder {

  final case class Job(id: Int, description: String, startMs: Long, endMs: Long) {
    def sec: Double = (endMs - startMs) / 1e3
  }

  /** One finished task that reported metrics (failed tasks may not). */
  final case class Task(stageId: Int, runMs: Long, shuffleWriteBytes: Long,
      shuffleReadRecords: Long, diskSpill: Long, memSpill: Long, peakMem: Long)

  /** @param coveredSec time during which at least one job ran: the union
    *   of the job intervals, not their sum, since jobs of two threads
    *   overlap
    * @param executions the query executions that succeeded, in order
    */
  final case class Record(wallSec: Double, coveredSec: Double, jobs: Seq[Job],
      tasks: Seq[Task], executions: Seq[QueryExecution]) {
    /** Wall time with no job running: planning, scheduling, driver work. */
    def driverGapSec: Double = wallSec - coveredSec
    def taskSec: Double = tasks.map(_.runMs).sum / 1e3
    def shuffleWriteBytes: Long = tasks.map(_.shuffleWriteBytes).sum
  }

  /** Run `body` and record it. The clock stops as soon as `body` returns;
    * if it throws, the exception propagates and nothing is recorded.
    * Nested calls each record everything that runs inside their window.
    */
  def measure[T](spark: SparkSession)(body: => T): (T, Record) = {
    val sc = spark.sparkContext
    Bridge.drainListenerBus(sc)
    val listener = new Listener
    sc.addSparkListener(listener)
    spark.listenerManager.register(listener)
    try {
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val result = body
      val wallNs = System.nanoTime() - t0
      Bridge.drainListenerBus(sc)
      (result, listener.record(startMs, wallNs))
    } finally {
      spark.listenerManager.unregister(listener)
      sc.removeSparkListener(listener)
    }
  }

  /** Length of the union of `intervals` clipped to `[from, to]`. */
  private def covered(intervals: Seq[(Long, Long)], from: Long, to: Long): Long =
    intervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) }.sortBy(_._1)
      .foldLeft((0L, from)) { case ((sum, reach), (s, e)) =>
        (sum + math.max(0L, e - math.max(s, reach)), math.max(reach, e))
      }._1

  /** Spark calls it from the listener-bus threads: the shared queue for
    * jobs and tasks, the session's execution bus for query executions.
    */
  private final class Listener extends SparkListener with QueryExecutionListener {
    private val started = mutable.HashMap.empty[Int, (Long, String)]
    private val jobs = mutable.ArrayBuffer.empty[Job]
    private val tasks = mutable.ArrayBuffer.empty[Task]
    private val executions = mutable.ArrayBuffer.empty[QueryExecution]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val description = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(e.stageInfos.headOption.map(_.name)).getOrElse("?")
      started(e.jobId) = (e.time, description)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      started.remove(e.jobId).foreach { case (start, description) =>
        jobs += Job(e.jobId, description, start, e.time)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += Task(e.stageId, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.recordsRead,
        m.diskBytesSpilled, m.memoryBytesSpilled, m.peakExecutionMemory)
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized { executions += qe }

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

    def record(startMs: Long, wallNs: Long): Record = synchronized {
      val js = jobs.sortBy(_.id).toSeq
      // whole milliseconds, the resolution of job times; flooring the
      // window keeps coveredSec <= wallSec exact
      val cover = covered(js.map(j => (j.startMs, j.endMs)), startMs, startMs + wallNs / 1000000L)
      Record(wallNs / 1e9, cover / 1e3, js, tasks.toSeq, executions.toSeq)
    }
  }
}
