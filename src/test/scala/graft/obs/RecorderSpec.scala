package graft.obs

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The run recorder's window: it holds exactly the work of its body,
  * whatever ran before it and whichever thread submitted the jobs.
  */
class RecorderSpec extends SparkSpec {

  test("events from an earlier unmeasured action never land in the next record") {
    // the action's last events are posted just before it returns, so an
    // undrained bus may still deliver them to a listener registered next
    for (_ <- 1 to 30) {
      spark.range(0, 20000, 1, 64).groupBy((col("id") % 97).as("k")).count().collect()
      val (_, r) = Recorder.measure(spark)(())
      assert(r.jobs.isEmpty && r.tasks.isEmpty && r.executions.isEmpty,
        s"${r.jobs.size} jobs, ${r.tasks.size} tasks, ${r.executions.size} executions")
    }
  }

  test("a groupBy with AQE off records one job, both stages' tasks and its shuffle bytes") {
    withConf("spark.sql.adaptive.enabled" -> "false", "spark.sql.shuffle.partitions" -> "3") {
      val (rows, r) = Recorder.measure(spark)(
        spark.range(0, 10000, 1, 4).groupBy((col("id") % 10).as("k")).count().collect())
      assert(rows.length == 10)
      assert(r.jobs.size == 1, r.jobs)
      assert(r.tasks.groupBy(_.stageId).values.map(_.size).toSeq.sorted == Seq(3, 4), r.tasks)
      assert(r.shuffleWriteBytes > 0L)
      assert(r.executions.size == 1)
      assert(r.driverGapSec >= 0.0, r)
    }
  }

  test("jobs of two threads at once: covered is their union, within the wall time") {
    RecorderSpec.gate = new CountDownLatch(4)
    def job(): Unit = {
      spark.sparkContext.parallelize(0 until 2, 2).map(RecorderSpec.meet).collect(); ()
    }
    val (_, r) = Recorder.measure(spark) {
      val other = Future(job())(ExecutionContext.global)
      job()
      Await.result(other, 2.minutes)
    }
    assert(r.jobs.size == 2, r.jobs)
    // the two jobs ran at the same time, so the sum of their walls double
    // counts: wall minus that sum would be a negative driver gap
    assert(r.jobs.map(_.sec).sum > r.coveredSec, r)
    assert(r.driverGapSec >= 0.0, r)
  }

  test("a nested measure gives both records the inner action's jobs and executions") {
    val observed = spark.range(0, 1000, 1, 2).observe("rows", count(lit(1)).as("n"))
    val (inner, outer) = Recorder.measure(spark) {
      Recorder.measure(spark)(observed.write.mode("overwrite").format("noop").save())._2
    }
    assert(inner.jobs.nonEmpty)
    assert(outer.jobs == inner.jobs)
    Seq(inner, outer).foreach { r =>
      assert(r.executions.flatMap(_.observedMetrics.get("rows")).map(_.getLong(0)) == Seq(1000L))
    }
    assert(outer.wallSec >= inner.wallSec)
  }
}

object RecorderSpec {
  @volatile var gate = new CountDownLatch(0)

  /** A task that returns only after every task `gate` counts has started
    * (local mode: tasks share the driver JVM), then holds its slot a while.
    */
  def meet(i: Int): Int = {
    gate.countDown()
    require(gate.await(1, TimeUnit.MINUTES), "the other job's tasks never started")
    Thread.sleep(200)
    i
  }
}
