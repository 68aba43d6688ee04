package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.obs.Recorder

/** A global sort over a finished, small input runs in one partition: two
  * fewer jobs, no range exchange, and the same rows in the same order.
  */
class SmallSortSinglePartitionSpec extends SparkSpec {

  /** `body` with the rule excluded from the adaptive optimizer (as on a
    * session without [[graft.extensions.GraftExtensions]]), then with it;
    * the shared test session is built with the extension.
    */
  private def withoutAndWith[T](confs: (String, String)*)(body: => T): (T, T) =
    (withConf(confs :+ noRule: _*)(body), withConf(confs: _*)(body))

  private val noRule =
    "spark.sql.adaptive.optimizer.excludedRules" -> SmallSortSinglePartition.ruleName

  private val base = Seq("spark.sql.adaptive.enabled" -> "true", "spark.sql.shuffle.partitions" -> "4")
  private val aqeOff = Seq("spark.sql.adaptive.enabled" -> "false", "spark.sql.shuffle.partitions" -> "4")

  /** Per-group aggregate with NULL and tied keys: k NULL for every fifth
    * id, j in 0..2.
    */
  private def grouped: DataFrame =
    spark.range(0, 2000, 1, 4)
      .select(when(col("id") % 5 === 0, lit(null)).otherwise(col("id") % 7).as("k"),
        (col("id") % 3).as("j"), col("id"))
      .groupBy("k", "j").agg(sum("id").as("s"), count(lit(1)).as("n"))

  private def rangeExchanges(p: SparkPlan): Seq[ShuffleExchangeExec] = collectAll(p) {
    case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
  }

  test("a small groupBy().orderBy() runs 2 jobs instead of 4, with no range exchange") {
    val ((rowsA, jobsA), (rowsB, jobsB)) = withoutAndWith(base: _*) {
      val (rows, rec) = Recorder.measure(spark)(grouped.orderBy("k", "j").collect())
      (rows.toSeq, rec.jobs.size)
    }
    assert(jobsA == 4, s"without the rule: $jobsA jobs")
    assert(jobsB == 2, s"with the rule: $jobsB jobs")
    assert(rowsB == rowsA)
    val (planA, planB) = withoutAndWith(base: _*)(executed(grouped.orderBy("k", "j")))
    assert(rangeExchanges(planA).nonEmpty, planA)
    assert(rangeExchanges(planB).isEmpty, planB)
    assert(collectAll(planB) { case c: CoalesceExec => c }.size == 1, planB)
  }

  test("rows and their order equal the AQE-off run for every sort shape") {
    val orders: Seq[(String, Seq[org.apache.spark.sql.Column])] = Seq(
      "desc keys" -> Seq(col("k").desc, col("j").desc),
      "nulls first" -> Seq(col("k").asc_nulls_first, col("j")),
      "nulls last" -> Seq(col("k").desc_nulls_last, col("j").asc),
      "multi-key mixed" -> Seq(col("j").desc, col("k").asc_nulls_last, col("s")),
      "expression key" -> Seq((col("s") % 11).desc, col("k"), col("j")))
    orders.foreach { case (what, order) =>
      val want = withConf(aqeOff: _*)(grouped.orderBy(order: _*).collect().toSeq)
      val (got, plan) = withConf(base: _*) {
        val df = grouped.orderBy(order: _*)
        (df.collect().toSeq, executed(df))
      }
      assert(got == want, what)
      assert(rangeExchanges(plan).isEmpty, s"$what: $plan")
    }
    // ties: only j orders, so rows within a j may come in any order; the
    // key sequence and the row multiset must match
    val want = withConf(aqeOff: _*)(grouped.orderBy(col("j").desc).collect().toSeq)
    val got = withConf(base: _*)(grouped.orderBy(col("j").desc).collect().toSeq)
    assert(got.map(_.getAs[Long]("j")) == want.map(_.getAs[Long]("j")))
    assert(got.map(_.toString).sorted == want.map(_.toString).sorted)
  }

  test("the range exchange stays over a large input, without coalescing, and under a limit") {
    def shapes(confs: (String, String)*)(q: => DataFrame): (SparkPlan, SparkPlan) =
      withoutAndWith(base ++ confs: _*)(executed(q))
    def sorted = grouped.orderBy("k", "j")
    // input larger than the (lowered) coalescing threshold
    val (_, big) = shapes("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1")(sorted)
    assert(rangeExchanges(big).nonEmpty, big)
    // coalescing off: AQE would keep the range partitions, so must the rule
    val (_, noCoalesce) = shapes("spark.sql.adaptive.coalescePartitions.enabled" -> "false")(sorted)
    assert(rangeExchanges(noCoalesce).nonEmpty, noCoalesce)
    // AQE off: runtime rules never run
    val off = withConf(aqeOff: _*)(executed(sorted))
    assert(rangeExchanges(off).nonEmpty, off)
    // a limit plans the sort as a top-k; the rule leaves it alone
    val (limA, limB) = shapes()(grouped.orderBy("k", "j").limit(3))
    Seq(limA, limB).foreach { p =>
      assert(collectAll(p) { case t: TakeOrderedAndProjectExec => t }.nonEmpty, p)
      assert(collectAll(p) { case c: CoalesceExec => c }.isEmpty, p)
    }
    val (rowsA, rowsB) = withoutAndWith(base: _*)(grouped.orderBy("k", "j").limit(3).collect().toSeq)
    assert(rowsA == rowsB)
  }

  test("a sort over a filtered, projected aggregate is rewritten too, with the same rows") {
    def q = grouped.filter(col("n") > 0)
      .select(col("k"), (col("s") * 2).as("s2")).orderBy(col("s2").desc)
    val ((rowsA, planA), (rowsB, planB)) = withoutAndWith(base: _*) {
      val df = q
      (df.collect().toSeq, executed(df))
    }
    assert(rowsA == rowsB)
    assert(rangeExchanges(planA).nonEmpty && rangeExchanges(planB).isEmpty, planB)
    assert(rowsB.map(_.getAs[Long]("s2")) == rowsB.map(_.getAs[Long]("s2")).sorted.reverse)
    assert(rowsB.nonEmpty)
  }
}
