package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs, plus the plan-inspection
  * helpers every plan-shape assertion builds on — ONE definition each, so
  * a Spark upgrade that changes the adaptive wrapper set is fixed here
  * once instead of in a dozen drifting copies.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Collect nodes matching `pf` across the whole executed-plan tree,
    * recursing through the wrappers AQE hides subtrees behind
    * (AdaptiveSparkPlanExec / QueryStageExec / ReusedExchangeExec) — a
    * naive `plan.collect` stops at them and lets plan-shape assertions
    * pass vacuously.
    */
  def collectAll[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] = {
    val nested = p.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        collectAll(a.executedPlan)(pf)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        collectAll(q.plan)(pf)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        collectAll(r.child)(pf)
    }.flatten
    p.collect(pf) ++ nested
  }

  /** Run `df` and return its FINAL (post-AQE) physical plan — executed
    * first because adaptive plans only commit their real shape after the
    * last stage materializes.
    */
  def executed(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
  }

  /** Set session confs for `body`, restoring the previous values (or
    * unsetting) afterwards — never leak conf state into other suites
    * sharing the session.
    */
  def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // mirror Sessions.local: specs plan with the engine's own extensions
      // (native functions, the top-k strategy, the adaptive small-sort rule)
      .config("spark.sql.extensions", "graft.extensions.GraftExtensions")
      // mirror Sessions.local: INT64-micros timestamps so parquet footers
      // carry stats the snapshot layer can prune on
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
