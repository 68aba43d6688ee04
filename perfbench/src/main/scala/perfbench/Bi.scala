package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Read-only analyst session: a fixed mix of registry queries over the
  * engine's sf0.01 parquet fixtures, in a seed-shuffled order per pass,
  * each written to a noop sink.
  */
final class BiWorkload(work: String, dataDir: String, seed: Long) extends Workload {
  val Mix: Seq[String] = Seq(
    // light: reference analytics, windows, grouping, joins, JSON, distinct
    // counts. Ten light queries against five heavy ones keep the median
    // inside the light group instead of on the boundary between the two
    "q01_kpi_topk_spend", "q07_pricing_summary", "q08_daily_avg", "q19_window_rank",
    "q117_window_stats", "q21_rollup", "q22_join_agg", "q51_ship_priority",
    "q27_json_extract", "q29_distinct_agg",
    // heavy, ordering: ops.Ranks and ops.Quantiles
    "q44_sketches", "q92_winsorized", "q95_dod_change", "q96_ntile", "q100_mad")

  private val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events")
  private val outDir = s"$work/bi_out"
  private var rows: Map[String, Long] = Map.empty

  /** The tables are fixtures; set-up only reads their row counts, which
    * also loads the parquet reader.
    */
  def generate(spark: SparkSession): Unit = {
    rows = Tables.map(t => t -> spark.read.parquet(s"$dataDir/$t.parquet").count()).toMap
  }

  def inputInfo: Map[String, Any] = Map("fixture" -> "sf0.01", "rows" -> rows.values.sum,
    "bytes" -> Tables.map(t => Util.duBytes(s"$dataDir/$t.parquet")).sum, "tables" -> rows,
    "queries" -> Mix.size)

  /** Warm-up and checking pass: every query once, its output written for
    * the oracle compare. Nothing here is timed, so queries run on a few
    * client threads to use the cores the single-client loop leaves idle.
    */
  def warm(ctx: PassCtx): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = Mix.map(q => pool.submit(new Runnable {
        def run(): Unit =
          try dump(graft.SparkEntry.queries(q)(ctx.spark, dataDir), s"$outDir/$q")
          catch { case e: Throwable => ctx.rec.failed(q, e) }
      }))
      futures.foreach(_.get())
    } finally pool.shutdown()
  }

  def pass(ctx: PassCtx, p: Int): Map[String, Double] = {
    val spark = ctx.spark
    val order = new scala.util.Random(seed * 1000003L + p).shuffle(Mix)
    order.foreach { q =>
      ctx.rec.op(q) {
        ctx.tr.span(s"queries.$q") {
          graft.SparkEntry.queries(q)(spark, dataDir).write.mode("overwrite").format("noop").save()
        }
      }
      // as graft.Bench does: no query is timed against another's cache
      spark.catalog.clearCache()
      graft.SparkEntry.clearMemos()
    }
    Map.empty
  }

  /** Timestamps are written as naive values, as the oracle SQL yields. */
  private def dump(df: DataFrame, path: String): Unit =
    df.schema.fields.collect { case f if f.dataType == TimestampType => f.name }
      .foldLeft(df)((d, c) => d.withColumn(c, col(s"`$c`").cast("timestamp_ntz")))
      .coalesce(1).write.mode("overwrite").parquet(path)

  /** Writes the oracle SQL of the mix; run.py compares each output with
    * DuckDB running that SQL over the same fixture tables.
    */
  def checks(ctx: PassCtx): Seq[Check] = {
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => Mix.contains(k) }
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      org.json4s.jackson.Serialization.write(oracle)(org.json4s.DefaultFormats))
    val missing = Mix.filterNot(oracle.contains)
    Seq(Check("bi.oracle_sql_present", missing.isEmpty, s"missing: ${missing.mkString(",")}"))
  }
}

object Util {
  /** Bytes of every regular file under `dir`. */
  def duBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]()).forEach(Files.delete(_))
      finally s.close()
    }
  }
}
