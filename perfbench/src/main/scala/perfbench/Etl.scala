package perfbench

import java.sql.Date
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.SnapshotTable

/** The reference's daily load, batch after batch: landing CSV → anti-join
  * incremental load into a dt-partitioned staging table → KPI transform
  * into the curated table → the two notebook reports, with periodic
  * compaction and vacuum. Each landing file also re-delivers the previous
  * day with restated spend, which the load must ignore.
  */
final class EtlWorkload(work: String, seed: Long) extends Workload {
  /** 2,000 campaigns × 5 ad sets × 3 creatives: 30,000 rows a day. */
  private val campaigns = 2000
  /** Batches per pass; every `compactEvery`-th batch also compacts. */
  private val batches = 3
  private val compactEvery = 3
  private val rowsPerDay = campaigns.toLong * 5 * 3
  private val firstDay = LocalDate.parse("2026-01-01")
  private val landing = s"$work/landing"
  private def day(i: Int): Date = Date.valueOf(firstDay.plusDays(i))

  private val schema = StructType(Seq(
    StructField("campaign_id", LongType), StructField("adset_id", LongType),
    StructField("creative_id", LongType), StructField("dt", DateType),
    StructField("impressions", LongType), StructField("clicks", LongType),
    StructField("spend", DoubleType), StructField("conversions", LongType)))

  def generate(spark: SparkSession): Unit = {
    val gen = graft.gen.AdsDataGenerator.generate(spark, graft.gen.AdsDataGenerator.Params(
      campaigns = campaigns, days = batches + 1, endDate = day(batches).toString, seed = seed))
    val d = datediff(col("dt"), lit(day(0)))
    // file i carries day i+1 (new) and day i (first delivery for i = 0,
    // otherwise a re-delivery with restated spend)
    val fresh = gen.filter(d >= 1).withColumn("file", d - 1)
    val again = gen.filter(d < batches).withColumn("file", d)
      .withColumn("spend", when(d === 0, col("spend")).otherwise(round(col("spend") + 1.0, 2)))
    fresh.unionByName(again).repartition(col("file"))
      .write.mode("overwrite").partitionBy("file").option("header", "true").csv(landing)
    // warm-up: parse one landing file
    graft.sources.Sources.readCsv(spark, s"$landing/file=0", schema).limit(1).collect()
  }

  def inputInfo: Map[String, Any] = Map("rows" -> 2 * rowsPerDay * batches,
    "bytes" -> Util.duBytes(landing), "files" -> batches, "rows_per_day" -> rowsPerDay,
    "batches_per_pass" -> batches, "compact_every" -> compactEvery)

  // state the last pass leaves for the checks
  private var lastTables: (String, String) = ("", "")
  private val reports = mutable.LinkedHashMap.empty[Int, (Seq[Row], Seq[Row])]

  private def liveFiles(spark: SparkSession, dir: String): Int =
    SnapshotTable.currentManifest(spark, dir).fold(0)(_.entries.size)
  private def entryBytes(spark: SparkSession, dir: String): Map[String, Long] =
    SnapshotTable.currentManifest(spark, dir).fold(Map.empty[String, Long])(
      _.entries.map(e => e.path -> e.bytes).toMap)
  private def liveRows(spark: SparkSession, dir: String): Long =
    SnapshotTable.currentManifest(spark, dir).fold(0L)(_.entries.map(SnapshotTable.liveRows).sum)

  /** Warm-up: one pass, on tables of its own. Consecutive batches on one
    * table warm the anti-join and compaction paths that a first batch
    * into empty tables does not reach.
    */
  def warm(ctx: PassCtx): Unit = run(ctx, "warm", batches)

  def pass(ctx: PassCtx, p: Int): Map[String, Double] = run(ctx, s"pass$p", batches)

  private def run(ctx: PassCtx, name: String, nBatches: Int): Map[String, Double] = {
    val spark = ctx.spark
    val tr = ctx.tr
    Util.deleteTree(s"$work/tables")
    val root = s"$work/tables/$name"
    val staging = s"$root/staging"
    val curated = s"$root/curated"
    reports.clear()
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    SnapshotTable.write(spark, empty, staging, partitionCols = Some(Seq("dt")))
    SnapshotTable.write(spark, graft.transform.KpiTransform.withKpis(empty), curated,
      partitionCols = Some(Seq("dt")))

    var written = 0L
    var filesRead = 0L
    var reportCount = 0
    def writing(dir: String)(body: => Unit): Unit =
      if (!tr.enabled) body
      else {
        val before = entryBytes(spark, dir)
        body
        written += entryBytes(spark, dir).collect { case (k, b) if !before.contains(k) => b }.sum
      }

    for (i <- 0 until nBatches) {
      tr.batch = i
      ctx.rec.op(s"batch$i") {
        tr.span("etl.batch") {
          val batch = tr.span("sources.read_csv") {
            ctx.boundary(graft.sources.Sources.readCsv(spark, s"$landing/file=$i", schema))
          }
          val existing = tr.span("catalog.read_where") {
            SnapshotTable.readWhere(spark, staging, col("dt").between(day(i), day(i + 1)))
          }
          val fresh = tr.span("ingest.new_rows") {
            ctx.boundary(graft.ingest.IncrementalLoader.newRowsNullSafe(batch, existing))
          }
          // two sinks read the new rows: keep them instead of re-deriving
          val kept = if (tr.enabled) fresh else fresh.persist()
          writing(staging)(tr.span("catalog.append")(SnapshotTable.append(spark, kept, staging)))
          val kpis = tr.span("transform.kpi") {
            ctx.boundary(graft.transform.KpiTransform.withKpis(kept))
          }
          writing(curated)(tr.span("catalog.append")(SnapshotTable.append(spark, kpis, curated)))
          if (!tr.enabled) kept.unpersist()

          val top = tr.span("analytics.report") {
            val df = tr.span("catalog.read_where") {
              SnapshotTable.readWhere(spark, curated, col("dt") >= lit(day(i - 12)))
            }
            if (tr.enabled) filesRead += df.inputFiles.length
            EtlWorkload.topBySpend(df).collect().toSeq
          }
          val trend = tr.span("analytics.report") {
            val df = tr.span("catalog.read_where") {
              SnapshotTable.readWhere(spark, curated, col("dt") >= lit(day(i - 28)))
            }
            if (tr.enabled) filesRead += df.inputFiles.length
            EtlWorkload.ctrTrend(df).collect().toSeq
          }
          reportCount += 2
          reports(i) = (top, trend)

          if ((i + 1) % compactEvery == 0) {
            tr.span("catalog.compact") {
              writing(staging)(SnapshotTable.compact(spark, staging))
              writing(curated)(SnapshotTable.compact(spark, curated))
            }
            // the pre-compaction version stays readable until the next one
            tr.span("catalog.vacuum") {
              SnapshotTable.vacuum(spark, staging, keepVersions = 2, minUnreferencedAgeMs = 0)
              SnapshotTable.vacuum(spark, curated, keepVersions = 2, minUnreferencedAgeMs = 0)
            }
          }
        }
      }
    }
    tr.batch = -1
    lastTables = (staging, curated)

    val landed = (2 * rowsPerDay * nBatches).toDouble
    val stagingRows = liveRows(spark, staging)
    val stored = Util.duBytes(staging) + Util.duBytes(curated)
    val layer = Map(
      "etl.landed_rows" -> landed,
      "etl.stored_bytes" -> stored.toDouble,
      "etl.staging_rows" -> stagingRows.toDouble,
      "etl.stored_bytes_per_row" -> stored.toDouble / math.max(1L, stagingRows),
      "ingest.new_row_ratio" -> stagingRows / landed,
      "catalog.live_files" -> (liveFiles(spark, staging) + liveFiles(spark, curated)).toDouble,
      "catalog.manifest_bytes" ->
        (Util.duBytes(s"$staging/_log") + Util.duBytes(s"$curated/_log")).toDouble) ++
      (if (!tr.enabled) Map.empty else Map(
        "catalog.files_read_per_report" -> filesRead.toDouble / math.max(1, reportCount),
        "catalog.bytes_written_per_row" -> written.toDouble / math.max(1L, stagingRows)))
    layer
  }

  def checks(ctx: PassCtx): Seq[Check] = {
    val spark = ctx.spark
    val (staging, curated) = lastTables
    // plain Spark SQL over the landing CSVs: first delivery of every key
    spark.read.schema(schema.add("file", IntegerType)).option("header", "true").csv(landing)
      .createOrReplaceTempView("pb_landing")
    spark.sql(
      """SELECT campaign_id, adset_id, creative_id, dt, impressions, clicks, spend, conversions, file
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY campaign_id, adset_id, creative_id, dt
        |                                   ORDER BY file) AS rn FROM pb_landing)
        |WHERE rn = 1""".stripMargin).createOrReplaceTempView("pb_first")
    spark.sql(
      """SELECT *,
        |  CASE WHEN impressions = 0 THEN 0D ELSE CAST(clicks AS DOUBLE) / impressions END AS ctr,
        |  CASE WHEN impressions = 0 THEN 0D ELSE spend / impressions END * 1000 AS cpm,
        |  CASE WHEN clicks = 0 THEN 0D ELSE spend / clicks END AS cpc,
        |  CASE WHEN conversions = 0 THEN 0D ELSE spend / conversions END AS cpa
        |FROM pb_first""".stripMargin).createOrReplaceTempView("pb_curated")
    spark.table("pb_curated").cache()
    val cols = schema.fieldNames.map(col).toSeq
    val kpiCols = cols ++ Seq("ctr", "cpm", "cpc", "cpa").map(c => round(col(c), 9).as(c))

    // multiset fingerprint: row count plus two independent sums of row hashes
    def fingerprint(df: DataFrame): Row = {
      val all = df.columns.map(c => col(s"`$c`")).toSeq
      df.agg(count(lit(1)), sum(xxhash64(all: _*).cast("decimal(38,0)")),
        sum(xxhash64((lit("b") +: all): _*).cast("decimal(38,0)"))).head()
    }
    def sameRows(name: String, actual: DataFrame, expected: DataFrame): Check = {
      val (a, e) = (fingerprint(actual), fingerprint(expected))
      Check(name, a == e, s"rows ${a.getLong(0)} vs expected ${e.getLong(0)}; fingerprints " +
        (if (a == e) "equal" else "differ"))
    }
    val Seq(distinctKeys, zeroDiv) = spark.sql(
      """SELECT COUNT(*), COUNT_IF(clicks = 0 OR conversions = 0) FROM pb_curated""")
      .head().toSeq.map(_.asInstanceOf[Long])
    val stagingRows = liveRows(spark, staging)
    val base = Seq(
      Check("etl.staging_rows_equal_distinct_keys", stagingRows == distinctKeys,
        s"staging $stagingRows, distinct landed keys $distinctKeys"),
      sameRows("etl.staging_keeps_first_delivery",
        SnapshotTable.read(spark, staging).select(cols: _*), spark.table("pb_curated").select(cols: _*)),
      sameRows("etl.curated_equals_kpis_of_staging",
        SnapshotTable.read(spark, curated).select(kpiCols: _*),
        spark.table("pb_curated").select(kpiCols: _*)),
      Check("etl.zero_divisor_rows_present", zeroDiv > 0, s"$zeroDiv rows with a zero divisor"))

    val reportChecks = Seq(reports.keys.max, compactEvery).distinct.filter(reports.contains).flatMap { i =>
      val upTo = spark.table("pb_curated").filter(col("file") <= i)
      val (top, trend) = reports(i)
      val expTop = EtlWorkload.topBySpend(upTo.filter(col("dt") >= lit(day(i - 12)))).collect().toSeq
      val expTrend = EtlWorkload.ctrTrend(upTo.filter(col("dt") >= lit(day(i - 28)))).collect().toSeq
      Seq(Check(s"etl.report_top_spend_batch$i", top == expTop, s"${top.size} rows vs ${expTop.size}"),
        Check(s"etl.report_ctr_trend_batch$i", trend == expTrend, s"${trend.size} rows vs ${expTrend.size}"))
    }
    // the last batch compacted: its input version against the compacted one
    val v = SnapshotTable.currentManifest(spark, staging).get.version
    val compaction = sameRows(s"etl.compaction_preserves_rows_v${v - 1}_v$v",
      SnapshotTable.read(spark, staging), SnapshotTable.readVersion(spark, staging, v - 1))
    spark.catalog.clearCache()
    base ++ reportChecks :+ compaction
  }
}

object EtlWorkload {
  /** Notebook cell 3: top 10 campaigns by spend over the window read. */
  def topBySpend(curated: DataFrame): DataFrame =
    curated.groupBy(col("campaign_id"))
      .agg(graft.analytics.Analytics.dsum(col("spend")).as("total_spend"))
      .orderBy(col("total_spend").desc, col("campaign_id"))
      .limit(10)

  /** Notebook cell 4: daily mean CTR. */
  def ctrTrend(curated: DataFrame): DataFrame =
    curated.groupBy(col("dt")).agg(round(avg(col("ctr")), 6).as("avg_ctr")).orderBy(col("dt"))
}
