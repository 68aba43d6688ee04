package graft

import org.apache.spark.sql.functions._

/** End-to-end demo of the reference pipeline on this engine
  * (`README.md:14-28` of the reference: generate → staging → incremental
  * load → curated KPIs → analytics), run against a temp workspace:
  *
  * 1. seeded generation (generate_ads_data.py) → versioned CSV drop
  * 2. latest-file discovery + schema'd CSV scan (insert_ads_data.py:6-10)
  * 3. idempotent incremental append into the dt-partitioned staging sink
  *    (oracle_to_snowflake.py:76-110) — run twice, second pass appends 0
  * 4. curated CTAS with KPI derivation + view (transform_staging.py)
  * 5. the three analytics queries (notebook cells 3-5)
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(Sessions.coresFromEnv, appName = "graft-demo",
      warehouseDir = Some(java.nio.file.Files.createTempDirectory("graft-wh").toString))
    spark.sparkContext.setLogLevel("ERROR")
    val ws = java.nio.file.Files.createTempDirectory("graft-demo").toString
    println(s"[demo] workspace: $ws")

    // 1. generate + versioned CSV drop (F15 naming)
    val ads = gen.AdsDataGenerator.generate(spark, gen.AdsDataGenerator.Params(campaigns = 10, days = 14))
    sources.Sources.writeCsv(ads, s"$ws/ads_data_2026-08-12A.csv")
    println(s"[demo] generated ${ads.count()} rows → CSV")

    // 2. latest-file discovery + schema'd scan
    val latest = sources.Sources.latestFile(spark, ws, "ads_data_", ".csv")
      .getOrElse(sys.error("no ads CSV found"))
    val batch = sources.Sources.readCsv(spark, latest, ads.schema)
    println(s"[demo] latest file: $latest (${batch.count()} rows)")

    // 3. incremental append ×2 — second run must be a no-op
    val sink = s"$ws/staging"
    val n1 = ingest.IncrementalLoader.appendNew(spark, batch, sink)
    val n2 = ingest.IncrementalLoader.appendNew(spark, batch, sink)
    println(s"[demo] incremental append: first=$n1 second=$n2 (idempotent=${n2 == 0})")

    // 4. curated CTAS + view
    val staging = spark.read.parquet(sink)
    catalog.CatalogOps.createDatabaseIfNotExists(spark, "production")
    catalog.CatalogOps.ctas(graft.transform.KpiTransform.withKpis(staging), "production.campaign_daily_metrics")
    catalog.CatalogOps.createOrReplaceView(spark, "production.campaign_daily_metrics_view",
      "production.campaign_daily_metrics")
    val curatedCount = catalog.CatalogOps.rowCount(spark, "production.campaign_daily_metrics_view")
    println(s"[demo] curated rows=$curatedCount (matches staging=${curatedCount == staging.count()})")

    // 5. analytics over the curated view (notebook cells 3-5 shapes)
    val curated = spark.table("production.campaign_daily_metrics_view")
    val top = curated.groupBy("campaign_id")
      .agg(analytics.Analytics.dsum(col("spend")).as("total_spend"))
      .orderBy(col("total_spend").desc, col("campaign_id")).limit(3)
    println("[demo] top campaigns by spend:")
    top.collect().foreach(r => println(s"[demo]   campaign=${r.get(0)} spend=${r.get(1)}"))
    val zeroKpis = curated.filter(col("clicks") === 0 && col("cpc") =!= 0).count()
    println(s"[demo] ÷0→0 KPI invariant holds=${zeroKpis == 0}")

    // 6. extensions: skew diagnostics + salted agg (exactness), sessionization
    val hist = ops.Skew.keyHistogram(curated, Seq("campaign_id"), topN = 1).collect()(0)
    println(s"[demo] hottest campaign=${hist.get(0)} share=${hist.getAs[Double]("share")}")
    val saltedTop = ops.Skew.saltedSum(curated, Seq("campaign_id"), "spend")
      .orderBy(col("sum_spend").desc, col("campaign_id")).limit(1).collect()(0)
    println(s"[demo] salted-sum top campaign=${saltedTop.get(0)} (matches=${saltedTop.get(0) == top.collect()(0).get(0)})")

    import spark.implicits._
    val fakeEvents = curated.limit(200).select(
      col("campaign_id").as("user_id"),
      col("dt").cast("timestamp").as("ts"),
      col("spend").as("value")).as[streaming.StreamOps.Ev]
    val sessions = streaming.StreamOps.sessionize(fakeEvents, gapMinutes = 2 * 24 * 60)
    println(s"[demo] sessionize: ${sessions.count()} sessions from ${fakeEvents.count()} events")

    // 7. the full training-data pipeline: quality gate -> source mixing ->
    //    decontamination -> near-dup clusters -> dedup'd, packed corpus
    // fixture dir is overridable so the demo runs on any machine with the
    // parquet layout, not just the driver container
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val raw = Tables.documents(spark, sfDir)
    val gated = text.TextPipelines.qualityGate(raw,
      minQuality = 0.3, minTokens = 10, maxTokens = 100000,
      langs = Seq("en", "de", "es", "fr", "und"))
    println(s"[demo] quality gate: ${raw.count()} docs -> ${gated.count()} kept")
    val mixWeights = raw.select("source").distinct().collect()
      .map(_.getString(0)).sorted.zipWithIndex
      .map { case (src, i) => src -> (if (i % 2 == 0) 1.0 else 0.5) }.toMap
    val mixed = text.TextPipelines
      .weightedMix(raw.join(gated.select("doc_id"), "doc_id"), mixWeights)
      .select(col("doc_id"), col("text"))
    println(s"[demo] source mixing: -> ${mixed.count()} docs after weighted sampling")
    val bench = raw.filter(pmod(col("doc_id"), lit(100)) === 0)
    val clean = mixed.join(
      dedup.Dedup.contaminationFlags(mixed, bench).filter(col("contaminated"))
        .select("doc_id"), Seq("doc_id"), "left_anti")
    println(s"[demo] decontamination: -> ${clean.count()} docs clear of the benchmark set")
    val withDups = clean.union(clean.select(col("doc_id") + 1000000, concat(col("text"), lit(" zz")).as("text")))
    val pairs = dedup.Dedup.minHashVerifiedNearDups(withDups, threshold = 0.5).select("id_a", "id_b")
    val clusters = ops.Graph.connectedComponents(pairs)
    val keep = withDups.join(clusters.filter(col("id") =!= col("rep"))
      .select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
    println(s"[demo] dedup: ${withDups.count()} docs -> ${keep.count()} after cluster dedup " +
      s"(${clusters.count()} docs in ${clusters.select("rep").distinct().count()} near-dup clusters)")
    val packed = text.TextPipelines.packSequencesSharded(keep, capacity = 2048, shards = 4)
    val binStats = packed.groupBy("bin_id").agg(count(lit(1)).as("docs"))
    println(s"[demo] packed into ${binStats.count()} shard-namespaced bins of 2048 tokens " +
      s"(avg ${packed.count() / math.max(binStats.count(), 1)} docs/bin)")

    spark.stop()
  }
}
