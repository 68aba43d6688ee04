package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.catalog.SnapshotTable

/** The planner-integrated snapshot relation every read builds: filters
  * applied through ANY surface (DataFrame, SQL view) must prune manifest
  * entries at planning time — asserted from the scan's own numFiles
  * metric, not prose — while staying row-identical to the unpruned read,
  * and parquet-level pushdown + column pruning must compose on top.
  */
class SnapshotRelationSpec extends SparkSpec {

  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect() // metrics populate on execution
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = plan.collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, s"no file scan in plan:\n$plan")
    scans.map(_.metrics("numFiles").value).sum
  }

  test("read prunes files at planning time; results identical to readWhere") {
    val dir = Files.createTempDirectory("graft-rel").toString
    (0 until 4).foreach { k =>
      val part = spark.range(k * 1000, k * 1000 + 100)
        .select(col("id"), concat(lit("doc-"), col("id")).as("name"),
          (col("id") % 7).cast("double").as("score"))
        .repartition(1)
      if (k == 0) SnapshotTable.write(spark, part, dir)
      else SnapshotTable.append(spark, part, dir)
    }
    val t = SnapshotTable.read(spark, dir)

    // unfiltered: all four files
    assert(scannedFiles(t) == 4L)

    // a range filter through the DataFrame API prunes to the one
    // intersecting file — and matches the unpruned read exactly
    val pred = col("id") >= 2000L && col("id") < 3000L
    val q = t.filter(pred)
    assert(scannedFiles(q) == 1L, "planner did not prune by manifest stats")
    val want = SnapshotTable.readWhere(spark, dir, pred)
    assert(q.exceptAll(want).isEmpty && want.exceptAll(q).isEmpty)

    // equality and IN prune too; a no-match predicate scans nothing
    assert(scannedFiles(t.filter(col("id") === 1050L)) == 1L)
    assert(scannedFiles(t.filter(col("id").isin(50L, 3050L))) == 2L)
    assert(scannedFiles(t.filter(col("id") === 999999L)) == 0L)
    assert(t.filter(col("id") === 999999L).count() == 0L)

    // an opaque predicate (arithmetic on the column) keeps every file and
    // stays correct — the conservative contract
    val opaque = t.filter((col("id") + 1) === 1051L)
    assert(scannedFiles(opaque) == 4L)
    assert(opaque.count() == 1L)

    // readWhere reads exactly the files its manifest pruning keeps
    val m = SnapshotTable.currentManifest(spark, dir).get
    for (p <- Seq(pred, col("id") === 1050L, col("id").isin(50L, 3050L),
        col("id") === 999999L, (col("id") + 1) === 1051L))
      assert(SnapshotTable.readWhere(spark, dir, p).inputFiles.length ==
        SnapshotTable.pruneEntries(spark, m, p).length, s"$p")

    // the SQL surface prunes identically (same planner path)
    t.createOrReplaceTempView("snap_rel")
    val viaSql = spark.sql("SELECT name FROM snap_rel WHERE id = 2050")
    assert(scannedFiles(viaSql) == 1L)
    assert(viaSql.collect().map(_.getString(0)).toSeq == Seq("doc-2050"))

    // parquet-level pushdown + column pruning compose on top
    val plan = t.filter(col("id") === 1050L).select("name")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), EqualTo(id,1050)]"), plan)
    assert(plan.contains("ReadSchema") && !plan.contains("score"),
      s"column pruning must drop unused columns from the scan:\n$plan")
  }

  test("read reads additively-evolved schemas: old files fill new columns with NULL") {
    val dir = Files.createTempDirectory("graft-rel-evo").toString
    SnapshotTable.write(spark,
      spark.range(100).select(col("id")).repartition(1), dir)
    SnapshotTable.append(spark,
      spark.range(100, 200).select(col("id"), lit("fresh").as("tag")).repartition(1), dir)
    val t = SnapshotTable.read(spark, dir)
    assert(t.columns.toSeq == Seq("id", "tag"))
    assert(t.filter(col("tag").isNull).count() == 100L,
      "pre-evolution files must read NULL for the appended column")
    assert(t.filter(col("tag") === "fresh").count() == 100L)
    // filters on the evolved column stay conservative for old files (they
    // carry no stats for it) but still prune nothing incorrectly
    assert(scannedFiles(t.filter(col("tag") === "fresh")) == 2L)
    assert(t.filter(col("tag") === "stale").count() == 0L)
  }

  test("read is snapshot-isolated: a concurrent commit cannot change what it scans") {
    val dir = Files.createTempDirectory("graft-rel-iso").toString
    SnapshotTable.write(spark, spark.range(100).select(col("id")).repartition(1), dir)
    val t = SnapshotTable.read(spark, dir)
    SnapshotTable.append(spark, spark.range(100, 200).select(col("id")).repartition(1), dir)
    assert(t.count() == 100L, "relation must stay pinned to its manifest")
    assert(SnapshotTable.read(spark, dir).count() == 200L)
    // time travel through the same relation path, pruning included
    val v1 = SnapshotTable.versions(spark, dir).head
    assert(SnapshotTable.readVersion(spark, dir, v1).count() == 100L)
    // two reads of one version are one relation: equal plans, one cache
    val again = SnapshotTable.readVersion(spark, dir, v1)
    assert(t.queryExecution.analyzed.sameResult(again.queryExecution.analyzed))
    assert(!t.queryExecution.analyzed.sameResult(
      SnapshotTable.read(spark, dir).queryExecution.analyzed))
    t.cache()
    try {
      t.count()
      val cached = again.filter(col("id") > 10L).queryExecution.withCachedData
      assert(cached.exists(_.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]),
        s"the second read must be served from the first read's cache:\n$cached")
    } finally t.unpersist()
    assert(scannedFiles(SnapshotTable.readVersion(spark, dir, v1)
      .filter(col("id") === 999L)) == 0L, "time-travel reads must prune from the old manifest")
    intercept[IllegalStateException] {
      SnapshotTable.readVersion(spark, dir, 99L)
    }
  }

  test("read, readVersion and readWhere each resolve the manifest once and plan the relation") {
    val dir = Files.createTempDirectory("graft-rel-once").toString
    SnapshotTable.write(spark, spark.range(100).select(col("id")).repartition(1), dir)
    SnapshotTable.append(spark, spark.range(100, 200).select(col("id")).repartition(1), dir)
    val mm = SnapshotTable.ManifestMetrics
    for ((label, read) <- Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "read" -> (() => SnapshotTable.read(spark, dir)),
        "readVersion" -> (() => SnapshotTable.readVersion(spark, dir, 1L)),
        "readWhere" -> (() => SnapshotTable.readWhere(spark, dir, col("id") >= 100L)))) {
      val (l0, p0) = (mm.listings.sum(), mm.parses.sum())
      val df = read()
      assert((mm.listings.sum() - l0, mm.parses.sum() - p0) == (1L, 1L),
        s"$label must list and parse the manifest exactly once")
      val indexes = df.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r.relation
      }.collect { case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation => h.location }
      assert(indexes.length == 1 && indexes.head.isInstanceOf[graft.catalog.SnapshotFileIndex],
        s"$label must plan one relation over the manifest index, got $indexes")
    }
  }

  test("a manifest without a recorded schema reads with the schema of its footers") {
    val dir = Files.createTempDirectory("graft-rel-legacy").toString
    spark.range(50).select(col("id"), concat(lit("n-"), col("id")).as("name"))
      .repartition(1).write.parquet(s"$dir/c-legacy")
    val file = new java.io.File(s"$dir/c-legacy").listFiles().filter(_.getName.endsWith(".parquet"))
      .head
    // the manifest shape written before schemas were recorded: no schemaDdl
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/_log"))
    Files.write(java.nio.file.Paths.get(s"$dir/_log/manifest-00000001.json"),
      (s"""{"version":1,"entries":[{"path":"c-legacy/${file.getName}",""" +
        s""""rows":50,"bytes":${file.length}}]}""").getBytes)
    assert(SnapshotTable.currentManifest(spark, dir).get.schemaDdl.isEmpty)
    val t = SnapshotTable.read(spark, dir)
    assert(t.columns.toSeq == Seq("id", "name"))
    assert(t.count() == 50L && t.filter(col("name") === "n-7").count() == 1L)
  }
}
