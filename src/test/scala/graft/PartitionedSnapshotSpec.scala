package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.catalog.{SnapshotCatalog, SnapshotTable}

/** Identity-partitioned snapshot tables: every writer routes rows so each
  * data file holds exactly ONE partition-value combination, which makes
  * the per-file footer bounds exact (lo == hi) and manifest-level pruning
  * on partition predicates byte-precise — the mechanism that turns a
  * 100 TB scan into a one-partition scan. Asserted from the committed
  * manifest (file layout + stats) and from scanned-file counts in real
  * plans, both the Scala and the SQL path.
  */
class PartitionedSnapshotSpec extends SparkSpec {

  private lazy val root: String = Files.createTempDirectory("graft-part").toString

  private def ensureCatalog(): Unit = {
    spark.conf.set("spark.sql.catalog.snap", classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.snap.root", root)
  }

  private def df(lo: Int, hi: Int) =
    spark.range(lo, hi).select(col("id"),
      concat(lit("2024-01-0"), (col("id") % 3 + 1)).as("dt"),
      (col("id") * 2).as("v"))

  private def v2ScannedFiles(q: org.apache.spark.sql.DataFrame): Long = {
    q.collect()
    val plan = q.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collect { case b: BatchScanExec => b }
      .flatMap(_.inputPartitions).flatMap {
        case f: org.apache.spark.sql.execution.datasources.FilePartition =>
          f.files.map(_.filePath.toString)
        case _ => Seq.empty
      }.distinct.size.toLong
  }

  test("partitioned write routes one partition value per file, with exact bounds") {
    val dir = s"$root/scala/routed"
    SnapshotTable.write(spark, df(0, 300).repartition(4), dir, partitionCols = Some(Seq("dt")))
    val m = SnapshotTable.currentManifest(spark, dir).get
    assert(m.partitionCols.contains(Seq("dt")))
    assert(m.entries.nonEmpty)
    // layout: every file sits under a __p_dt=<value> directory and its dt
    // bounds collapse to that single value
    m.entries.foreach { e =>
      assert(e.path.contains("__p_dt="), s"not partition-routed: ${e.path}")
      val s = e.stats.get("dt")
      assert(s.lo == s.hi && s.nulls == 0L, s"file ${e.path} not single-valued: $s")
    }
    assert(m.entries.map(_.stats.get("dt").lo.get).distinct.size == 3)
    // the partition columns stay IN the files: a plain read returns them
    val back = SnapshotTable.read(spark, dir)
    assert(back.columns.toSeq == Seq("id", "dt", "v"))
    assert(back.count() == 300)
    assert(back.filter(col("dt").isNull).isEmpty)
  }

  test("partition-predicate reads prune to exactly the matching partition's files") {
    val dir = s"$root/scala/pruned"
    SnapshotTable.write(spark, df(0, 300).repartition(4), dir, partitionCols = Some(Seq("dt")))
    val m = SnapshotTable.currentManifest(spark, dir).get
    val jan2 = m.entries.filter(_.stats.get("dt").lo.contains("2024-01-02"))
    assert(jan2.nonEmpty && jan2.size < m.entries.size)
    val pruned = SnapshotTable.pruneEntries(spark, m, col("dt") === "2024-01-02")
    assert(pruned.map(_.path).toSet == jan2.map(_.path).toSet,
      "manifest pruning must keep exactly the one partition's files")
    val got = SnapshotTable.readWhere(spark, dir, col("dt") === "2024-01-02")
    assert(got.count() == df(0, 300).filter(col("dt") === "2024-01-02").count())
  }

  test("append and merge keep the routing; compact never mixes partitions") {
    val dir = s"$root/scala/maint"
    SnapshotTable.write(spark, df(0, 120), dir, partitionCols = Some(Seq("dt")))
    SnapshotTable.append(spark, df(120, 260), dir)
    val afterAppend = SnapshotTable.currentManifest(spark, dir).get
    afterAppend.entries.foreach { e =>
      val s = e.stats.get("dt"); assert(s.lo == s.hi, s"append broke routing: ${e.path}")
    }
    // binpack everything into one file per partition
    SnapshotTable.compact(spark, dir, targetBytes = 512L * 1024 * 1024)
    val m = SnapshotTable.currentManifest(spark, dir).get
    m.entries.foreach { e =>
      val s = e.stats.get("dt")
      assert(s.lo == s.hi, s"compaction mixed partitions into ${e.path}: $s")
    }
    assert(m.entries.map(_.stats.get("dt").lo.get).distinct.size == 3)
    assert(SnapshotTable.read(spark, dir).count() == 260)
  }

  test("compacting a partitioned table shuffles the data once and writes one file per value") {
    val dir = s"$root/scala/compact-once"
    SnapshotTable.write(spark, df(0, 600).repartition(4), dir, partitionCols = Some(Seq("dt")))
    SnapshotTable.append(spark, df(600, 900).repartition(3), dir)
    val before = SnapshotTable.read(spark, dir).collect().map(_.toString).sorted.toSeq
    val (_, rec) = graft.obs.Recorder.measure(spark)(
      SnapshotTable.compact(spark, dir, targetBytes = 512L * 1024 * 1024))
    // the rebalance on the routing column is the only exchange: no
    // repartition to the output file count ahead of it
    val exchanges = rec.executions.flatMap(qe => collectAll(qe.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e.shuffleOrigin
    })
    assert(exchanges.size == 1, exchanges)
    val m = SnapshotTable.currentManifest(spark, dir).get
    assert(m.entries.size == 3, m.entries.map(_.path))
    assert(m.entries.map(_.stats.get("dt").lo.get).distinct.size == 3)
    assert(SnapshotTable.read(spark, dir).collect().map(_.toString).sorted.toSeq == before)
  }

  test("a partitioned batch missing its partition column is refused loudly") {
    val dir = s"$root/scala/refuse-missing"
    SnapshotTable.write(spark, df(0, 50), dir, partitionCols = Some(Seq("dt")))
    val bad = spark.range(0, 10).select(col("id"), (col("id") * 3).as("v"))
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.append(spark, bad, dir)
    }
    assert(e.getMessage.contains("partition column 'dt' is missing"))
  }

  test("float/double partition columns are refused (bounds round)") {
    val dir = s"$root/scala/refuse-float"
    val d = spark.range(0, 10).select(col("id"), (col("id") / 2.0).as("score"))
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.write(spark, d, dir, partitionCols = Some(Seq("score")))
    }
    assert(e.getMessage.contains("partitioning supports"))
  }

  test("vacuum reclaims nested partition files and their value directories") {
    val dir = s"$root/scala/vac"
    SnapshotTable.write(spark, df(0, 90), dir, partitionCols = Some(Seq("dt")))
    val v0Files = SnapshotTable.currentManifest(spark, dir).get.entries.map(_.path)
    // replace: v0's files become unreferenced once retention drops v0
    SnapshotTable.write(spark, df(90, 150), dir)
    SnapshotTable.write(spark, df(150, 200), dir)
    val n = SnapshotTable.vacuum(spark, dir, keepVersions = 1, minUnreferencedAgeMs = 0L)
    assert(n >= v0Files.size, s"expected >=${v0Files.size} reclaimed, got $n")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    v0Files.foreach { rel =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, rel)), s"survived vacuum: $rel")
    }
    // current snapshot still reads
    assert(SnapshotTable.read(spark, dir).count() == 50)
  }

  test("vacuum never plans LIVE files under Hive-escaped partition directories") {
    // the liveness check compares walked paths (relativized back from the
    // filesystem) against manifest-relative paths: if the two forms
    // diverged on escaped directory names (space, %3A), vacuum would
    // DELETE LIVE DATA — the catastrophic form of the path-form bug class
    val dir = s"$root/scala/vac_ts"
    def tdf(a: Long, b: Long) = spark.range(a, b).select(
      org.apache.spark.sql.functions.timestamp_seconds(
        (org.apache.spark.sql.functions.col("id") % 3) * 3600).as("ts"),
      org.apache.spark.sql.functions.col("id").as("v"))
    SnapshotTable.write(spark, tdf(0, 300), dir, partitionCols = Some(Seq("ts")))
    SnapshotTable.append(spark, tdf(300, 500), dir)
    val m = SnapshotTable.currentManifest(spark, dir).get
    assert(m.entries.exists(_.path.contains("%")),
      s"setup must produce escaped directory names: ${m.entries.map(_.path)}")

    // everything is live at keepVersions=2: BOTH walks must plan no data
    // file and nothing any manifest references (_SUCCESS markers are
    // legitimately orphan)
    val live = m.entries.map(_.path).toSet
    for (threshold <- Seq("1000000", "0")) {
      spark.conf.set("spark.graft.vacuum.parallelListingThreshold", threshold)
      try {
        val plan = SnapshotTable.vacuumDryRun(spark, dir,
          keepVersions = 2, minUnreferencedAgeMs = 0)
        val bad = plan.filter { case (rel, kind) => kind == "data" || live.contains(rel) }
        assert(bad.isEmpty,
          s"threshold=$threshold: vacuum planned LIVE files: $bad")
      } finally spark.conf.unset("spark.graft.vacuum.parallelListingThreshold")
    }

    // retention drop: v1's files reclaim, the current snapshot reads whole
    val v1Files = SnapshotTable.currentManifest(spark, dir).get.entries.map(_.path)
    SnapshotTable.write(spark, tdf(0, 100), dir) // replace → olds unreferenced at keep 1
    val n = SnapshotTable.vacuum(spark, dir, keepVersions = 1, minUnreferencedAgeMs = 0L)
    assert(n >= v1Files.size, s"expected >=${v1Files.size} reclaimed, got $n")
    assert(SnapshotTable.read(spark, dir).count() == 100)
  }

  test("EXECUTING parallel vacuum (delete-in-job) reclaims escaped-dir garbage, spares live rows") {
    // the r13 executing path deletes inside the listing job (paths never
    // reach the driver) — prove on Hive-escaped directories that it (a)
    // reports the dry-run's data count, (b) leaves the current snapshot
    // intact, (c) leaves no garbage behind
    val dir = s"$root/scala/vac_ts_par"
    def tdf(a: Long, b: Long) = spark.range(a, b).select(
      org.apache.spark.sql.functions.timestamp_seconds(
        (org.apache.spark.sql.functions.col("id") % 3) * 3600).as("ts"),
      org.apache.spark.sql.functions.col("id").as("v"))
    SnapshotTable.write(spark, tdf(0, 300), dir, partitionCols = Some(Seq("ts")))
    assert(SnapshotTable.currentManifest(spark, dir).get.entries.exists(_.path.contains("%")))
    SnapshotTable.write(spark, tdf(0, 120), dir) // replace → v1 unreferenced at keep 1
    val before = SnapshotTable.read(spark, dir).collect().toSet
    def withParallel[T](body: => T): T = {
      spark.conf.set("spark.graft.vacuum.parallelListingThreshold", "0")
      try body finally spark.conf.unset("spark.graft.vacuum.parallelListingThreshold")
    }
    val planned = withParallel(SnapshotTable.vacuumDryRun(spark, dir,
      keepVersions = 1, minUnreferencedAgeMs = 0)).count(_._2 == "data")
    assert(planned > 0, "setup must leave unreferenced escaped-dir data files")
    val n = withParallel(SnapshotTable.vacuum(spark, dir,
      keepVersions = 1, minUnreferencedAgeMs = 0))
    assert(n == planned, s"executing vacuum reported $n data deletions, plan had $planned")
    assert(SnapshotTable.read(spark, dir).collect().toSet == before,
      "parallel executing vacuum changed the current snapshot")
    val leftover = withParallel(SnapshotTable.vacuumDryRun(spark, dir,
      keepVersions = 1, minUnreferencedAgeMs = 0)).filter(_._2 == "data")
    assert(leftover.isEmpty, s"second pass still finds garbage: $leftover")
  }

  test("vacuumDryRun planLimit caps the returned plan on both walks") {
    val dir = s"$root/scala/vac_cap"
    def tdf(a: Long, b: Long) = spark.range(a, b).select(
      org.apache.spark.sql.functions.timestamp_seconds(
        (org.apache.spark.sql.functions.col("id") % 3) * 3600).as("ts"),
      org.apache.spark.sql.functions.col("id").as("v"))
    SnapshotTable.write(spark, tdf(0, 300), dir, partitionCols = Some(Seq("ts")))
    SnapshotTable.write(spark, tdf(0, 50), dir) // replace → v1 unreferenced at keep 1
    for (threshold <- Seq("1000000", "0")) {
      spark.conf.set("spark.graft.vacuum.parallelListingThreshold", threshold)
      try {
        val full = SnapshotTable.vacuumDryRun(spark, dir,
          keepVersions = 1, minUnreferencedAgeMs = 0)
        assert(full.size > 2, s"setup must leave a multi-entry plan, got $full")
        val capped = SnapshotTable.vacuumDryRun(spark, dir,
          keepVersions = 1, minUnreferencedAgeMs = 0, planLimit = Some(2))
        assert(capped.size == 2, s"threshold=$threshold: cap ignored: $capped")
        assert(capped.toSet.subsetOf(full.toSet),
          s"threshold=$threshold: capped entries not in the full plan")
        assert(SnapshotTable.vacuumDryRun(spark, dir,
          keepVersions = 1, minUnreferencedAgeMs = 0, planLimit = Some(0)).isEmpty)
        // uncapped default unchanged, and nothing was deleted by any dry run
        assert(SnapshotTable.vacuumDryRun(spark, dir,
          keepVersions = 1, minUnreferencedAgeMs = 0).toSet == full.toSet)
      } finally spark.conf.unset("spark.graft.vacuum.parallelListingThreshold")
    }
    assert(SnapshotTable.read(spark, dir).count() == 50)
  }

  test("SQL: CREATE TABLE PARTITIONED BY + INSERT routes and prunes; DESCRIBE shows the spec") {
    ensureCatalog()
    spark.sql("CREATE TABLE snap.part.events (id BIGINT, dt STRING, v BIGINT) PARTITIONED BY (dt)")
    df(0, 300).createOrReplaceTempView("src_part_events")
    spark.sql("INSERT INTO snap.part.events SELECT * FROM src_part_events")
    val m = SnapshotTable.currentManifest(spark, s"$root/part/events").get
    assert(m.partitionCols.contains(Seq("dt")))
    m.entries.foreach(e => assert(e.path.contains("__p_dt="), e.path))

    val total = m.entries.size.toLong
    val one = m.entries.count(_.stats.get("dt").lo.contains("2024-01-03")).toLong
    assert(one > 0 && one < total)
    val scanned = v2ScannedFiles(
      spark.sql("SELECT * FROM snap.part.events WHERE dt = '2024-01-03'"))
    assert(scanned == one, s"expected $one files scanned, got $scanned (of $total)")

    val desc = spark.sql("DESCRIBE TABLE snap.part.events").collect().map(_.getString(0))
    assert(desc.contains("# Partition Information") || desc.contains("dt"),
      s"DESCRIBE lacks partition info: ${desc.mkString("|")}")
    spark.sql("DROP VIEW src_part_events")
  }

  test("SQL: CTAS PARTITIONED BY stages partitioned files and publishes one version") {
    ensureCatalog()
    df(0, 150).createOrReplaceTempView("src_part_ctas")
    spark.sql("CREATE TABLE snap.part.ctas PARTITIONED BY (dt) AS SELECT * FROM src_part_ctas")
    val m = SnapshotTable.currentManifest(spark, s"$root/part/ctas").get
    assert(m.version == 1L)
    assert(m.partitionCols.contains(Seq("dt")))
    m.entries.foreach { e =>
      val s = e.stats.get("dt"); assert(s.lo == s.hi, s"CTAS not routed: ${e.path}")
    }
    assert(spark.sql("SELECT count(*) FROM snap.part.ctas").head.getLong(0) == 150)
    spark.sql("DROP VIEW src_part_ctas")
  }

  test("SQL: unsupported transforms are refused loudly, not silently dropped") {
    ensureCatalog()
    // the whole transform family is supported now (BucketPartitionSpec,
    // TemporalPartitionSpec); a TYPE-invalid transform must still refuse
    // at DDL/write, never silently produce an unpartitioned table
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE snap.part.badtemporal (id BIGINT, dt STRING) " +
        "PARTITIONED BY (days(id))")
      spark.sql("INSERT INTO snap.part.badtemporal VALUES (1, 'x')")
    }
    assert(e.getMessage.contains("days"), s"wrong refusal: ${e.getMessage}")
  }

  test("SQL row-level UPDATE on a partitioned table stays correct; compact restores layout") {
    ensureCatalog()
    spark.sql("CREATE TABLE snap.part.upd (id BIGINT, dt STRING, v BIGINT) PARTITIONED BY (dt)")
    df(0, 90).createOrReplaceTempView("src_part_upd")
    spark.sql("INSERT INTO snap.part.upd SELECT * FROM src_part_upd")
    spark.sql("UPDATE snap.part.upd SET v = v + 1000 WHERE id % 10 = 0")
    val got = spark.sql("SELECT sum(v) FROM snap.part.upd").head.getLong(0)
    val want = df(0, 90).select(
      sum(when(col("id") % 10 === 0, col("v") + 1000).otherwise(col("v")))).head.getLong(0)
    assert(got == want)
    // the rewrite may produce multi-valued files; compaction re-routes
    SnapshotTable.compact(spark, s"$root/part/upd", targetBytes = 512L * 1024 * 1024)
    SnapshotTable.currentManifest(spark, s"$root/part/upd").get.entries.foreach { e =>
      val s = e.stats.get("dt"); assert(s.lo == s.hi, s"compact did not restore: ${e.path}")
    }
    spark.sql("DROP VIEW src_part_upd")
  }
}
