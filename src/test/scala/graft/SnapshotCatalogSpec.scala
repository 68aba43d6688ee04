package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.catalog.{SnapshotCatalog, SnapshotTable}

/** The snapshot table through PURE SQL: a DataSourceV2 catalog resolving
  * `snap.<ident>` (and backtick-quoted absolute paths), `VERSION AS OF`
  * time travel via the DSv2 loadTable(ident, version) contract, and the
  * same manifest-stats file pruning the Scala read API gets — all
  * asserted from scan metrics and row equality against the Scala reads.
  */
class SnapshotCatalogSpec extends SparkSpec {

  private def ensureCatalog(): Unit = {
    spark.conf.set("spark.sql.catalog.snap", classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.snap.root", root)
  }

  private lazy val root: String = Files.createTempDirectory("graft-cat").toString

  private def v2ScannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = plan.collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty, s"no DSv2 batch scan in plan:\n$plan")
    scans.flatMap(_.inputPartitions).flatMap {
      case f: org.apache.spark.sql.execution.datasources.FilePartition =>
        f.files.map(_.filePath.toString)
      case _ => Seq.empty
    }.distinct.size.toLong
  }

  test("SQL reads resolve through the catalog and match the Scala API; VERSION AS OF time-travels") {
    ensureCatalog()
    val dir = s"$root/ads/spend"
    val v0 = spark.range(0, 500).select(col("id"), (col("id") % 5).as("grp"))
    SnapshotTable.write(spark, v0, dir)
    val v1 = spark.range(500, 800).select(col("id"), (col("id") % 5).as("grp"))
    SnapshotTable.append(spark, v1, dir)

    val cur = spark.sql("SELECT * FROM snap.ads.spend")
    assert(cur.count() == 800)
    val scala = SnapshotTable.read(spark, dir)
    assert(cur.exceptAll(scala).isEmpty && scala.exceptAll(cur).isEmpty)

    val versions = SnapshotTable.versions(spark, dir)
    val tt = spark.sql(s"SELECT * FROM snap.ads.spend VERSION AS OF ${versions.head}")
    assert(tt.count() == 500)
    val scalaV0 = SnapshotTable.readVersion(spark, dir, versions.head)
    assert(tt.exceptAll(scalaV0).isEmpty && scalaV0.exceptAll(tt).isEmpty)

    // Spark's versioned-table semantics: a CURRENT-version reference is
    // refreshed at execution start (a long-lived DataFrame sees the latest
    // committed snapshot), while a VERSION AS OF reference stays pinned to
    // its manifest across concurrent appends
    val current = spark.sql("SELECT count(*) AS n FROM snap.ads.spend")
    val pinnedV = SnapshotTable.versions(spark, dir).last
    val pinned = spark.sql(s"SELECT count(*) AS n FROM snap.ads.spend VERSION AS OF $pinnedV")
    SnapshotTable.append(spark, spark.range(800, 900).select(col("id"), (col("id") % 5).as("grp")), dir)
    assert(current.collect()(0).getLong(0) == 900,
      "current-version reference must refresh to the latest committed snapshot")
    assert(pinned.collect()(0).getLong(0) == 800,
      "VERSION AS OF reference must stay pinned across concurrent appends")
  }

  test("absolute-path identifiers work without a root; aggregates and joins plan over the catalog table") {
    ensureCatalog()
    val dir = Files.createTempDirectory("graft-cat-abs").toString
    SnapshotTable.write(spark,
      spark.range(0, 100).select(col("id"), (col("id") % 3).as("k")), dir)
    val agg = spark.sql(s"SELECT k, count(*) AS n FROM snap.`$dir` GROUP BY k ORDER BY k")
    assert(agg.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 34L), (1L, 33L), (2L, 33L)))
  }

  test("manifest-stats pruning reaches the DSv2 scan: range predicate scans one file of four") {
    ensureCatalog()
    val dir = s"$root/pruned"
    (0 until 4).foreach { k =>
      val part = spark.range(k * 1000, k * 1000 + 100).select(col("id")).repartition(1)
      if (k == 0) SnapshotTable.write(spark, part, dir)
      else SnapshotTable.append(spark, part, dir)
    }
    assert(v2ScannedFiles(spark.sql("SELECT * FROM snap.pruned")) == 4L)
    assert(v2ScannedFiles(
      spark.sql("SELECT * FROM snap.pruned WHERE id >= 2000 AND id < 3000")) == 1L)
    assert(v2ScannedFiles(spark.sql("SELECT * FROM snap.pruned WHERE id = 999999")) == 0L)
    // row-identical to the Scala read under the same predicate
    val q = spark.sql("SELECT * FROM snap.pruned WHERE id >= 2000 AND id < 3000")
    val want = SnapshotTable.read(spark, dir).filter(col("id") >= 2000 && col("id") < 3000)
    assert(q.exceptAll(want).isEmpty && want.exceptAll(q).isEmpty)
  }

  test("SQL writes: INSERT INTO appends, INSERT OVERWRITE replaces, CTAS creates+populates — all OCC commits") {
    ensureCatalog()
    spark.range(0, 50).select(col("id"), (col("id") % 5).as("grp"))
      .createOrReplaceTempView("w_src")

    // CTAS is ATOMIC (StagingTableCatalog): exactly ONE published version
    // holding the query result — no empty-v0 husk
    spark.sql("CREATE TABLE snap.w.ctas AS SELECT * FROM w_src")
    val dir = s"$root/w/ctas"
    assert(spark.sql("SELECT count(*) AS n FROM snap.w.ctas").head().getLong(0) == 50)
    assert(SnapshotTable.versions(spark, dir) == Seq(1L),
      "atomic CTAS must publish exactly one version")

    // INSERT INTO appends: prior files carried by reference (zero rewrites)
    val before = SnapshotTable.currentManifest(spark, dir).get.entries.map(_.path).toSet
    spark.sql("INSERT INTO snap.w.ctas SELECT id + 100, grp FROM w_src WHERE grp = 0")
    assert(spark.sql("SELECT count(*) AS n FROM snap.w.ctas").head().getLong(0) == 60)
    val after = SnapshotTable.currentManifest(spark, dir).get.entries.map(_.path).toSet
    assert(before.forall(after.contains),
      "INSERT INTO must carry existing files by reference, not rewrite them")

    // Spark's insert resolution guards the schema: wrong arity is refused
    assertThrows[Exception](spark.sql("INSERT INTO snap.w.ctas VALUES (1)"))

    // INSERT OVERWRITE replaces the contents; history keeps the old state
    val vBefore = SnapshotTable.versions(spark, dir).last
    spark.sql("INSERT OVERWRITE snap.w.ctas SELECT id, grp FROM w_src WHERE grp = 1")
    assert(spark.sql("SELECT count(*) AS n FROM snap.w.ctas").head().getLong(0) == 10)
    assert(spark.sql(s"SELECT count(*) AS n FROM snap.w.ctas VERSION AS OF $vBefore")
      .head().getLong(0) == 60, "pre-overwrite snapshot must survive for time travel")

    // SQL + Scala writers interleave on the same OCC protocol
    SnapshotTable.append(spark,
      spark.range(900, 910).select(col("id"), lit(9L).as("grp")), dir)
    assert(spark.sql("SELECT count(*) AS n FROM snap.w.ctas").head().getLong(0) == 20)

    // REPLACE TABLE AS SELECT: atomic replace, one commit, history intact
    val vPreReplace = SnapshotTable.versions(spark, dir).last
    spark.sql("REPLACE TABLE snap.w.ctas AS SELECT id, grp FROM w_src WHERE grp = 2")
    assert(spark.sql("SELECT count(*) AS n FROM snap.w.ctas").head().getLong(0) == 10)
    assert(SnapshotTable.versions(spark, dir).last == vPreReplace + 1)
    assert(spark.sql(s"SELECT count(*) AS n FROM snap.w.ctas VERSION AS OF $vPreReplace")
      .head().getLong(0) == 20, "pre-replace snapshot must stay time-travelable")
  }

  test("a failing CTAS aborts atomically: no table, no leftover files") {
    ensureCatalog()
    spark.range(0, 50).toDF("id").createOrReplaceTempView("fail_src")
    spark.udf.register("ctas_boom",
      (i: Long) => if (i > 10) throw new RuntimeException("boom") else i)
    val dir = s"$root/w/failed"
    intercept[Exception](
      spark.sql("CREATE TABLE snap.w.failed AS SELECT ctas_boom(id) AS id FROM fail_src"))
    assert(!SnapshotTable.exists(spark, dir),
      "a failed CTAS must not leave a table behind")
    assert(!new java.io.File(dir).exists() ||
      new java.io.File(dir).listFiles().forall(f =>
        f.isDirectory && f.listFiles().forall(!_.getName.endsWith(".parquet"))),
      "a failed CTAS must not leave published-looking data files behind")
    // and the identifier is reusable afterwards
    spark.sql("CREATE TABLE snap.w.failed AS SELECT id FROM fail_src WHERE id <= 10")
    assert(spark.sql("SELECT count(*) AS n FROM snap.w.failed").head().getLong(0) == 11)
  }

  test("SQL DELETE FROM prunes by stats and rewrites copy-on-write; TRUNCATE empties with history intact") {
    ensureCatalog()
    val dir = s"$root/w/del"
    // four disjoint id-range files, like the pruning test
    (0 until 4).foreach { k =>
      val part = spark.range(k * 1000, k * 1000 + 100)
        .select(col("id"), (col("id") % 7).as("v")).repartition(1)
      if (k == 0) SnapshotTable.write(spark, part, dir)
      else SnapshotTable.append(spark, part, dir)
    }
    val before = SnapshotTable.currentManifest(spark, dir).get.entries.map(_.path).toSet
    spark.sql(s"DELETE FROM snap.`$dir` WHERE id >= 2000 AND id < 2050")
    assert(spark.sql(s"SELECT count(*) AS n FROM snap.`$dir`").head().getLong(0) == 350)
    val after = SnapshotTable.currentManifest(spark, dir).get.entries.map(_.path).toSet
    // the three untouched range files survive by reference — only the one
    // file whose stats admit the predicate was rewritten
    assert(before.count(after.contains) == 3,
      s"stats-pruned delete must rewrite exactly one file: before=$before after=$after")
    // deleted rows remain readable at the pre-delete version
    val preV = SnapshotTable.versions(spark, dir).init.last
    assert(spark.sql(s"SELECT count(*) AS n FROM snap.`$dir` VERSION AS OF $preV")
      .head().getLong(0) == 400)

    // non-filter-shaped conditions can't ride the metadata-delete fast
    // path — since the table supports row-level operations they fall
    // through to the copy-on-write ReplaceData rewrite (SnapshotRowLevel)
    // and still land correctly
    spark.sql(s"DELETE FROM snap.`$dir` WHERE id % 13 = 0")
    // survivors of 350: minus multiples of 13 in 0..99, 1000..1099,
    // 3000..3099 and in 2050..2099 (the 2000-file already lost 2000..2049)
    val survivors = ((0L until 100L) ++ (1000L until 1100L) ++
      (2050L until 2100L) ++ (3000L until 3100L)).count(_ % 13 != 0)
    assert(spark.sql(s"SELECT count(*) AS n FROM snap.`$dir`").head().getLong(0) == survivors,
      "rewrite-path DELETE must drop exactly the matching rows")

    spark.sql(s"TRUNCATE TABLE snap.`$dir`")
    assert(spark.sql(s"SELECT count(*) AS n FROM snap.`$dir`").head().getLong(0) == 0)
    assert(spark.sql(s"SELECT count(*) AS n FROM snap.`$dir` VERSION AS OF $preV")
      .head().getLong(0) == 400, "TRUNCATE must keep history readable")
  }

  test("metadata tables: …tbl.history and …tbl.files answer from manifests in pure SQL") {
    ensureCatalog()
    val dir = s"$root/meta/t"
    SnapshotTable.write(spark,
      spark.range(0, 80).select(col("id"), lit("a").as("s")), dir)
    SnapshotTable.append(spark,
      spark.range(80, 100).select(col("id"), lit("b").as("s")), dir)

    val hist = spark.sql(s"SELECT version, n_rows, files_removed, op FROM snap.meta.t.history ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(hist.map(_._1).toSeq == Seq(1L, 2L))
    assert(hist.map(_._2).toSeq == Seq(80L, 100L), "history row counts per version")
    assert(hist.map(_._4).toSeq == Seq("write", "append"), "op kinds recorded")

    val files = spark.sql(s"SELECT file, n_rows FROM snap.meta.t.files")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val m = SnapshotTable.currentManifest(spark, dir).get
    assert(files.map(_._1).toSet == m.entries.map(_.path).toSet)
    assert(files.map(_._2).sum == 100L)

    // path-addressed form works too, and an aggregate over history plans
    assert(spark.sql(s"SELECT max(version) AS v FROM snap.`$dir`.history").head().getLong(0) == 2L)
    // a nonexistent child name still fails loudly
    val e = intercept[Exception](spark.sql(s"SELECT * FROM snap.meta.t.nope"))
    assert(e.getMessage.toLowerCase.contains("cannot be found") ||
      e.getMessage.toLowerCase.contains("table_or_view_not_found"), e.getMessage)
  }

  test("metadata tables: …tbl.partitions summarizes provable placement, reconciling totals") {
    ensureCatalog()
    val dir = s"$root/meta/pt"
    SnapshotTable.write(spark,
      spark.range(0, 90).select((col("id") % 3).as("g"), col("id").as("v")), dir,
      partitionCols = Some(Seq("g", "bucket(4,v)")))
    val rows = spark.sql(
      s"SELECT partition, n_files, n_rows, live_rows, n_bytes FROM snap.`$dir`.partitions")
      .collect()
    assert(rows.map(_.getLong(2)).sum == 90L, "partition rows reconcile with the table")
    assert(rows.forall(r => r.getString(0).matches("g=\\d+\\.0/v_bucket=\\d+") ||
      r.getString(0).matches("g=\\d+/v_bucket=\\d+")),
      s"labels render col=value/col_bucket=id: ${rows.map(_.getString(0)).mkString(", ")}")
    assert(rows.forall(r => r.getLong(1) >= 1 && r.getLong(4) > 0))
    // an UPDATE's hash-clustered rewrite surfaces as <unprovable>, totals intact
    spark.sql(s"UPDATE snap.`$dir` SET v = v + 1000 WHERE g = 1")
    val after = spark.sql(s"SELECT partition, n_rows FROM snap.`$dir`.partitions").collect()
    assert(after.map(_.getLong(1)).sum == 90L)
    assert(after.exists(_.getString(0) == "<unprovable>"),
      "un-routed rewrites must be visible, not hidden")
    // unpartitioned table: empty summary, not an error
    SnapshotTable.write(spark, spark.range(0, 5).toDF("id"), s"$root/meta/flat")
    assert(spark.sql(s"SELECT * FROM snap.`$root/meta/flat`.partitions").count() == 0)
  }

  test("CALL procedures: compact, rollback, and vacuum run the maintenance surface from pure SQL") {
    ensureCatalog()
    val dir = s"$root/proc/t"
    // many small commits → many small files for compact to bin-pack
    (0 until 5).foreach { k =>
      val part = spark.range(k * 100, k * 100 + 100).select(col("id")).repartition(2)
      if (k == 0) SnapshotTable.write(spark, part, dir)
      else SnapshotTable.append(spark, part, dir)
    }
    val filesBefore = SnapshotTable.currentManifest(spark, dir).get.entries.size
    assert(filesBefore == 10, s"setup: expected 10 files, got $filesBefore")

    val c = spark.sql(s"CALL snap.system.compact(table => 'proc.t')").collect()
    assert(c.length == 1 && c(0).getInt(0) == 10 && c(0).getInt(1) < 10,
      s"compact must report the bin-pack: ${c.toSeq}")
    assert(SnapshotTable.read(spark, dir).count() == 500, "compaction preserves rows")

    // rollback to the pre-compact version (positional args work too)
    val preCompactV = SnapshotTable.versions(spark, dir).init.last
    val r = spark.sql(s"CALL snap.system.rollback('proc.t', $preCompactV)").collect()
    assert(r(0).getLong(0) == preCompactV && r(0).getLong(1) > preCompactV,
      s"rollback must publish a NEW version restoring $preCompactV: ${r.toSeq}")
    assert(SnapshotTable.currentManifest(spark, dir).get.entries.size == 10,
      "rolled-back snapshot lists the pre-compact files again")

    // DRY RUN first: the deletion plan comes back as rows and NOTHING is
    // deleted — versions intact, every listed path still on disk
    val versionsBefore = SnapshotTable.versions(spark, dir).size
    val plan = spark.sql(s"CALL snap.system.vacuum(table => '$dir', keep_versions => 1, " +
      "grace_ms => 0, dry_run => true)").collect()
    val plannedData = plan.filter(_.getString(1) == "data")
    assert(plannedData.nonEmpty, s"dry run must list the orphaned data files: ${plan.toSeq}")
    assert(plan.exists(_.getString(1) == "manifest"),
      s"dry run must list the expired manifests: ${plan.toSeq}")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    plan.foreach { row =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(dir, row.getString(0))),
        s"dry run deleted ${row.getString(0)} — it must touch nothing")
    }
    assert(SnapshotTable.versions(spark, dir).size == versionsBefore,
      "dry run must not expire versions")
    assert(SnapshotTable.read(spark, dir).count() == 500, "dry run must not touch data")

    // vacuum with grace_ms => 0 collects the expired versions' files; the
    // absolute-path form of the table argument resolves too
    val v = spark.sql(
      s"CALL snap.system.vacuum(table => '$dir', keep_versions => 1, grace_ms => 0)").collect()
    assert(v(0).getInt(0) > 0, s"vacuum must delete the dropped versions' files: ${v.toSeq}")
    assert(v(0).getInt(0) == plannedData.length,
      s"the real vacuum must delete exactly the dry run's data plan: " +
        s"planned ${plannedData.length}, deleted ${v(0).getInt(0)}")
    plan.foreach { row =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, row.getString(0))),
        s"planned path survived the real vacuum: ${row.getString(0)}")
    }
    assert(SnapshotTable.read(spark, dir).count() == 500, "current snapshot survives vacuum")
    assert(SnapshotTable.versions(spark, dir).size == 1)

    // unknown procedures fail loudly (Spark wraps the catalog's message,
    // which names the available procedures, as the cause)
    val e = intercept[Exception](spark.sql("CALL snap.system.nope()"))
    val chain = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(chain.contains("nope") &&
      (chain.contains("compact, vacuum, rollback") || chain.contains("FAILED_TO_LOAD_ROUTINE")),
      chain)
  }

  test("vacuum's parallel listing path plans and deletes exactly what the driver walk would") {
    ensureCatalog()
    val dir = s"$root/procpar/t"
    // partitioned appends → nested per-commit/partition-value directories,
    // then a compact so the pre-compact files become vacuum candidates
    (0 until 4).foreach { k =>
      val part = spark.range(k * 50, k * 50 + 50)
        .select((col("id") % 3).as("g"), col("id"))
      if (k == 0) SnapshotTable.write(spark, part, dir, partitionCols = Some(Seq("g")))
      else SnapshotTable.append(spark, part, dir)
    }
    SnapshotTable.compact(spark, dir)

    // same arguments, both walks: the plans must be identical — the
    // selection rule is one shared body, this asserts it stays that way
    val planDriver = SnapshotTable.vacuumDryRun(spark, dir,
      keepVersions = 1, minUnreferencedAgeMs = 0).toSet
    spark.conf.set("spark.graft.vacuum.parallelListingThreshold", "0")
    try {
      val planParallel = SnapshotTable.vacuumDryRun(spark, dir,
        keepVersions = 1, minUnreferencedAgeMs = 0).toSet
      assert(planParallel == planDriver,
        s"parallel plan diverged: only-parallel=${planParallel -- planDriver}, " +
          s"only-driver=${planDriver -- planParallel}")
      assert(planParallel.count(_._2 == "data") > 0, "setup must orphan data files")

      // execute through the parallel path: deletes exactly the dry-run's
      // data plan, current snapshot intact, planned paths gone
      val deleted = SnapshotTable.vacuum(spark, dir,
        keepVersions = 1, minUnreferencedAgeMs = 0)
      assert(deleted == planParallel.count(_._2 == "data"),
        s"parallel vacuum deleted $deleted, dry run planned " +
          s"${planParallel.count(_._2 == "data")}")
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      planParallel.foreach { case (rel, _) =>
        assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, rel)),
          s"planned path survived the parallel vacuum: $rel")
      }
      assert(SnapshotTable.read(spark, dir).count() == 200, "current snapshot survives")
      assert(SnapshotTable.versions(spark, dir).size == 1)
      // emptied per-commit directories are pruned bottom-up
      fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .filter(st => st.isDirectory && st.getPath.getName != "_log")
        .foreach { d =>
          assert(fs.listStatus(d.getPath).nonEmpty,
            s"empty directory ${d.getPath.getName} must be pruned")
        }
    } finally spark.conf.unset("spark.graft.vacuum.parallelListingThreshold")
  }

  test("fuzz: driver and parallel vacuum walks plan identical sets over random histories") {
    ensureCatalog()
    val rnd = new scala.util.Random(42120814)
    (0 until 3).foreach { trial =>
      val dir = s"$root/vacfuzz/t$trial"
      // random history: partitioned or flat, appends, maybe a replace,
      // maybe a compact, maybe a MoR delete (adds DV blobs to the tree)
      val part = if (rnd.nextBoolean()) Some(Seq("g")) else None
      def mk(a: Long, b: Long) = spark.range(a, b)
        .select((col("id") % 4).as("g"), col("id").as("v"))
      SnapshotTable.write(spark, mk(0, 200), dir, partitionCols = part)
      var hi = 200L
      (0 until 2 + rnd.nextInt(3)).foreach { _ =>
        rnd.nextInt(4) match {
          case 0 => SnapshotTable.append(spark, mk(hi, hi + 100), dir); hi += 100
          case 1 => SnapshotTable.write(spark, mk(0, 150), dir); hi = 150
          case 2 => SnapshotTable.compact(spark, dir)
          case 3 => SnapshotTable.deleteMoR(spark, dir, col("v") % 13 === 1)
        }
      }
      def planWith(threshold: String): Set[(String, String)] = {
        spark.conf.set("spark.graft.vacuum.parallelListingThreshold", threshold)
        try SnapshotTable.vacuumDryRun(spark, dir,
          keepVersions = 1, minUnreferencedAgeMs = 0).toSet
        finally spark.conf.unset("spark.graft.vacuum.parallelListingThreshold")
      }
      val driver = planWith("1000000")
      val parallel = planWith("0")
      assert(driver == parallel,
        s"trial $trial: walks diverged — only-driver=${driver -- parallel}, " +
          s"only-parallel=${parallel -- driver}")
      // and executing never hurts the current snapshot — alternating trials
      // between the driver walk and the delete-in-job parallel walk, whose
      // returned data-file count must equal the (parity-checked) plan's
      // even though the parallel path never ships the paths to the driver
      val before = SnapshotTable.read(spark, dir).collect().toSet
      val expectData = driver.count(_._2 == "data")
      val deleted =
        if (trial % 2 == 0) {
          spark.conf.set("spark.graft.vacuum.parallelListingThreshold", "0")
          try SnapshotTable.vacuum(spark, dir, keepVersions = 1, minUnreferencedAgeMs = 0)
          finally spark.conf.unset("spark.graft.vacuum.parallelListingThreshold")
        } else SnapshotTable.vacuum(spark, dir, keepVersions = 1, minUnreferencedAgeMs = 0)
      assert(deleted == expectData,
        s"trial $trial: vacuum reported $deleted data files deleted, plan had $expectData")
      assert(SnapshotTable.read(spark, dir).collect().toSet == before,
        s"trial $trial: vacuum changed the current snapshot's rows")
    }
  }

  test("ALTER TABLE ADD COLUMNS: metadata-only additive evolution, NULL backfill, inserts see the new schema") {
    ensureCatalog()
    val dir = s"$root/ddl/evolve"
    SnapshotTable.write(spark,
      spark.range(0, 30).select(col("id"), (col("id") * 2).as("v")), dir)
    val filesBefore = SnapshotTable.currentManifest(spark, dir).get.entries.map(_.path).toSet

    spark.sql(s"ALTER TABLE snap.`$dir` ADD COLUMNS (score DOUBLE, note STRING)")

    // metadata-only: the data files are untouched, one new version
    val m = SnapshotTable.currentManifest(spark, dir).get
    assert(m.entries.map(_.path).toSet == filesBefore,
      "ALTER ADD COLUMNS must not rewrite any data file")
    assert(m.op.contains("alter"))
    // old rows read NULL for the appended columns
    val read = spark.sql(s"SELECT id, v, score, note FROM snap.`$dir`")
    assert(read.count() == 30)
    assert(read.filter(col("score").isNotNull || col("note").isNotNull).count() == 0)
    // inserts resolve against the evolved schema
    spark.sql(s"INSERT INTO snap.`$dir` VALUES (100, 200, 0.5, 'n')")
    assert(spark.sql(s"SELECT note FROM snap.`$dir` WHERE id = 100").head().getString(0) == "n")

    // duplicates and non-additive changes are refused
    val dup = intercept[Exception](
      spark.sql(s"ALTER TABLE snap.`$dir` ADD COLUMNS (v BIGINT)"))
    assert(dup.getMessage.contains("already exist"), dup.getMessage)
    // DROP COLUMN (DropColumnSpec) and RENAME COLUMN (RenameColumnSpec —
    // metadata-only through the column mapping) are both supported now;
    // the SQL rename round-trips here, full coverage lives in its spec
    spark.sql(s"ALTER TABLE snap.`$dir` RENAME COLUMN note TO note2")
    assert(spark.sql(s"SELECT note2 FROM snap.`$dir` WHERE id = 100").head().getString(0) == "n")
    spark.sql(s"ALTER TABLE snap.`$dir` RENAME COLUMN note2 TO note")
    // NOT NULL cannot be honored (old rows read NULL) — refused, not
    // silently recorded nullable
    val nn = intercept[Exception](
      spark.sql(s"ALTER TABLE snap.`$dir` ADD COLUMNS (strict INT NOT NULL)"))
    assert(nn.getMessage.contains("NOT NULL"), nn.getMessage)
  }

  test("DDL: CREATE TABLE provisions an empty v0 the transactional writers can append to; unsupported ops fail loudly") {
    ensureCatalog()
    spark.sql("CREATE TABLE snap.ddl.fresh (id BIGINT, name STRING)")
    val dir = s"$root/ddl/fresh"
    assert(SnapshotTable.exists(spark, dir))
    assert(spark.sql("SELECT * FROM snap.ddl.fresh").count() == 0)
    SnapshotTable.append(spark,
      spark.range(0, 10).select(col("id"), concat(lit("n"), col("id")).as("name")), dir)
    assert(spark.sql("SELECT * FROM snap.ddl.fresh").count() == 10)
    val e = intercept[Exception](spark.sql("DROP TABLE snap.ddl.fresh"))
    assert(e.getMessage.contains("refused") || e.getCause != null)
  }

  test("TIMESTAMP AS OF resolves to the latest commit <= ts; pre-history is refused loudly") {
    ensureCatalog()
    val dir = s"$root/tt/clock"
    SnapshotTable.write(spark, spark.range(0, 100).toDF("id"), dir) // v1
    SnapshotTable.append(spark, spark.range(100, 250).toDF("id"), dir) // v2
    SnapshotTable.append(spark, spark.range(250, 260).toDF("id"), dir) // v3
    val stamps = SnapshotTable.commitTimes(spark, dir)
    assert(stamps.forall(_._2.isDefined), "every commit carries a wall-clock stamp")
    val ts = stamps.map(_._2.get)
    // monotonic correction: version order == time order, strictly
    assert(ts == ts.sorted && ts.distinct == ts,
      s"commit stamps must strictly increase with version, got $ts")

    def sqlLit(ms: Long): String = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(ms))

    // exactly v2's stamp → v2; between v2 and v3 → still v2; at/after v3 → v3
    val atV2 = spark.sql(
      s"SELECT count(*) AS n FROM snap.tt.clock TIMESTAMP AS OF '${sqlLit(ts(1))}'")
    assert(atV2.head().getLong(0) == 250, "TIMESTAMP AS OF at v2's stamp reads v2")
    val afterV3 = spark.sql(
      s"SELECT count(*) AS n FROM snap.tt.clock TIMESTAMP AS OF '${sqlLit(ts(2) + 60000)}'")
    assert(afterV3.head().getLong(0) == 260, "a later timestamp reads the latest version")

    // the Scala mirror resolves identically (and readVersion reads it)
    val versions = SnapshotTable.versions(spark, dir)
    assert(SnapshotTable.versionAtTimestamp(spark, dir, ts(1)) == versions(1))
    if (ts(2) - ts(1) > 1) // between-commit instant exists only when stamps aren't adjacent
      assert(SnapshotTable.versionAtTimestamp(spark, dir, ts(2) - 1) == versions(1))
    assert(SnapshotTable.readVersion(spark, dir,
      SnapshotTable.versionAtTimestamp(spark, dir, ts.head)).count() == 100)

    // pre-history: refused by name, never clamped to v1
    val pre = intercept[Exception](spark.sql(
      s"SELECT * FROM snap.tt.clock TIMESTAMP AS OF '${sqlLit(ts.head - 3600000)}'").collect())
    assert(pre.getMessage.contains("predates the earliest retained commit"), pre.getMessage)
    val preScala = intercept[IllegalStateException](
      SnapshotTable.versionAtTimestamp(spark, dir, ts.head - 1))
    assert(preScala.getMessage.contains("predates"), preScala.getMessage)
  }

  test("an identifier's root binding pins at first resolution; a re-pointed root fails loudly") {
    // a dedicated catalog name: pins live on the catalog instance, and this
    // test deliberately diverges roots under one instance
    val r1 = Files.createTempDirectory("graft-pin-r1").toString
    val r2 = Files.createTempDirectory("graft-pin-r2").toString
    spark.conf.set("spark.sql.catalog.snappin", classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.snappin.root", r1)
    spark.sql("CREATE TABLE snappin.pin.t AS SELECT id FROM range(0, 7)")
    assert(spark.sql("SELECT count(*) AS n FROM snappin.pin.t").head().getLong(0) == 7)

    // re-point the root: the LIVE identifier refuses to move — the failure
    // names both roots instead of silently reading a different directory
    spark.conf.set("spark.sql.catalog.snappin.root", r2)
    val e = intercept[Exception](spark.sql("SELECT * FROM snappin.pin.t").collect())
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(e).exists(c => Option(c.getMessage).exists(m =>
      m.contains("pinned to root") && m.contains(r1) && m.contains(r2))),
      s"divergence must fail loudly naming both roots, got: ${e.getMessage}")

    // FRESH identifiers under the new root still work (only live bindings pin)
    spark.sql("CREATE TABLE snappin.pin2.t AS SELECT id FROM range(0, 3)")
    assert(spark.sql("SELECT count(*) AS n FROM snappin.pin2.t").head().getLong(0) == 3)

    // restoring the pinned root resolves the original binding again
    spark.conf.set("spark.sql.catalog.snappin.root", r1)
    assert(spark.sql("SELECT count(*) AS n FROM snappin.pin.t").head().getLong(0) == 7)
  }

  test("a FAILED resolution does not pin: correcting a mistyped root resolves fresh") {
    val wrong = Files.createTempDirectory("graft-pin-wrong").toString
    val right = Files.createTempDirectory("graft-pin-right").toString
    // the table physically exists under `right`, but the catalog is first
    // (mis)configured to `wrong`
    SnapshotTable.write(spark, spark.range(0, 4).toDF("id"), s"$right/ns/t")
    spark.conf.set("spark.sql.catalog.snapfix", classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.snapfix.root", wrong)
    intercept[Exception](spark.sql("SELECT * FROM snapfix.ns.t").collect())
    // the failed probe must NOT have frozen the identifier to the typo:
    // after correcting the conf, the table resolves
    spark.conf.set("spark.sql.catalog.snapfix.root", right)
    assert(spark.sql("SELECT count(*) AS n FROM snapfix.ns.t").head().getLong(0) == 4)
    // ... and THAT successful resolution is what pins: re-pointing now
    // fails loudly instead of probing a different directory
    spark.conf.set("spark.sql.catalog.snapfix.root", wrong)
    val e = intercept[Exception](spark.sql("SELECT * FROM snapfix.ns.t").collect())
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(e).exists(c => Option(c.getMessage).exists(_.contains("pinned to root"))),
      s"post-success re-point must fail loudly, got: ${e.getMessage}")
    spark.conf.unset("spark.sql.catalog.snapfix.root")
  }

  test("vacuum's driver/parallel switch honors parallelListingThreshold at the exact boundary") {
    ensureCatalog()
    val dir = s"$root/vacbound/t"
    def mk(a: Long, b: Long) = spark.range(a, b).toDF("id")
    SnapshotTable.write(spark, mk(0, 10), dir)
    (1 to 3).foreach(i => SnapshotTable.append(spark, mk(i * 10, i * 10 + 10), dir))
    // 4 top-level commit dirs; keepVersions=4 keeps the plan empty so the
    // only work is the walk itself — whose mechanism (driver listing vs
    // Spark job) shows in the jobs the run recorder counts
    def jobsDuring(threshold: Int): Int = {
      spark.conf.set("spark.graft.vacuum.parallelListingThreshold", threshold.toString)
      try graft.obs.Recorder.measure(spark)(SnapshotTable.vacuumDryRun(
        spark, dir, keepVersions = 4, minUnreferencedAgeMs = 0))._2.jobs.size
      finally spark.conf.unset("spark.graft.vacuum.parallelListingThreshold")
    }
    // dirs(4) > threshold(3) → the walk runs as a Spark job
    assert(jobsDuring(3) >= 1, "4 dirs over threshold 3 must list via a Spark job")
    // dirs(4) <= threshold(4) → pure driver walk, zero jobs
    assert(jobsDuring(4) == 0, "4 dirs at threshold 4 must walk on the driver (no Spark job)")
    assert(SnapshotTable.DefaultVacuumParallelThreshold == 64)
  }

  test("a malformed parallelListingThreshold fails naming the conf key and value") {
    ensureCatalog()
    val dir = s"$root/vacbound/badconf"
    SnapshotTable.write(spark, spark.range(0, 5).toDF("id"), dir)
    spark.conf.set("spark.graft.vacuum.parallelListingThreshold", "sixty-four")
    val e = intercept[IllegalArgumentException](
      try SnapshotTable.vacuumDryRun(spark, dir, keepVersions = 1, minUnreferencedAgeMs = 0)
      finally spark.conf.unset("spark.graft.vacuum.parallelListingThreshold"))
    assert(e.getMessage.contains("spark.graft.vacuum.parallelListingThreshold") &&
      e.getMessage.contains("sixty-four"),
      s"error must name the conf key and offending value, got: ${e.getMessage}")
  }
}
