package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.catalog.SnapshotTable

/** The snapshot/manifest commit layer: atomic visibility for the mutating
  * sinks. The headline test runs a reader loop CONCURRENTLY with repeated
  * compactions and merges — every read must see one complete committed
  * snapshot (the exact invariant `Layout.compact`'s delete-then-rename swap
  * cannot give).
  */
class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(): String =
    Files.createTempDirectory("graft-snap").toString

  private def sampleDf(n: Int, dt0: String = "2024-01-01") =
    spark.range(n).select(
      col("id"),
      date_add(to_date(lit(dt0)), (col("id") % 5).cast("int")).as("dt"),
      (col("id") * 2).as("v"))

  test("write / append / read roundtrip; appended files carried by reference") {
    val dir = tmpTable()
    SnapshotTable.write(spark, sampleDf(100), dir)
    val m1 = SnapshotTable.currentManifest(spark, dir).get
    assert(m1.version == 1L && m1.entries.map(_.rows).sum == 100L)
    SnapshotTable.append(spark, sampleDf(50).withColumn("id", col("id") + 1000), dir)
    val m2 = SnapshotTable.currentManifest(spark, dir).get
    assert(m2.version == 2L && m2.entries.map(_.rows).sum == 150L)
    // append rewrote nothing: every v1 file is still listed verbatim in v2
    assert(m1.entries.toSet.subsetOf(m2.entries.toSet),
      "append must carry prior files by reference")
    assert(SnapshotTable.read(spark, dir).count() == 150L)

    // history: one row per version, row/byte totals and commit deltas
    val h = SnapshotTable.history(spark, dir).orderBy("version").collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(h.map(_.getLong(2)).toSeq == Seq(100L, 150L), "history row counts")
    assert(h(1).getLong(4) == m2.entries.size - m1.entries.size &&
      h(1).getLong(5) == 0L, "append history: only added files, none removed")
  }

  test("merge rewrites only dt-intersecting files; result equals the upsert semantics") {
    val dir = tmpTable()
    // two snapshots with disjoint dt ranges → merge on the second range
    // must carry the first range's files by reference
    SnapshotTable.write(spark, sampleDf(60, "2024-01-01"), dir)
    SnapshotTable.append(spark, sampleDf(60, "2024-03-01")
      .withColumn("id", col("id") + 100), dir)
    val before = SnapshotTable.currentManifest(spark, dir).get.entries
    assert(SnapshotTable.read(spark, dir).count() == 120L)

    val batch = sampleDf(30, "2024-03-01").withColumn("id", col("id") + 100)
      .withColumn("v", lit(-1L))
      .unionByName(Seq((9999L, java.sql.Date.valueOf("2024-03-02"), -2L)).toDF("id", "dt", "v"))
    SnapshotTable.merge(spark, batch, dir, keys = Seq("id", "dt"))

    val after = SnapshotTable.currentManifest(spark, dir).get.entries
    val janFiles = before.filter(_.maxDt.exists(_ < "2024-02-01"))
    assert(janFiles.nonEmpty && janFiles.toSet.subsetOf(after.toSet),
      "files outside the batch's dt range must move to the new snapshot by reference")

    val got = SnapshotTable.read(spark, dir)
    assert(got.count() == 121L, s"60 + 60 + 1 insert, got ${got.count()}") // one new key
    assert(got.filter(col("v") === -1L).count() == 30L, "updates must replace matched rows")
    assert(got.filter(col("id") === 9999L && col("v") === -2L).count() == 1L)
  }

  test("readWhere on a dt range skips files by manifest stats alone") {
    val dir = tmpTable()
    SnapshotTable.write(spark, sampleDf(40, "2024-01-01"), dir)
    SnapshotTable.append(spark, sampleDf(40, "2024-06-01").withColumn("id", col("id") + 100), dir)
    val all = SnapshotTable.read(spark, dir)
    val june = SnapshotTable.readWhere(spark, dir, col("dt").between("2024-06-01", "2024-06-30"))
    assert(june.inputFiles.length < all.inputFiles.length,
      s"dt-range read must open fewer files (${june.inputFiles.length} vs ${all.inputFiles.length})")
    assert(june.count() == 40L && june.agg(min("dt")).collect().head.getDate(0).toString >= "2024-06-01")
  }

  test("compact shrinks the file count, preserves the row multiset, and vacuum reclaims") {
    val dir = tmpTable()
    // many small commits → many small files
    (0 until 6).foreach(i =>
      SnapshotTable.append(spark, sampleDf(20).withColumn("id", col("id") + i * 100), dir))
    val expected = SnapshotTable.read(spark, dir).orderBy("id").collect().toSeq
    val (nBefore, nAfter) = SnapshotTable.compact(spark, dir, targetBytes = Long.MaxValue)
    assert(nAfter < nBefore, s"compact must shrink files: $nBefore -> $nAfter")
    assert(SnapshotTable.read(spark, dir).orderBy("id").collect().toSeq == expected)
    // old files still on disk (readers of the old snapshot stay safe) until vacuum
    val deleted = SnapshotTable.vacuum(spark, dir, keepVersions = 1, minUnreferencedAgeMs = 0)
    assert(deleted >= nBefore, s"vacuum must delete the $nBefore pre-compact files, deleted $deleted")
    assert(SnapshotTable.read(spark, dir).orderBy("id").collect().toSeq == expected,
      "current snapshot must survive vacuum untouched")
    // layout-maintaining compaction (z-order clustering) is row-preserving
    // behind the same atomic commit
    SnapshotTable.compact(spark, dir,
      layout = Some(df => graft.ops.Layout.clusterByZ(df, "id", "v", numPartitions = 2)))
    assert(SnapshotTable.read(spark, dir).orderBy("id").collect().toSeq == expected,
      "clustered compaction must be pure layout")
  }

  test("time travel: every retained version reads back exactly; vacuum expires honestly") {
    val dir = tmpTable()
    SnapshotTable.write(spark, sampleDf(10), dir)
    SnapshotTable.append(spark, sampleDf(5).withColumn("id", col("id") + 100), dir)
    SnapshotTable.merge(spark, sampleDf(10).withColumn("v", col("id") * 7), dir,
      keys = Seq("id", "dt"))
    assert(SnapshotTable.versions(spark, dir) == Seq(1L, 2L, 3L))
    assert(SnapshotTable.readVersion(spark, dir, 1).count() == 10L)
    assert(SnapshotTable.readVersion(spark, dir, 2).count() == 15L)
    // v1's rows are untouched by the later merge
    assert(SnapshotTable.readVersion(spark, dir, 1)
      .agg(sum("v")).collect().head.getLong(0) == 2L * (9L * 10 / 2))
    // the current version sees the merged values
    assert(SnapshotTable.read(spark, dir).filter(col("id") < 100)
      .agg(sum("v")).collect().head.getLong(0) == 7L * (9L * 10 / 2))
    // vacuum to 2 versions: v1 expires and now throws, v2/v3 still read
    SnapshotTable.vacuum(spark, dir, keepVersions = 2, minUnreferencedAgeMs = 0)
    assert(SnapshotTable.versions(spark, dir) == Seq(2L, 3L))
    intercept[IllegalStateException] { SnapshotTable.readVersion(spark, dir, 1) }
    assert(SnapshotTable.readVersion(spark, dir, 2).count() == 15L)
    assert(SnapshotTable.read(spark, dir).count() == 15L)
  }

  test("appendExactlyOnce: re-delivered batch ids are no-ops; markers survive compaction") {
    val dir = tmpTable()
    assert(SnapshotTable.appendExactlyOnce(spark, sampleDf(10), dir, "app1", 0L))
    assert(SnapshotTable.appendExactlyOnce(spark, sampleDf(5).withColumn("id", col("id") + 100),
      dir, "app1", 1L))
    assert(SnapshotTable.read(spark, dir).count() == 15L)
    // re-delivery of batch 1 (crash between commit and checkpoint): NO-OP
    assert(!SnapshotTable.appendExactlyOnce(spark, sampleDf(5).withColumn("id", col("id") + 100),
      dir, "app1", 1L))
    assert(SnapshotTable.read(spark, dir).count() == 15L, "re-delivered batch must not double-append")
    // a different app's batch 1 is independent
    assert(SnapshotTable.appendExactlyOnce(spark, sampleDf(2).withColumn("id", col("id") + 500),
      dir, "app2", 1L))
    assert(SnapshotTable.read(spark, dir).count() == 17L)
    // compaction must carry the markers: batch 1 is STILL a no-op after it
    SnapshotTable.compact(spark, dir, targetBytes = Long.MaxValue)
    assert(!SnapshotTable.appendExactlyOnce(spark, sampleDf(5).withColumn("id", col("id") + 100),
      dir, "app1", 1L))
    assert(SnapshotTable.read(spark, dir).count() == 17L)
  }

  test("changesBetween yields exactly the appended rows per version window") {
    val dir = tmpTable()
    SnapshotTable.write(spark, sampleDf(10), dir)                                   // v1
    SnapshotTable.append(spark, sampleDf(5).withColumn("id", col("id") + 100), dir) // v2
    SnapshotTable.append(spark, sampleDf(3).withColumn("id", col("id") + 200), dir) // v3
    assert(SnapshotTable.changesBetween(spark, dir, 0, 1).count() == 10L)
    val d12 = SnapshotTable.changesBetween(spark, dir, 1, 2)
    assert(d12.count() == 5L && d12.agg(min("id")).collect().head.getLong(0) == 100L)
    assert(SnapshotTable.changesBetween(spark, dir, 1, 3).count() == 8L)
    // a window with no new files is an empty frame with the table's schema
    val d33 = SnapshotTable.changesBetween(spark, dir, 2, 3)
    assert(d33.count() == 3L)
    assert(SnapshotTable.changesBetween(spark, dir, 0, 3).count() == 18L)
    intercept[IllegalArgumentException] { SnapshotTable.changesBetween(spark, dir, 2, 2) }
  }

  test("additive schema evolution: new columns widen, old files read NULL, type changes refused") {
    val dir = tmpTable()
    SnapshotTable.write(spark, sampleDf(10), dir)
    // widen: a batch with an extra column
    SnapshotTable.append(spark,
      sampleDf(5).withColumn("id", col("id") + 100).withColumn("tag", lit("new")), dir)
    val widened = SnapshotTable.read(spark, dir)
    assert(widened.columns.toSeq == Seq("id", "dt", "v", "tag"))
    assert(widened.filter(col("tag").isNull).count() == 10L, "old files must read NULL tag")
    assert(widened.filter(col("tag") === "new").count() == 5L)
    // narrow batch: missing an existing column also reads back as NULL
    SnapshotTable.append(spark,
      sampleDf(3).select(col("id") + 200 as "id", col("dt")), dir)
    val after = SnapshotTable.read(spark, dir)
    assert(after.count() == 18L && after.filter(col("id") >= 200 && col("v").isNull).count() == 3L)
    // the recorded schema survives compaction and drives the scan (no inference)
    SnapshotTable.compact(spark, dir, targetBytes = Long.MaxValue)
    assert(SnapshotTable.read(spark, dir).columns.toSeq == Seq("id", "dt", "v", "tag"))
    // time travel reads each version with ITS schema
    assert(SnapshotTable.readVersion(spark, dir, 1).columns.toSeq == Seq("id", "dt", "v"))
    // a type change is refused loudly
    intercept[IllegalArgumentException] {
      SnapshotTable.append(spark,
        sampleDf(1).withColumn("v", col("v").cast("string")), dir)
    }
  }

  test("crash leftovers are invisible: orphan data dirs and temp manifests") {
    val dir = tmpTable()
    SnapshotTable.write(spark, sampleDf(30), dir)
    // simulate a writer that died after writing data but before committing
    sampleDf(99).withColumn("id", col("id") + 5000)
      .write.parquet(s"$dir/c-deadbeefdead")
    // ...and one that died mid-manifest-write
    Files.write(java.nio.file.Paths.get(s"$dir/_log/manifest-zzz.tmp"),
      "{\"version\":99,\"entries\":[]}".getBytes)
    assert(SnapshotTable.read(spark, dir).count() == 30L,
      "uncommitted data must be invisible to readers")
    assert(SnapshotTable.currentManifest(spark, dir).get.version == 1L)
    SnapshotTable.vacuum(spark, dir, keepVersions = 1, minUnreferencedAgeMs = 0)
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/_log/manifest-zzz.tmp")),
      "vacuum must clear crash-leftover temp manifests")
    assert(SnapshotTable.read(spark, dir).count() == 30L)
  }

  test("CONCURRENT reader during repeated compact+merge always sees a complete snapshot") {
    val dir = tmpTable()
    SnapshotTable.write(spark, sampleDf(200), dir)
    @volatile var failure: Option[String] = None
    @volatile var stop = false
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() => {
      try {
        while (!stop) {
          // every committed snapshot holds exactly 200 keys with SUM(v) =
          // 2*sum(id) over 0..199 regardless of how often it was compacted
          // or re-merged (merges below re-send current values = no-op)
          val got = SnapshotTable.read(spark, dir).agg(
            count(lit(1)).as("n"), sum("v").as("s")).collect().head
          val (n, s) = (got.getLong(0), got.getLong(1))
          if (n != 200L || s != 2L * (199L * 200L / 2))
            failure = Some(s"torn snapshot: n=$n sum=$s")
          reads.incrementAndGet()
        }
      } catch {
        case e: Throwable => failure = Some(s"reader threw: ${e.getMessage}")
      }
    })
    reader.start()
    try {
      (0 until 4).foreach { i =>
        SnapshotTable.compact(spark, dir, targetBytes = if (i % 2 == 0) 1L else Long.MaxValue)
        // a no-op merge (rows re-sent with current values) still rewrites
        // dt-intersecting files — visibility must stay atomic through it
        SnapshotTable.merge(spark, sampleDf(200), dir, keys = Seq("id", "dt"))
      }
    } finally {
      stop = true
      reader.join(60000)
    }
    assert(failure.isEmpty, failure.getOrElse(""))
    assert(reads.get() >= 3, s"reader only completed ${reads.get()} reads — not a concurrency test")
    // NOTE deliberately no vacuum inside the loop: retention is the one
    // step that must wait for readers to drain, same as any table format
  }

  test("rollback: restores data/schema/txn as a NEW version; refuses vacuumed targets") {
    val dir = tmpTable()
    SnapshotTable.write(spark, sampleDf(40), dir) // v1
    SnapshotTable.appendExactlyOnce(spark,
      sampleDf(10).withColumn("id", col("id") + 500), dir, "app", 7L) // v2, watermark app->7
    SnapshotTable.delete(spark, dir, col("id") < 20) // v3
    assert(SnapshotTable.versions(spark, dir) == Seq(1L, 2L, 3L))

    def dataFiles(): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).map(_.getPath).filter(_.endsWith(".parquet")).toSet
    }
    val filesBefore = dataFiles()
    val restored = SnapshotTable.rollback(spark, dir, 1L)
    assert(restored == 4L, "rollback commits a NEW version, never rewrites history")
    // metadata-only regardless of table size: no data file written or removed
    assert(dataFiles() == filesBefore, "rollback must not touch data files")
    // content is exactly v1
    assert(SnapshotTable.read(spark, dir).orderBy("id").collect().toSeq ==
      SnapshotTable.readVersion(spark, dir, 1L).orderBy("id").collect().toSeq)
    assert(SnapshotTable.read(spark, dir).count() == 40L)
    // txn watermark rolled back with the data: batch 7's rows are gone, so
    // its re-delivery must APPLY again, not be swallowed by v2's marker
    assert(SnapshotTable.appendExactlyOnce(spark,
      sampleDf(10).withColumn("id", col("id") + 500), dir, "app", 7L),
      "re-delivery of a rolled-back batch must apply")
    assert(SnapshotTable.read(spark, dir).count() == 50L)

    // the bad commits stay readable history until vacuum expires them
    assert(SnapshotTable.readVersion(spark, dir, 3L).count() == 30L)

    // after vacuum retention drops v2/v3's extra files, rolling back to an
    // expired or file-less version refuses loudly
    SnapshotTable.vacuum(spark, dir, keepVersions = 1, minUnreferencedAgeMs = 0)
    val e = intercept[IllegalStateException] {
      SnapshotTable.rollback(spark, dir, 3L)
    }
    assert(e.getMessage.contains("roll back"), e.getMessage)
  }
}
