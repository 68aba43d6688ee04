package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.catalog.{SnapshotCatalog, SnapshotTable}

/** Merge-on-read deletion vectors: a row-level delete writes per-file
  * position blobs instead of rewriting data, every read path (Scala,
  * planner relation, SQL catalog, row-level rewrites) sees only live
  * rows, compaction clears the vectors, and the write-amplification win
  * over copy-on-write is measured, not asserted.
  */
class DeletionVectorSpec extends SparkSpec {

  private lazy val root: String = Files.createTempDirectory("graft-dv").toString

  private def ensureCatalog(): Unit = {
    spark.conf.set("spark.sql.catalog.snap", classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.snap.root", root)
  }

  private def dataBytes(dir: String): Long = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: Path): Long = fs.listStatus(p).map { st =>
      if (st.isDirectory) walk(st.getPath)
      else if (st.getPath.getName.endsWith(".parquet")) st.getLen else 0L
    }.sum
    walk(new Path(dir))
  }

  private def mkTable(dir: String, n: Long = 10000L): Unit =
    SnapshotTable.write(spark,
      spark.range(0, n).select(col("id"), (col("id") % 7).as("grp"),
        concat(lit("payload-"), col("id")).as("s"))
        .repartitionByRange(8, col("id")), dir)

  test("MoR delete drops rows through every read path without touching data files") {
    ensureCatalog()
    val dir = s"$root/mor/t"
    mkTable(dir)
    val filesBefore = SnapshotTable.currentManifest(spark, dir).get.entries.map(_.path).toSet
    val bytesBefore = dataBytes(dir)

    val n = SnapshotTable.deleteMoR(spark, dir, col("grp") === 3L)
    assert(n == (0L until 10000L).count(_ % 7 == 3), s"deleted count: $n")

    val m = SnapshotTable.currentManifest(spark, dir).get
    assert(m.entries.map(_.path).toSet == filesBefore, "MoR must not add/remove data files")
    assert(dataBytes(dir) == bytesBefore, "MoR must not write one data byte")
    assert(m.entries.forall(_.dv.isDefined), "every file holds grp==3 rows -> every file vectored")
    assert(m.entries.map(e => e.dv.get.deleted).sum == n)

    val want = spark.range(0, 10000).select(col("id"), (col("id") % 7).as("grp"),
      concat(lit("payload-"), col("id")).as("s")).filter(col("grp") =!= 3L)
    for ((label, df) <- Seq(
        "SnapshotTable.read" -> SnapshotTable.read(spark, dir),
        "SQL catalog" -> spark.sql(s"SELECT * FROM snap.mor.t"))) {
      assert(df.count() == 10000 - n, s"$label count")
      assert(df.exceptAll(want).isEmpty && want.exceptAll(df).isEmpty, s"$label content")
    }
    // aggregates via SQL (pushdown refused under DVs — still exact)
    assert(spark.sql("SELECT count(*) AS n FROM snap.mor.t").head().getLong(0) == 10000 - n)
    assert(spark.sql("SELECT sum(id) AS s FROM snap.mor.t").head().getLong(0) ==
      (0L until 10000L).filter(_ % 7 != 3).sum)
    // filters still push + prune under DVs
    assert(spark.sql("SELECT count(*) AS n FROM snap.mor.t WHERE id < 100").head().getLong(0)
      == (0L until 100L).count(_ % 7 != 3))

    // history reports LIVE rows; time travel still sees the pre-delete rows
    val hist = SnapshotTable.history(spark, dir).orderBy("version")
      .select("n_rows").collect().map(_.getLong(0))
    assert(hist.toSeq == Seq(10000L, 10000L - n), s"history live rows: ${hist.toSeq}")
    val v1 = SnapshotTable.versions(spark, dir).head
    assert(SnapshotTable.readVersion(spark, dir, v1).count() == 10000)

    // a second MoR delete MERGES vectors (same files, versions compose)
    val n2 = SnapshotTable.deleteMoR(spark, dir, col("grp") === 5L)
    assert(n2 == (0L until 10000L).count(_ % 7 == 5))
    val m2 = SnapshotTable.currentManifest(spark, dir).get
    assert(m2.entries.map(_.dv.get.deleted).sum == n + n2, "vectors must merge, not replace")
    assert(SnapshotTable.read(spark, dir).count() == 10000 - n - n2)
    assert(spark.sql("SELECT count(*) AS n FROM snap.mor.t").head().getLong(0) == 10000 - n - n2)
  }

  test("MoR write amplification is a small fraction of copy-on-write for a sparse delete") {
    val cowDir = s"$root/amp/cow"
    val morDir = s"$root/amp/mor"
    mkTable(cowDir); mkTable(morDir)
    // a sparse predicate touching every file: COW rewrites all 8 files
    val pred = col("id") % 997 === 0
    val cowBytesBefore = dataBytes(cowDir)
    assert(SnapshotTable.delete(spark, cowDir, pred) ==
      SnapshotTable.deleteMoR(spark, morDir, pred))
    val cowWritten = dataBytes(cowDir) - cowBytesBefore // old files retained + rewrites added
    val fs = new Path(morDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val morWritten = SnapshotTable.currentManifest(spark, morDir).get.entries
      .flatMap(_.dv).map(d => fs.getFileStatus(new Path(morDir, d.path)).getLen).sum
    assert(morWritten * 10 < cowWritten,
      s"MoR sidecars ($morWritten B) must be <10% of the COW rewrite ($cowWritten B)")
    // identical visible contents afterwards
    val a = SnapshotTable.read(spark, cowDir)
    val b = SnapshotTable.read(spark, morDir)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("MoR update: positions vector + appended images, visible through SQL") {
    ensureCatalog()
    val dir = s"$root/mor/u"
    mkTable(dir, 5000)
    val n = SnapshotTable.updateMoR(spark, dir, col("grp") === 2L,
      Map("s" -> concat(lit("updated-"), col("id"))))
    assert(n == (0L until 5000L).count(_ % 7 == 2))
    val df = spark.sql(s"SELECT * FROM snap.mor.u")
    assert(df.count() == 5000)
    assert(df.filter(col("grp") === 2L && !col("s").startsWith("updated-")).count() == 0)
    assert(df.filter(col("s").startsWith("updated-")).count() == n)
    // the updated images live in NEW files; the old files carry vectors
    val m = SnapshotTable.currentManifest(spark, dir).get
    assert(m.entries.exists(_.dv.isDefined) && m.entries.exists(_.dv.isEmpty))
  }

  test("COW operations on a vectored table never resurrect deleted rows") {
    ensureCatalog()
    val dir = s"$root/mor/cow"
    mkTable(dir, 4000)
    SnapshotTable.deleteMoR(spark, dir, col("id") < 1000L)
    // SQL row-level UPDATE (COW rewrite) over vectored candidate files
    spark.sql(s"UPDATE snap.mor.cow SET s = 'x' WHERE grp = 1")
    val after = SnapshotTable.read(spark, dir)
    assert(after.count() == 3000, "COW rewrite must carry only live rows")
    assert(after.filter(col("id") < 1000L).count() == 0, "deleted rows resurrected by UPDATE")
    assert(after.filter(col("grp") === 1L && col("s") =!= "x").count() == 0)
    // COW delete on the remaining vectors composes too
    val d = SnapshotTable.delete(spark, dir, col("grp") === 6L)
    assert(d == (1000L until 4000L).count(_ % 7 == 6))
    assert(SnapshotTable.read(spark, dir).count() == 3000 - d)
  }

  test("compact rewrites clean and vacuum collects the blobs; SQL deleteMode=mor routes DELETE") {
    ensureCatalog()
    val dir = s"$root/mor/c"
    mkTable(dir, 3000)
    spark.conf.set("graft.snapshot.deleteMode", "mor")
    try spark.sql(s"DELETE FROM snap.mor.c WHERE grp = 4")
    finally spark.conf.unset("graft.snapshot.deleteMode")
    val mDv = SnapshotTable.currentManifest(spark, dir).get
    assert(mDv.entries.exists(_.dv.isDefined), "SQL DELETE under mor mode must write vectors")
    assert(mDv.entries.map(_.path).toSet ==
      SnapshotTable.manifestFor(spark, dir, Some(SnapshotTable.versions(spark, dir).head))
        .entries.map(_.path).toSet, "mor SQL DELETE must not rewrite data files")
    val live = 3000L - (0L until 3000L).count(_ % 7 == 4)
    assert(spark.sql("SELECT count(*) AS n FROM snap.mor.c").head().getLong(0) == live)

    SnapshotTable.compact(spark, dir)
    val mC = SnapshotTable.currentManifest(spark, dir).get
    assert(mC.entries.forall(_.dv.isEmpty), "compaction must clear deletion vectors")
    assert(SnapshotTable.read(spark, dir).count() == live)

    SnapshotTable.vacuum(spark, dir, keepVersions = 1, minUnreferencedAgeMs = 0L)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def anyBlob(p: Path): Boolean = fs.listStatus(p).exists { st =>
      if (st.isDirectory) anyBlob(st.getPath) else st.getPath.getName.startsWith("dv-")
    }
    assert(!anyBlob(new Path(dir)), "vacuum must collect unreferenced vector blobs")
    assert(SnapshotTable.read(spark, dir).count() == live)
  }

  test("the change feed sees vector commits: MoR deletes emit delete rows, MoR updates emit pre/post images") {
    import graft.catalog.ChangeFeed
    val dir = s"$root/mor/cdc"
    mkTable(dir, 2000) // v1
    SnapshotTable.deleteMoR(spark, dir, col("grp") === 0L) // v2: vector-only commit
    SnapshotTable.updateMoR(spark, dir, col("grp") === 1L,
      Map("s" -> lit("post"))) // v3: vectors + appended images
    val versions = SnapshotTable.versions(spark, dir)
    assert(versions.length == 3)

    val v2 = ChangeFeed.rowChanges(spark, dir, versions(0), versions(1), Seq("id"))
    val nDel = (0L until 2000L).count(_ % 7 == 0)
    assert(v2.count() == nDel)
    assert(v2.filter(col(ChangeFeed.ChangeTypeCol) === "delete").count() == nDel,
      "a MoR delete's hidden rows are the deletes")
    assert(v2.select("id").collect().forall(_.getLong(0) % 7 == 0))

    val v3 = ChangeFeed.rowChanges(spark, dir, versions(1), versions(2), Seq("id"))
    val nUpd = (0L until 2000L).count(_ % 7 == 1)
    assert(v3.filter(col(ChangeFeed.ChangeTypeCol) === "update_preimage").count() == nUpd)
    assert(v3.filter(col(ChangeFeed.ChangeTypeCol) === "update_postimage").count() == nUpd)
    assert(v3.filter(col(ChangeFeed.ChangeTypeCol) === "update_postimage" &&
      col("s") =!= "post").count() == 0)
    assert(v3.count() == 2L * nUpd, "no fabricated inserts/deletes from a MoR update")

    // replaying v1 + the feed reproduces the current table
    val base = SnapshotTable.readVersion(spark, dir, versions(0))
    val feed = ChangeFeed.rowChanges(spark, dir, versions(0), versions(2), Seq("id"))
    val deletesAndPre = feed.filter(col(ChangeFeed.ChangeTypeCol)
      .isin("delete", "update_preimage")).select("id")
    val inserts = feed.filter(col(ChangeFeed.ChangeTypeCol)
      .isin("insert", "update_postimage")).drop(ChangeFeed.ChangeTypeCol, ChangeFeed.CommitVersionCol)
    val replayed = base.join(deletesAndPre, Seq("id"), "left_anti").unionByName(inserts)
    val now = SnapshotTable.read(spark, dir)
    assert(replayed.exceptAll(now).isEmpty && now.exceptAll(replayed).isEmpty,
      "replaying the feed over v1 must reproduce the live table")
  }

  test("provenance (_file) queries work on vectored tables") {
    ensureCatalog()
    val dir = s"$root/mor/f"
    mkTable(dir, 2000)
    SnapshotTable.deleteMoR(spark, dir, col("id") % 10 === 0)
    val rows = spark.sql(s"SELECT _file, id FROM snap.mor.f WHERE id < 50").collect()
    assert(rows.length == 50 - 5, "DV filter composes under the _file splice")
    assert(rows.forall(_.getString(0).endsWith(".parquet")))
  }

  test("vectors apply under Hive-escaped partition directories (timestamp identity)") {
    ensureCatalog()
    // identity TIMESTAMP partitions Hive-escape their directory names
    // (space + %3A), so scan-time file paths URI-encode — the vector map
    // lookup must still hit (it keys raw and the reader tries the raw
    // form first); a miss here would silently RESURRECT deleted rows
    val dir = s"$root/mor/ts"
    SnapshotTable.write(spark,
      spark.range(0, 4000).select(
        timestamp_seconds((col("id") % 4) * 3600).as("ts"), col("id").as("v")),
      dir, partitionCols = Some(Seq("ts")))
    val entries = SnapshotTable.currentManifest(spark, dir).get.entries
    assert(entries.forall(_.path.contains("__p_ts=")), "setup: routed identity dirs")
    assert(entries.exists(_.path.contains("%")),
      s"setup must produce escaped directory names: ${entries.map(_.path)}")

    val n = SnapshotTable.deleteMoR(spark, dir, col("v") % 10 === 0)
    assert(n == 400, s"deleted count: $n")
    for ((label, df) <- Seq(
        "SnapshotTable.read" -> SnapshotTable.read(spark, dir),
        "SQL catalog" -> spark.sql(s"SELECT * FROM snap.`$dir`"))) {
      assert(df.count() == 3600, s"$label must hide vectored rows")
      assert(df.filter(col("v") % 10 === 0).count() == 0,
        s"$label resurrected deleted rows under escaped partition dirs")
    }
    // partition-pruned read composes with the vector: hour-2 holds ids
    // ≡ 2 (mod 4), of which every other multiple of 10 was deleted (200)
    val one = spark.sql(
      s"SELECT count(*) AS c FROM snap.`$dir` WHERE ts = timestamp'1970-01-01 02:00:00'")
    assert(one.head().getLong(0) == 800)
  }
}
