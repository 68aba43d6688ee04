package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.catalog.{SnapshotCatalog, SnapshotTable}

/** `ALTER TABLE … RENAME COLUMN` — metadata-only through name-based
  * column mapping (Delta's columnMapping.mode=name, in miniature): the
  * LOGICAL name moves, the PHYSICAL (file-stored) name stays, zero files
  * are touched, and every read/write path — Scala, SQL, row-level DML,
  * compaction, stats pruning, time travel — keeps working through the
  * manifest's logical→physical map.
  */
class RenameColumnSpec extends SparkSpec {

  private lazy val root: String = Files.createTempDirectory("graft-rename").toString

  private def ensureCatalog(): Unit = {
    spark.conf.set("spark.sql.catalog.snap", classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.snap.root", root)
  }

  private def mk(n: Long, off: Long = 0) = spark.range(0, n).select(
    (col("id") + off).as("id"), (col("id") * 2).as("v"), (col("id") % 5).as("g"))

  test("rename is metadata-only; reads span pre- and post-rename files; SQL + Scala agree") {
    ensureCatalog()
    val dir = s"$root/r1/t"
    SnapshotTable.write(spark, mk(500), dir)
    val before = SnapshotTable.currentManifest(spark, dir).get

    spark.sql(s"ALTER TABLE snap.`$dir` RENAME COLUMN v TO amount")
    val after = SnapshotTable.currentManifest(spark, dir).get
    assert(after.entries.map(_.path).sorted == before.entries.map(_.path).sorted,
      "a rename must carry every data file untouched")
    assert(after.columnMapping.contains(Map("amount" -> "v")))

    // pre-rename files read under the new logical name
    assert(SnapshotTable.read(spark, dir).columns.toSeq == Seq("id", "amount", "g"))
    assert(SnapshotTable.read(spark, dir).agg(sum("amount")).head.getLong(0) ==
      (0L until 500L).map(_ * 2).sum)
    assert(spark.sql(s"SELECT sum(amount) AS s FROM snap.`$dir`").head.getLong(0) ==
      (0L until 500L).map(_ * 2).sum)
    // filters on the new name resolve and return the right rows
    assert(spark.sql(s"SELECT count(*) AS n FROM snap.`$dir` WHERE amount >= 900").head.getLong(0)
      == 50L) // id in [450, 500)

    // a post-rename append carries the NEW logical name but stores the
    // PHYSICAL one — every file in the table keeps one name per column
    SnapshotTable.append(spark,
      mk(100, 1000).withColumnRenamed("v", "amount"), dir)
    assert(SnapshotTable.read(spark, dir).count() == 600)
    val newFiles = SnapshotTable.currentManifest(spark, dir).get.entries.map(_.path).toSet --
      before.entries.map(_.path).toSet
    newFiles.foreach { p =>
      val physical = spark.read.parquet(s"$dir/$p").schema.fieldNames.toSeq
      assert(physical.contains("v") && !physical.contains("amount"),
        s"post-rename files must store the physical name: $p has $physical")
    }

    // DESCRIBE EXTENDED surfaces the mapping
    val desc = spark.sql(s"DESCRIBE TABLE EXTENDED snap.`$dir`")
      .collect().map(_.mkString("|")).mkString("\n")
    assert(desc.contains("amount->v"), s"mapping must be observable:\n$desc")

    // time travel: the pre-rename version still reads the OLD name
    val pinned = SnapshotTable.readVersion(spark, dir, before.version)
    assert(pinned.columns.toSeq == Seq("id", "v", "g"))
    assert(pinned.agg(sum("v")).head.getLong(0) == (0L until 500L).map(_ * 2).sum)
  }

  test("stats pruning keys by physical names: predicates on the renamed column still skip files") {
    ensureCatalog()
    val dir = s"$root/r2/t"
    // 8 id-clustered files → disjoint id/v spans per file
    SnapshotTable.write(spark, mk(8000).repartitionByRange(8, col("id")), dir)
    SnapshotTable.renameColumn(spark, dir, "v", "amount")
    val m = SnapshotTable.currentManifest(spark, dir).get
    assert(m.entries.size == 8)
    val survivors = SnapshotTable.pruneEntries(spark, m, col("amount") === 4000L)
    assert(survivors.size < m.entries.size,
      s"stats pruning must survive the rename: ${survivors.size} of ${m.entries.size}")
    // and via the planner-integrated relation too (DSv1 path)
    assert(SnapshotTable.read(spark, dir).filter(col("amount") === 4000L).count() == 1)

    // DSv2 SQL path: the filter on the LOGICAL name must reach the parquet
    // scan under the PHYSICAL name — row-group pushdown, not a post-scan
    // residual-only plan
    val q = spark.sql(s"SELECT id FROM snap.`$dir` WHERE amount = 4000")
    assert(q.head.getLong(0) == 2000L)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      (plan.contains("EqualTo(v,4000)") || plan.contains("EqualTo(v, 4000)")),
      s"the pushed filter must carry the physical name at the scan:\n$plan")
  }

  test("rename chains normalize sparsely; a round trip restores the identity mapping") {
    ensureCatalog()
    val dir = s"$root/r3/t"
    SnapshotTable.write(spark, mk(100), dir)
    SnapshotTable.renameColumn(spark, dir, "v", "w")
    SnapshotTable.renameColumn(spark, dir, "w", "x")
    val m = SnapshotTable.currentManifest(spark, dir).get
    assert(m.columnMapping.contains(Map("x" -> "v")),
      s"chained renames must map straight to the physical name, got ${m.columnMapping}")
    assert(SnapshotTable.read(spark, dir).agg(sum("x")).head.getLong(0) ==
      (0L until 100L).map(_ * 2).sum)
    SnapshotTable.renameColumn(spark, dir, "x", "v")
    assert(SnapshotTable.currentManifest(spark, dir).get.columnMapping.isEmpty,
      "renaming back to the physical name must normalize to the identity mapping")
  }

  test("row-level SQL DML and compaction keep working after a rename") {
    ensureCatalog()
    val dir = s"$root/r4/t"
    SnapshotTable.write(spark, mk(300).repartition(4), dir)
    spark.sql(s"ALTER TABLE snap.`$dir` RENAME COLUMN v TO amount")

    spark.sql(s"UPDATE snap.`$dir` SET amount = amount + 1 WHERE id < 100")
    assert(spark.sql(s"SELECT sum(amount) AS s FROM snap.`$dir`").head.getLong(0) ==
      (0L until 300L).map(_ * 2).sum + 100)
    spark.sql(s"DELETE FROM snap.`$dir` WHERE amount = 400") // id 200 (un-updated)
    assert(spark.sql(s"SELECT count(*) AS n FROM snap.`$dir`").head.getLong(0) == 299)

    // rewritten + compacted files still store the physical name
    SnapshotTable.compact(spark, dir, targetBytes = Long.MaxValue)
    val m = SnapshotTable.currentManifest(spark, dir).get
    m.entries.foreach { e =>
      val physical = spark.read.parquet(s"$dir/${e.path}").schema.fieldNames.toSeq
      assert(physical.contains("v") && !physical.contains("amount"),
        s"compacted file ${e.path} must store the physical name, has $physical")
    }
    assert(spark.sql(s"SELECT count(*) AS n FROM snap.`$dir` WHERE amount > 0").head.getLong(0)
      == 299) // every surviving row: id 0 was updated to amount 1, id 200 deleted
  }

  test("refusals: unknown, existing target, self, partition column, constraint column") {
    ensureCatalog()
    val dir = s"$root/r5/t"
    SnapshotTable.write(spark, mk(100), dir, partitionCols = Some(Seq("g")))
    SnapshotTable.addCheckConstraint(spark, dir, "v_pos", "v >= 0")

    val e1 = intercept[Exception] { SnapshotTable.renameColumn(spark, dir, "nope", "x") }
    assert(e1.getMessage.contains("nope"))
    val e2 = intercept[Exception] { SnapshotTable.renameColumn(spark, dir, "id", "g") }
    assert(e2.getMessage.contains("already exists"))
    val e3 = intercept[Exception] { SnapshotTable.renameColumn(spark, dir, "id", "ID") }
    assert(e3.getMessage.contains("same name") || e3.getMessage.contains("already exists"))
    val e4 = intercept[Exception] { SnapshotTable.renameColumn(spark, dir, "g", "h") }
    assert(e4.getMessage.contains("partition"))
    val e5 = intercept[Exception] { SnapshotTable.renameColumn(spark, dir, "v", "w") }
    assert(e5.getMessage.contains("v_pos"))
  }

  test("the physical name behind a rename is reserved: ADD COLUMNS and appends refuse it") {
    ensureCatalog()
    val dir = s"$root/r6/t"
    SnapshotTable.write(spark, mk(200), dir)
    SnapshotTable.renameColumn(spark, dir, "v", "amount")

    // ALTER: the freed logical name "v" still denotes stored bytes
    val e1 = intercept[Exception] {
      spark.sql(s"ALTER TABLE snap.`$dir` ADD COLUMNS (v BIGINT)")
    }
    assert(e1.getMessage.contains("resurrect"), e1.getMessage)
    // append-widening: a batch still carrying the OLD name is refused —
    // binding it as a "new" column would read pre-rename bytes back
    val e2 = intercept[Exception] { SnapshotTable.append(spark, mk(50, 5000), dir) }
    assert(e2.getMessage.contains("occupied") || e2.getMessage.contains("RENAME"),
      e2.getMessage)
    // an unrelated new column is fine
    spark.sql(s"ALTER TABLE snap.`$dir` ADD COLUMNS (note STRING)")
    assert(SnapshotTable.read(spark, dir).columns.toSeq ==
      Seq("id", "amount", "g", "note"))
  }

  test("drop of a renamed column tombstones the PHYSICAL name; the logical name is reusable") {
    ensureCatalog()
    val dir = s"$root/r7/t"
    SnapshotTable.write(spark, mk(150), dir)
    SnapshotTable.renameColumn(spark, dir, "v", "j2")
    SnapshotTable.dropColumn(spark, dir, "j2")
    val m = SnapshotTable.currentManifest(spark, dir).get
    assert(m.droppedCols.contains(Seq("v")),
      s"the tombstone must record the PHYSICAL name, got ${m.droppedCols}")
    assert(m.columnMapping.isEmpty, "the dropped logical must shed its mapping entry")

    // the dropped LOGICAL name never occupied storage — re-adding it is
    // safe and reads NULL everywhere (no file ever stored a 'j2' column)
    SnapshotTable.addColumns(spark, dir,
      StructType.fromDDL("j2 BIGINT"))
    assert(SnapshotTable.read(spark, dir).select("j2").collect().forall(_.isNullAt(0)),
      "re-added logical name must read NULL, not the renamed column's stale bytes")
    // the PHYSICAL name stays refused until a REPLACE renews the files
    val e = intercept[Exception] {
      SnapshotTable.addColumns(spark, dir, StructType.fromDDL("v BIGINT"))
    }
    assert(e.getMessage.contains("resurrect"), e.getMessage)
  }

  test("metadata fast paths survive a rename: manifest-answered aggregates and SPJ stay on") {
    ensureCatalog()
    // executed / collectAll come from SparkSpec

    // manifest-answered aggregate on a RENAMED column: still a zero-task
    // LocalTableScan plan (the answerer translates its stats lookups)
    val adir = s"$root/r9a/t"
    SnapshotTable.write(spark, mk(2000), adir)
    SnapshotTable.renameColumn(spark, adir, "v", "amount")
    val agg = spark.sql(
      s"SELECT count(*) AS c, count(amount) AS ca, min(amount) AS mn, max(amount) AS mx " +
        s"FROM snap.`$adir`")
    val plan = executed(agg)
    assert(collectAll(plan) {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }.isEmpty &&
      collectAll(plan) {
        case l: org.apache.spark.sql.execution.LocalTableScanExec => l }.nonEmpty,
      s"a renamed table's unfiltered aggregate must stay manifest-answered:\n$plan")
    val row = agg.head
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3)) ==
      (2000L, 2000L, 0L, 3998L))

    // storage-partitioned join between co-partitioned tables stays
    // shuffle-free after renaming a NON-key column on one side
    val base = s"$root/r9b"
    val left = spark.range(0, 2000).select((col("id") % 8).as("k"), col("id").as("lv"))
    val right = spark.range(0, 2000).select((col("id") % 8).as("k"), (col("id") * 3).as("rv"))
    SnapshotTable.write(spark, left, s"$base/l", partitionCols = Some(Seq("k")))
    SnapshotTable.write(spark, right, s"$base/r", partitionCols = Some(Seq("k")))
    SnapshotTable.renameColumn(spark, s"$base/l", "lv", "leftval")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val joined = spark.sql(
        s"SELECT l.k, l.leftval, r.rv FROM snap.`$base/l` l " +
          s"JOIN snap.`$base/r` r ON l.k = r.k")
      val jplan = executed(joined)
      assert(collectAll(jplan) {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s }.isEmpty,
        s"co-partitioned join must stay shuffle-free after the rename:\n$jplan")
      assert(joined.count() == 8L * 250 * 250)
    } finally spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
  }

  test("streaming source over a renamed table; a mid-stream rename fails loudly, never silently") {
    ensureCatalog()
    val dir = s"$root/r10/t"
    SnapshotTable.write(spark, mk(100), dir)
    SnapshotTable.renameColumn(spark, dir, "v", "amount")
    SnapshotTable.append(spark, mk(50, 1000).withColumnRenamed("v", "amount"), dir)

    // fresh stream: declared schema and every batch carry the NEW name,
    // pre-rename files included
    val received = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = spark.readStream
      .format(classOf[graft.streaming.SnapshotSourceProvider].getName)
      .option("path", dir).load()
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft-rename-stream").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        assert(df.columns.toSeq == Seq("id", "amount", "g"), df.columns.toSeq)
        df.select("id", "amount").collect().foreach(r =>
          received.add((r.getLong(0), r.getLong(1))))
      }.start()
    q.processAllAvailable()

    // a rename UNDER the running stream breaks the pinned schema: the next
    // batch must fail with the restart instruction, not emit drifted frames
    SnapshotTable.renameColumn(spark, dir, "amount", "amt2")
    SnapshotTable.append(spark, mk(10, 5000).withColumnRenamed("v", "amt2"), dir)
    val e = intercept[Exception] { q.processAllAvailable() }
    assert(messagesOf(e).exists(_.contains("restart the query")), messagesOf(e).mkString("; "))
    q.stop()

    import scala.jdk.CollectionConverters._
    val got = received.asScala.toMap
    assert(got.size == 150 && got(0L) == 0L && got(1010L) == 20L,
      s"the backfill must deliver pre- and post-rename generations (${got.size})")
  }

  private def messagesOf(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).filter(_ != null).toSeq

  test("merge-on-read deletes and the change feed work across a rename") {
    ensureCatalog()
    val dir = s"$root/r8/t"
    SnapshotTable.write(spark, mk(400), dir)
    SnapshotTable.renameColumn(spark, dir, "v", "amount")
    val deleted = SnapshotTable.deleteMoR(spark, dir, col("amount") < 20) // ids 0..9
    assert(deleted == 10L, s"MoR delete through the mapping must hit, got $deleted")
    assert(SnapshotTable.read(spark, dir).count() == 390)

    val vRename = SnapshotTable.versions(spark, dir)(1) // write, rename, delete
    val changes = graft.catalog.ChangeFeed.rowChanges(
      spark, dir, vRename, SnapshotTable.versions(spark, dir).last, keys = Seq("id"))
    assert(changes.filter(col("_change_type") === "delete").count() == 10,
      "the change feed must surface the MoR delete under the renamed schema")
    assert(changes.columns.contains("amount") && !changes.columns.contains("v"))
  }
}
