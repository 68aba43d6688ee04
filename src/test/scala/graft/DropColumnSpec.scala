package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.catalog.{SnapshotCatalog, SnapshotTable}

/** `ALTER TABLE … DROP COLUMN` — metadata-only narrowing, the inverse of
  * ADD COLUMNS' read-NULL contract: pre-drop files keep the bytes, every
  * reader just stops asking for them. The dropped NAME is tombstoned:
  * because reads are name-based (no Iceberg field ids), re-adding it
  * would resurrect stale values out of pre-drop files — refused until a
  * full REPLACE renews the file set.
  */
class DropColumnSpec extends SparkSpec {

  private lazy val root: String = Files.createTempDirectory("graft-drop").toString

  private def ensureCatalog(): Unit = {
    spark.conf.set("spark.sql.catalog.snap", classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.snap.root", root)
  }

  private def mk(n: Long) = spark.range(0, n).select(
    col("id"), (col("id") * 2).as("keep"), (col("id") * 3).as("junk"),
    (col("id") % 5).as("g"))

  test("drop is metadata-only; reads across pre- and post-drop files exclude the column") {
    ensureCatalog()
    val dir = s"$root/d1/t"
    SnapshotTable.write(spark, mk(500), dir)
    val before = SnapshotTable.currentManifest(spark, dir).get

    spark.sql(s"ALTER TABLE snap.`$dir` DROP COLUMN junk")
    val after = SnapshotTable.currentManifest(spark, dir).get
    assert(after.entries.map(_.path).sorted == before.entries.map(_.path).sorted,
      "a drop must carry every data file untouched")
    assert(after.droppedCols.contains(Seq("junk")))

    // post-drop appends lack the column; the mixed read never shows it
    SnapshotTable.append(spark, mk(100).drop("junk").withColumn("id", col("id") + 1000), dir)
    val got = spark.sql(s"SELECT * FROM snap.`$dir`")
    assert(got.schema.fieldNames.toSeq == Seq("id", "keep", "g"))
    assert(got.count() == 600)
    assert(SnapshotTable.read(spark, dir).schema.fieldNames.toSeq == Seq("id", "keep", "g"))

    // time travel to a pre-drop version still reads the column
    val pinned = SnapshotTable.readVersion(spark, dir, before.version)
    assert(pinned.schema.fieldNames.contains("junk"))
    assert(pinned.agg(sum("junk")).head.getLong(0) == (0L until 500L).map(_ * 3).sum)
  }

  test("resurrection guard: re-adding a dropped name is refused; REPLACE clears the tombstone") {
    ensureCatalog()
    spark.sql("DROP TABLE IF EXISTS snap.d2.t")
    mk(200).createOrReplaceTempView("drop_src")
    spark.sql("CREATE TABLE snap.d2.t AS SELECT * FROM drop_src")
    spark.sql("ALTER TABLE snap.d2.t DROP COLUMN junk")

    val e = intercept[Exception] {
      spark.sql("ALTER TABLE snap.d2.t ADD COLUMNS (junk BIGINT)")
    }
    assert(e.getMessage.contains("resurrect"), e.getMessage)
    // a DIFFERENT name is fine
    spark.sql("ALTER TABLE snap.d2.t ADD COLUMNS (junk2 BIGINT)")

    // REPLACE renews every file: the tombstone clears and the name is free
    spark.sql("REPLACE TABLE snap.d2.t AS SELECT id, keep FROM drop_src")
    assert(SnapshotTable.currentManifest(spark, s"$root/d2/t").get.droppedCols.isEmpty)
    spark.sql("ALTER TABLE snap.d2.t ADD COLUMNS (junk BIGINT)")
    assert(spark.sql("SELECT junk FROM snap.d2.t").collect().forall(_.isNullAt(0)),
      "post-replace files never held 'junk': it must read NULL, not stale values")
  }

  test("refusals: partition column, constraint-referenced column, last column, unknown column") {
    ensureCatalog()
    val dir = s"$root/d3/t"
    SnapshotTable.write(spark, mk(100), dir, partitionCols = Some(Seq("g")))
    val e1 = intercept[Exception] { SnapshotTable.dropColumn(spark, dir, "g") }
    assert(e1.getMessage.contains("partition"), e1.getMessage)

    SnapshotTable.addCheckConstraint(spark, dir, "keep_pos", "keep >= 0")
    val e2 = intercept[Exception] { SnapshotTable.dropColumn(spark, dir, "keep") }
    assert(e2.getMessage.contains("keep_pos"), e2.getMessage)

    val e3 = intercept[Exception] { SnapshotTable.dropColumn(spark, dir, "nope") }
    assert(e3.getMessage.contains("nope"))

    val solo = s"$root/d3/solo"
    SnapshotTable.write(spark, spark.range(0, 10).select(col("id").as("only")), solo)
    val e4 = intercept[Exception] { SnapshotTable.dropColumn(spark, solo, "only") }
    assert(e4.getMessage.contains("last column"))

    // IF EXISTS on a missing column is a no-op through SQL
    spark.sql(s"ALTER TABLE snap.`$dir` DROP COLUMN IF EXISTS nope2")
  }

  test("tombstone holds on EVERY widening path: append, exactly-once, epoch commit, merge") {
    ensureCatalog()
    val dir = s"$root/d5/t"
    SnapshotTable.write(spark, mk(200), dir)
    SnapshotTable.dropColumn(spark, dir, "junk")
    val schemaBefore = SnapshotTable.currentManifest(spark, dir).get.schemaDdl

    // a batch that STILL CARRIES the dropped column must be refused — a
    // silent re-widen would read stale 'junk' values back out of the 200
    // pre-drop rows' files
    val stale = mk(50).withColumn("id", col("id") + 10000)
    val e1 = intercept[Exception] { SnapshotTable.append(spark, stale, dir) }
    assert(e1.getMessage.contains("DROPPED"), e1.getMessage)
    val e2 = intercept[Exception] {
      SnapshotTable.appendExactlyOnce(spark, stale, dir, appId = "tomb-app", batchId = 1L)
    }
    assert(e2.getMessage.contains("DROPPED"), e2.getMessage)
    // the streaming sink's commit half (entries pre-written by executors)
    val e3 = intercept[Exception] {
      SnapshotTable.appendEntriesExactlyOnce(spark, dir, Seq.empty, stale.schema,
        appId = "tomb-epoch", batchId = 1L)
    }
    assert(e3.getMessage.contains("DROPPED"), e3.getMessage)

    assert(SnapshotTable.currentManifest(spark, dir).get.schemaDdl == schemaBefore,
      "a refused widening must not have committed anything")
    assert(!SnapshotTable.read(spark, dir).columns.contains("junk"))

    // a batch WITHOUT the dropped column still appends fine
    SnapshotTable.append(spark, stale.drop("junk"), dir)
    assert(SnapshotTable.read(spark, dir).count() == 250)

    // merge: same guard through the keyed-upsert path. An OVERLAPPING-dt
    // merge projects the batch to the table's columns (the extra column
    // never reaches the rewrite — no widening, no resurrection); a
    // NON-overlapping dt takes the empty-rewrite path whose output
    // carries the batch schema verbatim, which is where the tombstone
    // guard must bite
    val mdir = s"$root/d5/m"
    def mkDt(n: Long, off: Long, dt: String) = spark.range(0, n).select(
      (col("id") + off).as("k"), lit(dt).as("dt"),
      col("id").as("v"), (col("id") * 3).as("junk"))
    SnapshotTable.write(spark, mkDt(100, 0, "2024-01-01"), mdir)
    SnapshotTable.dropColumn(spark, mdir, "junk")
    val e4 = intercept[Exception] {
      SnapshotTable.merge(spark, mkDt(10, 500, "2024-02-02"), mdir, keys = Seq("k", "dt"))
    }
    assert(e4.getMessage.contains("DROPPED"), e4.getMessage)
    SnapshotTable.merge(spark, mkDt(10, 0, "2024-01-01"), mdir, keys = Seq("k", "dt"))
    assert(!SnapshotTable.read(spark, mdir).columns.contains("junk"),
      "an overlapping merge projects the tombstoned column away, never re-widens")
    assert(SnapshotTable.read(spark, mdir).count() == 100)
  }

  test("direct Scala addColumns refuses duplicates WITHIN the added list (case-insensitive)") {
    ensureCatalog()
    val dir = s"$root/d6/t"
    SnapshotTable.write(spark, mk(50), dir)
    val before = SnapshotTable.currentManifest(spark, dir).get
    // the SQL path is shielded by Spark's analyzer; a direct call with
    // (x INT, X STRING) would otherwise commit a manifest schema with
    // duplicate names and break every later read
    val e = intercept[Exception] {
      SnapshotTable.addColumns(spark, dir, StructType.fromDDL("x INT, X STRING"))
    }
    assert(e.getMessage.contains("duplicate"), e.getMessage)
    assert(SnapshotTable.currentManifest(spark, dir).get.version == before.version,
      "a refused ALTER must commit nothing")
    SnapshotTable.addColumns(spark, dir, StructType.fromDDL("x INT, y STRING"))
    assert(SnapshotTable.read(spark, dir).columns.toSeq ==
      Seq("id", "keep", "junk", "g", "x", "y"))
  }

  test("a row-level rewrite after the drop physically sheds the column from rewritten files") {
    ensureCatalog()
    val dir = s"$root/d4/t"
    SnapshotTable.write(spark, mk(300), dir)
    spark.sql(s"ALTER TABLE snap.`$dir` DROP COLUMN junk")
    spark.sql(s"UPDATE snap.`$dir` SET keep = keep + 1 WHERE id >= 0")
    val m = SnapshotTable.currentManifest(spark, dir).get
    val physical: Set[String] = m.entries.flatMap { e =>
      spark.read.parquet(s"$dir/${e.path}").schema.fieldNames.toSeq
    }.toSet
    assert(!physical.contains("junk"),
      s"the full-table rewrite must shed the dropped column; files still carry $physical")
    assert(spark.sql(s"SELECT sum(keep) AS s FROM snap.`$dir`").head.getLong(0) ==
      (0L until 300L).map(_ * 2 + 1).sum)
  }
}
