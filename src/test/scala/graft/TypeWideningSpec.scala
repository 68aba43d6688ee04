package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.{SnapshotCatalog, SnapshotTable}

/** Safe type widening as metadata-only schema evolution: every pair
  * [[SnapshotTable.isSafeWidening]] admits must (a) commit WITHOUT touching
  * a data file, (b) read mixed narrow/wide file histories correctly through
  * every read path (Scala, planner-integrated relation, SQL catalog), and
  * (c) keep pre-widening per-file stats pruning. Everything outside the
  * safe set must be refused by name.
  */
class TypeWideningSpec extends SparkSpec {

  private lazy val root: String = Files.createTempDirectory("graft-widen").toString

  private def ensureCatalog(): Unit = {
    spark.conf.set("spark.sql.catalog.snap", classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.snap.root", root)
  }

  test("int/float/decimal widenings are metadata-only and mixed files read through every path") {
    ensureCatalog()
    val dir = s"$root/mix/t"
    // v1: narrow types — int32, float, decimal(5,2) (int32-backed physical)
    val narrow = spark.range(0, 100).select(
      col("id"),
      col("id").cast("int").as("i"),
      (col("id") * 2).cast("float").as("f"),
      (col("id") % 100).cast("decimal(5,2)").as("d"))
    SnapshotTable.write(spark, narrow, dir)
    val filesBefore = SnapshotTable.currentManifest(spark, dir).get.entries.map(_.path).toSet

    SnapshotTable.alterColumnType(spark, dir, "i", LongType)
    SnapshotTable.alterColumnType(spark, dir, "f", DoubleType)
    // decimal(5,2) -> decimal(20,2) crosses the int32 -> binary physical
    // boundary — the widest reader-side gap the safe set admits
    SnapshotTable.alterColumnType(spark, dir, "d", DecimalType(20, 2))

    // metadata-only: the entries of every alter commit are the v1 files
    val m = SnapshotTable.currentManifest(spark, dir).get
    assert(m.entries.map(_.path).toSet == filesBefore, "alter must not touch data files")
    assert(StructType.fromDDL(m.schemaDdl.get)("i").dataType == LongType)
    assert(StructType.fromDDL(m.schemaDdl.get)("d").dataType == DecimalType(20, 2))

    // v5: a post-widening append with native wide types
    val wide = spark.range(100, 150).select(
      col("id"),
      col("id").as("i"),
      (col("id") * 2).cast("double").as("f"),
      (col("id") % 100).cast("decimal(20,2)").as("d"))
    SnapshotTable.append(spark, wide, dir)

    // expected truth, computed without the table
    val want = narrow.select(col("id"), col("i").cast("long"), col("f").cast("double"),
      col("d").cast("decimal(20,2)")).unionByName(wide)

    // every read path sees the same widened rows across narrow + wide files
    for ((label, df) <- Seq(
        "SnapshotTable.read" -> SnapshotTable.read(spark, dir),
        "SQL catalog" -> spark.sql(s"SELECT * FROM snap.mix.t"))) {
      assert(df.schema("i").dataType == LongType, s"$label: i widened")
      assert(df.schema("f").dataType == DoubleType, s"$label: f widened")
      assert(df.schema("d").dataType == DecimalType(20, 2), s"$label: d widened")
      assert(df.exceptAll(want).isEmpty && want.exceptAll(df).isEmpty,
        s"$label: mixed narrow/wide files must read the union exactly")
    }

    // aggregates over the mixed history (the wide column participates in
    // arithmetic, so a reader-side widening bug would surface as a value)
    assert(SnapshotTable.read(spark, dir).agg(sum("i")).head().getLong(0) ==
      (0L until 150L).sum)

    // time travel: v1 still reads with its ORIGINAL narrow schema
    val v1 = SnapshotTable.versions(spark, dir).head
    assert(SnapshotTable.readVersion(spark, dir, v1).schema("i").dataType == IntegerType)
  }

  test("pre-widening per-file stats still prune under the widened schema") {
    val dir = s"$root/prune/t"
    // two narrow int files with disjoint ranges
    SnapshotTable.write(spark,
      spark.range(0, 100).select(col("id").cast("int").as("i")).coalesce(1), dir)
    SnapshotTable.append(spark,
      spark.range(1000, 1100).select(col("id").cast("int").as("i")).coalesce(1), dir)
    SnapshotTable.alterColumnType(spark, dir, "i", LongType)
    val m = SnapshotTable.currentManifest(spark, dir).get
    assert(m.entries.length == 2)
    // a long-typed predicate resolved against the widened schema must
    // still skip the out-of-range narrow file via its double-domain bounds
    val hit = SnapshotTable.pruneEntries(spark, m, col("i") >= 1000L)
    assert(hit.length == 1, s"expected 1 surviving file, got ${hit.length}")
    assert(SnapshotTable.readWhere(spark, dir, col("i") >= 1000L).count() == 100)
  }

  test("SQL ALTER COLUMN TYPE widens; unsafe changes are refused by name") {
    ensureCatalog()
    val dir = s"$root/sqlw/t"
    SnapshotTable.write(spark, spark.range(0, 10).select(
      col("id").cast("int").as("i"), col("id").cast("double").as("x"),
      col("id").cast("string").as("s")), dir)
    spark.sql("ALTER TABLE snap.sqlw.t ALTER COLUMN i TYPE BIGINT")
    assert(spark.sql("SELECT * FROM snap.sqlw.t").schema("i").dataType == LongType)
    assert(spark.sql("SELECT sum(i) AS n FROM snap.sqlw.t").head().getLong(0) == 45)

    // narrowings/retypes Spark's OWN analyzer already refuses (it only
    // offers up-casts to the catalog) — refused loudly either way
    for ((colName, to, why) <- Seq(
        ("i", "INT", "narrowing long -> int"),
        ("x", "FLOAT", "narrowing double -> float"),
        ("s", "INT", "string -> int"))) {
      val e = intercept[Exception](
        spark.sql(s"ALTER TABLE snap.sqlw.t ALTER COLUMN $colName TYPE $to"))
      assert(e.getMessage.contains("not a safe") ||
        e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"), s"$why: ${e.getMessage}")
    }
    // casts Spark's analyzer DOES admit (canUpCast) but the format refuses:
    // long -> double rounds past 2^53, int -> float past 2^24 — value-
    // changing, so not metadata-only widenings; refused by THIS catalog
    val lud = intercept[Exception](
      spark.sql("ALTER TABLE snap.sqlw.t ALTER COLUMN i TYPE DOUBLE"))
    assert(lud.getMessage.contains("not a safe"), lud.getMessage)
    val e2 = intercept[Exception](SnapshotTable.alterColumnType(spark, dir, "i", DoubleType))
    assert(e2.getMessage.contains("not a safe"), e2.getMessage)
    val e2b = intercept[Exception](SnapshotTable.alterColumnType(spark, dir, "i", FloatType))
    assert(e2b.getMessage.contains("not a safe"), e2b.getMessage)
    // unknown column refused by name
    val e3 = intercept[Exception](SnapshotTable.alterColumnType(spark, dir, "nope", LongType))
    assert(e3.getMessage.contains("no such column"), e3.getMessage)
    // a post-widening append must carry the WIDE type (the no-silent-
    // coercion rule applies to writers too: narrow batches are refused)
    val narrowAppend = intercept[IllegalArgumentException](
      SnapshotTable.append(spark, spark.range(0, 1).select(
        col("id").cast("int").as("i"), col("id").cast("double").as("x"),
        col("id").cast("string").as("s")), dir))
    assert(narrowAppend.getMessage.contains("cannot change column"), narrowAppend.getMessage)
    // decimal scale change refused even when precision grows
    val dirD = s"$root/sqlw/dec"
    SnapshotTable.write(spark,
      spark.range(0, 5).select(col("id").cast("decimal(5,2)").as("d")), dirD)
    val e4 = intercept[Exception](
      SnapshotTable.alterColumnType(spark, dirD, "d", DecimalType(10, 4)))
    assert(e4.getMessage.contains("not a safe"), e4.getMessage)
  }
}
