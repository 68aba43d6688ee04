package graft

import java.nio.file.Files

import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions._

import graft.catalog.{FileStats, SnapshotTable}
import graft.catalog.FileStats.ColStat

/** Manifest-level data skipping and the row-level DELETE/UPDATE built on
  * it. The pure translator tests pin the conservative contract (anything
  * not provably irrelevant is kept); the table tests assert actual skip
  * COUNTS from the manifest — not prose — and that pruned reads stay
  * row-identical to unpruned filter semantics.
  */
class DataSkippingSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(): String = Files.createTempDirectory("graft-skip").toString

  private val numStats = Map("v" -> ColStat("num", Some("10.0"), Some("99.0"), 0L))
  private def may(e: Expression, st: Map[String, ColStat] = numStats, rows: Long = 100L) =
    FileStats.mayMatch(e, st, rows)
  private def a(n: String) = UnresolvedAttribute(n)

  test("numeric bounds compare numerically, not lexicographically") {
    // "9.0" > "10.0" as strings — a lexicographic comparator would both
    // keep files it could skip and (fatally) skip files it must keep
    assert(!may(EqualTo(a("v"), Literal(9))))
    assert(may(EqualTo(a("v"), Literal(10))))
    assert(may(EqualTo(a("v"), Literal(99))))
    assert(!may(EqualTo(a("v"), Literal(100))))
    assert(!may(GreaterThan(a("v"), Literal(99))))
    assert(may(GreaterThanOrEqual(a("v"), Literal(99))))
    assert(!may(LessThan(a("v"), Literal(10))))
    assert(may(LessThanOrEqual(a("v"), Literal(10))))
    // literal-on-the-left mirrors flip the comparison
    assert(!may(LessThan(Literal(99), a("v"))))
    assert(may(LessThan(Literal(98), a("v"))))
  }

  test("boolean connectives: AND narrows, OR widens, unknown shapes keep the file") {
    val in = EqualTo(a("v"), Literal(50))
    val out = EqualTo(a("v"), Literal(500))
    assert(may(And(in, in)) && !may(And(in, out)) && !may(And(out, out)))
    assert(may(Or(in, out)) && !may(Or(out, out)))
    // opaque predicate (arithmetic on the column) → conservative keep
    val opaque = EqualTo(Add(a("v"), Literal(1)), Literal(5000))
    assert(may(opaque) && may(And(opaque, in)))
    assert(!may(And(opaque, out)), "AND with a provably-false leg must still skip")
    // a column with no recorded stats never prunes
    assert(may(EqualTo(a("unknown_col"), Literal(123456))))
  }

  test("IN, null checks, and prefix predicates prune by bounds and null counts") {
    assert(may(In(a("v"), Seq(Literal(1), Literal(50)))))
    assert(!may(In(a("v"), Seq(Literal(1), Literal(2)))))
    val withNulls = Map("v" -> ColStat("num", Some("10.0"), Some("99.0"), 40L))
    val noNulls = Map("v" -> ColStat("num", Some("10.0"), Some("99.0"), 0L))
    val allNull = Map("v" -> ColStat("num", None, None, 100L))
    assert(may(IsNull(a("v")), withNulls) && !may(IsNull(a("v")), noNulls))
    assert(may(IsNotNull(a("v")), withNulls) && !may(IsNotNull(a("v")), allNull))
    // all-NULL column has no bounds: every value predicate is unsatisfiable
    // there but the translator must keep null checks exact
    assert(may(EqualTo(a("v"), Literal(50)), allNull),
      "bounds-free stats keep the file (conservative), even when all-NULL")
    val strStats = Map("s" -> ColStat("str", Some("apple"), Some("mango"), 0L))
    assert(may(StartsWith(a("s"), Literal("ba")), strStats))
    assert(!may(StartsWith(a("s"), Literal("z")), strStats))
    assert(may(StartsWith(a("s"), Literal("mango")), strStats))
    assert(!may(StartsWith(a("s"), Literal("mangos")), strStats))
  }

  test("cast-wrapped attributes prune only through order-preserving numeric widenings") {
    import org.apache.spark.sql.types._
    // widening casts keep pruning: int column bounds vs a long/double literal
    val intStats = Map("v" -> ColStat("num", Some("10.0"), Some("99.0"), 0L))
    val vInt = AttributeReference("v", IntegerType)()
    assert(!may(EqualTo(Cast(vInt, LongType), Literal(500L)), intStats))
    assert(may(EqualTo(Cast(vInt, LongType), Literal(50L)), intStats))
    assert(!may(GreaterThan(Cast(vInt, DoubleType), Literal(99.5)), intStats))
    // decimal→double matches the stored-bound encoding (itself a double cast)
    val decStats = Map("amt" -> ColStat("num", Some("10.0"), Some("99.0"), 0L))
    val amt = AttributeReference("amt", DecimalType(10, 2))()
    assert(!may(GreaterThan(Cast(amt, DoubleType), Literal(100.0)), decStats))
    // NON-order-preserving casts must never prune on raw column bounds:
    // timestamp→long RESCALES micros to seconds — bounds are in micros,
    // the literal in seconds, so any comparison would be garbage
    val tsStats = Map("ts" -> ColStat("num", Some("1.7E15"), Some("1.71E15"), 0L))
    val ts = AttributeReference("ts", TimestampType)()
    assert(may(LessThan(Cast(ts, LongType), Literal(1700000000L)), tsStats),
      "timestamp→long cast compares seconds against micros bounds — must keep the file")
    // narrowing long→int wraps values: a file holding 4294967301 matches
    // CAST(id AS INT) = 5, so its (big) bounds must not prune it
    val bigStats = Map("id" -> ColStat("num", Some("4.294967301E9"), Some("4.294967301E9"), 0L))
    val idL = AttributeReference("id", LongType)()
    assert(may(EqualTo(Cast(idL, IntegerType), Literal(5)), bigStats),
      "narrowing cast wraps — raw bounds must not prune")
    // FLOAT targets must be refused even though Spark calls int→float an
    // up-cast: float(16777219) rounds to 16777220.0f, so a file with
    // hi=16777219 DOES hold a row matching CAST(v AS FLOAT) >= 16777220.0f
    // — pruning on the double-precision bound would wrongly skip it
    val f24Stats = Map("v" -> ColStat("num", Some("1.0"), Some("1.6777219E7"), 0L))
    val vInt2 = AttributeReference("v", IntegerType)()
    assert(may(GreaterThanOrEqual(Cast(vInt2, FloatType), Literal(16777220.0f)), f24Stats),
      "int→float cast rounds past the stored bound — must keep the file")
    val vLong = AttributeReference("v", LongType)()
    assert(may(GreaterThanOrEqual(Cast(vLong, FloatType), Literal(16777220.0f)), f24Stats),
      "long→float cast likewise must not prune")
    // decimal targets re-round relative to double-stored bounds — refused
    assert(may(GreaterThan(Cast(vInt2, DecimalType(20, 2)), Literal(Decimal(16777219.5), DecimalType(20, 2))), f24Stats),
      "int→decimal cast target must not prune on double-domain bounds")
    // exact integral widening still prunes
    assert(!may(EqualTo(Cast(vInt2, LongType), Literal(20000000L)), f24Stats))
  }

  test("string bound truncation: lower truncates, upper pads to re-dominate") {
    val long = "x" * 100
    assert(FileStats.cmpUtf8(FileStats.truncLo(long), long) < 0, "truncated lo must stay <=")
    assert(FileStats.cmpUtf8(FileStats.truncHi(long), long) > 0, "truncated hi must stay >=")
    assert(FileStats.truncLo("short") == "short" && FileStats.truncHi("short") == "short")
    // UTF-8 order, not UTF-16: U+10000 (surrogate pair in UTF-16) sorts
    // above U+FFFD in code-point order; Java's compareTo disagrees
    val supp = new String(Character.toChars(0x10000))
    assert(FileStats.cmpUtf8(supp, "�") > 0 && supp.compareTo("�") < 0,
      "comparator must follow Spark's UTF-8 binary order where Java diverges")
  }

  test("readWhere skips files by manifest stats and equals the unpruned filter") {
    val dir = tmpTable()
    // four single-file commits with disjoint id ranges → four prunable files
    (0 until 4).foreach { k =>
      val part = spark.range(k * 1000, k * 1000 + 100)
        .select(col("id"), concat(lit("doc-"), col("id")).as("name"),
          (col("id") % 7).cast("double").as("score"))
        .repartition(1)
      if (k == 0) SnapshotTable.write(spark, part, dir)
      else SnapshotTable.append(spark, part, dir)
    }
    val m = SnapshotTable.currentManifest(spark, dir).get
    assert(m.entries.length == 4)

    val pred = col("id") >= 2000L && col("id") < 3000L
    assert(SnapshotTable.pruneEntries(spark, m, pred).length == 1,
      "id-range predicate must keep exactly the one intersecting file")
    val got = SnapshotTable.readWhere(spark, dir, pred)
    val want = SnapshotTable.read(spark, dir).filter(pred)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)

    // equality and IN prune to single files; a no-match predicate prunes all
    assert(SnapshotTable.pruneEntries(spark, m, col("id") === 1050L).length == 1)
    assert(SnapshotTable.pruneEntries(spark, m, col("id").isin(50L, 3050L)).length == 2)
    assert(SnapshotTable.pruneEntries(spark, m, col("id") === 999999L).isEmpty)
    assert(SnapshotTable.readWhere(spark, dir, col("id") === 999999L).count() == 0,
      "fully-pruned read must yield an empty frame, not fail")
    // string prefix prunes on name bounds
    assert(SnapshotTable.pruneEntries(spark, m, col("name").startsWith("doc-3")).length
      <= m.entries.length)
    val gotPrefix = SnapshotTable.readWhere(spark, dir, col("name").startsWith("doc-3"))
    assert(gotPrefix.count() ==
      SnapshotTable.read(spark, dir).filter(col("name").startsWith("doc-3")).count())
  }

  test("delete is copy-on-write: untouched files carried by reference, SQL NULL semantics") {
    val dir = tmpTable()
    (0 until 3).foreach { k =>
      val part = spark.range(k * 100, k * 100 + 100)
        .select(col("id"),
          when(col("id") % 10 === 3, lit(null).cast("long")).otherwise(col("id") % 5).as("grp"))
        .repartition(1)
      if (k == 0) SnapshotTable.write(spark, part, dir) else SnapshotTable.append(spark, part, dir)
    }
    val before = SnapshotTable.currentManifest(spark, dir).get
    val v1 = before.version

    // predicate is NULL for grp-NULL rows: SQL DELETE must keep those
    val deleted = SnapshotTable.delete(spark, dir, col("id") < 100L && col("grp") === 0L)
    val expectDeleted = spark.range(0, 100)
      .select(when(col("id") % 10 === 3, lit(null).cast("long")).otherwise(col("id") % 5).as("grp"))
      .filter(col("grp") === 0L).count()
    assert(deleted == expectDeleted, s"deleted $deleted, want $expectDeleted")

    val after = SnapshotTable.currentManifest(spark, dir).get
    val untouched = before.entries.filter(_.stats.exists(_.get("id").exists(
      s => s.lo.exists(_.toDouble >= 100.0))))
    assert(untouched.length == 2 && untouched.toSet.subsetOf(after.entries.toSet),
      "files whose id range cannot match must move by reference, byte-identical entries")

    assert(SnapshotTable.read(spark, dir).count() == 300L - deleted)
    assert(SnapshotTable.read(spark, dir)
      .filter(col("id") < 100L && col("grp").isNull).count() == 10L,
      "NULL-predicate rows survive a SQL DELETE")
    // time travel still sees the pre-delete table
    assert(SnapshotTable.readVersion(spark, dir, v1).count() == 300L)
    // no-op delete commits nothing
    val vAfter = SnapshotTable.currentManifest(spark, dir).get.version
    assert(SnapshotTable.delete(spark, dir, col("id") === -1L) == 0L)
    assert(SnapshotTable.currentManifest(spark, dir).get.version == vAfter)
  }

  test("update rewrites only stat-intersecting files; type changes refused") {
    val dir = tmpTable()
    (0 until 3).foreach { k =>
      val part = spark.range(k * 100, k * 100 + 100)
        .select(col("id"), lit("ok").as("status"), (col("id") * 2).as("v"))
        .repartition(1)
      if (k == 0) SnapshotTable.write(spark, part, dir) else SnapshotTable.append(spark, part, dir)
    }
    val before = SnapshotTable.currentManifest(spark, dir).get
    val n = SnapshotTable.update(spark, dir, col("id") >= 250L,
      Map("status" -> lit("redacted"), "v" -> lit(-1L)))
    assert(n == 50L, s"updated $n, want 50")
    val after = SnapshotTable.currentManifest(spark, dir).get
    assert(before.entries.take(2).toSet.subsetOf(after.entries.toSet),
      "files below the id bound must be untouched")
    val t = SnapshotTable.read(spark, dir)
    assert(t.filter(col("status") === "redacted").count() == 50L)
    assert(t.filter(col("id") < 250L && col("v") =!= col("id") * 2).count() == 0L)
    intercept[IllegalArgumentException] {
      SnapshotTable.update(spark, dir, col("id") >= 0L, Map("v" -> lit("not-a-long")))
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.update(spark, dir, col("id") >= 0L, Map("nope" -> lit(1)))
    }
  }

  test("stats survive the manifest JSON roundtrip; stat-free entries never prune") {
    val dir = tmpTable()
    SnapshotTable.write(spark, spark.range(10).repartition(1)
      .select(col("id"), to_date(lit("2024-06-01")).as("dt")), dir)
    val m = SnapshotTable.currentManifest(spark, dir).get
    val st = m.entries.head.stats.get
    assert(st("id").kind == "num" && st("id").lo.get.toDouble == 0.0 &&
      st("id").hi.get.toDouble == 9.0 && st("id").nulls == 0L)
    assert(st("dt").kind == "str" && st("dt").lo.contains("2024-06-01"))
    // dt pair still derives for merge's dt-scoped rewrite set
    assert(m.entries.head.minDt.contains("2024-06-01"))
    // entries without stats (pre-stats manifests) are always kept
    val legacy = m.copy(entries = m.entries.map(_.copy(stats = None)))
    assert(SnapshotTable.pruneEntries(spark, legacy, col("id") === 999L).length == m.entries.length)
  }
}
