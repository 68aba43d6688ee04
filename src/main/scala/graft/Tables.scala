package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Canonical table loaders for the driver-provided parquet fixtures
  * (`/root/testdata/sf*`; see TESTDATA.md / FIXTURES.md).
  *
  * Date-like columns ship as timestamps in the parquet footers; the
  * reference's grain is DATE (`README.md:111`, `scripts/insert_ads_data.py:40`
  * in the reference), so we cast at scan — the cast is a narrow projection
  * that stays inside the parquet scan's whole-stage codegen and does not
  * block column pruning or predicate pushdown on other columns.
  */
object Tables {

  /** The fixture `name` under `sfDir`, with its schema read from one footer
    * on the driver ([[org.apache.spark.sql.graftbridge.Bridge.footerSchema]]):
    * `spark.read.parquet` would infer the same schema in a one-task Spark
    * job on every load. A path with no file falls through to Spark's own
    * read and its error.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    org.apache.spark.sql.graftbridge.Bridge.footerSchema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** lineitem with `l_shipdate` normalized to DateType. */
  def lineitem(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "lineitem")
      .withColumn("l_shipdate", col("l_shipdate").cast("date"))

  /** orders with `o_orderdate` normalized to DateType. */
  def orders(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "orders")
      .withColumn("o_orderdate", col("o_orderdate").cast("date"))

  def customer(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "customer")

  def supplier(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "supplier")

  def part(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "part")

  def nation(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "nation")

  def region(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "region")

  /** events with both the raw timestamp and a derived `dt` DateType column —
    * this table plays the reference's `ADS_DATA` fact role (FIXTURES.md §3).
    *
    * Two fixture generations exist and both load to the SAME logical shape
    * (`ts` TIMESTAMP µs, `ts_nanos` LONG nanos-since-epoch, `dt` DATE):
    *  - TIMESTAMP(NANOS) files: Spark's reader rejects nanos by default —
    *    read the underlying int64 via `nanosAsLong` and floor-divide to µs.
    *  - TIMESTAMP(MICROS) files (current driver output): the stored column
    *    IS the query-facing `ts` — kept raw (not re-derived) so time-range
    *    predicates on `ts` reach the parquet scan as PushedFilters;
    *    `ts_nanos` becomes the derived column instead. NTZ inference is
    *    disabled so the column loads as TimestampType exactly like the
    *    nanos path produced (UTC session tz makes the two readings agree).
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val raw = load(spark, sfDir, "events")
    val loaded = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // nanos fixture: keep the RAW nanos column — `ts`/`dt` are computed,
        // so time-range queries filter ts_nanos (a pure rename of the stored
        // column) and get PushedFilters.
        raw.withColumn("ts_nanos", col("ts"))
          // FLOOR division, not `div` (which truncates toward zero): for
          // pre-1970 instants a toward-zero truncation rounds nanos UP to
          // the next microsecond, so `ts >= micros(lo) <=> ts_nanos >=
          // lo·1000` would break within 1µs of a bound. (x − pmod(x,1000))
          // div 1000 is exact floor for any sign and stays in integer
          // arithmetic (double division would lose precision above 2^53).
          .withColumn("ts", timestamp_micros(expr("(ts_nanos - pmod(ts_nanos, 1000)) div 1000")))
      case _ =>
        // µs fixture: `ts` is stored — predicates on it push down; nanos
        // view derived exactly (µs × 1000 cannot overflow a Long within
        // the representable timestamp range)
        raw.withColumn("ts_nanos", unix_micros(col("ts")) * 1000L)
    }
    loaded.withColumn("dt", col("ts").cast("date"))
  }

  def documents(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "documents")

  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "embeddings")
}
