package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join operators Spark lacks natively, composed from existing
  * primitives so Catalyst keeps optimizing them (SURVEY.md preference (a):
  * compose before custom plans).
  *
  * - `asOf`: for each left row, the latest right row with the same key and
  *   rightTime ≤ leftTime. Implemented as union + sorted window
  *   (last_value ignoring nulls) — ONE shuffle+sort on (key, time), no
  *   nested-loop, no per-key driver work; at 100 TB this is a single
  *   sort-merge-shaped exchange instead of the quadratic theta-join Spark
  *   would otherwise plan.
  * - `rangeJoin`: left.time ∈ [right.start, right.end) equi-composed via
  *   fixed-width bucketing: each right interval explodes to the buckets it
  *   overlaps, each left point hashes to its bucket, the join is a plain
  *   equi-join on (key?, bucket) + residual filter — avoiding the
  *   BroadcastNestedLoopJoin Spark plans for raw interval predicates.
  */
object TemporalJoins {

  /** As-of join (backward): latest `right` row per key at or before the left
    * row's time. Right columns arrive prefixed (default "r_"); left rows
    * with no prior right row keep nulls. Ties at identical (key, time) pick
    * the right row first (inclusive ≤ semantics).
    */
  def asOf(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      rightValueCols: Seq[String],
      prefix: String = "r_"): DataFrame = {
    val t = "__t"
    val tag = "__tag" // right=0 sorts before left=1 at equal time → inclusive ≤
    val l = left
      .withColumn(t, col(leftTime))
      .withColumn(tag, lit(1))
      .withColumns(rightValueCols.map(c => prefix + c -> lit(null)).toMap)
    val r = right
      .withColumn(t, col(rightTime))
      .withColumn(tag, lit(0))
      .withColumns(rightValueCols.map(c => prefix + c -> col(c)).toMap)
    val leftCols = left.columns.toSeq
    val unioned = l.select((keys ++ Seq(t, tag)).map(col) ++
        leftCols.filterNot(keys.contains).map(c => col(c)) ++
        rightValueCols.map(c => col(prefix + c)): _*)
      .unionByName(
        r.select((keys ++ Seq(t, tag)).map(col) ++
          leftCols.filterNot(keys.contains).map(c => lit(null).as(c)) ++
          rightValueCols.map(c => col(prefix + c)): _*))

    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(t), col(tag))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // fill ONE struct per right ROW, not each value column independently:
    // a per-column last(ignoreNulls) would skip a matched row's NULL field
    // back to an OLDER row's value — and with several value columns could
    // stitch together fields from different right rows into a row that
    // never existed. The struct is non-null for every right row (even
    // all-null fields), so last(ignoreNulls) picks the latest right ROW
    // atomically and its fields unpack verbatim, NULLs included.
    val packed = unioned.withColumn("__rv",
      when(col(tag) === 0,
        struct(rightValueCols.map(c => col(prefix + c).as(c)): _*)))
    val filled = rightValueCols.foldLeft(
      packed.withColumn("__rv", last(col("__rv"), ignoreNulls = true).over(w))) {
      (df, c) => df.withColumn(prefix + c, col("__rv").getField(c))
    }.drop("__rv")
    filled.filter(col(tag) === 1).drop(t, tag)
  }

  /** Interval membership join: rows of `points` with pointTime in
    * [start, end) of `intervals`, bucketized at `bucketSeconds` granularity.
    * Shuffle volume: points × 1 + intervals × (span/bucket) — choose the
    * bucket near the median interval span.
    */
  def rangeJoin(
      points: DataFrame,
      intervals: DataFrame, // needs startCol, endCol
      pointTime: String,
      startCol: String,
      endCol: String,
      bucketSeconds: Long = 86400L): DataFrame = {
    val b = lit(bucketSeconds)
    val pb = points.withColumn("__bucket", (unix_timestamp(col(pointTime)) / b).cast("long"))
    val ib = intervals.withColumn("__bucket",
      explode(sequence(
        (unix_timestamp(col(startCol)) / b).cast("long"),
        (unix_timestamp(col(endCol)) / b).cast("long"))))
    pb.join(ib, Seq("__bucket"))
      .filter(col(pointTime) >= col(startCol) && col(pointTime) < col(endCol))
      .drop("__bucket")
  }
}
