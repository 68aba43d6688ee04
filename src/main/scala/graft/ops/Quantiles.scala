package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Exact type-7 quantiles without per-group value buffering: Spark's
  * `percentile()` holds every group value in executor memory, a
  * scale-killer on a 100 TB column. Pinned bit-identical to `percentile()`
  * by QuantilesSpec and RangeSortSpec.
  */
object Quantiles {

  /** One row per group with a column per requested quantile. [[RangeSort]]
    * sorts (group, value) once, spread over `spark.sql.shuffle.partitions`
    * whatever the group count, and gives each group's first position and
    * non-NULL count `n`; one job then reads only the values at `floor(h)`
    * and `ceil(h)`, `h = (n−1)·p`, and the driver interpolates them with
    * `percentile()`'s own arithmetic. NULL values sort last in their group,
    * past every bracket, so they are ignored as `percentile()` ignores them
    * and an all-NULL group yields NULL quantiles. EAGER: returns a small
    * driver-local frame after about four Spark jobs.
    *
    * @param probs    quantile probabilities in [0, 1]
    * @param outNames output column name per prob (same length)
    */
  def exactQuantilesSpread(
      df: DataFrame,
      valueCol: String,
      by: Seq[String],
      probs: Seq[Double],
      outNames: Seq[String]): DataFrame = {
    require(probs.nonEmpty && probs.length == outNames.length,
      "probs and outNames must be non-empty and the same length")
    require(probs.forall(p => p >= 0.0 && p <= 1.0), s"probs must be in [0,1]: $probs")
    val v = by.length // the value's ordinal, right after the group keys
    val keys = by.map(col)
    val sorted = RangeSort(df.select((keys :+ col(valueCol).cast("double").as("__v")): _*),
      keys :+ col("__v").asc_nulls_last, keyCount = v, validOrdinal = v)
    val groups = sorted.groups
    // position h = (n−1)·p and its two brackets, as percentile() computes them
    def bracket(n: Long, p: Double) = { val h = (n - 1) * p; (h, h.floor.toLong, h.ceil.toLong) }
    val value = sorted.doublesAt(
      for (g <- groups if g.valid > 0; p <- probs; (_, lo, hi) = bracket(g.valid, p); i <- Seq(lo, hi))
        yield g.start + i,
      v)
    def quantile(g: RangeSort.Group, p: Double): Any =
      if (g.valid == 0) null
      else {
        val (h, lo, hi) = bracket(g.valid, p)
        val (l, u) = (value(g.start + lo), value(g.start + hi))
        if (hi == lo || l == u) l else (hi - h) * l + (h - lo) * u
      }
    val schema = StructType(sorted.schema.fields.take(v) ++ outNames.map(StructField(_, DoubleType)))
    val toRow = UnsafeProjection.create(schema)
    val rows = groups.map(g =>
      toRow(new JoinedRow(g.key, new GenericInternalRow(probs.map(quantile(g, _)).toArray))).copy())
    // a global aggregate over no rows still yields its one NULL row
    val out = if (rows.isEmpty && by.isEmpty) Seq(new GenericInternalRow(probs.length)) else rows
    RangeSort.localFrame(df, schema, out.toSeq: Seq[InternalRow])
  }
}
