package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Global order statistics WITHOUT a single-partition window. A partition-less
  * `Window.orderBy` moves the entire input through ONE task (Spark logs
  * `No Partition Defined for Window operation` for a reason) — fine for a
  * calendar-bounded daily aggregate, a 100 TB wall for anything fact-table
  * sized. Instead [[RangeSort]] sorts by the order key once (parallelism =
  * `spark.sql.shuffle.partitions`) and counts each partition's rows; a row's
  * global rank is its partition's prefix-sum offset plus its position in the
  * partition, exactly how `RDD.zipWithIndex` numbers rows.
  */
object Ranks {

  /** `df` + a global 1-based row number under `sort` (`rnName`) and, when
    * `nName` is set, the total row count — computed from a range-partitioned
    * sort, never a single-partition window. Both names must be new: a name
    * that is already an input column is refused. The sort and its counts run
    * here (about three Spark jobs); the returned frame re-reads the sort's
    * shuffle output, so nothing needs releasing, but each read of it fetches
    * and sorts the partitions again. So `sort` must be a total order: with
    * ties, two reads of ONE frame (a self-join included) can number tied
    * rows differently, where `row_number()` is only nondeterministic across
    * calls.
    */
  def withGlobalRowNumber(
      df: DataFrame,
      sort: Seq[Column],
      rnName: String = "__rn",
      nName: Option[String] = None): DataFrame = {
    require(sort.nonEmpty, "withGlobalRowNumber needs at least one sort column")
    val added = rnName +: nName.toSeq
    require(added.distinct.length == added.length, s"rnName and nName must differ: $rnName")
    for (c <- added)
      require(!df.columns.exists(_.equalsIgnoreCase(c)),
        s"withGlobalRowNumber: output column '$c' is already an input column")
    val sorted = RangeSort(df, sort)
    val (offsets, schema) = (sorted.offsets, sorted.schema.add(rnName, LongType, nullable = false))
    val types = schema.fields.map(_.dataType)
    val ranked = sorted.rdd.mapPartitionsWithIndex[InternalRow] { (pid, it) =>
      val (toRow, rn, joined) = (UnsafeProjection.create(types), new GenericInternalRow(1), new JoinedRow())
      var i = offsets(pid)
      it.map { r => i += 1; rn.setLong(0, i); toRow(joined(r, rn)) }
    }
    val out = RangeSort.frame(df, schema, ranked, sorted.total)
    nName.fold(out)(out.withColumn(_, lit(sorted.total)))
  }

  /** SQL `NTILE(k)` from a global rank: with n rows the first `n mod k`
    * buckets hold `⌈n/k⌉` rows, the rest `⌊n/k⌋` — the standard window
    * semantics (Spark and DuckDB agree), reproduced as pure rank arithmetic
    * so it composes with [[withGlobalRowNumber]] instead of forcing the
    * single-partition NTILE window. Pinned against `ntile()` by RanksSpec.
    */
  def ntileFromRank(k: Int, rn: Column, n: Column): Column = {
    require(k >= 1, s"ntile bucket count must be >= 1, got $k")
    // exact non-negative integer division (the SQL `div` operator has no
    // Column-API spelling): a − a%b is an exact multiple of b, and IEEE
    // division of exactly-divisible longs under 2^53 is exact — ranks and
    // row counts stay far below that
    def ldiv(a: Column, b: Column): Column = ((a - a % b) / b).cast("long")
    val q = ldiv(n.cast("long"), lit(k.toLong))
    val rem = n.cast("long") % k
    val cut = rem * (q + 1) // rows 1..cut live in the ⌈n/k⌉-sized buckets
    when(rn <= cut, ldiv(rn - 1, q + 1) + 1)
      .otherwise(rem + ldiv(rn - cut - 1, q) + 1)
      .cast("int")
  }
}
