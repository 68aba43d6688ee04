package graft.ops

import java.util.{HashMap => JHashMap}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{classic, Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, BoundReference, InterpretedOrdering, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Sort, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, ResultQueryStageExec}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StructType

/** A frame range-sorted ONCE, as internal rows ([[rdd]]), placed by one job
  * counting each partition's rows in runs of equal leading group keys: in
  * partition order the partitions ARE the sorted frame, so a row's global
  * position is its partition's offset plus its position inside it. The
  * count reads the exchange's output before the sort; every consumer of
  * [[rdd]] shares that shuffle output, so boundaries are sampled once and
  * nothing is persisted, but each job over [[rdd]] fetches and sorts its
  * partitions again. The placement holds as long as a lost shuffle block
  * recomputes to the same rows (deterministic input).
  */
private[ops] final class RangeSort private (
    val rdd: RDD[InternalRow],
    val schema: StructType,
    val offsets: Array[Long], // rows before each partition
    val total: Long,
    val groups: Seq[RangeSort.Group]) {

  /** The DOUBLE at `ordinal` of the rows at global positions `at`, in ONE
    * job over only the partitions that hold one.
    */
  def doublesAt(at: Seq[Long], ordinal: Int): Map[Long, Double] = {
    val (want, offs, ends) = (at.toSet, offsets, offsets.drop(1) :+ total)
    val parts = offs.indices.filter(p => want.exists(i => i >= offs(p) && i < ends(p)))
    if (parts.isEmpty) return Map.empty
    rdd.sparkContext.runJob(rdd, (ctx: TaskContext, it: Iterator[InternalRow]) => {
      var i = offs(ctx.partitionId()) - 1
      it.flatMap { r => i += 1; if (want(i)) Some(i -> r.getDouble(ordinal)) else None }.toArray
    }, parts).flatten.toMap
  }
}

private[ops] object RangeSort {

  /** A group's key, the global position of its first row, and how many of
    * its rows are non-NULL at `validOrdinal`.
    */
  final case class Group(key: UnsafeRow, start: Long, valid: Long)

  /** Range-partition `df` by `order`, sort each partition by it, and place
    * its rows: groups are runs of equal first `keyCount` sort keys (one
    * group when 0), and `validOrdinal` < 0 counts every row as valid.
    */
  def apply(df: DataFrame, order: Seq[Column], keyCount: Int = 0, validOrdinal: Int = -1): RangeSort = {
    val sorted = df.repartitionByRange(order: _*).sortWithinPartitions(order: _*)
    val qe = sorted.queryExecution
    val rdd = qe.toRdd
    val keyOrder = (qe.analyzed match { case s: Sort => s.order }).take(keyCount)
      .map(BindReferences.bindReference(_, qe.analyzed.output))
    val sameKeys = new InterpretedOrdering(keyOrder.zipWithIndex.map { case (o, i) =>
      o.copy(child = BoundReference(i, o.dataType, o.nullable)) })
    // per partition, its runs of equal keys in sort order: (key, rows, valid
    // rows), hash-counted over the rows as shuffled, before the sort
    val runs = rdd.sparkContext.runJob(unsorted(qe).getOrElse(rdd), (it: Iterator[InternalRow]) => {
      val (keyOf, counts) = (UnsafeProjection.create(keyOrder.map(_.child)), new JHashMap[UnsafeRow, Array[Long]])
      while (it.hasNext) {
        val r = it.next()
        val k = keyOf(r)
        var c = counts.get(k)
        if (c == null) { c = new Array[Long](2); counts.put(k.copy(), c) }
        c(0) += 1
        if (validOrdinal < 0 || !r.isNullAt(validOrdinal)) c(1) += 1
      }
      counts.asScala.toArray.sortBy(_._1: InternalRow)(sameKeys).map { case (k, c) => (k, c(0), c(1)) }
    })
    // a group's runs are adjacent in partition order, possibly across partitions
    val groups = ArrayBuffer.empty[Group]
    var pos = 0L
    for ((key, rows, valid) <- runs.flatten) {
      if (groups.nonEmpty && sameKeys.compare(groups.last.key, key) == 0)
        groups(groups.length - 1) = groups.last.copy(valid = groups.last.valid + valid)
      else groups += Group(key, pos, valid)
      pos += rows
    }
    val sizes = runs.map(_.map(_._2).sum)
    new RangeSort(rdd, sorted.schema, sizes.scanLeft(0L)(_ + _).init, pos, groups.toSeq)
  }

  /** The rows of an executed range sort as its exchange delivers them, unsorted:
    * the sort's input, so a job over it reads the same shuffle output without
    * sorting. None when the executed plan ends in no sort (an empty input
    * that adaptive execution folded away).
    */
  private[ops] def unsorted(qe: QueryExecution): Option[RDD[InternalRow]] = {
    val parts = qe.toRdd.getNumPartitions // runs adaptive execution to its final plan
    def input(p: SparkPlan): Option[RDD[InternalRow]] = p match {
      case a: AdaptiveSparkPlanExec => input(a.executedPlan)
      case r: ResultQueryStageExec => input(r.plan)
      case w: WholeStageCodegenExec => input(w.child)
      case s: SortExec => Some(s.child.execute())
      case _ => None
    }
    input(qe.executedPlan).filter(_.getNumPartitions == parts)
  }

  /** A frame over internal rows of `schema` that later jobs compute from
    * `rdd`; `rowCount` sizes it for the planner, so a join can broadcast it.
    */
  def frame(like: DataFrame, schema: StructType, rdd: RDD[InternalRow], rowCount: Long): DataFrame = {
    val attrs = DataTypeUtils.toAttributes(schema)
    val stats = Statistics(EstimationUtils.getSizePerRow(attrs) * rowCount, Some(BigInt(rowCount)))
    Bridge.ofRows(like.sparkSession,
      LogicalRDD(attrs, rdd)(like.sparkSession.asInstanceOf[classic.SparkSession], Some(stats)))
  }

  /** A driver-local frame over `rows` of `schema`: reading it runs no job. */
  def localFrame(like: DataFrame, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    Bridge.ofRows(like.sparkSession, LocalRelation(DataTypeUtils.toAttributes(schema), rows))
}
