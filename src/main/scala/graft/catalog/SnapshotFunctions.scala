package graft.catalog

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.types._

/** The snapshot catalog's V2 function registry — one function per
  * partition transform (`bucket`, `years`/`months`/`days`/`hours`,
  * `truncate`), what Spark's storage-partitioned-join machinery resolves
  * a reported transform through.
  *
  * Contract: every `produceResult` must agree bit-for-bit with the
  * WRITER's routing column and the PRUNER's literal evaluation. All
  * three delegate to one definition per transform in [[PartitionFields]]
  * — the seed-42 [[org.apache.spark.sql.catalyst.expressions.XxHash64]]
  * for bucket, physical-value epoch arithmetic for temporal,
  * [[UTF8String#substringSQL]]/floorMod for truncate — so a disagreement
  * is impossible by construction. Spark itself only EVALUATES these
  * functions when shuffling an un-partitioned join side into the
  * transform domain (`v2.bucketing.shuffle.enabled`); for plain
  * storage-partitioned joins each is an equality token: both sides bind
  * the same canonical function, so their reported clusterings compare
  * compatible.
  */
object SnapshotFunctions {

  val Names: Seq[String] = "bucket" +: "truncate" +: PartitionFields.TemporalUnits

  def forName(name: String): Option[UnboundFunction] =
    name.toLowerCase(java.util.Locale.ROOT) match {
      case "bucket" => Some(BucketUnbound)
      case "truncate" => Some(TruncateUnbound)
      case u if PartitionFields.TemporalUnits.contains(u) => Some(TemporalUnbound(u))
      case _ => None
    }

  /** Types `bucket(n, col)` accepts — the partitionable set
    * ([[SnapshotTable.validatePartitioning]]); bind refuses anything
    * else so an unsupported transform fails at ANALYSIS, not at runtime.
    */
  private def bucketable(dt: DataType): Boolean = dt match {
    case StringType | DateType | TimestampType | TimestampNTZType | BooleanType |
         ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  object BucketUnbound extends UnboundFunction {
    override def name(): String = "bucket"
    override def description(): String =
      "bucket(n, col): pmod(xxhash64(col), n) — the snapshot bucket-partition transform"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.length == 2,
        s"bucket takes (numBuckets INT, value); got ${inputType.catalogString}")
      require(inputType.fields(0).dataType == IntegerType,
        s"bucket's first argument is the INT bucket count; got ${inputType.catalogString}")
      val vt = inputType.fields(1).dataType
      require(bucketable(vt),
        s"bucket does not support ${vt.catalogString} values (hash-ambiguous types " +
          "float/double/decimal and nested types are refused)")
      BucketBound(vt)
    }
  }

  case class BucketBound(valueType: DataType) extends ScalarFunction[Integer] {
    override def inputTypes(): Array[DataType] = Array(IntegerType, valueType)
    override def resultType(): DataType = IntegerType
    override def name(): String = "bucket"
    override def canonicalName(): String = s"graft.bucket(${valueType.catalogString})"
    override def isResultNullable: Boolean = false
    override def produceResult(input: InternalRow): Integer = {
      val n = input.getInt(0)
      val v = input.get(1, valueType)
      Integer.valueOf(PartitionFields.bucketId(v, valueType, n))
    }
  }

  /** `years/months/days/hours(col)` → the epoch ordinal
    * ([[PartitionFields.transformValue]]) — zone-free by definition.
    */
  case class TemporalUnbound(unit: String) extends UnboundFunction {
    override def name(): String = unit
    override def description(): String =
      s"$unit(col): epoch ordinal of a date/timestamp — the snapshot $unit partition transform"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.length == 1,
        s"$unit takes one date/timestamp column; got ${inputType.catalogString}")
      val vt = inputType.fields(0).dataType
      require(PartitionFields.temporalAccepts(unit, vt),
        s"$unit does not support ${vt.catalogString} values")
      TemporalBound(unit, vt)
    }
  }

  case class TemporalBound(unit: String, valueType: DataType) extends ScalarFunction[Integer] {
    override def inputTypes(): Array[DataType] = Array(valueType)
    override def resultType(): DataType = IntegerType
    override def name(): String = unit
    override def canonicalName(): String = s"graft.$unit(${valueType.catalogString})"
    override def produceResult(input: InternalRow): Integer = {
      if (input.isNullAt(0)) return null
      val v = input.get(0, valueType)
      PartitionFields.transformValue(v, valueType, PartitionFields.Temporal(unit, "c"))
        .map(i => Integer.valueOf(i.asInstanceOf[Int])).orNull
    }
  }

  object TruncateUnbound extends UnboundFunction {
    override def name(): String = "truncate"
    override def description(): String =
      "truncate(w, col): value floored to a multiple of w (integrals) / " +
        "a w-code-point prefix (strings) — the snapshot truncate partition transform"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.length == 2,
        s"truncate takes (width INT, value); got ${inputType.catalogString}")
      require(inputType.fields(0).dataType == IntegerType,
        s"truncate's first argument is the INT width; got ${inputType.catalogString}")
      val vt = inputType.fields(1).dataType
      require(PartitionFields.truncateAccepts(vt),
        s"truncate does not support ${vt.catalogString} values")
      TruncateBound(vt)
    }
  }

  case class TruncateBound(valueType: DataType) extends ScalarFunction[Any] {
    override def inputTypes(): Array[DataType] = Array(IntegerType, valueType)
    override def resultType(): DataType = valueType match {
      case ByteType | ShortType => IntegerType // floorMod promotes
      case other => other
    }
    override def name(): String = "truncate"
    override def canonicalName(): String = s"graft.truncate(${valueType.catalogString})"
    override def produceResult(input: InternalRow): Any = {
      if (input.isNullAt(1)) return null
      val w = input.getInt(0)
      val v = input.get(1, valueType)
      PartitionFields.transformValue(v, valueType, PartitionFields.Truncate(w, "c")).orNull
    }
  }
}
