package org.apache.spark.sql.graftbridge

import scala.concurrent.duration._

import org.apache.spark.SparkContext
import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one `private[sql]` doorway the custom-operator API needs:
  * constructing a DataFrame from a hand-built logical plan
  * (`Dataset.ofRows`). Spark exposes every other extension point —
  * functions, planner strategies, optimizer rules — through
  * `SparkSessionExtensions`, but plan construction itself has no public
  * equivalent, so this shim lives in an `org.apache.spark.sql` subpackage
  * (the standard pattern across Spark connector/extension libraries).
  * Nothing else in the engine reaches into Spark internals this way. The
  * listener-bus drain `graft.obs.Recorder` needs lives here for the same
  * reason: `SparkContext.listenerBus` is `private[spark]`.
  */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A parquet relation over `index`, resolved the way
    * `spark.read.schema(dataSchema).parquet(...)` resolves one: the data
    * schema is made nullable (`StructType.asNullable`, `private[spark]`)
    * as `DataSource.resolveRelation` does for every file source.
    */
  def parquetRelation(spark: SparkSession,
      index: org.apache.spark.sql.execution.datasources.FileIndex,
      dataSchema: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    ofRows(spark, LogicalRelation(HadoopFsRelation(index,
      partitionSchema = new org.apache.spark.sql.types.StructType(),
      dataSchema = dataSchema.asNullable, bucketSpec = None,
      fileFormat = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      options = Map.empty)(spark.asInstanceOf[classic.SparkSession]), isStreaming = false))
  }

  /** The schema Spark's non-merging parquet inference gives for `files`,
    * read from ONE footer on the driver instead of in a one-task job.
    * Same file choice as `ParquetUtils.inferSchema`: a `_common_metadata`
    * summary, else a `_metadata` one, else the first data file by path.
    * Same reading as `ParquetFileFormat.readSchemaFromFooter`: the schema
    * Spark wrote under its row-metadata key, else the footer's converted
    * with the flags `mergeSchemasInParallel` takes from the session conf
    * at call time (so `nanosAsLong` / `inferTimestampNTZ` set just before
    * apply) and the converter's defaults for the rest. None when there is
    * no file to read.
    */
  def footerSchema(spark: SparkSession, files: Seq[org.apache.hadoop.fs.FileStatus]):
      Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    val summaries = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE, ParquetFileWriter.PARQUET_METADATA_FILE)
    val leaves = files.sortBy(_.getPath.toString)
    def named(n: String) = leaves.find(_.getPath.getName == n)
    named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(leaves.find(f => !summaries(f.getPath.getName)))
      .map { f =>
        val session = spark.asInstanceOf[classic.SparkSession]
        val conf = session.sessionState.conf
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, session.sessionState.newHadoopConf()),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
          new ParquetToSparkSchemaConverter(
            assumeBinaryIsString = conf.isParquetBinaryAsString,
            assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
            inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
            nanosAsLong = conf.legacyParquetNanosAsLong,
            respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation))
      }
  }

  /** [[footerSchema]] of the files a `spark.read.parquet(path)` would list
    * (Spark's own leaf listing, hidden files filtered); None when `path`
    * holds no file (the listing of a missing root path is empty).
    */
  def footerSchema(spark: SparkSession, path: String):
      Option[org.apache.spark.sql.types.StructType] =
    footerSchema(spark, new org.apache.spark.sql.execution.datasources.InMemoryFileIndex(
      spark.asInstanceOf[classic.SparkSession], Seq(new org.apache.hadoop.fs.Path(path)),
      Map.empty, None).allFiles())

  /** The ANALYZED Catalyst condition of `df`'s top-level Filter — the input
    * the manifest-level file skipper walks. Spark 4's classic `Column` is a
    * tree of connect-style ColumnNodes (`UnresolvedFunction(">=", …)`), not
    * Catalyst comparisons, so the only faithful way to a walkable predicate
    * is through the session analyzer — which also performs the type
    * coercion (int column vs long literal, string literal vs date column)
    * the stats comparison depends on.
    */
  def analyzedFilterCondition(df: DataFrame):
      Option[org.apache.spark.sql.catalyst.expressions.Expression] =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed match {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => Some(f.condition)
      case _ => None
    }

  /** The id of the RDD a `localCheckpoint()`ed Dataset pins: its analyzed
    * plan is a `LogicalRDD` wrapping exactly the persisted internal RDD.
    * Reading it off the plan identifies the pinned blocks WITHOUT diffing
    * the context-global persistent-RDD registry — two iterative loops
    * checkpointing concurrently can never capture (and later unpersist)
    * each other's blocks.
    */
  def checkpointedRddId(df: DataFrame): Option[Int] =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd.id)
      case _ => None
    }

  /** Execute `df` and return its rows in Spark's INTERNAL representation —
    * what a DSv2 `LocalScan` must serve. Metadata-sized frames only (the
    * result materializes on the driver, which is the point of LocalScan).
    */
  def collectInternal(df: DataFrame): Array[org.apache.spark.sql.catalyst.InternalRow] =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.executedPlan.executeCollect()

  /** Re-root a batch frame as a STREAMING logical plan (`LogicalRDD` with
    * isStreaming = true): what a DSv1 streaming Source must return from
    * `getBatch` — MicroBatchExecution asserts the plan is streaming. The
    * RDD is the frame's planned execution, so the batch's whole pipeline
    * (manifest-pruned scans included) still runs where it was planned.
    */
  def asStreamingFrame(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val spark = ds.sparkSession
    val qe = ds.queryExecution
    classic.Dataset.ofRows(spark, org.apache.spark.sql.execution.LogicalRDD(
      qe.analyzed.output, qe.toRdd, isStreaming = true)(spark))
  }

  /** How long one [[drainListenerBus]] waits. Draining a healthy bus takes
    * milliseconds; one still busy after a minute is stuck, and a metrics
    * reader must fail rather than report partial counters.
    */
  val ListenerBusDrainBound: FiniteDuration = 1.minute

  /** Block until the listener bus has delivered every event posted so far
    * to every listener, so counters fed by listeners are complete when
    * read.
    */
  def drainListenerBus(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(ListenerBusDrainBound.toMillis)
    catch {
      case e: java.util.concurrent.TimeoutException =>
        throw new IllegalStateException(
          s"listener bus still busy after Bridge.ListenerBusDrainBound ($ListenerBusDrainBound)", e)
    }
}
