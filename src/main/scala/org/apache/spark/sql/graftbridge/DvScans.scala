package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.{FileSourceOptions, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, Statistics, SupportsReportStatistics}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.v2.FilePartitionReaderFactory
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.util.SerializableConfiguration

/** DELETION-VECTOR application for DSv2 parquet scans: rows whose (file,
  * position) appears in a referenced deletion-vector blob are dropped
  * inside the scan, so SQL reads of a merge-on-read table see only live
  * rows with zero plan changes above the scan.
  *
  * Mechanism: a second copy of the parquet scan requests Spark's OWN
  * row-index temp column ([[ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME]]
  * — the machinery behind `_metadata.row_index`), which both parquet
  * readers fill with the TRUE file position, correct under row-group
  * skipping, record-level filtering, and splits — so pushed filters stay
  * pushed. Files carrying a vector read through that copy (row-based),
  * positions filter against the blob, and the trailing temp slot is
  * simply never read downstream (every consumer binds to the declared
  * ordinals 0..n-1); files without a vector read through the ORIGINAL
  * scan untouched — including columnar batches, so clean partitions pay
  * nothing.
  *
  * Blob bytes load lazily on the EXECUTOR (one small sequential read per
  * (executor, blob), JVM-cached) — positions never centralize on the
  * driver.
  */
object DvScans {

  /** Wrap `scan` (must be Spark's ParquetScan over an unpartitioned
    * table) so files in `dvByPath` (qualified path string → blob path
    * relative to `dir`) skip their deleted positions.
    */
  def wrap(scan: Scan, dvByPath: Map[String, String], dir: String,
      conf: SerializableConfiguration, options: FileSourceOptions): Scan = scan match {
    case p: ParquetScan =>
      // the temp column appends at the END of the data schema; partition
      // values would follow it and shift every partition-column ordinal —
      // snapshot tables are unpartitioned, refuse loudly otherwise
      require(p.readPartitionSchema.isEmpty,
        "deletion vectors require an unpartitioned scan (temp row-index column " +
          "would shift partition-column ordinals)")
      // the temp column MUST be nullable: the readers special-case a
      // missing column of this name into row-index generation, but a
      // non-nullable missing column trips the required-column check first
      val tmp = StructField(ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
        LongType, nullable = true)
      // the copy shares fileIndex/filters/options — identical partitions,
      // identical pushdown — and differs only in the read schema
      new DvSkippingScan(p, p.copy(readDataSchema =
        StructType(p.readDataSchema.fields :+ tmp)), dvByPath, dir, conf, options)
    case other => throw new IllegalStateException(
      s"deletion vectors require the parquet scan, got ${other.getClass.getName}")
  }
}

private class DvSkippingScan(clean: ParquetScan, withIdx: ParquetScan,
    dvByPath: Map[String, String], dir: String, conf: SerializableConfiguration,
    fileOptions: FileSourceOptions)
  extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = clean.readSchema()

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    clean.toBatch.planInputPartitions()

  override def createReaderFactory(): PartitionReaderFactory =
    DvSkippingReaderFactory(
      clean.toBatch.createReaderFactory().asInstanceOf[FilePartitionReaderFactory],
      withIdx.toBatch.createReaderFactory().asInstanceOf[FilePartitionReaderFactory],
      clean.readDataSchema,
      dvByPath, dir, conf, fileOptions)

  override def estimateStatistics(): Statistics = clean.estimateStatistics()

  override def description(): String = s"DvSkipping(${clean.description()})"
}

/** Per-file dispatch: vectored files read row-based through the
  * row-index-requesting factory + position filter; clean files delegate
  * untouched (columnar included, when the whole partition is clean).
  * Extends [[FilePartitionReaderFactory]] so the `_file`-tagging wrapper
  * composes on top for row-level operations.
  */
private[graftbridge] case class DvSkippingReaderFactory(
    cleanFactory: FilePartitionReaderFactory,
    idxFactory: FilePartitionReaderFactory,
    declared: StructType,
    dvByPath: Map[String, String], dir: String, conf: SerializableConfiguration,
    override val options: FileSourceOptions)
  extends FilePartitionReaderFactory {

  private def blobOf(file: PartitionedFile): Option[String] =
    dvByPath.get(file.filePath.toPath.toString)
      .orElse(dvByPath.get(file.filePath.toString))

  // Spark requires EVERY partition of a scan to agree on columnar vs row
  // (DataSourceV2ScanExecBase.supportsColumnar), so a table with any
  // vector reads row-based until compaction clears it — clean files still
  // skip the position filter, they just stream rows. Uniformity over
  // per-partition cleverness: mixing modes is a planner error.
  override def supportColumnarReads(partition: InputPartition): Boolean = false

  override def buildColumnarReader(file: PartitionedFile): PartitionReader[ColumnarBatch] =
    throw new IllegalStateException("DV scans read row-based")

  override def buildReader(file: PartitionedFile): PartitionReader[InternalRow] =
    blobOf(file) match {
      case None => cleanFactory.buildReader(file)
      case Some(rel) =>
        new DvFilteringReader(idxFactory.buildReader(file),
          DvBlobCache.load(dir, rel, conf), declared)
    }
}

/** Drops rows whose row-index (the appended temp column, last ordinal) is
  * in `deleted`, then PROJECTS the temp column away — downstream (and the
  * `_file`-tagging wrapper, whose JoinedRow arithmetic depends on exact
  * field counts) sees precisely the declared schema. One bound projection
  * per reader, codegen-compiled once per executor.
  */
private class DvFilteringReader(inner: PartitionReader[InternalRow],
    deleted: Array[Long], declared: StructType)
  extends PartitionReader[InternalRow] {

  private val posOrdinal = declared.length
  private val proj = UnsafeProjection.create(declared.fields.zipWithIndex.map {
    case (f, i) => BoundReference(i, f.dataType, f.nullable): Expression
  })
  private var row: InternalRow = _

  override def next(): Boolean = {
    while (inner.next()) {
      val r = inner.get()
      if (java.util.Arrays.binarySearch(deleted, r.getLong(posOrdinal)) < 0) {
        row = r; return true
      }
    }
    false
  }

  override def get(): InternalRow = proj(row)

  override def close(): Unit = inner.close()
}

/** Executor-side blob cache: deletion-vector blobs are immutable, small,
  * and re-read by every task touching their file — cache per JVM, cleared
  * wholesale past a bound.
  */
private object DvBlobCache {
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()

  def load(dir: String, rel: String, conf: SerializableConfiguration): Array[Long] = {
    val key = s"$dir/$rel"
    val hit = cache.get(key)
    if (hit != null) hit
    else {
      val p = new Path(dir, rel)
      val fs = p.getFileSystem(conf.value)
      val in = new java.io.DataInputStream(new java.io.BufferedInputStream(fs.open(p)))
      val arr = try { val n = in.readInt(); Array.fill(n)(in.readLong()) } finally in.close()
      if (cache.size > 4096) cache.clear()
      cache.put(key, arr)
      arr
    }
  }
}
