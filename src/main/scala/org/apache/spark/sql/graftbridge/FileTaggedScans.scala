package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FileSourceOptions, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.connector.expressions.{Expressions, LiteralValue, NamedReference}
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownRequiredColumns, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.v2.FilePartitionReaderFactory
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A parquet ScanBuilder that additionally serves a FILE-PATH metadata
  * column (Iceberg's `_file`): when the pruned schema references
  * `fileColName`, the parquet scan is built without it and wrapped so each
  * row carries its source file's path, spliced in at read time. All other
  * capabilities — catalyst filter pushdown (which drives both parquet
  * row-group filters and the FileIndex's manifest-stats file pruning),
  * column pruning, aggregate pushdown — delegate verbatim to Spark's own
  * [[ParquetScanBuilder]].
  *
  * Lives in the `org.apache.spark.sql` bridge package (see [[Bridge]])
  * because full-fidelity filter delegation requires the `private[sql]`
  * [[SupportsPushDownCatalystFilters]] seam — the public v1-Filter surface
  * would silently drop the catalyst-expression pushdown the planner uses
  * for file skipping. Nothing here copies Spark code; every call is a
  * delegation.
  *
  * Why this exists: Spark's group-based row-level operations (SQL
  * UPDATE/MERGE rewrites) only project executor rows down to the declared
  * write schema on the with-metadata path, so a copy-on-write operation
  * must request a metadata attribute its scan can serve — `_file` is also
  * independently useful for provenance queries.
  */
class FileAwareScanBuilder(
    sparkSession: SparkSession, index: PartitioningAwareFileIndex,
    tableSchema: StructType, opts: CaseInsensitiveStringMap, fileColName: String,
    onGroupFilter: Option[Set[String] => Unit] = None,
    // deletion vectors of the scanned snapshot: qualified data-file path →
    // blob path relative to `tableDir` (empty = clean table, zero overhead)
    dvByPath: Map[String, String] = Map.empty,
    tableDir: String = "",
    // manifest-driven runtime file pruning (DPP target) — see [[StatPrune]]
    statPrune: Option[StatPrune] = None,
    // storage-partitioned-join layout when provable — see [[KeyedLayout]]
    keyed: Option[KeyedLayout] = None,
    // manifest-only aggregate answering: Some((schema, rows)) when the
    // catalog can prove the aggregation exact from metadata alone
    localAgg: Aggregation => Option[(StructType, Array[InternalRow])] = _ => None,
    // logical → physical column mapping of the scanned snapshot (empty =
    // identity, every never-renamed table): the inner parquet machinery
    // runs entirely on PHYSICAL names (what the files store), and since a
    // rename changes names only — never types or positions — the row
    // layout is identical and only the name boundaries translate: pushed
    // expressions go in physical (residuals restored by exprId on the
    // way back), the pruned schema goes in physical, and the innermost
    // scan renames its readSchema back so Spark above sees logical names
    mapping: Map[String, String] = Map.empty)
  extends ScanBuilder with SupportsPushDownCatalystFilters
  with SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private def physName(c: String): String =
    mapping.getOrElse(c,
      mapping.collectFirst { case (l, p) if l.equalsIgnoreCase(c) => p }.getOrElse(c))

  private def physSchema(s: StructType): StructType =
    if (mapping.isEmpty) s
    else StructType(s.fields.map(f => f.copy(name = physName(f.name))))

  private val inner = ParquetScanBuilder(
    sparkSession, index, physSchema(tableSchema), physSchema(tableSchema), opts)
  private var filePos: Int = -1
  private var sawDataFilters = false
  private var innerAggPushed = false
  private var localResult: Option[(StructType, Array[InternalRow])] = None
  // the LOGICAL pruned data schema (file column excluded) — what the
  // rename-back wrapper reports upward
  private var prunedLogical: StructType = tableSchema

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    if (filters.nonEmpty) sawDataFilters = true
    if (mapping.isEmpty) inner.pushFilters(filters)
    else {
      // hand the parquet builder physical-named copies (same exprIds);
      // restore the residuals it returns so the plan above never sees a
      // physical name
      import org.apache.spark.sql.catalyst.expressions.AttributeReference
      val originals = filters.flatMap(_.collect {
        case a: AttributeReference => a.exprId -> a }).toMap
      val translated = filters.map(_.transform {
        case a: AttributeReference => a.withName(physName(a.name)) })
      inner.pushFilters(translated).map(_.transform {
        case a: AttributeReference => originals.getOrElse(a.exprId, a) })
    }
  }

  override def pushedFilters: Array[Predicate] = inner.pushedFilters

  override def pruneColumns(requiredSchema: StructType): Unit = {
    filePos = requiredSchema.fieldNames.indexOf(fileColName)
    val data =
      if (filePos < 0) requiredSchema
      else StructType(requiredSchema.fields.filterNot(_.name == fileColName))
    prunedLogical = data
    inner.pruneColumns(physSchema(data))
  }

  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    // manifest-answerable aggregates are complete BY CONSTRUCTION (final
    // exact values, zero tasks) — but only on an unfiltered scan: a pushed
    // data filter means surviving rows are a subset the manifest totals
    // don't describe
    (!sawDataFilters && localAgg(aggregation).isDefined) ||
      (mapping.isEmpty && dvByPath.isEmpty && inner.supportCompletePushDown(aggregation))

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    // an aggregate can never reference the (virtual) file column, and a
    // query that referenced it wouldn't be offered for pushdown — safe to
    // delegate unconditionally. Preference order: (1) manifest metadata —
    // zero tasks (mapping-aware: the answerer translates its own stats
    // lookups); (2) parquet footer stats — one footer read per file.
    // With DELETION VECTORS present the manifest answerer handles what
    // stays exact (live-row count(*)) and footer-stat aggregates would
    // count deleted rows — refuse the delegate then, rows stream instead.
    // MAPPED tables also refuse the footer delegate: its pushed
    // aggregation carries logical names the physical footers don't match.
    if (!sawDataFilters) localResult = localAgg(aggregation)
    if (localResult.isDefined) true
    else if (dvByPath.nonEmpty || mapping.nonEmpty) false
    else {
      innerAggPushed = inner.pushAggregation(aggregation)
      innerAggPushed
    }
  }

  override def build(): Scan = {
    localResult match {
      case Some((schema, rows)) => return new ManifestAggScan(schema, rows)
      case None => ()
    }
    val fileOptions = new FileSourceOptions(CaseInsensitiveMap(
      scala.jdk.CollectionConverters.MapHasAsScala(opts).asScala.toMap))
    val built = inner.build()
    // rename-back seam: the parquet scan's readSchema carries physical
    // names; report the pruned LOGICAL names upward (a pure positional
    // rename — partitions and reader factories delegate untouched), so
    // every wrapper above and Spark's output attributes see logical names
    val base = if (mapping.isEmpty) built else new RenamedScan(built, prunedLogical)
    // deletion vectors apply INSIDE the scan (position filter per vectored
    // file), beneath the optional `_file` splice — order matters: the tag
    // wrapper's row arithmetic assumes its delegate emits exactly the
    // declared schema, which DvScans' projection guarantees
    val scan =
      if (dvByPath.isEmpty) base
      else DvScans.wrap(base, dvByPath, tableDir,
        new org.apache.spark.util.SerializableConfiguration(
          sparkSession.sparkContext.hadoopConfiguration), fileOptions)
    if (filePos >= 0)
      // the row-level-operation path: `_file` splicing + IN(_file) runtime
      // narrowing; stats narrowing/key grouping stay out of its way (the
      // command drives its own file addressing)
      new FileTaggedScan(scan, filePos, fileColName, fileOptions, onGroupFilter)
    else if (innerAggPushed || statPrune.isEmpty)
      // footer-aggregate partitions are not file-shaped rows — never wrap
      scan
    else new StatsNarrowedScan(sparkSession, scan, statPrune.get, keyed)
  }
}

/** A file-source scan with the file-path column spliced in at `filePos`.
  * Row-based reads only (the per-row projection has no columnar form) —
  * acceptable where this scan appears: row-level rewrites and provenance
  * queries, both IO-bound.
  *
  * Also a RUNTIME-FILTERABLE scan on the file column
  * ([[SupportsRuntimeV2Filtering]]): Spark's row-level-operation group
  * filtering evaluates the command's matching rows as a subquery, collects
  * their distinct file paths, and hands them back here as an `IN`
  * predicate BEFORE partitions are planned — the scan then reads only
  * files that truly contain matches (and `onGroupFilter` tells the owner,
  * so a copy-on-write commit replaces only those). An unrecognized
  * predicate shape narrows nothing: correctness never depends on the
  * runtime filter, it only removes needless rewrites.
  */
class FileTaggedScan(delegate: Scan, filePos: Int, fileColName: String,
    fileOptions: FileSourceOptions,
    onGroupFilter: Option[Set[String] => Unit] = None)
  extends Scan with Batch with SupportsReportStatistics with SupportsRuntimeV2Filtering {

  @volatile private var surviving: Option[Set[String]] = None

  override def readSchema(): StructType = {
    val (before, after) = delegate.readSchema().fields.splitAt(filePos)
    StructType((before :+ StructField(fileColName, StringType, nullable = false)) ++ after)
  }

  override def toBatch: Batch = this

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column(fileColName))

  /** Narrowing is monotone: every recognized `IN(_file, …)` predicate —
    * within one call AND across calls — INTERSECTS into the surviving set
    * (each describes a superset of the matching files, so their
    * intersection is still a superset; taking only the first would forgo
    * tightening when Spark passes several runtime filters).
    */
  override def filter(predicates: Array[Predicate]): Unit = {
    val sets = predicates.iterator.flatMap(inFileValues).toSeq
    if (sets.nonEmpty) {
      val keep = (surviving.toSeq ++ sets).reduce(_ intersect _)
      surviving = Some(keep)
      onGroupFilter.foreach(_(keep))
    }
  }

  /** `IN(_file, v1..vn)` → the value set; None for any other shape (never
    * narrow on a predicate we did not fully understand).
    */
  private def inFileValues(p: Predicate): Option[Set[String]] = {
    if (p.name() != "IN" || p.children().isEmpty) return None
    val onFileCol = p.children().head match {
      case r: NamedReference => r.fieldNames.toSeq == Seq(fileColName)
      case _ => false
    }
    if (!onFileCol) return None
    val values = p.children().tail.map {
      case l: LiteralValue[_] => Option(l.value).map(_.toString)
      case _ => None
    }
    if (values.exists(_.isEmpty)) None else Some(values.flatten.toSet)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val parts = delegate.toBatch.planInputPartitions()
    surviving match {
      case None => parts
      case Some(keep) =>
        parts.iterator.map {
          case fp: FilePartition => fp.files.filter(f => keep.contains(f.filePath.toString))
          // narrowing means DROPPING whole partitions; silently dropping a
          // partition type we can't inspect would delete its rows from a
          // rewrite — refuse loudly instead
          case other => throw new IllegalStateException(
            s"cannot runtime-narrow non-file partition ${other.getClass.getName}")
        }.filter(_.nonEmpty).zipWithIndex
          .map { case (fs, i) => FilePartition(i, fs): InputPartition }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    FileTaggingReaderFactory(
      delegate.toBatch.createReaderFactory().asInstanceOf[FilePartitionReaderFactory],
      delegate.readSchema(), filePos, fileOptions)

  override def estimateStatistics(): Statistics = delegate match {
    case s: SupportsReportStatistics => s.estimateStatistics()
    case _ => new Statistics {
      override def sizeInBytes() = java.util.OptionalLong.empty()
      override def numRows() = java.util.OptionalLong.empty()
    }
  }

  override def description(): String = s"FileTagged(${delegate.description()})"
}

/** Wraps the parquet per-file readers so every row carries its source
  * file's path: `buildReader` is the per-[[PartitionedFile]] seam inside
  * Spark's own multi-file partition reader, so the path rides as a
  * per-reader constant single-field row joined to each data row. The
  * projection references ONLY bound slots (data row + the joined path
  * slot) — no per-file literal — so every file shares one canonical
  * expression list and the codegen cache compiles it once per executor,
  * not once per file.
  */
case class FileTaggingReaderFactory(
    delegate: FilePartitionReaderFactory, rowSchema: StructType, filePos: Int,
    override val options: FileSourceOptions)
  extends FilePartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = false

  override def buildReader(file: PartitionedFile): PartitionReader[InternalRow] = {
    val inner = delegate.buildReader(file)
    val bound = rowSchema.fields.zipWithIndex.map {
      case (f, i) => BoundReference(i, f.dataType, f.nullable): Expression
    }
    val pathRef: Expression = BoundReference(rowSchema.length, StringType, nullable = false)
    val (before, after) = bound.splitAt(filePos)
    val proj = UnsafeProjection.create((before :+ pathRef) ++ after)
    val pathRow = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromString(file.filePath.toString)))
    val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow()
    joined.withRight(pathRow)
    new PartitionReader[InternalRow] {
      override def next(): Boolean = inner.next()
      override def get(): InternalRow = proj(joined.withLeft(inner.get()))
      override def close(): Unit = inner.close()
    }
  }
}

/** A scan identical to `delegate` except that [[readSchema]] reports the
  * pruned LOGICAL column names — the read-side boundary of the snapshot
  * table's column mapping. A rename changes names only (never types,
  * order, or nullability semantics), so rows are positionally identical
  * and partitions/reader factories delegate untouched: the physical
  * parquet machinery below never learns logical names, the plan above
  * never sees physical ones.
  */
class RenamedScan(delegate: Scan, logical: StructType)
  extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = {
    val phys = delegate.readSchema()
    require(phys.length == logical.length,
      s"column-mapping rename-back: physical schema has ${phys.length} fields, " +
        s"logical ${logical.length} — pruning must have diverged")
    StructType(phys.fields.zip(logical.fields).map { case (p, l) => p.copy(name = l.name) })
  }

  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    delegate.toBatch.planInputPartitions()
  override def createReaderFactory(): PartitionReaderFactory =
    delegate.toBatch.createReaderFactory()
  override def description(): String = delegate.description()
  override def estimateStatistics(): Statistics = delegate match {
    case s: SupportsReportStatistics => s.estimateStatistics()
    case _ => new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.empty()
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }
  }
}
