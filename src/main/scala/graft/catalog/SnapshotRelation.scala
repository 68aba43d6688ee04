package graft.catalog

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{PartitionDirectory, PartitioningAwareFileIndex, PartitionSpec}
import org.apache.spark.sql.types.StructType

/** PLANNING-TIME integration of the snapshot table with Spark's file scan:
  * a [[FileIndex]] over the entries of one committed manifest (all of them,
  * or the subset a caller pruned to), the same extension seam Delta's
  * TahoeFileIndex sits in. Every Scala read builds its relation over this
  * index ([[SnapshotTable.scan]]), and the SQL catalog and the row-level
  * DSv2 scan hand it to Spark's parquet scan builder. The planner hands
  * `listFiles` the query's resolved data filters, and the index answers
  * with only the entries whose per-file stats admit a match — so EVERY
  * read (DataFrame filters, SQL, join pushdowns) skips files
  * automatically, and parquet row-group pushdown + column pruning compose
  * on top for free.
  *
  * The index never touches the filesystem: paths, sizes, and row counts
  * all come from the manifest (immutable files + versioned manifests make
  * that sound), so planning cost is O(manifest) driver memory — at 100 TB
  * there is no "list the table" step at all, the manifest IS the listing.
  * Reads are pinned to the manifest resolved at construction: a concurrent
  * commit cannot change what this relation scans (same snapshot-isolation
  * contract as [[SnapshotTable.read]]).
  */
private[graft] class SnapshotFileIndex(
    spark: SparkSession, dir: String, private val manifest: SnapshotTable.Manifest)
  extends PartitioningAwareFileIndex(spark, Map.empty, None) {
  // PartitioningAwareFileIndex (rather than bare FileIndex) so the SAME
  // index serves both the V1 HadoopFsRelation below and the DSv2
  // ParquetScanBuilder in SnapshotCatalog — listFiles is overridden in
  // both paths to answer from the manifest with per-file-stats pruning.

  private val qualifiedDir: Path = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p)
  }

  private def status(e: SnapshotTable.FileEntry): FileStatus =
    // built straight from manifest metadata — no filesystem round trip;
    // length must be exact (it is: recorded from the commit-time listing
    // of immutable files) because the scan plans splits from it
    new FileStatus(e.bytes, false, 1, 128L * 1024 * 1024, 0L,
      new Path(qualifiedDir, e.path))

  override def rootPaths: Seq[Path] = Seq(qualifiedDir)

  override def partitionSchema: StructType = new StructType()

  override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec

  override def leafFiles: scala.collection.mutable.LinkedHashMap[Path, FileStatus] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[Path, FileStatus]
    manifest.entries.foreach { e => val s = status(e); m.put(s.getPath, s) }
    m
  }

  override def leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    Map(qualifiedDir -> manifest.entries.map(status).toArray)

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val pruned = SnapshotTable.pruneForFilters(manifest, dataFilters)
    Seq(PartitionDirectory(InternalRow.empty, pruned.map(status).toArray))
  }

  override def inputFiles: Array[String] =
    manifest.entries.map(e => new Path(qualifiedDir, e.path).toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = manifest.entries.map(_.bytes).sum

  // value identity over (table, files): two reads of one version
  // canonicalize equal, so `sameResult` and the cache manager treat them as
  // one relation — what InMemoryFileIndex's root-path equality gives a
  // path-list read. The entries carry their deletion-vector references,
  // so a vector change makes the indexes differ.
  override def equals(other: Any): Boolean = other match {
    case o: SnapshotFileIndex =>
      o.qualifiedDir == qualifiedDir && o.manifest.entries == manifest.entries
    case _ => false
  }

  private lazy val hash = (qualifiedDir, manifest.entries).hashCode

  override def hashCode(): Int = hash
}
