package graft.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Column => V2Column, Identifier, MetadataColumn, StagedTable, StagingTableCatalog, SupportsDelete, SupportsMetadataColumns, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableCatalog, TableChange, TableInfo}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{Filter, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The snapshot table surfaced to PURE SQL through DataSourceV2: a
  * [[TableCatalog]] plugin so `SELECT … FROM snap.ns.tbl` — including
  * `VERSION AS OF n` time travel — works with no Scala API in sight.
  *
  * Register (config or runtime; catalogs instantiate lazily on first
  * reference):
  * {{{
  *   spark.conf.set("spark.sql.catalog.snap", classOf[SnapshotCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.snap.root", "/warehouse")
  *   spark.sql("SELECT * FROM snap.ads.spend VERSION AS OF 3")
  * }}}
  *
  * Identifier → directory: `snap.a.b.t` resolves to `<root>/a/b/t`; a
  * backtick-quoted absolute path (`` snap.`/abs/path` ``) bypasses the
  * root, Delta-style. `VERSION AS OF n` routes through
  * `loadTable(ident, version)` (the DSv2 time-travel contract) and pins
  * the scan to manifest `n` exactly like [[SnapshotTable.readVersion]].
  *
  * Reads reuse the planner seam the Scala API already has: the table's
  * [[ScanBuilder]] is Spark's own parquet DSv2 builder handed a
  * [[SnapshotFileIndex]], so manifest-stats file skipping, parquet
  * row-group pushdown, column pruning, and manifest-based size statistics
  * (for broadcast planning) all compose — planning never lists the
  * filesystem, at 100 TB the manifest IS the listing.
  *
  * Writes work in pure SQL too: `INSERT INTO` appends (an OCC commit, zero
  * existing data rewritten), `INSERT OVERWRITE` replaces, `CREATE TABLE …
  * AS SELECT` / `REPLACE TABLE … AS SELECT` are ATOMIC (this catalog is a
  * [[StagingTableCatalog]]: data files stage invisibly in the target
  * directory and one manifest publish makes the whole result appear — a
  * failed CTAS leaves nothing behind), `DELETE FROM` runs the
  * stats-pruned copy-on-write delete for filter-shaped conditions (other
  * shapes fall through to the row-level rewrite), `UPDATE` and `MERGE
  * INTO` run as group-based copy-on-write row-level operations with
  * runtime group filtering ([[SnapshotCowOperation]]), `TRUNCATE TABLE`
  * empties the current version with history intact, and `ALTER TABLE …
  * ADD COLUMNS` evolves the schema metadata-only. All of them delegate to
  * the transactional Scala writers
  * ([[SnapshotTable.append]]/write/delete/commitStaged) which own the OCC
  * commit protocol — SQL and Scala writers can race and both land. Beyond
  * tables: `snap.ns.tbl.history`/`.files` metadata tables, `CALL
  * snap.system.compact/vacuum/rollback(…)` maintenance procedures
  * ([[SnapshotProcedures]]), the `_file` provenance column on every read,
  * and `writeStream.toTable` exactly-once streaming appends
  * ([[SnapshotStreamingWrite]]).
  */
class SnapshotCatalog extends TableCatalog with StagingTableCatalog
  with org.apache.spark.sql.connector.catalog.ProcedureCatalog
  with org.apache.spark.sql.connector.catalog.FunctionCatalog
  with org.apache.spark.internal.Logging {

  private var catalogName: String = _
  private var root: Option[String] = None

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root"))
  }

  override def name(): String = catalogName

  /** CHECK constraints flow through the DSv2 ALTER path only when the
    * catalog declares the capability.
    */
  override def capabilities(): java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  private def spark: SparkSession = SparkSession.active

  /** Catalog instances are cached by Spark's CatalogManager at first use,
    * so an initialize-time `root` is frozen; the LIVE session conf
    * (`spark.conf.set("spark.sql.catalog.<name>.root", …)`) supplies the
    * effective root for identifiers not yet resolved, and the captured
    * option only serves sessions that never set the conf key. Identifiers
    * that HAVE resolved are pinned — see [[pinnedRoots]]: a conf re-point
    * never silently moves a live binding.
    */
  private def rootOpt: Option[String] =
    scala.util.Try(spark.conf.get(s"spark.sql.catalog.$catalogName.root")).toOption
      .orElse(root)

  /** Identifier → the root it was first SUCCESSFULLY resolved under
    * (table confirmed present at that root, or just created there). The
    * catalog instance is cached per CatalogManager while the effective
    * root can change under it (a live conf re-point, or
    * `SparkSession.active` switching to a session with a different conf)
    * — and silently re-binding an already-resolved identifier to a
    * different directory is how a reader lands on the wrong table. First
    * successful resolution pins the binding; a later resolution under a
    * different root fails loudly with both roots and the escape hatches,
    * instead of the old warn-and-repoint. Fresh identifiers under the new
    * root still work — only live bindings refuse to move. FAILED
    * resolutions never pin (a SELECT under a mistyped root must not freeze
    * the identifier to the typo), which also bounds the map by the tables
    * that actually exist. Staged CTAS bindings pin lazily at their first
    * post-commit resolution.
    */
  private val pinnedRoots = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def dirFor(ident: Identifier): String =
    if (ident.namespace.isEmpty && ident.name.startsWith("/")) ident.name
    else rootOpt match {
      case Some(r) =>
        val key = (ident.namespace :+ ident.name).mkString(".")
        // Pin only a SUCCESSFUL resolution: an existence probe under a
        // mistyped or stale root must not freeze the identifier there —
        // that would make every access AFTER the user corrects the conf
        // throw a pinned-root error pointing at a directory the table never
        // lived in. The map is bounded by the number of tables that
        // actually exist under roots this catalog has served.
        val candidate = (r +: ident.namespace :+ ident.name).mkString("/")
        val pinned = Option(pinnedRoots.get(key))
          .getOrElse(if (SnapshotTable.exists(spark, candidate)) {
            Option(pinnedRoots.putIfAbsent(key, r)).getOrElse(r)
          } else r)
        if (pinned != r) throw new IllegalStateException(
          s"catalog $catalogName: identifier $key is pinned to root '$pinned' (its first " +
            s"resolution) but the effective root is now '$r'. Refusing to re-bind a live " +
            s"identifier to a different directory; address the second table by absolute " +
            s"path ($catalogName.`$r/${(ident.namespace :+ ident.name).mkString("/")}`), " +
            s"register the second root under its own catalog name, or restore " +
            s"spark.sql.catalog.$catalogName.root=$pinned")
        (pinned +: ident.namespace :+ ident.name).mkString("/")
      case None => throw new IllegalArgumentException(
        s"catalog $catalogName has no 'root' option; set spark.sql.catalog.$catalogName.root " +
          "or address tables by absolute path: SELECT … FROM " + catalogName + ".`/abs/path`")
    }

  override def loadTable(ident: Identifier): Table = {
    // dirFor throws on a root-less catalog with a namespaced identifier —
    // which is exactly what a path-addressed METADATA table looks like
    // (snap.`/abs/path`.history has namespace [/abs/path]), so the data
    // lookup failing for ANY reason must still fall through to
    // metaTableFor before surfacing an error
    val dirTry = scala.util.Try(dirFor(ident))
    dirTry.toOption.filter(SnapshotTable.exists(spark, _)) match {
      case Some(dir) => new SnapshotV2Table(spark, dir, ident.toString, None)
      case None => metaTableFor(ident).getOrElse(
        dirTry.fold(e => throw e, _ => throw new NoSuchTableException(ident)))
    }
  }

  /** Iceberg-style METADATA TABLES addressed as a child of the data table:
    * `snap.ns.tbl.history` (one row per retained version — counts, bytes,
    * commit deltas, txn watermarks, op kind), `snap.ns.tbl.files` (the
    * CURRENT manifest: per-file path, partition placement, rows,
    * DV-deleted rows, bytes, dt bounds), and `snap.ns.tbl.partitions`
    * (per provable partition tuple: files, physical + live rows, bytes —
    * with an `<unprovable>` bucket so totals always reconcile). Works for
    * path tables too: ``snap.`/abs/path`.history``. All are manifest-only
    * reads served as a driver-local scan — at 100 TB a history query costs
    * O(versions) manifest parses, never a data touch. A REAL table whose
    * directory is literally named `history`/`files`/`partitions` shadows
    * the metadata table (existence is checked first).
    */
  private def metaTableFor(ident: Identifier): Option[Table] = {
    if (ident.namespace.isEmpty) return None
    val kind = ident.name.toLowerCase(java.util.Locale.ROOT)
    if (kind != "history" && kind != "files" && kind != "partitions") return None
    val parent = Identifier.of(ident.namespace.init, ident.namespace.last)
    val pdir = try dirFor(parent) catch { case _: IllegalArgumentException => return None }
    if (!SnapshotTable.exists(spark, pdir)) return None
    val df = kind match {
      case "history" => SnapshotTable.history(spark, pdir)
      case "files" =>
        val m = SnapshotTable.currentManifest(spark, pdir).get
        val s = spark
        import s.implicits._
        m.entries.map(e => (e.path, partitionLabel(m, e).orNull, e.rows,
            e.dv.map(_.deleted).getOrElse(0L), e.bytes, e.minDt.orNull, e.maxDt.orNull))
          .toDF("file", "partition", "n_rows", "dv_deleted", "n_bytes", "min_dt", "max_dt")
      case "partitions" =>
        // Iceberg's `.partitions` in miniature: one row per provable
        // partition tuple of the CURRENT manifest — files, physical and
        // live rows, bytes — plus one `<unprovable>` row aggregating files
        // the layout cannot place (hash-clustered rewrites pre-compaction),
        // so totals always reconcile with the table
        val m = SnapshotTable.currentManifest(spark, pdir).get
        val s = spark
        import s.implicits._
        // an UNPARTITIONED table has no placement to summarize — empty,
        // not one all-of-the-table "<unprovable>" row
        val entries = if (m.partitionCols.exists(_.nonEmpty)) m.entries
          else Seq.empty[SnapshotTable.FileEntry]
        entries.groupBy(e => partitionLabel(m, e).getOrElse("<unprovable>")).toSeq
          .map { case (label, es) =>
            (label, es.size.toLong, es.map(_.rows).sum,
              es.map(SnapshotTable.liveRows).sum, es.map(_.bytes).sum)
          }.sortBy(_._1)
          .toDF("partition", "n_files", "n_rows", "live_rows", "n_bytes")
    }
    Some(new SnapshotMetaTable(df, ident.toString))
  }

  /** A file's partition tuple rendered `col=v/col_bucket=id`; None when
    * the table is unpartitioned or the file's placement is not provable.
    */
  private def partitionLabel(m: SnapshotTable.Manifest,
      e: SnapshotTable.FileEntry): Option[String] = {
    val fields = PartitionFields.parseAll(m.partitionCols.getOrElse(Seq.empty))
    if (fields.isEmpty) return None
    val parts = fields.map {
      case PartitionFields.Identity(c) =>
        e.stats.flatMap(_.get(c)).flatMap { st =>
          (st.lo, st.hi) match {
            case (None, None) if st.nulls == e.rows => Some(s"$c=null")
            case (Some(lo), Some(hi)) if st.nulls == 0 && lo == hi => Some(s"$c=$lo")
            case _ => None
          }
        }
      case b: PartitionFields.Bucket =>
        PartitionFields.bucketIdFromPath(e.path, b).map(id => s"${b.col}_bucket=$id")
      case t @ PartitionFields.Temporal(unit, c) =>
        PartitionFields.valueFromPath(e.path, t).map(v => s"${c}_$unit=$v")
      case t @ PartitionFields.Truncate(w, c) =>
        val dt = m.schemaDdl.map(StructType.fromDDL)
          .flatMap(_.fields.find(_.name.equalsIgnoreCase(c))).map(_.dataType)
        dt.flatMap(PartitionFields.truncValueFromPath(e.path, t, _))
          .map(v => s"${c}_trunc$w=$v")
    }
    if (parts.exists(_.isEmpty)) None else Some(parts.flatten.mkString("/"))
  }

  /** `VERSION AS OF <v>` — the DSv2 time-travel entry point. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = dirFor(ident)
    if (!SnapshotTable.exists(spark, dir)) throw new NoSuchTableException(ident)
    val v = try version.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"snapshot versions are numeric manifest ids; got VERSION AS OF '$version'")
    }
    new SnapshotV2Table(spark, dir, ident.toString, Some(v))
  }

  /** `TIMESTAMP AS OF <ts>` — resolves to the LATEST version whose
    * monotonic-corrected commit stamp is <= `timestamp`
    * ([[SnapshotTable.versionAtTimestamp]]), then pins the scan to that
    * manifest exactly like `VERSION AS OF`. Spark hands the timestamp in
    * MICROseconds since the epoch (the catalyst TimestampType value of the
    * user's expression, session-timezone-resolved by the analyzer).
    * Pre-history timestamps and stamp-less legacy histories are refused
    * loudly rather than silently clamped to the first version — "the
    * table before it existed" has no snapshot.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = dirFor(ident)
    if (!SnapshotTable.exists(spark, dir)) throw new NoSuchTableException(ident)
    val v = SnapshotTable.versionAtTimestamp(spark, dir, Math.floorDiv(timestamp, 1000L))
    new SnapshotV2Table(spark, dir, ident.toString, Some(v))
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val base = rootOpt match {
      case Some(r) => (r +: namespace.toSeq).mkString("/")
      case None => return Array.empty
    }
    val d = new java.io.File(base)
    if (!d.isDirectory) Array.empty
    else d.listFiles.filter(f => f.isDirectory && SnapshotTable.exists(spark, f.getPath))
      .map(f => Identifier.of(namespace, f.getName))
  }

  /** `PARTITIONED BY (col | bucket(n, col), …)` → the snapshot format's
    * encoded partition spec ([[PartitionFields]]). Identity and bucket
    * transforms are accepted; truncate/days/etc. are refused loudly
    * rather than silently dropped — a user who asked for a layout must
    * get it or an error, never an unpartitioned table wearing the DDL.
    */
  private def identityPartitionCols(partitions: Array[Transform]): Seq[String] =
    partitions.toSeq.map {
      case t if t.name == "identity" && t.references.length == 1 =>
        val fieldNames = t.references.head.fieldNames
        require(fieldNames.length == 1,
          s"snapshot schemas are flat; cannot partition by nested field " +
            fieldNames.mkString("."))
        fieldNames.head
      case t if t.name == "bucket" =>
        val ns = t.arguments.collect {
          case l: org.apache.spark.sql.connector.expressions.Literal[_]
            if l.dataType == org.apache.spark.sql.types.IntegerType =>
            l.value.asInstanceOf[Number].intValue
        }
        val refs = t.arguments.collect {
          case r: org.apache.spark.sql.connector.expressions.NamedReference => r
        }
        require(ns.length == 1 && refs.length == 1 && refs.head.fieldNames.length == 1,
          s"snapshot bucket partitioning takes exactly bucket(n, flatColumn) (got $t)")
        PartitionFields.Bucket(ns.head, refs.head.fieldNames.head).encoded
      case t if PartitionFields.TemporalUnits.contains(t.name) && t.references.length == 1 =>
        val fieldNames = t.references.head.fieldNames
        require(fieldNames.length == 1,
          s"snapshot schemas are flat; cannot partition by nested field " +
            fieldNames.mkString("."))
        PartitionFields.Temporal(t.name, fieldNames.head).encoded
      // SQL spells the singular (`day(ts)`); DSv2 names the plural
      case t if PartitionFields.TemporalUnits.map(_.dropRight(1)).contains(t.name) &&
          t.references.length == 1 && t.references.head.fieldNames.length == 1 =>
        PartitionFields.Temporal(t.name + "s", t.references.head.fieldNames.head).encoded
      case t if t.name == "truncate" =>
        val ws = t.arguments.collect {
          case l: org.apache.spark.sql.connector.expressions.Literal[_]
            if l.dataType == org.apache.spark.sql.types.IntegerType =>
            l.value.asInstanceOf[Number].intValue
        }
        val refs = t.arguments.collect {
          case r: org.apache.spark.sql.connector.expressions.NamedReference => r
        }
        require(ws.length == 1 && refs.length == 1 && refs.head.fieldNames.length == 1,
          s"snapshot truncate partitioning takes exactly truncate(w, flatColumn) (got $t)")
        PartitionFields.Truncate(ws.head, refs.head.fieldNames.head).encoded
      case other => throw new UnsupportedOperationException(
        s"snapshot tables support identity, bucket(n, col), years/months/days/hours(col), " +
          s"and truncate(w, col) partitioning (got $other)")
    }

  override def createTable(ident: Identifier, info: TableInfo): Table = {
    val dir = dirFor(ident)
    if (SnapshotTable.exists(spark, dir)) throw new TableAlreadyExistsException(ident)
    val schema = CatalogShims.columnsToStructType(info.columns)
    SnapshotTable.write(spark, spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema), dir,
      partitionCols = Some(identityPartitionCols(info.partitions)))
    dirFor(ident) // re-resolve: the table now exists, pinning it to this root
    new SnapshotV2Table(spark, dir, ident.toString, None)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val dir = dirFor(ident)
    if (SnapshotTable.exists(spark, dir)) throw new TableAlreadyExistsException(ident)
    SnapshotTable.write(spark, spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema), dir,
      partitionCols = Some(identityPartitionCols(partitions)))
    dirFor(ident) // re-resolve: the table now exists, pinning it to this root
    new SnapshotV2Table(spark, dir, ident.toString, None)
  }

  /** Atomic `CREATE TABLE … AS SELECT`: the staged table writes its data
    * files into the target directory WITHOUT publishing a manifest (files
    * are invisible until a manifest lists them — the same invisibility
    * every commit relies on between write and publish), and
    * `commitStagedChanges` publishes exactly ONE version holding the query
    * result. A failed or cancelled CTAS aborts by deleting the staged
    * files: no empty-v0 husk, no half-created table — the all-or-nothing
    * the non-staging DDL path can't give.
    */
  override def stageCreate(ident: Identifier, columns: Array[V2Column],
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable = {
    val dir = dirFor(ident)
    if (SnapshotTable.exists(spark, dir)) throw new TableAlreadyExistsException(ident)
    new StagedSnapshotTable(spark, dir, ident.toString,
      CatalogShims.columnsToStructType(columns), createOnly = true,
      partitionCols = identityPartitionCols(partitions))
  }

  /** Atomic `REPLACE TABLE … AS SELECT`: old snapshot stays readable (and
    * time-travelable) until the staged commit publishes; a query failure
    * leaves the table exactly as it was.
    */
  override def stageReplace(ident: Identifier, columns: Array[V2Column],
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable = {
    val dir = dirFor(ident)
    if (!SnapshotTable.exists(spark, dir)) throw new NoSuchTableException(ident)
    new StagedSnapshotTable(spark, dir, ident.toString,
      CatalogShims.columnsToStructType(columns), createOnly = false,
      partitionCols = identityPartitionCols(partitions))
  }

  override def stageCreateOrReplace(ident: Identifier, columns: Array[V2Column],
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable =
    new StagedSnapshotTable(spark, dirFor(ident), ident.toString,
      CatalogShims.columnsToStructType(columns), createOnly = false,
      partitionCols = identityPartitionCols(partitions))

  /** `ALTER TABLE … ADD COLUMNS`: additive evolution as a metadata-only
    * commit ([[SnapshotTable.addColumns]] — zero data files touched,
    * existing files read NULL for the new columns, exactly like an
    * appending writer that brought them). Appended columns are always
    * nullable top-level appends: positions (`FIRST`/`AFTER`), nested
    * fields, and every non-additive change (drop/rename/retype) are
    * refused loudly — the format's no-silent-coercion rule.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = dirFor(ident)
    if (!SnapshotTable.exists(spark, dir)) throw new NoSuchTableException(ident)
    val added = changes.collect {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          s"snapshot schemas are flat; cannot add nested field ${add.fieldNames.mkString(".")}")
        require(add.position() == null,
          "snapshot schema evolution always APPENDS; FIRST/AFTER positions are not supported")
        // every pre-evolution file reads NULL for the new column, so a NOT
        // NULL constraint cannot be honored — refuse it loudly rather than
        // silently recording the column nullable
        require(add.isNullable,
          s"cannot add NOT NULL column '${add.fieldNames.head}': existing rows " +
            "read NULL for appended columns (the no-silent-coercion rule)")
        val f = org.apache.spark.sql.types.StructField(
          add.fieldNames.head, add.dataType, nullable = true)
        Option(add.comment).map(f.withComment).getOrElse(f)
    }
    val widened = changes.collect {
      case upd: TableChange.UpdateColumnType =>
        require(upd.fieldNames.length == 1,
          s"snapshot schemas are flat; cannot alter nested field ${upd.fieldNames.mkString(".")}")
        (upd.fieldNames.head, upd.newDataType)
    }
    val addedConstraints = changes.collect {
      case ac: TableChange.AddConstraint => ac.constraint() match {
        case ck: org.apache.spark.sql.connector.catalog.constraints.Check =>
          require(ck.enforced(),
            s"CHECK constraint '${ck.name}': NOT ENFORCED is refused — the snapshot " +
              "format records only constraints its writers actually hold")
          (ck.name, ck.predicateSql())
        case other2 => throw new UnsupportedOperationException(
          s"only CHECK constraints are supported (got ${other2.getClass.getSimpleName}); " +
            "PRIMARY KEY / UNIQUE / FOREIGN KEY are informational in most engines and " +
            "refused here rather than recorded unenforced")
      }
    }
    val droppedConstraints = changes.collect {
      case dc: TableChange.DropConstraint => (dc.name(), dc.ifExists())
    }
    val dropped = changes.collect {
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1,
          s"snapshot schemas are flat; cannot drop nested field ${del.fieldNames.mkString(".")}")
        (del.fieldNames.head, del.ifExists())
    }
    val renamed = changes.collect {
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames.length == 1,
          s"snapshot schemas are flat; cannot rename nested field ${rn.fieldNames.mkString(".")}")
        (rn.fieldNames.head, rn.newName)
    }
    val other = changes.filterNot(c =>
      c.isInstanceOf[TableChange.AddColumn] || c.isInstanceOf[TableChange.UpdateColumnType] ||
        c.isInstanceOf[TableChange.AddConstraint] || c.isInstanceOf[TableChange.DropConstraint] ||
        c.isInstanceOf[TableChange.DeleteColumn] || c.isInstanceOf[TableChange.RenameColumn])
    if (other.nonEmpty) throw new UnsupportedOperationException(
      s"only ADD COLUMNS, DROP COLUMN, RENAME COLUMN, ALTER COLUMN … TYPE (safe widening), " +
        s"and ADD/DROP CHECK constraints are supported through the SQL catalog (got " +
        s"${other.head.getClass.getSimpleName}); other schema changes are refused by the " +
        "snapshot format")
    if (added.nonEmpty) SnapshotTable.addColumns(spark, dir, StructType(added.toArray))
    dropped.foreach { case (name, ifExists) =>
      val have = SnapshotTable.currentManifest(spark, dir).flatMap(_.schemaDdl)
        .map(StructType.fromDDL).exists(_.fieldNames.exists(_.equalsIgnoreCase(name)))
      if (ifExists && !have) () else SnapshotTable.dropColumn(spark, dir, name)
    }
    // `ALTER COLUMN c TYPE t`: metadata-only safe widening; anything
    // outside the safe set is refused by name inside alterColumnType
    widened.foreach { case (name, to) => SnapshotTable.alterColumnType(spark, dir, name, to) }
    // `RENAME COLUMN a TO b`: metadata-only through the column mapping —
    // the physical (stored) name never moves; refusals live inside
    renamed.foreach { case (from, to) => SnapshotTable.renameColumn(spark, dir, from, to) }
    addedConstraints.foreach { case (n, sql) =>
      SnapshotTable.addCheckConstraint(spark, dir, n, sql) }
    droppedConstraints.foreach { case (n, ifExists) =>
      if (ifExists && !SnapshotTable.checkConstraints(spark, dir).contains(n)) ()
      else SnapshotTable.dropCheckConstraint(spark, dir, n)
    }
    new SnapshotV2Table(spark, dir, ident.toString, None)
  }

  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException(
      "DROP TABLE through the SQL catalog is refused: dropping a snapshot table deletes " +
        "data + history; do it explicitly on the storage layer")

  override def renameTable(old: Identifier, to: Identifier): Unit =
    throw new UnsupportedOperationException("RENAME TABLE is not supported for path-addressed snapshot tables")

  /** Maintenance procedures (`CALL snap.system.compact/vacuum/rollback` —
    * see [[SnapshotProcedures]]). The `table` argument takes an absolute
    * path or a dot-separated identifier under the catalog root, resolved
    * exactly like a read.
    */
  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    SnapshotProcedures.forName(ident.name.toLowerCase(java.util.Locale.ROOT), resolveTableArg)
      .getOrElse(throw new UnsupportedOperationException(
        s"unknown procedure $catalogName.${ident.namespace.mkString(".")}.${ident.name}; " +
          s"available: ${SnapshotProcedures.Names.mkString(", ")}"))

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    SnapshotProcedures.Names.map(n => Identifier.of(Array("system"), n)).toArray

  /** The catalog's V2 functions — currently exactly `bucket`, which is
    * what lets Spark's storage-partitioned-join machinery resolve a
    * reported `bucket(n, col)` transform to a catalyst expression (both
    * co-partitioned sides bind the SAME function, so their clusterings
    * compare equal) and, under `v2.bucketing.shuffle.enabled`, hash the
    * un-partitioned side of a join INTO our bucket domain.
    */
  override def loadFunction(ident: Identifier): org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    SnapshotFunctions.forName(ident.name)
      .getOrElse(throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident))

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) SnapshotFunctions.Names.map(Identifier.of(Array.empty[String], _)).toArray
    else Array.empty

  /** A procedure's `table` argument → directory: absolute path as-is,
    * otherwise a dot-separated identifier under the root.
    */
  private def resolveTableArg(t: String): String =
    if (t.startsWith("/")) t
    else {
      val parts = t.split('.')
      dirFor(Identifier.of(parts.init, parts.last))
    }
}

/** One snapshot (current or `VERSION AS OF`) as a DSv2 Table.
  *
  * Freshness/pinning semantics follow Spark 4's versioned-table contract:
  * because [[version]] is reported, Spark's `V2TableRefreshUtil` re-loads
  * a CURRENT-version reference at each execution start, so a long-lived
  * `SELECT` DataFrame sees the latest committed snapshot — while every
  * individual execution is still snapshot-consistent (the refreshed
  * manifest pins the exact file set before any task runs). A
  * `VERSION AS OF` reference carries a time-travel spec and is exempt
  * from refresh: it reads manifest `n` forever (SnapshotCatalogSpec pins
  * both behaviors).
  */
private[graft] class SnapshotV2Table(
    spark: SparkSession, dir: String, identName: String, pinnedVersion: Option[Long])
  extends Table with SupportsRead with SupportsWrite with SupportsDelete
  with SupportsRowLevelOperations with SupportsMetadataColumns {

  // resolved at load; current-version references are re-loaded per
  // execution by Spark's versioned-table refresh (see class doc)
  private val manifest: SnapshotTable.Manifest =
    SnapshotTable.manifestFor(spark, dir, pinnedVersion)

  private val tableSchema: StructType =
    StructType.fromDDL(manifest.schemaDdl.getOrElse(throw new IllegalStateException(
      s"snapshot at $dir has no recorded schema; read it with SnapshotTable.read")))

  override def name(): String = identName

  override def schema(): StructType = tableSchema

  override def version(): String = manifest.version.toString

  /** The manifest's identity partition spec, surfaced through the DSv2
    * contract: `DESCRIBE` shows it, and `INSERT OVERWRITE … PARTITION
    * (col = v)` resolves static partition values against it.
    */
  override def partitioning(): Array[Transform] =
    manifest.partitionCols.getOrElse(Seq.empty).map(PartitionFields.parse).map {
      case PartitionFields.Identity(c) =>
        org.apache.spark.sql.connector.expressions.Expressions.identity(c)
      case PartitionFields.Bucket(n, c) =>
        org.apache.spark.sql.connector.expressions.Expressions.bucket(n, c)
      case PartitionFields.Temporal(unit, c) =>
        org.apache.spark.sql.connector.expressions.Expressions.apply(unit,
          org.apache.spark.sql.connector.expressions.Expressions.column(c))
      case PartitionFields.Truncate(w, c) =>
        org.apache.spark.sql.connector.expressions.Expressions.apply("truncate",
          org.apache.spark.sql.connector.expressions.Expressions.literal(w),
          org.apache.spark.sql.connector.expressions.Expressions.column(c))
    }.toArray

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)

  override def properties(): util.Map[String, String] =
    (Map(
      "location" -> dir,
      "snapshot.version" -> manifest.version.toString,
      "snapshot.numFiles" -> manifest.entries.size.toString,
      "snapshot.sizeBytes" -> manifest.entries.map(_.bytes).sum.toString,
      "snapshot.partitionColumns" ->
        manifest.partitionCols.getOrElse(Seq.empty).mkString(",")) ++
      // renamed tables surface their logical→physical map (DESCRIBE
      // EXTENDED observability; absent = identity)
      manifest.columnMapping.filter(_.nonEmpty).map(mm =>
        "snapshot.columnMapping" -> mm.toSeq.sorted.map { case (l, p) => s"$l->$p" }
          .mkString(","))).asJava

  /** The `_file` metadata column (row → its data file's path): provenance
    * for users, and the required metadata attribute of the row-level
    * operation path ([[SnapshotCowOperation]]).
    */
  override def metadataColumns(): Array[MetadataColumn] =
    Array(SnapshotMetadata.FileColumn)

  /** The manifest's CHECK constraints surfaced through the DSv2 contract
    * (`DESCRIBE` shows them; enforced = the engine refuses violating
    * writes — which the transactional writers do; validated = existing
    * data was scanned when each was added).
    */
  override def constraints(): Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    manifest.constraints.getOrElse(Map.empty).toSeq.sortBy(_._1).map { case (n, sql) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint.check(n)
        .predicateSql(sql)
        .enforced(true)
        .validationStatus(
          org.apache.spark.sql.connector.catalog.constraints.Constraint.ValidationStatus.VALID)
        .build(): org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray

  // metadata-only planning capabilities, derived once per pinned manifest
  // (see [[ManifestPlanning]]): runtime file pruning for DPP, the
  // storage-partitioned-join layout when provable, and manifest-answered
  // aggregates — all mapping-aware (logical names outward, physical names
  // at the stats lookups), so renamed tables keep their fast plans
  private lazy val tableMapping = SnapshotTable.mappingOf(Some(manifest))
  private lazy val scanStatPrune =
    ManifestPlanning.statPrune(spark, dir, manifest, tableSchema, tableMapping)
  private lazy val scanKeyedLayout =
    ManifestPlanning.keyedLayout(spark, dir, manifest, tableSchema, tableMapping)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // Spark's own parquet DSv2 builder over the manifest-backed index:
    // filter pushdown (file skip + row-group), column pruning, and
    // manifest-accurate statistics come from the shared machinery; the
    // FileAware wrapper additionally serves `_file` when referenced and
    // applies any merge-on-read deletion vectors inside the scan.
    // RENAMED tables (non-empty column mapping) read through the same
    // builder with name translation at its boundaries; the metadata-
    // planning delegates translate their own stats lookups, so renamed
    // tables keep runtime pruning, SPJ, and manifest-answered aggregates
    new org.apache.spark.sql.graftbridge.FileAwareScanBuilder(spark,
      new SnapshotFileIndex(spark, dir, manifest),
      tableSchema, options, SnapshotMetadata.FileCol,
      dvByPath = SnapshotTable.dvMap(spark, dir, manifest.entries), tableDir = dir,
      statPrune = Some(scanStatPrune),
      keyed = scanKeyedLayout,
      localAgg =
        ManifestPlanning.localAggregate(spark, dir, manifest, tableSchema, _, tableMapping),
      mapping = tableMapping)
  }

  private def refuseTimeTravelMutation(what: String): Unit =
    if (pinnedVersion.isDefined) throw new UnsupportedOperationException(
      s"cannot $what a VERSION AS OF reference of $identName: snapshots are immutable; " +
        "address the table without a version to mutate its current state")

  /** `INSERT INTO` / `INSERT OVERWRITE` / CTAS population. The write goes
    * through [[V1Write]] — the DSv2→DataFrame bridge Delta shipped on for
    * years — so the data lands via the transactional Scala writers that own
    * the OCC commit protocol: plain inserts are [[SnapshotTable.append]]
    * commits (zero existing data rewritten, raced inserts all land),
    * overwrites are [[SnapshotTable.write]] replace commits. Spark has
    * already resolved the incoming rows against [[schema]] (ANSI store
    * assignment: reorder, cast, reject extra/missing columns), so SQL
    * inserts never evolve the schema — evolution stays on the Scala API,
    * where it is an explicit choice.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    refuseTimeTravelMutation("write to")
    new WriteBuilder with SupportsTruncate {
      private var replace = false
      override def truncate(): WriteBuilder = { replace = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation = new InsertableRelation {
          override def insert(data: DataFrame, overwrite: Boolean): Unit =
            if (replace || overwrite) SnapshotTable.write(data.sparkSession, data, dir)
            else SnapshotTable.append(data.sparkSession, data, dir)
        }
        /** `writeStream.toTable("snap.…")`: exactly-once micro-batch
          * appends (see [[SnapshotStreamingWrite]]). Append mode only.
          */
        override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
          if (replace) throw new UnsupportedOperationException(
            "snapshot tables stream in APPEND mode only; complete mode would replace " +
              "the table every epoch (use foreachBatch + SnapshotTable.write for that)")
          new SnapshotStreamingWrite(spark, dir, info.queryId(), info.schema())
        }
      }
    }
  }

  /** SQL `UPDATE` / `MERGE INTO` (and `DELETE` whose condition doesn't
    * translate to source filters): Spark rewrites the command into a
    * group-based `ReplaceData` plan over this operation — stats-pruned
    * candidate files read whole, recomputed rows written by the DSv2
    * parquet batch write, one OCC commit swapping the files. See
    * [[SnapshotCowOperation]]. Filter-shaped `DELETE` still collapses to
    * [[deleteWhere]] via Spark's metadata-only-delete optimization.
    */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    refuseTimeTravelMutation(s"run ${info.command.toString.toLowerCase} on")
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation =
        // pass THIS table's manifest: the operation must run against the
        // snapshot the command was ANALYZED on (a commit racing in between
        // surfaces as an OCC conflict, never as a silent re-resolution)
        new SnapshotCowOperation(spark, dir, info.command, manifest)
    }
  }

  /** SQL `DELETE FROM` (and, via [[SupportsDelete]]'s TruncatableTable
    * default, `TRUNCATE TABLE`): delegates to the copy-on-write
    * [[SnapshotTable.delete]] — stats-pruned rewrite of only the files that
    * may hold matching rows, old snapshots untouched until vacuum.
    *
    * Spark hands over the condition only when it translates to source
    * filters (comparisons, IN, null tests, string prefix/suffix/contains,
    * boolean combinations); arbitrary expressions (`key % 13 = 0`,
    * subqueries) are refused at analysis — those run through the Scala
    * API's Column-predicate delete, which takes any expression.
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean = {
    refuseTimeTravelMutation("delete from")
    // a `_file` reference cannot resolve against the data schema the
    // metadata delete evaluates over — those conditions take the
    // row-level path, where the scan serves the column
    filters.forall(f => V1FilterColumns.toColumn(f).isDefined &&
      !f.references.contains(SnapshotMetadata.FileCol))
  }

  override def deleteWhere(filters: Array[Filter]): Unit = {
    refuseTimeTravelMutation("delete from")
    val pred = filters.flatMap(V1FilterColumns.toColumn(_))
      .reduceOption(_ && _).getOrElse(lit(true))
    // graft.snapshot.deleteMode=mor routes SQL DELETE to the merge-on-read
    // tier (deletion-vector blobs, zero data rewritten); default stays
    // copy-on-write, which keeps files clean
    if (spark.conf.getOption("graft.snapshot.deleteMode").contains("mor"))
      SnapshotTable.deleteMoR(spark, dir, pred)
    else SnapshotTable.delete(spark, dir, pred)
  }
}

/** A staged (not-yet-published) snapshot table for atomic CTAS / RTAS.
  * `insert` stages data files in the target directory — invisible, no
  * manifest references them — and `commitStagedChanges` publishes them as
  * one version through the OCC commit loop ([[SnapshotTable.commitStaged]]:
  * create mode refuses inside the CAS loop if a concurrent creator won).
  * `abortStagedChanges` deletes the staged files, leaving no trace.
  */
private[graft] class StagedSnapshotTable(
    spark: SparkSession, dir: String, identName: String,
    declared: StructType, createOnly: Boolean,
    partitionCols: Seq[String] = Seq.empty)
  extends StagedTable with SupportsWrite {

  // staged state: entries written by insert(), and the schema they carry
  // (the query's schema — authoritative over `declared`, which Spark
  // derived from the same query plan)
  @volatile private var staged: Seq[SnapshotTable.FileEntry] = Seq.empty
  @volatile private var stagedSchema: StructType = declared

  override def name(): String = identName
  override def schema(): StructType = declared
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      // RTAS plans arrive as truncate+append; the staged commit IS a
      // replace, so the truncate flag changes nothing
      override def truncate(): WriteBuilder = this
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation = new InsertableRelation {
          override def insert(data: DataFrame, overwrite: Boolean): Unit = {
            staged = SnapshotTable.stageData(data.sparkSession, data, dir, partitionCols)
            stagedSchema = data.schema
          }
        }
      }
    }

  override def commitStagedChanges(): Unit =
    SnapshotTable.commitStaged(spark, dir, staged, stagedSchema.toDDL, createOnly,
      partitionCols)

  override def abortStagedChanges(): Unit =
    SnapshotTable.abortStaged(spark, dir, staged)
}

/** A metadata table (`…tbl.history` / `…tbl.files`) served as a DSv2
  * [[org.apache.spark.sql.connector.read.LocalScan]]: the frame is
  * manifest-derived and metadata-sized, so it materializes on the driver
  * at scan build — no executor job for a history lookup.
  */
private[graft] class SnapshotMetaTable(df: DataFrame, identName: String)
  extends Table with SupportsRead {

  private val tableSchema = df.schema

  override def name(): String = identName
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): org.apache.spark.sql.connector.read.Scan =
        new org.apache.spark.sql.connector.read.LocalScan {
          override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
            org.apache.spark.sql.graftbridge.Bridge.collectInternal(df)
          override def readSchema(): StructType = tableSchema
          override def description(): String = s"SnapshotMetaTable($identName)"
        }
    }
}

/** V1 source filters → Column predicates, for [[SupportsDelete]]. Total
  * over every filter shape Spark's translator emits (a `None` makes
  * `canDeleteWhere` refuse, which surfaces as an analysis error naming the
  * condition). Attribute names are backtick-quoted whole: snapshot schemas
  * are flat, so a dotted name is a literal column name, not a path.
  */
private object V1FilterColumns {
  import org.apache.spark.sql.sources._
  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(q(a)) === lit(v))
    case EqualNullSafe(a, v) => Some(col(q(a)) <=> lit(v))
    case GreaterThan(a, v) => Some(col(q(a)) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(q(a)) >= lit(v))
    case LessThan(a, v) => Some(col(q(a)) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(q(a)) <= lit(v))
    case In(a, vs) => Some(col(q(a)).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(q(a)).isNull)
    case IsNotNull(a) => Some(col(q(a)).isNotNull)
    case And(l, r) => for { lc <- toColumn(l); rc <- toColumn(r) } yield lc && rc
    case Or(l, r) => for { lc <- toColumn(l); rc <- toColumn(r) } yield lc || rc
    case Not(c) => toColumn(c).map(!_)
    case StringStartsWith(a, v) => Some(col(q(a)).startsWith(v))
    case StringEndsWith(a, v) => Some(col(q(a)).endsWith(v))
    case StringContains(a, v) => Some(col(q(a)).contains(v))
    case _: AlwaysTrue => Some(lit(true))
    case _: AlwaysFalse => Some(lit(false))
    case _ => None
  }
  private def q(a: String): String = s"`${a.replace("`", "``")}`"
}

private object CatalogShims {
  // CatalogV2Util.v2ColumnsToStructType is private[sql]; the mapping is a
  // straight field-for-field rebuild (defaults/generation are not part of
  // the snapshot format's surface)
  def columnsToStructType(cols: Array[org.apache.spark.sql.connector.catalog.Column]): StructType =
    StructType(cols.map { c =>
      val f = org.apache.spark.sql.types.StructField(c.name, c.dataType, c.nullable)
      Option(c.comment).map(f.withComment).getOrElse(f)
    })
}
