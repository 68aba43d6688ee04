package graft.catalog

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._

import graft.ingest.IncrementalLoader

/** A minimal snapshot/manifest table format: the metadata layer that makes
  * the mutating sinks (compaction, keyed MERGE) safe under concurrent
  * readers. The remote engines the reference targeted got this from their
  * transaction layer (Snowflake's `CREATE OR REPLACE` in
  * `scripts/transform_staging.py:24-40` is an atomic snapshot swap); plain
  * parquet directories have no equivalent, so `Layout.compact`'s
  * delete-then-rename swap exposes a window where a reader sees a missing
  * directory. This module closes that gap the way every table format does
  * (Delta's `_delta_log`, Iceberg's metadata tree, in miniature):
  *
  *  - Data files are immutable and live in per-commit subdirectories
  *    (`c-<uuid>/part-*.parquet`). Nothing ever rewrites a published file.
  *  - A manifest (`_log/manifest-%08d.json`) lists the files of one
  *    complete snapshot, with per-file row counts, sizes, and min/max `dt`
  *    for manifest-level file skipping.
  *  - Commit = write-manifest-to-temp + ATOMIC RENAME to the next version.
  *    Readers resolve the highest published manifest; they either see the
  *    old snapshot or the new one, never a torn mix, because the rename is
  *    the single visibility point.
  *  - Old files are NOT deleted at commit: a reader that resolved version
  *    N keeps reading N's files even while N+1 commits. [[vacuum]] is the
  *    explicit retention step that deletes files unreferenced by the
  *    retained manifests — run it when no reader can still hold an expired
  *    snapshot (the same contract as Delta's VACUUM).
  *
  * Concurrency contract: MANY readers, MANY writers — optimistic
  * concurrency control. Every commit is a compare-and-swap on the next
  * version number: publish succeeds only if `manifest-%08d` for that
  * version did not exist yet. On HDFS the no-overwrite rename IS that CAS;
  * local filesystems overwrite on rename, so a JVM-striped per-table mutex
  * supplies the same guarantee — exact for `local[*]`, where every writer
  * shares the JVM (object stores without atomic rename need a
  * conditional-put log store, out of scope, like early Delta on S3).
  * A writer that loses the race re-reads the winner's manifest and REBASES
  * when the two commits are disjoint: appends always rebase (their new
  * files conflict with nothing), snapshot rewrites (merge / compact /
  * delete / update) rebase over concurrent appends but CONFLICT when the
  * winner removed a file whose content flowed into their output — and a
  * keyed [[merge]] additionally conflicts when the winner ADDED files
  * intersecting the batch's dt range (a winner merge may have upserted the
  * same keys; rebasing would duplicate them — Delta's
  * ConcurrentAppendException discipline). Conflicted ops re-run against
  * the new snapshot (bounded retries), which is full serializability, the
  * same discipline as Delta's OCC.
  * Data files written by an abandoned attempt are unreferenced and
  * reclaimed by [[vacuum]].
  *
  * At 100 TB: the manifest is O(files) driver-side metadata, the dt ranges
  * skip whole files before any footer is opened, and a merge reads only
  * the files whose dt range intersects the batch — everything else is
  * carried forward by reference in the new manifest, never rewritten.
  * COMMIT I/O is bounded the same way (Iceberg's manifest-list split, in
  * miniature): entry lists live in immutable `_log/seg-*.json` segments
  * that untouched commits reference by name, so each commit serializes
  * O(touched segments + new files) bytes and each read parses each
  * distinct segment once (JVM-cached), never the full 10⁶-entry listing
  * per version (see [[Manifest.segments]], SegmentedManifestSpec).
  */
object SnapshotTable {

  /** One immutable data file of a snapshot. `minDt`/`maxDt` are ISO date
    * strings (lexicographic order = date order) when the table has a
    * non-null `dt` column in that file, None otherwise — absent stats make
    * pruning conservative (the file is always read), never wrong.
    *
    * `stats` generalizes the dt pair to every eligible column (numerics,
    * strings, dates, timestamps, booleans — [[FileStats.eligible]], capped
    * at [[FileStats.MaxStatCols]]): min/max bounds + null count per column,
    * the inputs [[readWhere]]/[[delete]]/[[update]] prune files with.
    * Manifests written before the field existed parse with `stats = None`
    * and are simply never skipped.
    */
  case class FileEntry(path: String, rows: Long, bytes: Long,
      minDt: Option[String], maxDt: Option[String],
      stats: Option[Map[String, FileStats.ColStat]] = None,
      // DELETION VECTOR sidecar (merge-on-read tier): when set, `dv.path`
      // is a blob (relative to the table dir) holding the sorted 0-based
      // row positions of this file's DELETED rows — every reader drops
      // them at scan time, so a row-level delete touching k rows of an
      // 1 GB file writes a k-long blob instead of rewriting the gigabyte.
      // `rows` stays the file's PHYSICAL row count; live rows =
      // rows − dv.deleted. Compaction rewrites files clean and drops the
      // reference; vacuum collects unreferenced blobs. None = no deletes
      // (the common case, and every pre-DV manifest).
      dv: Option[DvRef] = None)

  /** One file's deletion-vector reference: `path` (table-relative) of the
    * position blob, `deleted` = positions in it (cardinality, for live-row
    * accounting without opening the blob).
    */
  case class DvRef(path: String, deleted: Long)

  /** Live (reader-visible) rows of an entry: physical minus DV-deleted. */
  def liveRows(e: FileEntry): Long = e.rows - e.dv.map(_.deleted).getOrElse(0L)

  /** Deletion-vector map for a scan over `entries`: qualified data-file
    * path → blob path (relative to `dir`). Empty for clean tables — the
    * scan layers skip all DV machinery then.
    */
  private[graft] def dvMap(spark: SparkSession, dir: String,
      entries: Seq[FileEntry]): Map[String, String] = {
    val q = qualifiedDir(spark, dir)
    entries.flatMap(e => e.dv.map(d => new Path(q, e.path).toString -> d.path)).toMap
  }

  /** `txn` carries exactly-once markers for streaming writers (appId → last
    * committed batch id, the Delta `txn` action in miniature); it is
    * preserved verbatim across every later commit — compaction or merge
    * must not make a committed batch look uncommitted. `schemaDdl` is the
    * snapshot's table schema: readers pass it explicitly to the scan (zero
    * footer-sampling inference at 100 TB) and older files simply fill
    * columns they predate with NULL — additive schema evolution for free.
    * Both Optional so manifests written before the fields existed still
    * parse.
    */
  case class Manifest(version: Long, entries: Seq[FileEntry],
      txn: Option[Map[String, Long]] = None, schemaDdl: Option[String] = None,
      // what produced this version ("write"/"append"/"merge"/"compact"/…):
      // lets change readers treat commits by kind — e.g. ChangeFeed skips
      // "compact" metadata-only, since compaction preserves the row
      // multiset by contract. Optional: pre-field manifests parse as None
      // and fall back to the keyed diff.
      op: Option[String] = None,
      // commit wall-clock (epoch millis), MONOTONIC-corrected: stamped as
      // max(now, predecessor + 1) inside the commit loop, so version order
      // and time order agree even across writers with skewed clocks — the
      // invariant TIMESTAMP AS OF resolution depends on. Optional:
      // manifests written before the field existed resolve by VERSION AS
      // OF only.
      commitTimeMs: Option[Long] = None,
      // MANIFEST-LIST segmentation (Iceberg's manifest-file split, in
      // miniature): on the WIRE, `entries` holds only the commit's inline
      // tail and `segments` names immutable `_log/seg-*.json` files whose
      // concatenated entries (in listed order) precede it. A commit
      // carries every untouched segment BY NAME — O(touched + inline)
      // bytes written per commit instead of re-serializing all 10⁶ file
      // entries — and [[readManifest]] resolves the full list (cached per
      // immutable segment), so every consumer above this line still sees
      // plain `entries`. None = pre-segmentation manifest (fully inline).
      segments: Option[Seq[String]] = None,
      // CHECK constraints (name → boolean SQL predicate): carried verbatim
      // across every commit like `txn`; every writer refuses a batch with
      // a row where a predicate is FALSE (NULL passes — SQL CHECK
      // semantics). Added only through [[addCheckConstraint]], which
      // validates the EXISTING data first.
      constraints: Option[Map[String, String]] = None,
      // IDENTITY partition columns (Hive/Iceberg identity transform): every
      // batch writer routes rows through a partitioned layout so each data
      // file holds EXACTLY ONE value combination of these columns — which
      // makes the footer min/max stats exact (lo == hi) and manifest-level
      // pruning on partition predicates byte-precise, with zero reader
      // changes (the columns stay IN the files; the directory layout is
      // just routing). Carried verbatim across commits like `txn`; set at
      // create/replace time only. None/empty = unpartitioned (every
      // pre-field manifest).
      partitionCols: Option[Seq[String]] = None,
      // TOMBSTONES of dropped column names: the format reads parquet BY
      // NAME (no Iceberg field ids), so re-adding a dropped name would
      // RESURRECT stale values from every pre-drop file still listed —
      // [[addColumns]] refuses tombstoned names. Carried verbatim across
      // commits; a full REPLACE clears them (all files are new, nothing
      // to resurrect from). None/empty = nothing ever dropped.
      droppedCols: Option[Seq[String]] = None,
      // COLUMN MAPPING (Delta's columnMapping.mode=name, in miniature):
      // LOGICAL column name → the PHYSICAL name its data is stored under
      // in every parquet file. Sparse — only columns whose two names
      // differ appear; None/missing key = identity (every pre-mapping
      // manifest). `schemaDdl` is always the LOGICAL schema; data files
      // always carry PHYSICAL names, which NEVER change once written —
      // so `ALTER TABLE … RENAME COLUMN` is a pure metadata commit (the
      // logical name moves, the physical stays), and because renames
      // change names only (never types or positions) the row layout is
      // identical under both schemas — readers translate names at the
      // scan boundary and rows pass through untouched. Carried verbatim
      // across commits like `txn`; a full REPLACE clears it (all files
      // are new and written under their logical names).
      columnMapping: Option[Map[String, String]] = None)

  /** Wire form of one immutable manifest segment. */
  private case class SegmentFile(entries: Seq[FileEntry])

  private val LogDirName = "_log"
  private val ManifestRe = raw"manifest-(\d{8})\.json".r

  private implicit val jsonFormats: org.json4s.Formats = org.json4s.DefaultFormats

  private[catalog] def fsFor(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Manifest-layer cost counters (dev instrumentation — tools/ProfileFold
    * reads and resets them to attribute a fold's driver-side wall time;
    * always-on because the nanoTime bracket costs ~ns against filesystem
    * calls). Never read by library code paths.
    */
  private[graft] object ManifestMetrics {
    val listings = new java.util.concurrent.atomic.LongAdder
    val listingNanos = new java.util.concurrent.atomic.LongAdder
    val parses = new java.util.concurrent.atomic.LongAdder
    val parseNanos = new java.util.concurrent.atomic.LongAdder
    val publishes = new java.util.concurrent.atomic.LongAdder
    val publishNanos = new java.util.concurrent.atomic.LongAdder
    def reset(): Unit =
      Seq(listings, listingNanos, parses, parseNanos, publishes, publishNanos)
        .foreach(_.reset())
  }

  private[catalog] def manifestVersions(fs: FileSystem, dir: String): Seq[(Long, Path)] = {
    val t0 = System.nanoTime()
    val log = new Path(dir, LogDirName)
    val out =
      if (!fs.exists(log)) Seq.empty[(Long, Path)]
      else fs.listStatus(log).toSeq.flatMap { st =>
        st.getPath.getName match {
          case ManifestRe(v) => Some((v.toLong, st.getPath))
          case _ => None
        }
      }.sortBy(_._1)
    ManifestMetrics.listings.increment()
    ManifestMetrics.listingNanos.add(System.nanoTime() - t0)
    out
  }

  /** True iff the directory has at least one committed snapshot. */
  def exists(spark: SparkSession, dir: String): Boolean =
    manifestVersions(fsFor(spark, dir), dir).nonEmpty

  /** The latest committed snapshot's manifest. */
  def currentManifest(spark: SparkSession, dir: String): Option[Manifest] = {
    val fs = fsFor(spark, dir)
    manifestVersions(fs, dir).lastOption.map { case (_, p) => readManifest(fs, p) }
  }

  /** Parse one manifest file WITHOUT resolving its segment list — enough
    * for metadata probes (txn markers, commit stamps) that never touch
    * `entries`; [[readManifest]] adds the segment resolution.
    */
  private def parseManifest(fs: FileSystem, p: Path): Manifest = {
    val in = fs.open(p)
    try org.json4s.jackson.Serialization.read[Manifest](
      new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
    finally in.close()
  }

  private[catalog] def readManifest(fs: FileSystem, p: Path): Manifest = {
    val t0 = System.nanoTime()
    val raw = parseManifest(fs, p)
    val out = raw.segments match {
      case None => raw
      case Some(names) =>
        // resolve: segment entries (listed order) precede the inline tail;
        // `segments` stays populated so commit planning can carry-forward
        val log = p.getParent
        raw.copy(entries = names.flatMap(n => loadSegment(fs, new Path(log, n))) ++ raw.entries)
    }
    ManifestMetrics.parses.increment()
    ManifestMetrics.parseNanos.add(System.nanoTime() - t0)
    out
  }

  /** Segment files are immutable once referenced, so their parsed entries
    * cache per qualified path for the life of the JVM (bounded: the cache
    * clears wholesale past [[SegmentCacheMax]] — correctness never depends
    * on a hit). Re-reading a 10⁶-file table's history costs one parse per
    * DISTINCT segment, not per (version × segment).
    */
  private val SegmentCacheMax = 1024
  private val segmentCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[FileEntry]]()

  private def loadSegment(fs: FileSystem, p: Path): Seq[FileEntry] = {
    val key = fs.makeQualified(p).toString
    val hit = segmentCache.get(key)
    if (hit != null) hit
    else {
      val in = fs.open(p)
      val entries = try org.json4s.jackson.Serialization.read[SegmentFile](
        new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8)).entries
      finally in.close()
      if (segmentCache.size > SegmentCacheMax) segmentCache.clear()
      segmentCache.put(key, entries)
      entries
    }
  }

  private def writeSegment(fs: FileSystem, log: Path, entries: Seq[FileEntry]): String = {
    val name = s"seg-${java.util.UUID.randomUUID().toString.take(12)}.json"
    val out = fs.create(new Path(log, name), false)
    try out.write(org.json4s.jackson.Serialization.write(SegmentFile(entries))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    segmentCache.put(fs.makeQualified(new Path(log, name)).toString, entries)
    name
  }

  /** Inline entries per manifest before the tail seals into a fresh
    * segment. Tunable per session (`graft.snapshot.segmentSealThreshold`)
    * so specs can exercise segmentation with small tables; 512 keeps
    * segments big enough that a 10⁶-file table is ~2k segment names in
    * the manifest list.
    */
  private def sealThreshold(spark: SparkSession): Int =
    spark.conf.getOption("graft.snapshot.segmentSealThreshold").map { v =>
      try v.trim.toInt
      catch { case e: NumberFormatException => throw new IllegalArgumentException(
        s"graft.snapshot.segmentSealThreshold must be an integer, got '$v'", e) }
    }.getOrElse(512)

  /** Split a commit's FULL entry list into (inline tail, segment names):
    * every segment of the superseded manifest whose members ALL survive
    * unchanged (same path, same entry content — content can change when a
    * sidecar attaches) is carried by name without touching its bytes;
    * everything else — new files, survivors of partially-invalidated
    * segments — pools into the inline tail, which seals into fresh
    * segments in [[sealThreshold]]-sized slices. Commit I/O is therefore
    * O(touched segments + inline), never O(live files).
    */
  private def planWire(fs: FileSystem, spark: SparkSession, dir: String,
      cur: Option[Manifest], entries: Seq[FileEntry]): (Seq[FileEntry], Option[Seq[String]]) = {
    val log = new Path(dir, LogDirName)
    val byPath: Map[String, FileEntry] = entries.map(e => e.path -> e).toMap
    var covered = Set.empty[String]
    val carried = scala.collection.mutable.ArrayBuffer[String]()
    for (name <- cur.flatMap(_.segments).getOrElse(Seq.empty)) {
      val members = loadSegment(fs, new Path(log, name))
      if (members.nonEmpty && members.forall(m => byPath.get(m.path).contains(m))) {
        carried += name
        covered ++= members.map(_.path)
      }
    }
    var inline = entries.filterNot(e => covered(e.path))
    val thr = math.max(2, sealThreshold(spark))
    val sealedSegs = scala.collection.mutable.ArrayBuffer[String]()
    while (inline.length >= thr) {
      val (seg, rest) = inline.splitAt(thr)
      sealedSegs += writeSegment(fs, log, seg)
      inline = rest
    }
    val segs = (carried ++ sealedSegs).toSeq
    (inline, if (segs.isEmpty) None else Some(segs))
  }

  /** The latest snapshot as a DataFrame — only the manifest's files, so a
    * concurrent compact/merge (which only ADDS files before its commit)
    * cannot change what this snapshot reads. The frame is a
    * planner-integrated relation ([[scan]]): any filter applied to it —
    * DataFrame API, SQL over a temp view, join pushdowns — prunes manifest
    * entries at planning time.
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    scan(spark, dir, snapshot(spark, dir))

  /** Time travel: the table exactly as committed at `version` — including
    * its schema as of that version, and with the same planning-time
    * pruning as [[read]] (files are immutable, so an old manifest's stats
    * are as good as the current one's). Free with immutable files +
    * versioned manifests — available as long as [[vacuum]] retention still
    * covers that version (expired versions throw). `TIMESTAMP AS OF` is
    * `readVersion(spark, dir, versionAtTimestamp(spark, dir, ts))`.
    */
  def readVersion(spark: SparkSession, dir: String, version: Long): DataFrame =
    scan(spark, dir, manifestFor(spark, dir, Some(version)))

  /** Committed versions still readable (newest last). */
  def versions(spark: SparkSession, dir: String): Seq[Long] =
    manifestVersions(fsFor(spark, dir), dir).map(_._1)

  /** (version, commit wall-clock epoch-ms) per retained version, newest
    * last — the commit stamps [[versionAtTimestamp]] resolves against.
    * Versions committed before commit times existed carry None.
    */
  def commitTimes(spark: SparkSession, dir: String): Seq[(Long, Option[Long])] = {
    val fs = fsFor(spark, dir)
    // metadata probe: commit stamps are inline — skip segment resolution
    manifestVersions(fs, dir).map { case (v, p) => (v, parseManifest(fs, p).commitTimeMs) }
  }

  /** `TIMESTAMP AS OF` resolution: the LATEST retained version whose
    * commit stamp is <= `tsMillis` — "the table as a reader at that
    * instant saw it". Commit stamps are monotonic-corrected at commit
    * ([[commitLoop]]), so "latest stamp <= ts" and "latest version with
    * stamp <= ts" agree. Refuses loudly when `tsMillis` predates the
    * earliest retained commit (pre-history — there WAS no table then, or
    * the version has been vacuumed away) and when no retained manifest
    * carries a stamp (tables whose whole history predates commit times
    * travel by VERSION AS OF only).
    */
  def versionAtTimestamp(spark: SparkSession, dir: String, tsMillis: Long): Long = {
    val stamped = commitStamps(spark, dir, "time-travel by VERSION AS OF instead")
    val hit = stamped.filter(_._2 <= tsMillis)
    if (hit.isEmpty) {
      val (v0, t0) = stamped.head
      throw new IllegalStateException(
        s"TIMESTAMP AS OF ${java.time.Instant.ofEpochMilli(tsMillis)} predates the earliest " +
          s"retained commit of $dir (version $v0 at ${java.time.Instant.ofEpochMilli(t0)}); " +
          "earlier versions were never committed or have been expired by vacuum")
    }
    hit.last._1
  }

  /** The FIRST version whose commit stamp is >= `tsMillis` — the
    * streaming `startingTimestamp` anchor (Delta semantics: deliver
    * changes committed AT or AFTER the timestamp). A timestamp past the
    * newest commit returns (current + 1): the stream starts empty and
    * surfaces only future commits. A timestamp before the earliest
    * RETAINED commit resolves to that earliest version — the full
    * backfill an uncapped stream would deliver anyway; data expired by
    * vacuum cannot be conjured back, and starting empty would silently
    * DROP retained history the caller asked for.
    */
  def versionSinceTimestamp(spark: SparkSession, dir: String, tsMillis: Long): Long = {
    val stamped = commitStamps(spark, dir, "start the stream by startingVersion instead")
    stamped.find(_._2 >= tsMillis).map(_._1).getOrElse(stamped.last._1 + 1)
  }

  /** (version, commit stamp) of every stamped retained version, oldest
    * first. Refuses a table with no snapshot, and one whose retained
    * history carries no stamp at all — `instead` names the caller's
    * stamp-free alternative.
    */
  private def commitStamps(spark: SparkSession, dir: String,
      instead: String): Seq[(Long, Long)] = {
    val stamps = commitTimes(spark, dir)
    if (stamps.isEmpty) throw new IllegalStateException(s"no committed snapshot at $dir")
    val stamped = stamps.collect { case (v, Some(t)) => (v, t) }
    if (stamped.isEmpty) throw new IllegalStateException(
      s"snapshot at $dir has no commit timestamps (history predates commit-time stamps); " +
        instead)
    stamped
  }

  /** Table history, one row per retained version (newest last): live file
    * count, row count, total bytes, the delta vs the previous retained
    * version (files added/removed — how much the commit physically
    * changed), and the exactly-once txn watermarks. Metadata-only at any
    * table size (reads manifests, never data) — the DESCRIBE HISTORY
    * surface for audits and debugging retention.
    */
  def history(spark: SparkSession, dir: String): DataFrame = {
    val fs = fsFor(spark, dir)
    val ms = manifestVersions(fs, dir).map { case (_, p) => readManifest(fs, p) }
    val rows = ms.zipWithIndex.map { case (m, i) =>
      val prev: Set[String] =
        if (i == 0) Set.empty else ms(i - 1).entries.map(_.path).toSet
      val cur = m.entries.map(_.path).toSet
      (m.version, m.entries.length.toLong, m.entries.map(liveRows).sum,
        m.entries.map(_.bytes).sum,
        (cur -- prev).size.toLong, (prev -- cur).size.toLong,
        m.txn.getOrElse(Map.empty).map { case (k, v) => s"$k=$v" }.toSeq.sorted.mkString(","),
        m.op.getOrElse(""),
        m.commitTimeMs.map(t => new java.sql.Timestamp(t)).orNull)
    }
    import spark.implicits._
    rows.toDF("version", "n_files", "n_rows", "n_bytes",
      "files_added", "files_removed", "txn", "op", "commit_time")
  }

  /** Restore the table to the state of `version` by committing that
    * snapshot's file list (and schema, and exactly-once txn watermarks) as a
    * NEW version — the bad commits stay in history, nothing is rewritten or
    * deleted, and readers switch atomically with the manifest rename. Data
    * files are immutable and shared across manifests, so this is metadata-
    * only regardless of table size. Restoring the txn map matters: a
    * rolled-back exactly-once append is gone from the data, so a re-delivery
    * of that batch must apply again, not be swallowed by a newer watermark.
    *
    * Fails loudly if `version` has expired or any of its files were already
    * [[vacuum]]ed — a rollback target must be inside the retention window.
    * Returns the new (restored) version number.
    */
  def rollback(spark: SparkSession, dir: String, version: Long): Long = {
    val fs = fsFor(spark, dir)
    val m = try manifestFor(spark, dir, Some(version)) catch {
      case e: IllegalStateException =>
        throw new IllegalStateException(s"cannot roll back: ${e.getMessage}", e)
    }
    val missing = m.entries.filterNot(e => fs.exists(new Path(dir, e.path))) ++
      m.entries.flatMap(_.dv).filterNot(d => fs.exists(new Path(dir, d.path)))
        .map(d => FileEntry(d.path, 0L, 0L, None, None))
    if (missing.nonEmpty) throw new IllegalStateException(
      s"cannot roll back to version $version at $dir: ${missing.length} data file(s) " +
        s"already vacuumed (e.g. ${missing.take(3).map(_.path).mkString(", ")})")
    // replace-all semantics: a restore serializes AFTER anything that
    // raced it — the restored state is exactly version `version`
    commitLoop(spark, dir, op = "rollback")(_ => Some((m.entries, txnOf(Some(m)), m.schemaDdl))).get
  }

  private def snapshot(spark: SparkSession, dir: String): Manifest =
    currentManifest(spark, dir).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $dir"))

  /** The manifest entries that MAY hold a row matching `pred`, judged from
    * per-file column stats ([[FileStats.mayMatch]]); entries without stats
    * are always kept. The candidate files of [[readWhere]] and of every
    * row-level write.
    *
    * `pred` resolves against the snapshot's recorded schema through the
    * REAL analyzer, then constant-folds — yielding the coerced Catalyst
    * tree mayMatch walks; legacy manifests without a schema prune nothing.
    * A predicate that doesn't analyze (wrong column name, type error)
    * fails here, loudly, before any I/O. Attribute names translate
    * LOGICAL → PHYSICAL afterwards: footer stats are keyed by the names
    * files store.
    */
  private[graft] def pruneEntries(spark: SparkSession, m: Manifest,
      pred: org.apache.spark.sql.Column): Seq[FileEntry] =
    m.schemaDdl.flatMap { ddl =>
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(ddl))
      org.apache.spark.sql.graftbridge.Bridge.analyzedFilterCondition(empty.filter(pred))
        .map(FileStats.normalize)
        .map(toPhysicalExpr(_, mappingOf(Some(m))))
    } match {
      case None => m.entries
      case Some(e) => m.entries.filter(en => en.stats.forall(FileStats.mayMatch(e, _, en.rows)))
    }

  /** The manifest entries that may match ALL of `filters` — resolved
    * Catalyst data filters as the planner hands them to a FileIndex.
    * Entries without stats are always kept; unsupported filter shapes
    * prune nothing ([[FileStats.mayMatch]]'s conservative contract).
    */
  private[graft] def pruneForFilters(m: Manifest, filters: Seq[Expression]): Seq[FileEntry] = {
    val norm = filters.map(FileStats.normalize)
    val byStats =
      m.entries.filter(e => norm.forall(f => e.stats.forall(FileStats.mayMatch(f, _, e.rows))))
    transformPrune(m, byStats, norm)
  }

  /** TRANSFORM pruning on top of the stats pass, for every non-identity
    * partition field whose routing directory survives in the file's path:
    *
    *  - BUCKET: a point predicate admits exactly one bucket id, so a file
    *    routed to a DIFFERENT id cannot match — the guaranteed 1/n scan
    *    for key lookups (hashes are not ordered: range predicates never
    *    prune buckets);
    *  - TEMPORAL / TRUNCATE: both transforms are MONOTONE in the source
    *    value, so `col ⊙ lit` maps to `T(col) ⊙ T(lit)` — equality, IN,
    *    and RANGE predicates on the RAW column prune by the file's
    *    transform ordinal (Iceberg's hidden partitioning: the user never
    *    mentions the transform); a routed file also provably holds no
    *    NULLs in the source column (nulls route to the default
    *    partition), so `IS NULL` prunes it outright.
    *
    * Conservative like [[FileStats.mayMatch]]: un-routed files (no
    * routing directory — streaming epochs, row-level rewrites),
    * cast-wrapped attributes, type-mismatched literals, escaped string
    * directory values, and unhandled predicate shapes keep the file.
    */
  private def transformPrune(m: Manifest, entries: Seq[FileEntry],
      norm: Seq[Expression]): Seq[FileEntry] = {
    import org.apache.spark.sql.catalyst.expressions._
    val fields = PartitionFields.parseAll(m.partitionCols.getOrElse(Seq.empty))
      .filterNot(_.isInstanceOf[PartitionFields.Identity])
    if (fields.isEmpty || norm.isEmpty) return entries
    // the transform input type must be the column's STORED type — resolve
    // it from the manifest schema; absent schema (legacy manifest) → no
    // prune
    val schema = m.schemaDdl.map(org.apache.spark.sql.types.StructType.fromDDL).getOrElse {
      return entries
    }

    def bare(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => Some(u.name)
      case _ => None // a cast changes the transform input — never prune through it
    }

    // the file's recovered transform value, the literal-side transform,
    // and whether order comparisons are meaningful for this field
    def fileValue(f: PartitionFields.Field, dt: org.apache.spark.sql.types.DataType,
        path: String): Option[Any] = f match {
      case b: PartitionFields.Bucket => PartitionFields.bucketIdFromPath(path, b)
      case t: PartitionFields.Truncate => PartitionFields.truncValueFromPath(path, t, dt)
      case _ => PartitionFields.valueFromPath(path, f)
    }
    def litValue(f: PartitionFields.Field, dt: org.apache.spark.sql.types.DataType,
        v: Any): Option[Any] = f match {
      case b: PartitionFields.Bucket => Some(PartitionFields.bucketId(v, dt, b.n))
      case _ => PartitionFields.transformValue(v, dt, f)
    }
    def ordered(f: PartitionFields.Field): Boolean = !f.isInstanceOf[PartitionFields.Bucket]
    def cmp(a: Any, b: Any): Int = (a, b) match {
      case (x: Int, y: Int) => Integer.compare(x, y)
      case (x: Long, y: Long) => java.lang.Long.compare(x, y)
      case (x: org.apache.spark.unsafe.types.UTF8String,
            y: org.apache.spark.unsafe.types.UTF8String) => x.binaryCompare(y)
      case _ => 0 // same-field values share a domain; unreachable
    }

    // filters from the relation layers carry PHYSICAL attribute names; a
    // partition column is normally unrenamed (both names coincide), but a
    // spec set on a previously-renamed column matches through its
    // physical name too
    val mapping = mappingOf(Some(m))

    def admits(pred: Expression, f: PartitionFields.Field,
        dt: org.apache.spark.sql.types.DataType, fv: Any): Boolean = {
      def isCol(a: Expression): Boolean = bare(a).exists(n =>
        n.equalsIgnoreCase(f.col) || n.equalsIgnoreCase(physicalName(mapping, f.col)))
      def rel(l: Literal)(test: Int => Boolean): Boolean =
        l.dataType != dt || l.value == null ||
          litValue(f, dt, l.value).forall(v => test(cmp(fv, v)))
      pred match {
        case And(l, r) => admits(l, f, dt, fv) && admits(r, f, dt, fv)
        case Or(l, r) => admits(l, f, dt, fv) || admits(r, f, dt, fv)
        case EqualTo(a, l: Literal) if isCol(a) && l.dataType == dt && l.value != null =>
          litValue(f, dt, l.value).forall(v => cmp(fv, v) == 0)
        case EqualTo(l: Literal, a) if isCol(a) => admits(EqualTo(a, l), f, dt, fv)
        case EqualNullSafe(a, l: Literal) if l.value != null =>
          admits(EqualTo(a, l), f, dt, fv)
        case In(a, vs) if isCol(a) && vs.forall(_.isInstanceOf[Literal]) =>
          vs.exists { case l: Literal =>
            l.value == null || l.dataType != dt ||
              litValue(f, dt, l.value).forall(v => cmp(fv, v) == 0)
          }
        case InSet(a, vs) if isCol(a) && a.resolved && a.dataType == dt =>
          vs.exists(v => v == null || litValue(f, dt, v).forall(cmp(fv, _) == 0))
        case GreaterThan(a, l: Literal) if ordered(f) && isCol(a) => rel(l)(_ >= 0)
        case GreaterThanOrEqual(a, l: Literal) if ordered(f) && isCol(a) => rel(l)(_ >= 0)
        case LessThan(a, l: Literal) if ordered(f) && isCol(a) => rel(l)(_ <= 0)
        case LessThanOrEqual(a, l: Literal) if ordered(f) && isCol(a) => rel(l)(_ <= 0)
        // literal-first comparisons flip the relation — guarded on the
        // other operand being the field's attribute: an un-folded
        // literal-vs-literal comparison would otherwise ping-pong between
        // the flipped forms forever (it falls to the conservative default
        // instead). Same guard on EqualTo's flip for uniformity.
        case GreaterThan(l: Literal, a) if isCol(a) => admits(LessThan(a, l), f, dt, fv)
        case GreaterThanOrEqual(l: Literal, a) if isCol(a) =>
          admits(LessThanOrEqual(a, l), f, dt, fv)
        case LessThan(l: Literal, a) if isCol(a) => admits(GreaterThan(a, l), f, dt, fv)
        case LessThanOrEqual(l: Literal, a) if isCol(a) =>
          admits(GreaterThanOrEqual(a, l), f, dt, fv)
        case IsNull(a) if isCol(a) && ordered(f) => false // routed ⇒ no nulls
        case _ => true
      }
    }

    entries.filter { e =>
      fields.forall { f =>
        schema.fields.find(_.name.equalsIgnoreCase(f.col)) match {
          case None => true
          case Some(sf) => fileValue(f, sf.dataType, e.path) match {
            case None => true // un-routed file: may hold anything
            case Some(fv) => norm.forall(p => admits(p, f, sf.dataType, fv))
          }
        }
      }
    }
  }

  /** The manifest at `version` (None = current); a version never
    * committed, or expired by vacuum, throws.
    */
  private[graft] def manifestFor(spark: SparkSession, dir: String,
      version: Option[Long]): Manifest = version match {
    case None => snapshot(spark, dir)
    case Some(v) =>
      val fs = fsFor(spark, dir)
      readManifest(fs, manifestPath(fs, dir, v))
  }

  private def manifestPath(fs: FileSystem, dir: String, version: Long): Path =
    manifestVersions(fs, dir).collectFirst { case (v, p) if v == version => p }
      .getOrElse(throw new IllegalStateException(
        s"version $version not available at $dir (never committed, or expired by vacuum)"))

  /** [[read]] restricted — at the MANIFEST level, before any footer is
    * opened — to files whose column stats admit a row matching `pred`; the
    * predicate is then still applied row-wise, so the result is exactly
    * `read(...).filter(pred)`, and `inputFiles` lists only the admitted
    * files. The same skipping Snowflake does with micro-partition metadata
    * and Delta with per-file stats, driven here by walking the predicate's
    * Catalyst expression tree against the manifest. Unsupported predicate
    * shapes skip nothing and stay correct.
    */
  def readWhere(spark: SparkSession, dir: String, pred: org.apache.spark.sql.Column): DataFrame = {
    val m = snapshot(spark, dir)
    scan(spark, dir, m.copy(entries = pruneEntries(spark, m, pred))).filter(pred)
  }

  /** Row-level DELETE, copy-on-write: rewrite ONLY the files whose stats
    * admit a matching row (everything else moves to the new snapshot by
    * reference), dropping rows where `pred` is TRUE. SQL DELETE semantics:
    * rows where the predicate evaluates NULL survive. Readers of the old
    * snapshot still see every pre-delete row until [[vacuum]].
    *
    * At 100 TB this is the difference between a GDPR erasure touching the
    * handful of files a user's rows cluster in (after [[compact]] with a
    * key-clustering layout) and rewriting the whole table.
    *
    * @return number of rows deleted
    */
  def delete(spark: SparkSession, dir: String, pred: org.apache.spark.sql.Column): Long =
    retryingRewrite(dir) {
      val m = snapshot(spark, dir)
      val rewrite = pruneEntries(spark, m, pred)
      if (rewrite.isEmpty) 0L
      else {
        val base = scan(spark, dir, m.copy(entries = rewrite))
        val survivors = base.filter(!coalesce(pred, lit(false)))
        val entries = writeData(spark, survivors, dir, m.partitionCols.getOrElse(Seq.empty),
          mapping = mappingOf(Some(m)))
        // live-row accounting: the base read already dropped DV-deleted
        // rows, so the survivors compare against LIVE counts
        val deleted = rewrite.map(liveRows).sum - entries.map(_.rows).sum
        if (deleted == 0L) 0L // nothing actually matched: don't churn files
        else {
          val removed = rewrite.map(_.path).toSet
          commitLoop(spark, dir, op = "delete") { cur =>
            Some((rebasedEntries(dir, Some(m), cur, removed, removed, entries),
              txnOf(cur), cur.flatMap(_.schemaDdl).orElse(m.schemaDdl)))
          }
          deleted
        }
      }
    }

  /** Row-level UPDATE, copy-on-write with the same stats-pruned rewrite set
    * as [[delete]]: rows where `pred` is TRUE get each `set` column
    * replaced; all other rows (including NULL-predicate rows) are carried
    * unchanged. Assignments must not change the schema — a type change is
    * refused loudly, like [[mergeSchemas]].
    *
    * @return number of rows updated
    */
  def update(spark: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): Long = retryingRewrite(dir) {
    val m = snapshot(spark, dir)
    val rewrite = pruneEntries(spark, m, pred)
    if (rewrite.isEmpty) 0L
    else {
      val base = scan(spark, dir, m.copy(entries = rewrite))
      val unknown = set.keySet -- base.columns.toSet
      require(unknown.isEmpty, s"UPDATE assigns columns not in the table: ${unknown.mkString(", ")}")
      val hit = coalesce(pred, lit(false))
      val updated = base.select(base.columns.map { c =>
        set.get(c).map(v => when(hit, v).otherwise(col(s"`$c`")).as(c)).getOrElse(col(s"`$c`"))
      }.toSeq: _*)
      base.schema.fields.zip(updated.schema.fields).foreach { case (b, u) =>
        require(b.dataType.catalogString == u.dataType.catalogString,
          s"UPDATE cannot change column '${b.name}': " +
            s"${b.dataType.catalogString} -> ${u.dataType.catalogString}")
      }
      val nUpdated = base.filter(hit).count()
      if (nUpdated == 0L) 0L
      else {
        enforceOnBatch(spark, dir, Some(m), updated, s"UPDATE of $dir")
        val entries = writeData(spark, updated, dir, m.partitionCols.getOrElse(Seq.empty),
          mapping = mappingOf(Some(m)))
        val removed = rewrite.map(_.path).toSet
        commitLoop(spark, dir, op = "update") { cur =>
          Some((rebasedEntries(dir, Some(m), cur, removed, removed, entries),
            txnOf(cur), cur.flatMap(_.schemaDdl).orElse(m.schemaDdl)))
        }
        nUpdated
      }
    }
  }

  /** THE snapshot scan: `m`'s entries (the whole snapshot, or any subset a
    * caller pruned to) as a PLANNER-INTEGRATED relation — a
    * [[SnapshotFileIndex]] under Spark's own parquet file scan. Every read
    * of the table builds its frame here. Filters applied to the frame
    * prune manifest entries at planning time, with parquet row-group
    * pushdown and column pruning composing on top; planning never lists
    * the filesystem.
    *
    * The relation reads the PHYSICAL schema (what the parquet footers
    * store — [[Manifest.columnMapping]]) and one final aliasing Project
    * restores the logical names; filters and pruning push straight
    * through it. A legacy manifest without a recorded schema reads with
    * the schema of one footer, read on the driver; an empty entry list with one
    * is an ordinary empty table.
    *
    * Deletion vectors apply here and nowhere else in the Scala read path:
    * rows are tagged with [[PosFileCol]] (the file path in the form
    * `_metadata.file_path` reports) and [[PosIdxCol]] (Spark's native
    * parquet `_metadata.row_index`, correct under row-group skipping) and
    * anti-joined against the vectors. The tags cost a metadata read, so
    * they exist only when a vector does or when `positions` asks for them
    * (the merge-on-read writers locate rows by them); with `positions` the
    * frame keeps them, and the next MoR delete's positions are therefore
    * always disjoint from the already-deleted set.
    */
  private[catalog] def scan(spark: SparkSession, dir: String, m: Manifest,
      positions: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types.StructType
    if (m.entries.isEmpty && m.schemaDdl.isDefined)
      // a fully-pruned (or fully-deleted) snapshot with a recorded schema is
      // an ordinary empty table, not an error (the LOGICAL schema — users
      // never see physical names)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType.fromDDL(m.schemaDdl.get))
    require(m.entries.nonEmpty,
      s"snapshot at $dir has no data files matching the requested range")
    val mapping = mappingOf(Some(m))
    val index = new SnapshotFileIndex(spark, dir, m)
    val fileSchema = m.schemaDdl match {
      case Some(ddl) => physicalSchema(StructType.fromDDL(ddl), mapping)
      case None => org.apache.spark.sql.graftbridge.Bridge.footerSchema(spark, index.allFiles())
        .getOrElse(throw new IllegalStateException(s"cannot infer the schema of $dir"))
    }
    // nullable like every file source's schema: manifests written before
    // mergeSchemas nullable-ized appended columns would otherwise hide
    // pre-evolution NULLs
    val plain = org.apache.spark.sql.graftbridge.Bridge.parquetRelation(spark, index, fileSchema)
    val dvEntries = m.entries.filter(_.dv.isDefined)
    val live =
      if (!positions && dvEntries.isEmpty) plain // the common case: no tags
      else {
        val tagged = plain.select(col("*"),
          col("_metadata.file_path").as(PosFileCol), col("_metadata.row_index").as(PosIdxCol))
        val kept = if (dvEntries.isEmpty) tagged else withoutDeleted(spark, dir, tagged, dvEntries)
        if (positions) kept else kept.drop(PosFileCol, PosIdxCol)
      }
    if (mapping.isEmpty) live
    else {
      val reverse = mapping.map(_.swap) // physical → logical; injective by construction
      live.select(live.columns.map(c =>
        reverse.get(c).map(l => col(s"`$c`").as(l)).getOrElse(col(s"`$c`"))).toSeq: _*)
    }
  }

  // ------------------------------------------------- deletion-vector tier

  private[catalog] val PosFileCol = "__dv_file"
  private[catalog] val PosIdxCol = "__dv_pos"

  /** A manifest-relative path in the string form `_metadata.file_path`
    * reports — URL-encoded SparkPath. Every map joined or keyed against
    * [[PosFileCol]] MUST use this form: raw `Path.toString` only
    * coincides with it until a partition directory carries a
    * URI-escapable character (a Hive-escaped timestamp value), at which
    * point a raw-keyed DV join silently resurrects deleted rows.
    */
  private def posFileForm(qualified: Path, rel: String): String =
    org.apache.spark.paths.SparkPath.fromPath(new Path(qualified, rel)).toString

  /** `tagged` minus the rows at the positions `dvEntries`' vectors delete:
    * a left anti-join on ([[PosFileCol]], [[PosIdxCol]]). Data filters
    * still push THROUGH the join to the scan (it only consumes the tag
    * columns); the build side is the deleted-position set — usually tiny
    * relative to data, so it is broadcast while it plausibly fits and
    * shuffled past that.
    */
  private def withoutDeleted(spark: SparkSession, dir: String, tagged: DataFrame,
      dvEntries: Seq[FileEntry]): DataFrame = {
    val deleted = dvPositions(spark, dir, dvEntries.map(e => (e, e.dv.map(_.path), None)))
    val totalDeleted = dvEntries.map(_.dv.get.deleted).sum
    val build = if (totalDeleted <= 5000000L) broadcast(deleted) else deleted
    tagged.join(build, Seq(PosFileCol, PosIdxCol), "left_anti")
  }

  /** The rows of `triples`' files at positions in (plus − minus), where
    * plus/minus are deletion-vector blob paths (None = empty set) — the
    * change-feed primitive: a MoR delete's newly-hidden rows are
    * (curDv − prevDv), a rollback's restored rows are (prevDv − curDv).
    * Reads the files with NO vector applied (the diffed rows are by
    * definition hidden from a normal read on one side) under `m`'s schema,
    * and inner-joins the position diff; cost is O(diffed files) reads and
    * O(diff) join rows.
    */
  private[catalog] def rowsAtDvDiff(spark: SparkSession, dir: String,
      triples: Seq[(FileEntry, Option[String], Option[String])], m: Manifest): DataFrame = {
    val nonEmpty = triples.filter { case (_, plus, minus) => plus != minus }
    if (nonEmpty.isEmpty)
      return scan(spark, dir, m.copy(entries = Seq.empty)) // empty frame, right schema
    scan(spark, dir, m.copy(entries = nonEmpty.map(_._1.copy(dv = None))), positions = true)
      .join(broadcast(dvPositions(spark, dir, nonEmpty)), Seq(PosFileCol, PosIdxCol))
      .drop(PosFileCol, PosIdxCol)
  }

  /** ([[PosFileCol]], [[PosIdxCol]]) rows of the positions in each triple's
    * `plus` vector and not in its `minus` vector (blob paths; None = empty
    * set). Blob bytes load on EXECUTORS (one tiny sequential read per
    * blob), never on the driver.
    */
  private def dvPositions(spark: SparkSession, dir: String,
      triples: Seq[(FileEntry, Option[String], Option[String])]): DataFrame = {
    val q = qualifiedDir(spark, dir)
    val refs = triples.map { case (e, plus, minus) => (posFileForm(q, e.path), plus, minus) }
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val dirStr = dir
    import spark.implicits._
    spark.createDataset(refs)
      .mapPartitions { it =>
        lazy val fs = new Path(dirStr).getFileSystem(conf.value)
        def posOf(rel: Option[String]): Array[Long] =
          rel.map(r => readDvBlob(fs, new Path(dirStr, r))).getOrElse(Array.empty[Long])
        it.flatMap { case (f, plus, minus) =>
          val minusSet = posOf(minus).toSet
          posOf(plus).iterator.filterNot(minusSet).map(p => (f, p)) }
      }
      .toDF(PosFileCol, PosIdxCol)
  }

  /** Blob wire format: one signed big-endian int count, then that many
    * big-endian longs (sorted ascending). Small, append-free, immutable.
    */
  private[catalog] def writeDvBlob(fs: FileSystem, p: Path, sorted: Array[Long]): Unit = {
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(fs.create(p, false)))
    try { out.writeInt(sorted.length); sorted.foreach(out.writeLong) } finally out.close()
  }

  private[catalog] def readDvBlob(fs: FileSystem, p: Path): Array[Long] = {
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(fs.open(p)))
    try { val n = in.readInt(); Array.fill(n)(in.readLong()) } finally in.close()
  }

  /** Row-level DELETE, MERGE-ON-READ: instead of rewriting every candidate
    * file ([[delete]]'s copy-on-write), write one deletion-vector blob per
    * TOUCHED file — the sorted positions of its newly-deleted rows, merged
    * with any prior vector — and commit a manifest whose entries reference
    * the new blobs; not one data byte is rewritten. Readers drop the
    * positions at scan time (every read path: Scala, planner relation,
    * SQL catalog). At 100 TB with frequent small deletes this is the
    * write-amplification fix: a k-row delete costs O(k) sidecar bytes
    * instead of rewriting each touched gigabyte; [[compact]] (or `CALL
    * compact`) later rewrites files clean and drops the vectors.
    *
    * Same SQL semantics as [[delete]] (NULL-predicate rows survive) and
    * the same serializability discipline: a concurrent rewrite OR
    * concurrent deletion-vector commit on a touched file conflicts and
    * re-runs — two racing MoR deletes must compose, not lose positions.
    *
    * @return number of rows deleted
    */
  def deleteMoR(spark: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column): Long = retryingRewrite(dir) {
    val m = snapshot(spark, dir)
    val candidates = pruneEntries(spark, m, pred)
    if (candidates.isEmpty) 0L
    else {
      val matched = scan(spark, dir, m.copy(entries = candidates), positions = true)
        .filter(coalesce(pred, lit(false)))
        .select(col(PosFileCol), col(PosIdxCol))
      val commitName = "c-" + java.util.UUID.randomUUID().toString.take(12)
      val touched = writeDvBlobs(spark, dir, commitName, matched, candidates)
      if (touched.isEmpty) 0L
      else {
        val newlyDeleted = touched.map(t => t.dv.deleted - t.priorDeleted).sum
        commitLoop(spark, dir, op = "delete") { cur =>
          Some((withVectors(dir, cur, touched, "MoR delete"),
            txnOf(cur), cur.flatMap(_.schemaDdl).orElse(m.schemaDdl)))
        }
        newlyDeleted
      }
    }
  }

  /** Row-level UPDATE, MERGE-ON-READ: the matched rows' positions become
    * deletion vectors on their files (no data rewritten) and the updated
    * row images append as new files — one atomic commit. The
    * copy-on-write [[update]] remains the path that keeps files clean;
    * this one wins when matches are sparse across big files.
    *
    * @return number of rows updated
    */
  def updateMoR(spark: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): Long = retryingRewrite(dir) {
    val m = snapshot(spark, dir)
    val candidates = pruneEntries(spark, m, pred)
    if (candidates.isEmpty) 0L
    else {
      val base = scan(spark, dir, m.copy(entries = candidates), positions = true)
      val dataCols = base.columns.filterNot(c => c == PosFileCol || c == PosIdxCol).toSeq
      val unknown = set.keySet -- dataCols.toSet
      require(unknown.isEmpty,
        s"UPDATE assigns columns not in the table: ${unknown.mkString(", ")}")
      val hit = base.filter(coalesce(pred, lit(false))).persist()
      try {
        val updated = hit.select(dataCols.map { c =>
          set.get(c).map(_.as(c)).getOrElse(col(s"`$c`"))
        }: _*)
        // refuse type-changing assignments like the COW path does
        val priorStruct = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl.getOrElse(
          throw new IllegalStateException(s"snapshot at $dir has no recorded schema")))
        priorStruct.fields.zip(updated.schema.fields).foreach { case (b, u) =>
          require(b.dataType.catalogString == u.dataType.catalogString,
            s"UPDATE cannot change column '${b.name}': " +
              s"${b.dataType.catalogString} -> ${u.dataType.catalogString}")
        }
        enforceOnBatch(spark, dir, Some(m), updated, s"MoR UPDATE of $dir")
        val commitName = "c-" + java.util.UUID.randomUUID().toString.take(12)
        val touched = writeDvBlobs(spark, dir, commitName,
          hit.select(col(PosFileCol), col(PosIdxCol)), candidates)
        if (touched.isEmpty) 0L
        else {
          val nUpdated = touched.map(t => t.dv.deleted - t.priorDeleted).sum
          val newEntries = writeData(spark, updated, dir, m.partitionCols.getOrElse(Seq.empty),
            mapping = mappingOf(Some(m)))
          commitLoop(spark, dir, op = "update") { cur =>
            Some((withVectors(dir, cur, touched, "MoR update") ++ newEntries,
              txnOf(cur), cur.flatMap(_.schemaDdl).orElse(m.schemaDdl)))
          }
          nUpdated
        }
      } finally hit.unpersist()
    }
  }

  /** One touched file of a MoR commit: its (new, merged) vector, plus what
    * it merged FROM — the conflict check re-verifies the prior vector is
    * still current at publish time.
    */
  private case class DvTouch(path: String, dv: DvRef,
      priorDv: Option[String], priorDeleted: Long)

  /** `cur`'s entries with `touched`'s new vectors attached — the publish
    * step of every merge-on-read commit. Serializability: every touched
    * file must still be live with the SAME vector the op (`what`) merged
    * from; a winner that rewrote the file or attached its own vector
    * invalidates the blob, and the op re-runs.
    */
  private def withVectors(dir: String, cur: Option[Manifest], touched: Seq[DvTouch],
      what: String): Seq[FileEntry] = {
    val curEntries = cur.map(_.entries).getOrElse(Seq.empty)
    val curByPath = curEntries.map(e => e.path -> e).toMap
    touched.foreach { t =>
      val curE = curByPath.getOrElse(t.path, throw new SnapshotConflictException(
        s"concurrent commit at $dir removed ${t.path} this $what read; re-running"))
      if (curE.dv.map(_.path) != t.priorDv) throw new SnapshotConflictException(
        s"concurrent commit at $dir changed the deletion vector of ${t.path}; re-running")
    }
    val byPath = touched.map(t => t.path -> t).toMap
    curEntries.map(e => byPath.get(e.path).fold(e)(t => e.copy(dv = Some(t.dv))))
  }

  /** Group `matched` (qualified path, position) rows by file and write ONE
    * merged blob per touched file into `commitName/` — executor-side:
    * positions never centralize on the driver; only O(touched files)
    * (path, blob, count) triples return. Prior vectors merge in on the
    * executor (their positions are disjoint from the new ones by
    * construction — the matching scan already applied them).
    */
  private def writeDvBlobs(spark: SparkSession, dir: String, commitName: String,
      matched: DataFrame, candidates: Seq[FileEntry]): Seq[DvTouch] = {
    val qualified = qualifiedDir(spark, dir)
    val fullToEntry: Map[String, FileEntry] =
      candidates.map(e => posFileForm(qualified, e.path) -> e).toMap
    val priorByFull: Map[String, Option[String]] =
      fullToEntry.map { case (f, e) => f -> e.dv.map(_.path) }
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val dirStr = dir
    val priorB = spark.sparkContext.broadcast(priorByFull)
    import spark.implicits._
    val written = matched
      .groupBy(col(PosFileCol)).agg(sort_array(collect_set(col(PosIdxCol))).as("ps"))
      .as[(String, Seq[Long])]
      .mapPartitions { it =>
        lazy val fs = new Path(dirStr).getFileSystem(conf.value)
        it.map { case (f, newPos) =>
          val prior = priorB.value.getOrElse(f, None)
            .map(rel => readDvBlob(fs, new Path(dirStr, rel))).getOrElse(Array.empty[Long])
          val all = (prior ++ newPos).sorted
          val digest = java.security.MessageDigest.getInstance("MD5")
            .digest(f.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            .map("%02x".format(_)).mkString.take(16)
          val rel = s"$commitName/dv-$digest.bin"
          writeDvBlob(fs, new Path(dirStr, rel), all)
          (f, rel, all.length.toLong)
        }
      }.collect().toSeq
    written.map { case (f, rel, total) =>
      val e = fullToEntry(f)
      DvTouch(e.path, DvRef(rel, total), e.dv.map(_.path), e.dv.map(_.deleted).getOrElse(0L))
    }
  }

  /** Additive schema merge: prior columns keep their order, genuinely new
    * columns append; changing an existing column's type is refused loudly
    * (silent coercion at 100 TB is how tables rot).
    *
    * `reserved` are PHYSICAL names still occupied in retained data files
    * without a logical owner of that name — DROPPED column tombstones and
    * the storage names behind RENAMEs ([[reservedPhysicals]]): a batch
    * whose schema would ADD one of those names is refused on EVERY
    * widening path (append, exactly-once append, the streaming sink's
    * epoch commit, merge), not just ALTER TABLE ADD COLUMNS — new columns
    * store under their own name, so the collision would resurrect stale
    * values out of every pre-drop/pre-rename file still listed in the
    * manifest.
    */
  private[graft] def mergeSchemas(prior: Option[org.apache.spark.sql.types.StructType],
      next: org.apache.spark.sql.types.StructType,
      reserved: Set[String] = Set.empty): org.apache.spark.sql.types.StructType =
    prior match {
      case None => next
      case Some(p) =>
        next.fields.foreach { f =>
          p.fields.find(_.name == f.name).foreach { pf =>
            require(pf.dataType.catalogString == f.dataType.catalogString,
              s"schema evolution cannot change column '${f.name}': " +
                s"${pf.dataType.catalogString} -> ${f.dataType.catalogString}")
          }
        }
        val added = next.fields.filterNot(f => p.fieldNames.contains(f.name))
        val resurrected = added.map(_.name)
          .filter(n => reserved.exists(_.equalsIgnoreCase(n)))
        require(resurrected.isEmpty,
          s"schema evolution cannot add column(s) ${resurrected.mkString(", ")}: the name " +
            "is still occupied in retained data files (a previously DROPPED column's " +
            "bytes, or the storage name behind a RENAME) — widening the schema with it " +
            "would resurrect stale values (reads are name-based). Drop it from the " +
            "batch or pick another name; REPLACE the table to renew the file set")
        // appended columns MUST record as nullable regardless of the
        // batch's nullability: every pre-evolution file reads NULL for
        // them, and a non-nullable attribute would let the planner
        // constant-fold `IS NULL` over those rows to false
        org.apache.spark.sql.types.StructType(
          p.fields ++ added.map(_.copy(nullable = true)))
    }

  /** The DROP COLUMN tombstones carried at a manifest (empty when nothing
    * was ever dropped) — what every schema-widening path must refuse to
    * re-add. Recorded as PHYSICAL names ([[dropColumn]]): the tombstone
    * protects against a new column aliasing bytes that still sit in
    * retained files, and files store physical names — for a never-renamed
    * column the two coincide, so the recorded name is also the one users
    * recognize in refusal messages.
    */
  private def droppedOf(m: Option[Manifest]): Seq[String] =
    m.flatMap(_.droppedCols).getOrElse(Seq.empty)

  // ------------------------------------------------- column mapping

  /** The logical→physical column mapping at a manifest (empty = identity,
    * which is every table never touched by RENAME COLUMN).
    */
  private[graft] def mappingOf(m: Option[Manifest]): Map[String, String] =
    m.flatMap(_.columnMapping).getOrElse(Map.empty)

  /** The PHYSICAL (file-stored) name of a logical column — identity for
    * unmapped names. Case-insensitive on the logical side, matching
    * Spark's default resolution.
    */
  private[graft] def physicalName(mapping: Map[String, String], col: String): String =
    mapping.getOrElse(col,
      mapping.collectFirst { case (l, p) if l.equalsIgnoreCase(col) => p }.getOrElse(col))

  /** `schema` with every field renamed to its physical name (type, order,
    * nullability untouched — mapping renames, never restructures).
    */
  private[graft] def physicalSchema(schema: org.apache.spark.sql.types.StructType,
      mapping: Map[String, String]): org.apache.spark.sql.types.StructType =
    if (mapping.isEmpty) schema
    else org.apache.spark.sql.types.StructType(
      schema.fields.map(f => f.copy(name = physicalName(mapping, f.name))))

  /** Project `df`'s (logical-named) columns to their physical names for
    * writing — a pure rename, row layout identical.
    */
  private def toPhysical(df: DataFrame, mapping: Map[String, String]): DataFrame =
    if (mapping.isEmpty) df
    else df.select(df.columns.map(c => col(s"`$c`").as(physicalName(mapping, c))).toSeq: _*)

  /** Rewrite a resolved predicate's attribute references from logical to
    * physical names, so [[FileStats.mayMatch]] walks the names the footer
    * stats are keyed by.
    */
  private def toPhysicalExpr(e: Expression, mapping: Map[String, String]): Expression =
    if (mapping.isEmpty) e
    else e.transform {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
        a.withName(physicalName(mapping, a.name))
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
          physicalName(mapping, u.name))
    }

  /** PHYSICAL names a new (logical) column must avoid: names still stored
    * in retained data files under a DIFFERENT (or no) logical owner —
    * every mapping target plus every drop tombstone. A new column whose
    * physical collided with one of these would read the old bytes back
    * out of pre-rename/pre-drop files.
    */
  private def reservedPhysicals(m: Option[Manifest]): Set[String] =
    (mappingOf(m).values ++ droppedOf(m)).toSet

  /** `ALTER TABLE … RENAME COLUMN from TO to` as a METADATA-ONLY commit:
    * the LOGICAL name moves, the PHYSICAL name (what every data file
    * stores — pre- and post-rename alike) stays, so zero files are
    * touched at any table size and the whole read/write stack keeps
    * working through the recorded [[Manifest.columnMapping]]. Time travel
    * to a pre-rename version still resolves the old name (each manifest
    * carries its own schema and mapping). Refused loudly: unknown source,
    * existing target (case-insensitive), partition-spec columns (the
    * routing references the name), columns a CHECK constraint mentions
    * (the predicate would no longer resolve), and self-renames.
    *
    * @return the committed version
    */
  def renameColumn(spark: SparkSession, dir: String, from: String, to: String): Long =
    commitLoop(spark, dir, op = "alter",
      reviseMapping = { prev =>
        val mapping = prev.getOrElse(Map.empty)
        val phys = physicalName(mapping, from)
        // normalize sparsely: an entry whose logical equals its physical
        // is identity and drops out (rename a→b→a restores a clean map)
        Some((mapping.filterNot(_._1.equalsIgnoreCase(from)) + (to -> phys))
          .filterNot { case (l, p) => l == p })
      }) { cur =>
      val m = cur.getOrElse(throw new IllegalStateException(
        s"no snapshot table at $dir to alter"))
      val prior = priorSchema(spark, dir, cur).getOrElse(throw new IllegalStateException(
        s"snapshot at $dir has no recoverable schema; cannot alter"))
      val idx = prior.fieldNames.indexWhere(_.equalsIgnoreCase(from))
      require(idx >= 0, s"ALTER TABLE RENAME COLUMN: no column '$from' in " +
        prior.fieldNames.mkString("(", ", ", ")"))
      require(!prior.fieldNames.exists(_.equalsIgnoreCase(to)),
        s"ALTER TABLE RENAME COLUMN: target name '$to' already exists")
      require(!from.equalsIgnoreCase(to),
        s"ALTER TABLE RENAME COLUMN: '$from' and '$to' are the same name")
      val pcols = PartitionFields.cols(m.partitionCols.getOrElse(Seq.empty))
      require(!pcols.exists(_.equalsIgnoreCase(from)),
        s"ALTER TABLE RENAME COLUMN: '$from' is a partition column; change the " +
          "partition spec first (set_partition_spec)")
      val mentioned = m.constraints.getOrElse(Map.empty).filter { case (_, sql) =>
        s"(?i)\\b${java.util.regex.Pattern.quote(from)}\\b".r.findFirstIn(sql).isDefined
      }
      require(mentioned.isEmpty,
        s"ALTER TABLE RENAME COLUMN: '$from' is referenced by CHECK constraint(s) " +
          s"${mentioned.keys.mkString(", ")}; drop them first")
      val renamed = org.apache.spark.sql.types.StructType(
        prior.fields.updated(idx, prior.fields(idx).copy(name = to)))
      Some((m.entries, txnOf(cur), Some(renamed.toDDL)))
    }.get

  /** The schema recorded at the current version; legacy manifests fall back
    * to one footer-inference read.
    */
  private def priorSchema(spark: SparkSession, dir: String,
      cur: Option[Manifest]): Option[org.apache.spark.sql.types.StructType] =
    cur.flatMap { m =>
      m.schemaDdl.map(org.apache.spark.sql.types.StructType.fromDDL)
        .orElse(if (m.entries.nonEmpty) Some(scan(spark, dir, m).schema)
        else None)
    }

  /** Additive schema evolution as a METADATA-ONLY commit: append `cols`
    * to the table schema; every existing file reads NULL for them (the
    * same contract appends with new columns use — [[mergeSchemas]]).
    * Purely a manifest rewrite: zero data files touched at any table
    * size. Duplicate names are refused loudly (ALTER ADD means NEW
    * columns; evolving an existing column's type is refused everywhere).
    *
    * @return the committed version
    */
  def addColumns(spark: SparkSession, dir: String,
      cols: org.apache.spark.sql.types.StructType): Long =
    commitLoop(spark, dir, op = "alter") { cur =>
      val m = cur.getOrElse(throw new IllegalStateException(
        s"no snapshot table at $dir to alter"))
      val prior = priorSchema(spark, dir, cur).getOrElse(throw new IllegalStateException(
        s"snapshot at $dir has no recoverable schema; cannot alter"))
      val dup = cols.fieldNames.filter(prior.fieldNames.contains)
      require(dup.isEmpty,
        s"ALTER TABLE ADD COLUMNS: column(s) already exist: ${dup.mkString(", ")}")
      // the SQL path is shielded by Spark's analyzer, but a direct Scala
      // call can pass duplicates WITHIN the added list — which would commit
      // a manifest schema with duplicate names and break every later read.
      // Case-insensitive, matching Spark's default resolution.
      val dupWithin = cols.fieldNames.groupBy(_.toLowerCase(java.util.Locale.ROOT))
        .collect { case (_, vs) if vs.length > 1 => vs.head }
      require(dupWithin.isEmpty,
        s"ALTER TABLE ADD COLUMNS: duplicate column(s) in added list: ${dupWithin.mkString(", ")}")
      // RESURRECTION GUARD: a new column stores under its own name, and
      // the format reads parquet by NAME — so a name still occupied in
      // retained files (a DROPPED column's tombstone, or the physical
      // name behind a RENAME) would read stale values out of every
      // pre-drop/pre-rename file still listed in the manifest
      val reserved = reservedPhysicals(cur)
      val resurrected = cols.fieldNames.filter(n =>
        reserved.exists(_.equalsIgnoreCase(n)))
      require(resurrected.isEmpty,
        s"ALTER TABLE ADD COLUMNS: column(s) ${resurrected.mkString(", ")} were previously " +
          "DROPPED (or are the storage name behind a RENAME); adding the name would " +
          "resurrect stale values from files still listed in the manifest (reads are " +
          "name-based). Pick a new name, or REPLACE the table to renew the file set")
      val merged = mergeSchemas(Some(prior),
        org.apache.spark.sql.types.StructType(prior.fields ++ cols.fields))
      Some((m.entries, txnOf(cur), Some(merged.toDDL)))
    }.get

  /** `ALTER TABLE … DROP COLUMN` as a METADATA-ONLY commit: the schema
    * narrows, every data file is carried untouched (readers project by
    * name, so pre-drop files simply stop being asked for the column —
    * the exact inverse of [[addColumns]]'s read-NULL contract; row-level
    * rewrites and compactions physically shed it over time). The name is
    * TOMBSTONED: [[addColumns]] refuses it forever after (resurrection
    * guard), until a full REPLACE renews the file set. Refused loudly:
    * partition-spec columns (the routing would dangle), columns a CHECK
    * constraint mentions (the predicate would no longer resolve), and
    * the last remaining column.
    */
  def dropColumn(spark: SparkSession, dir: String, name: String): Long =
    commitLoop(spark, dir, op = "alter",
      // the tombstone records the PHYSICAL name — that is what lingers in
      // retained files — and the dropped logical sheds its mapping entry.
      // The mapping consulted here is re-read from the log per attempt:
      // if it disagrees with the loop's `cur` a commit must have landed in
      // between, which also fails the version CAS — the retry re-reads
      // both consistently, so the recorded physical is always `cur`'s
      reviseDropped = prev => Some(prev.getOrElse(Seq.empty) :+
        physicalName(currentManifest(spark, dir).flatMap(_.columnMapping)
          .getOrElse(Map.empty), name)),
      reviseMapping = prev =>
        Some(prev.getOrElse(Map.empty).filterNot(_._1.equalsIgnoreCase(name)))) { cur =>
      val m = cur.getOrElse(throw new IllegalStateException(
        s"no snapshot table at $dir to alter"))
      val prior = priorSchema(spark, dir, cur).getOrElse(throw new IllegalStateException(
        s"snapshot at $dir has no recoverable schema; cannot alter"))
      val field = prior.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(
          s"ALTER TABLE DROP COLUMN: no column '$name' in " +
            prior.fieldNames.mkString("(", ", ", ")")))
      require(prior.fields.length > 1,
        s"ALTER TABLE DROP COLUMN: cannot drop the last column '$name'")
      val pcols = PartitionFields.cols(m.partitionCols.getOrElse(Seq.empty))
      require(!pcols.exists(_.equalsIgnoreCase(name)),
        s"ALTER TABLE DROP COLUMN: '$name' is a partition column; change the partition " +
          "spec first (set_partition_spec)")
      val mentioned = m.constraints.getOrElse(Map.empty).filter { case (_, sql) =>
        s"(?i)\\b${java.util.regex.Pattern.quote(name)}\\b".r.findFirstIn(sql).isDefined
      }
      require(mentioned.isEmpty,
        s"ALTER TABLE DROP COLUMN: '$name' is referenced by CHECK constraint(s) " +
          s"${mentioned.keys.mkString(", ")}; drop them first")
      val narrowed = org.apache.spark.sql.types.StructType(
        prior.fields.filterNot(_.name.equalsIgnoreCase(field.name)))
      Some((m.entries, txnOf(cur), Some(narrowed.toDDL)))
    }.get

  /** PARTITION EVOLUTION (Iceberg's `REPLACE PARTITION FIELD` shape) as
    * a METADATA-ONLY commit: the manifest's partition spec changes, every
    * data file is carried untouched. Correctness never depends on layout:
    * files written under the OLD spec simply lack the new spec's routing
    * directories, so [[transformPrune]] and [[ManifestPlanning.keyedLayout]]
    * treat them conservatively (may-match-anything / layout disabled) —
    * exactly the degradation contract row-level rewrites already exercise
    * — while every SUBSEQUENT write routes by the new spec and the next
    * [[compact]] rewrites history into it, restoring full pruning and the
    * storage-partitioned-join layout. This is how a 100 TB table outgrows
    * its layout in place: `months(ts)` → `days(ts)` when months get too
    * fat, or identity → `bucket(n,k)` when a dimension key's cardinality
    * explodes — no table rewrite, no downtime, no read-path flag.
    */
  def setPartitionSpec(spark: SparkSession, dir: String, pcols: Seq[String]): Long =
    commitLoop(spark, dir, op = "set-partition-spec",
      revisePartitioning = _ => Some(pcols)) { cur =>
      val m = cur.getOrElse(throw new IllegalStateException(
        s"no snapshot table at $dir to re-partition"))
      val prior = priorSchema(spark, dir, cur).getOrElse(throw new IllegalStateException(
        s"snapshot at $dir has no recoverable schema; cannot change its partition spec"))
      if (pcols.nonEmpty) validatePartitioning(prior, pcols, s"set partition spec of $dir")
      Some((m.entries, txnOf(cur), m.schemaDdl))
    }.get

  /** Is `from` → `to` a SAFE metadata-only widening — every value of
    * `from` embeds exactly into `to`, and the parquet readers read files
    * written with `from` directly under a `to` read schema (verified by
    * TypeWideningSpec for every pair admitted here)? The Iceberg safe set:
    * exact integral widening (byte → short → int → long), float → double,
    * int-family → double (int32 is exact in a double), and decimal
    * precision GROWTH at fixed scale. Explicitly refused: every narrowing,
    * long → double (2^53 rounding), any scale change (re-rounds values),
    * int → float (rounds past 2^24), and non-numeric changes.
    */
  private[graft] def isSafeWidening(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    def rank(dt: DataType): Int = dt match {
      case ByteType => 1; case ShortType => 2; case IntegerType => 3; case LongType => 4
      case _ => -1
    }
    (from, to) match {
      case (f, t) if f == t => false // nothing to alter — refuse loudly, not a silent no-op
      case (f, t) if rank(f) > 0 && rank(t) > 0 => rank(f) < rank(t)
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) => f.scale == t.scale && f.precision < t.precision
      case _ => false
    }
  }

  /** Safe type WIDENING as a METADATA-ONLY commit: rewrite the recorded
    * schema with `name`'s type widened to `to` ([[isSafeWidening]] set
    * only — anything else is refused by name); zero data files are
    * touched at any table size. Files written before the widening keep
    * their narrow physical type and the parquet readers widen at read
    * time; files written after carry the wide type natively — mixed
    * histories read seamlessly.
    *
    * Old per-file stats need NO migration: "num" bounds are stored in the
    * double domain regardless of the column's declared type
    * ([[FileStats.aggsFor]]), so a predicate resolved against the widened
    * schema compares against pre-widening bounds exactly as before.
    *
    * Column resolution is case-insensitive, matching Spark's default.
    *
    * @return the committed version
    */
  def alterColumnType(spark: SparkSession, dir: String, name: String,
      to: org.apache.spark.sql.types.DataType): Long =
    commitLoop(spark, dir, op = "alter") { cur =>
      val m = cur.getOrElse(throw new IllegalStateException(
        s"no snapshot table at $dir to alter"))
      val prior = priorSchema(spark, dir, cur).getOrElse(throw new IllegalStateException(
        s"snapshot at $dir has no recoverable schema; cannot alter"))
      val idx = prior.fieldNames.indexWhere(_.equalsIgnoreCase(name))
      require(idx >= 0, s"ALTER COLUMN TYPE: no such column '$name' " +
        s"(have: ${prior.fieldNames.mkString(", ")})")
      val from = prior.fields(idx).dataType
      require(isSafeWidening(from, to),
        s"ALTER COLUMN TYPE: ${from.catalogString} -> ${to.catalogString} is not a safe " +
          "metadata-only widening; allowed: byte/short/int -> wider integral, " +
          "float -> double, byte/short/int -> double, and decimal precision growth " +
          "at fixed scale (narrowing and value-changing casts are refused — " +
          "the no-silent-coercion rule)")
      val widened = org.apache.spark.sql.types.StructType(
        prior.fields.updated(idx, prior.fields(idx).copy(dataType = to)))
      Some((m.entries, txnOf(cur), Some(widened.toDDL)))
    }.get

  // ------------------------------------------------- CHECK constraints

  /** The CHECK constraints recorded at the current version. */
  def checkConstraints(spark: SparkSession, dir: String): Map[String, String] =
    currentManifest(spark, dir).flatMap(_.constraints).getOrElse(Map.empty)

  /** Add a CHECK constraint (name → boolean SQL predicate) as a commit:
    * from this version on, every write whose batch holds a row where the
    * predicate is FALSE is refused by name (NULL passes — SQL CHECK
    * semantics), across the Scala writers, SQL INSERT/UPDATE/MERGE, and
    * the streaming sink. The EXISTING data is validated first (one scan):
    * a table that already violates the predicate refuses the ALTER — a
    * constraint that was never true is a lie, not metadata (Delta's ADD
    * CONSTRAINT discipline). The predicate must analyze against the
    * table's schema; resolution failures surface here, before any commit.
    *
    * @return the committed version
    */
  def addCheckConstraint(spark: SparkSession, dir: String,
      name: String, predicateSql: String): Long = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"constraint names are identifiers, got '$name'")
    val m = snapshot(spark, dir)
    // resolve loudly against the recorded schema (and pin boolean-ness —
    // filter() rejects non-boolean conditions in analysis)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl.getOrElse(
      throw new IllegalStateException(s"snapshot at $dir has no recorded schema")))
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .filter(expr(predicateSql)).queryExecution.assertAnalyzed()
    // the existing rows must satisfy it (reads apply deletion vectors, so
    // already-deleted rows cannot block a constraint)
    enforceConstraints(spark,
      scan(spark, dir, m),
      Map(name -> predicateSql),
      s"existing data at $dir")
    commitLoop(spark, dir, op = "alter", reviseConstraints = cur => {
      val prior = cur.getOrElse(Map.empty)
      require(!prior.contains(name),
        s"CHECK constraint '$name' already exists on $dir (drop it first)")
      Some(prior + (name -> predicateSql))
    }) { cur =>
      val base = cur.getOrElse(throw new IllegalStateException(
        s"no snapshot table at $dir to alter"))
      Some((base.entries, txnOf(cur), base.schemaDdl))
    }.get
  }

  /** Drop a CHECK constraint by name (refuses unknown names loudly). */
  def dropCheckConstraint(spark: SparkSession, dir: String, name: String): Long =
    commitLoop(spark, dir, op = "alter", reviseConstraints = cur => {
      val prior = cur.getOrElse(Map.empty)
      require(prior.contains(name),
        s"no CHECK constraint '$name' on $dir (have: ${prior.keys.toSeq.sorted.mkString(", ")})")
      Some(prior - name)
    }) { cur =>
      val base = cur.getOrElse(throw new IllegalStateException(
        s"no snapshot table at $dir to alter"))
      Some((base.entries, txnOf(cur), base.schemaDdl))
    }.get

  /** Refuse `df` if any row violates any of `constraints` — ONE pass
    * computing every violation count (predicate FALSE; NULL passes),
    * reporting all violated constraints by name. No-op for the common
    * empty set.
    */
  private[catalog] def enforceConstraints(spark: SparkSession, df: DataFrame,
      constraints: Map[String, String], what: String): Unit = {
    if (constraints.isEmpty) return
    val names = constraints.keys.toSeq.sorted
    val aggs = names.map(n =>
      sum(when(!coalesce(expr(constraints(n)), lit(true)), 1L).otherwise(0L)).as(n))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val violated = names.zipWithIndex
      .map { case (n, i) => n -> (if (row.isNullAt(i)) 0L else row.getLong(i)) }
      .filter(_._2 > 0)
    if (violated.nonEmpty) throw new IllegalArgumentException(
      s"CHECK constraint violation in $what: " + violated.map { case (n, c) =>
        s"'$n' (${constraints(n)}) fails for $c row(s)" }.mkString("; "))
  }

  /** [[enforceConstraints]] for the current table state against an
    * incoming batch — the writer-side gate.
    */
  private def enforceOnBatch(spark: SparkSession, dir: String,
      cur: Option[Manifest], df: DataFrame, what: String): Unit =
    cur.flatMap(_.constraints).foreach(cs => enforceConstraints(spark, df, cs, what))

  /** Create or replace the table with `df` as a single new snapshot. Txn
    * markers are preserved: replacing contents must not make a streaming
    * writer's committed batches look uncommitted.
    */
  def write(spark: SparkSession, df: DataFrame, dir: String,
      // Some(cols) (re)defines the identity partition spec — create and
      // REPLACE TABLE set it exactly like they set the schema; None keeps
      // whatever the table already has (Seq.empty inside Some =
      // un-partition)
      partitionCols: Option[Seq[String]] = None): Long = {
    val pcols = partitionCols
      .orElse(currentManifest(spark, dir).flatMap(_.partitionCols)).getOrElse(Seq.empty)
    if (pcols.nonEmpty) validatePartitioning(df.schema, pcols, s"replace of $dir")
    enforceOnBatch(spark, dir, currentManifest(spark, dir), df, s"replace of $dir")
    val entries = writeData(spark, df, dir, pcols)
    // replace semantics: the new contents DEFINE the schema (no merge) and
    // a raced replace serializes last — txn markers are still taken from
    // the manifest current at publish time so no committed batch id is lost
    commitLoop(spark, dir, op = "write",
      revisePartitioning = _ => Some(pcols),
      // a replace lists only new files: nothing to resurrect from, and
      // every file is written under its logical name — mapping clears
      reviseDropped = _ => None,
      reviseMapping = _ => None)(
      cur => Some((entries, txnOf(cur), Some(df.schema.toDDL)))).get
  }

  /** Stage `df`'s data files WITHOUT publishing — the atomic-CTAS seam.
    * Files land in a fresh per-commit subdirectory, invisible to every
    * reader until a manifest lists them (the same invisibility every
    * normal commit already relies on between write and publish); the
    * caller later publishes via [[commitStaged]] or discards via
    * [[abortStaged]].
    */
  private[graft] def stageData(spark: SparkSession, df: DataFrame, dir: String,
      pcols: Seq[String] = Seq.empty): Seq[FileEntry] =
    writeData(spark, df, dir, pcols)

  /** Publish previously staged entries. `createOnly` makes this the commit
    * half of an atomic CREATE TABLE AS SELECT: it refuses (inside the CAS
    * loop, so the check races nothing) when any version already exists —
    * a concurrent creator won, and the staged files must be aborted, not
    * stacked on top. With `createOnly = false` it is a replace commit
    * (REPLACE TABLE AS SELECT), preserving txn markers like [[write]].
    */
  private[graft] def commitStaged(spark: SparkSession, dir: String,
      entries: Seq[FileEntry], schemaDdl: String, createOnly: Boolean,
      partitionCols: Seq[String] = Seq.empty): Long = {
    // RTAS keeps the table's constraints (they are durable table
    // definition, like txn markers) — so the staged result must satisfy
    // them; a refusal aborts to nothing, the staged files stay invisible
    currentManifest(spark, dir).flatMap(_.constraints).foreach(cs =>
      enforceConstraints(spark, scan(spark, dir, Manifest(0L, entries, schemaDdl = Some(schemaDdl))),
        cs, s"REPLACE TABLE AS SELECT of $dir"))
    commitLoop(spark, dir, op = "write",
      // CTAS/RTAS define the partition spec like they define the schema;
      // all files are new, so dropped-name tombstones and the column
      // mapping clear
      revisePartitioning = _ => Some(partitionCols),
      reviseDropped = _ => None,
      reviseMapping = _ => None) { cur =>
      if (createOnly && cur.isDefined) throw new IllegalStateException(
        s"snapshot table at $dir was created concurrently; aborting staged create")
      Some((entries, txnOf(cur), Some(schemaDdl)))
    }.get
  }

  /** Delete staged-but-never-published files (CTAS abort): removes the
    * per-commit directories the staged entries live in. Nothing else can
    * reference them — no manifest was ever published for them.
    */
  private[graft] def abortStaged(spark: SparkSession, dir: String,
      entries: Seq[FileEntry]): Unit = {
    val fs = fsFor(spark, dir)
    // delete the TOP-LEVEL per-commit directory (first path segment):
    // partitioned stages nest files under value directories below it
    entries.map(e => new Path(dir, e.path.split('/').head)).distinct
      .foreach(d => if (fs.exists(d)) fs.delete(d, true))
    val root = new Path(dir)
    if (fs.exists(root) && fs.listStatus(root).isEmpty) fs.delete(root, false)
  }

  /** Append `df` as new files; every existing file is carried forward by
    * reference (zero data rewritten). Additive schema evolution: a batch
    * with new columns widens the table schema; older files read NULL for
    * them. A batch missing existing columns is fine too — its files read
    * NULL there.
    */
  def append(spark: SparkSession, df: DataFrame, dir: String): Long = {
    val cur0 = currentManifest(spark, dir)
    enforceOnBatch(spark, dir, cur0, df, s"append to $dir")
    val entries = writeData(spark, df, dir, cur0.flatMap(_.partitionCols).getOrElse(Seq.empty),
      mapping = mappingOf(cur0))
    // an append conflicts with nothing: rebasing over ANY winner is just
    // re-listing its entries (and re-merging schema), so raced appends all
    // land — no lost update
    commitLoop(spark, dir, op = "append") { cur =>
      val merged = mergeSchemas(priorSchema(spark, dir, cur), df.schema, reservedPhysicals(cur))
      Some((cur.map(_.entries).getOrElse(Seq.empty) ++ entries,
        txnOf(cur), Some(merged.toDDL)))
    }.get
  }

  /** Atomic create-or-append — the no-appId streaming sinks' primitive.
    * [[append]] already IS one: the creation decision happens INSIDE the
    * OCC commit loop (cur = None builds version 1 from the batch's schema;
    * a racing creator winning the CAS makes the loser's retry observe the
    * winner's manifest and land as a plain append — both writers' rows
    * survive, serialized by the version slot). This named entry point
    * exists so sink code states the contract instead of re-implementing
    * the racy exists-then-create probe it replaces: a filesystem exists
    * check followed by write() is check-then-act, and two first-batch
    * writers could both observe "not exists" and the second's REPLACE
    * semantics would silently drop the first's rows.
    */
  def createOrAppend(spark: SparkSession, df: DataFrame, dir: String): Long =
    append(spark, df, dir)

  /** Idempotent append for at-least-once writers (the streaming sink's
    * primitive): commits `df` with an (appId → batchId) marker, and is a
    * NO-OP when the current manifest already records `batchId` (or later)
    * for `appId` — a re-delivered micro-batch after a crash cannot append
    * twice. Returns whether a commit happened.
    *
    * Batch ids must be monotonically increasing per appId (Structured
    * Streaming's contract for foreachBatch).
    */
  def appendExactlyOnce(spark: SparkSession, df: DataFrame, dir: String,
      appId: String, batchId: Long): Boolean = {
    // cheap pre-check: skip writing data files for a batch already recorded
    if (txnOf(currentManifest(spark, dir)).get(appId).exists(_ >= batchId)) false
    else {
      val cur0 = currentManifest(spark, dir)
      enforceOnBatch(spark, dir, cur0, df,
        s"exactly-once append of batch $batchId to $dir")
      val entries = writeData(spark, df, dir,
        cur0.flatMap(_.partitionCols).getOrElse(Seq.empty), mapping = mappingOf(cur0))
      // the watermark re-check runs INSIDE the commit loop, against the
      // manifest the CAS will publish over — two racing deliveries of the
      // same batch reduce to one commit and one abandoned attempt whose
      // files vacuum reclaims
      commitLoop(spark, dir, op = "append") { cur =>
        if (txnOf(cur).get(appId).exists(_ >= batchId)) None
        else {
          val merged = mergeSchemas(priorSchema(spark, dir, cur), df.schema, reservedPhysicals(cur))
          Some((cur.map(_.entries).getOrElse(Seq.empty) ++ entries,
            txnOf(cur) + (appId -> batchId), Some(merged.toDDL)))
        }
      }.isDefined
    }
  }

  /** [[appendExactlyOnce]] for callers whose data files are ALREADY
    * written (the DSv2 streaming write: executors wrote parquet, commit
    * messages carried the paths): append `entries` with the (appId →
    * batchId) marker, a structural no-op when the marker is already
    * recorded — the re-check runs inside the commit loop, so racing
    * deliveries of one epoch reduce to one commit and orphaned files
    * vacuum reclaims.
    */
  private[graft] def appendEntriesExactlyOnce(spark: SparkSession, dir: String,
      entries: Seq[FileEntry], schema: org.apache.spark.sql.types.StructType,
      appId: String, batchId: Long): Boolean = {
    // the epoch's files are already on disk (executors wrote them) but
    // unreferenced — validating by reading them back costs one pass over
    // the BATCH, and a refusal leaves only vacuum-reclaimable orphans
    val cur0 = currentManifest(spark, dir)
    cur0.flatMap(_.constraints).foreach(cs => enforceConstraints(spark,
      scan(spark, dir, Manifest(0L, entries, schemaDdl = Some(schema.toDDL),
        columnMapping = cur0.flatMap(_.columnMapping))),
      cs, s"streaming epoch $batchId into $dir"))
    commitLoop(spark, dir, op = "append") { cur =>
      if (txnOf(cur).get(appId).exists(_ >= batchId)) None
      else {
        val merged = mergeSchemas(priorSchema(spark, dir, cur), schema, reservedPhysicals(cur))
        Some((cur.map(_.entries).getOrElse(Seq.empty) ++ entries,
          txnOf(cur) + (appId -> batchId), Some(merged.toDDL)))
      }
    }.isDefined
  }

  /** CDC-style incremental read: the rows of files ADDED between
    * `fromVersion` (exclusive; 0 = before the first commit) and `toVersion`
    * (inclusive). For an append-only table this is exactly the appended
    * rows — the incremental-consumption primitive (fold them into an
    * [[graft.ingest.IncrementalRollup]], feed a downstream sync, …).
    * Tables mutated by [[merge]]/[[compact]] rewrite files, so "added
    * files" would double-count carried rows — callers own that contract,
    * same as any file-based CDC.
    */
  def changesBetween(spark: SparkSession, dir: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion < toVersion,
      s"need fromVersion < toVersion, got $fromVersion >= $toVersion")
    val fs = fsFor(spark, dir)
    // one log listing serves both endpoints — never a listing per version
    val byVersion = manifestVersions(fs, dir).toMap
    def manifestAt(v: Long): Option[Manifest] =
      if (v == 0L) None
      else Some(byVersion.get(v).map(readManifest(fs, _))
        .getOrElse(throw new IllegalStateException(
          s"version $v not available at $dir (never committed, or expired by vacuum)")))
    val before = manifestAt(fromVersion).map(_.entries).getOrElse(Seq.empty).map(_.path).toSet
    val to = manifestAt(toVersion).get
    val added = to.entries.filterNot(e => before.contains(e.path))
    if (added.nonEmpty) scan(spark, dir, to.copy(entries = added))
    else scan(spark, dir, to)
      .limit(0) // no new files: empty frame, right schema
  }

  /** The largest retained version `v` in (`fromVersion`, `toVersion`] whose
    * file-level delta vs `fromVersion` — exactly the files a
    * [[changesBetween]] batch over that window would deliver — holds at
    * most `maxFiles` files; always at least the first retained version
    * above `fromVersion`, so one oversized commit still surfaces (as its
    * own batch) rather than stalling a stream forever. Metadata-only: one
    * log listing plus one manifest read per candidate version, and the
    * walk stops at the first version over budget (sound for the
    * append-only streaming contract, where the delta grows monotonically).
    * A `fromVersion` of 0 — or one already expired by vacuum — counts
    * against an empty base set, matching what the from-scratch batch
    * delivers. Returns `fromVersion` itself when no retained version lies
    * in the window.
    */
  def capVersionByFiles(spark: SparkSession, dir: String, fromVersion: Long,
      toVersion: Long, maxFiles: Long): Long = {
    require(maxFiles >= 1L, s"maxFiles must be >= 1, got $maxFiles")
    val fs = fsFor(spark, dir)
    val byVersion = manifestVersions(fs, dir).toMap
    val base: Set[String] = byVersion.get(fromVersion)
      .map(readManifest(fs, _).entries.map(_.path).toSet).getOrElse(Set.empty)
    val candidates = byVersion.keys.filter(v => v > fromVersion && v <= toVersion).toSeq.sorted
    var chosen = fromVersion
    var first = true
    val it = candidates.iterator
    var over = false
    while (it.hasNext && !over) {
      val v = it.next()
      val delta = readManifest(fs, byVersion(v)).entries.count(e => !base.contains(e.path))
      if (first || delta <= maxFiles) { chosen = v; first = false }
      if (delta > maxFiles) over = true
    }
    chosen
  }

  /** Keyed MERGE (update-else-insert) of `batch`, dt-scoped like
    * [[IncrementalLoader.mergeIntoSink]] but snapshot-committed: only files
    * whose dt range intersects the batch's dt set are rewritten; all other
    * files move to the new snapshot by reference. Readers holding the old
    * manifest are untouched — no dynamic-partition-overwrite visibility
    * window.
    */
  def merge(spark: SparkSession, batch: DataFrame, dir: String,
      keys: Seq[String] = IncrementalLoader.AdsKeys): Long = {
    require(keys.contains("dt"), "snapshot merge requires dt in the merge key")
    retryingRewrite(dir) {
      currentManifest(spark, dir) match {
        case None =>
          // create branch (cold — once per table lifetime): the NULL-dt
          // guard stays an eager probe here; the merge branch below folds
          // it into the touched-dt collect it already pays
          require(batch.filter(col("dt").isNull).isEmpty,
            "snapshot merge: batch has NULL dt rows")
          val entries = writeData(spark, batch, dir)
          commitLoop(spark, dir, op = "merge") { cur =>
            // the create-the-table assumption broke if anyone committed
            // first: re-run as a merge into whatever they made
            if (cur.isDefined) throw new SnapshotConflictException(
              s"table at $dir appeared concurrently; re-running merge against it")
            Some((entries, Map.empty[String, Long], Some(batch.schema.toDDL)))
          }.get
        case Some(m) =>
          enforceOnBatch(spark, dir, Some(m), batch, s"merge into $dir")
          // the NULL-dt guard rides this collect (a null dt is one distinct
          // value, so it is always among the collected strings) — r21: a
          // dedicated filter(isNull).isEmpty probe cost one full batch-scan
          // job per merge; the [[keyFootprint]] one-bounded-job discipline
          val touchedRaw = batch.select(col("dt").cast("string")).distinct()
            .collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
          require(!touchedRaw.contains(null), "snapshot merge: batch has NULL dt rows")
          val touched = touchedRaw.sorted
          val rewrite = m.entries.filter(e => (e.minDt, e.maxDt) match {
            case (Some(mn), Some(mx)) => touched.exists(d => mn <= d && d <= mx)
            case _ => true // no stats → conservative rewrite
          })
          val base =
            if (rewrite.isEmpty) batch.limit(0)
            else scan(spark, dir, m.copy(entries = rewrite))
          val out = IncrementalLoader.upsert(base, batch, keys)
          // refuse type-changing batches BEFORE the rewrite, and record the
          // (additively) merged schema — committing the old DDL over files
          // whose types a batch silently widened would poison every
          // subsequent read
          mergeSchemas(priorSchema(spark, dir, Some(m)), out.schema, reservedPhysicals(Some(m)))
          val entries = writeData(spark, out, dir, m.partitionCols.getOrElse(Seq.empty),
            mapping = mappingOf(Some(m)))
          val removed = rewrite.map(_.path).toSet
          val basePaths = m.entries.map(_.path).toSet
          commitLoop(spark, dir, op = "merge") { cur =>
            // The stale-read check below only catches winners that REMOVED a
            // file this merge read. A winner that only ADDED files holding
            // the batch's dt range may have upserted the same keys (two
            // merges into a dt no existing file covers both compute an
            // empty rewrite set) — rebasing over it would commit duplicate
            // keys, equivalent to NO serial order. Same discipline as
            // Delta's ConcurrentAppendException: conflict on concurrently
            // added files intersecting this txn's read predicate, re-run.
            val addedSince = cur.map(_.entries).getOrElse(Seq.empty)
              .filterNot(e => basePaths.contains(e.path))
            val overlap = addedSince.filter(e => (e.minDt, e.maxDt) match {
              case (Some(mn), Some(mx)) => touched.exists(d => mn <= d && d <= mx)
              case _ => true // no stats → conservatively a conflict
            })
            if (overlap.nonEmpty) throw new SnapshotConflictException(
              s"concurrent commit at $dir added ${overlap.length} file(s) intersecting this " +
                s"merge's dt range (e.g. ${overlap.take(3).map(_.path).mkString(", ")}); " +
                "re-running the merge against the new snapshot")
            val merged = mergeSchemas(priorSchema(spark, dir, cur), out.schema, reservedPhysicals(cur))
            Some((rebasedEntries(dir, Some(m), cur, removed, removed, entries),
              txnOf(cur), Some(merged.toDDL)))
          }.get
      }
    }
  }

  /** Keyed MERGE (update-else-insert) on an ARBITRARY single key column —
    * [[merge]]'s general form for tables with no dt partition (the
    * incremental-clusters assignment keyed by `doc_id`, a reps side table
    * keyed by `rep_id`, any entity-keyed state table). Only files whose
    * manifest key bounds can contain a batch key are rewritten; every other
    * file moves to the new snapshot by reference — so merge I/O tracks the
    * BATCH's key footprint, never the table size.
    *
    * Pruning stays driver-cheap at 100 TB file counts: the batch's distinct
    * keys are collected once (capped at `maxExactKeys`, past which pruning
    * degrades to the batch's [min, max] key RANGE — conservative, never
    * wrong) and each file's bounds are probed by BINARY SEARCH over the
    * sorted key set — O(files × log keys), never O(files × keys). Files
    * without stats on the key column rewrite conservatively.
    *
    * Preconditions (standard MERGE rules): `batch` has no NULL keys and at
    * most one row per key (enforce upstream; several all survive). Key
    * types: numerics, strings, dates — the stat-eligible scalar domains.
    * Commit discipline matches [[merge]]: a concurrent commit that ADDED
    * files intersecting the batch's key footprint is a conflict (this
    * merge's insert-vs-update decisions never saw those rows), raced
    * appends outside the footprint rebase and land.
    */
  def mergeByKey(spark: SparkSession, batch: DataFrame, dir: String,
      key: String, maxExactKeys: Int = 100000): Long =
    mergeByKeys(spark, batch, dir, Seq(key), maxExactKeys)

  /** The highest batch id recorded for `appId` on the table's CURRENT
    * version (the exactly-once marker [[appendExactlyOnce]] and the
    * txn-carrying merges stamp), None when never recorded.
    */
  def lastTxn(spark: SparkSession, dir: String, appId: String): Option[Long] =
    txnOf(currentManifest(spark, dir)).get(appId)

  /** The EARLIEST retained version whose txn map records exactly
    * (appId -> batchId) — the commit that APPLIED that batch (markers
    * carry forward, so every later manifest shows it too). None when no
    * retained manifest records that exact id: the batch never committed,
    * committed as a structural no-op (no version), or its manifest was
    * vacuumed. Crash-recovery primitive: `version - 1` is the table as the
    * batch's writer saw it.
    */
  def versionRecordingTxn(spark: SparkSession, dir: String,
      appId: String, batchId: Long): Option[Long] = {
    val fs = fsFor(spark, dir)
    val vs = manifestVersions(fs, dir).toIndexedSeq
    // txn maps are inline in the manifest record — the probe never
    // resolves segment lists — and an appId's recorded batch id is
    // MONOTONE NON-DECREASING across versions: every commit carries
    // txnOf(cur) forward and ids are monotonic per appId (the
    // exactly-once contract). The earliest version recording >= batchId
    // is therefore a BINARY SEARCH — O(log versions) manifest parses on
    // a long retained log instead of a parse per version — and under the
    // invariant it records exactly batchId iff any retained version does.
    // [[rollback]] is the one producer that can break the invariant (it
    // restores an OLDER txn map by design — re-deliveries must re-apply
    // after a rollback), so the search self-checks: a hit whose
    // predecessor also records >= batchId, or a miss, falls back to the
    // linear scan — never slower than the scan alone, and scan-identical
    // on every history.
    def markerAt(i: Int): Option[Long] =
      parseManifest(fs, vs(i)._2).txn.flatMap(_.get(appId))
    var lo = 0; var hi = vs.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (markerAt(mid).exists(_ >= batchId)) hi = mid else lo = mid + 1
    }
    val hit = lo < vs.length && markerAt(lo).contains(batchId) &&
      (lo == 0 || !markerAt(lo - 1).exists(_ >= batchId))
    if (hit) Some(vs(lo)._1)
    // lo == length only via a `< batchId` comparison AT the last version,
    // which under carry-forward means no retained version records batchId
    else if (lo >= vs.length) None
    else vs.collectFirst { // non-monotone neighborhood (rollback history): exact scan
      case (v, p) if parseManifest(fs, p).txn.exists(_.get(appId).contains(batchId)) => v
    }
  }

  /** The txn marker recorded for `appId` at a SPECIFIC retained version —
    * None when that version carries no marker for it; throws when the
    * version itself is not retained.
    */
  def lastTxnAt(spark: SparkSession, dir: String, version: Long,
      appId: String): Option[Long] = {
    val fs = fsFor(spark, dir)
    parseManifest(fs, manifestPath(fs, dir, version)).txn.getOrElse(Map.empty).get(appId)
  }

  /** An EMPTY txn-carrying merge still RECORDS its marker, as a
    * metadata-only commit (entries and schema unchanged): without it, an
    * exactly-once pipeline whose leg computed zero rows would re-run that
    * leg on every replay forever — the marker is the replay's only
    * convergence signal. A marker-less empty merge stays a pure no-op
    * (no version), and an absent table never materializes from an empty
    * batch. Returns the current version either way.
    */
  private def emptyBatchTxn(spark: SparkSession, dir: String,
      txn: Option[(String, Long)]): Long = {
    txn match {
      case Some((app, b)) if exists(spark, dir) =>
        commitLoop(spark, dir, op = "merge") { cur =>
          // a racer (or the earlier fast-path check) already recorded it
          if (txnOf(cur).get(app).exists(_ >= b)) None
          else cur.map(c => (c.entries, txnOf(cur) + (app -> b), c.schemaDdl))
        }
      case _ => ()
    }
    versions(spark, dir).sorted.lastOption.getOrElse(0L)
  }

  /** [[mergeByKey]] on a COMPOSITE key (e.g. `(source, doc_id)` entity
    * keys): one distinct-tuple collect derives a per-COLUMN footprint
    * probe, files must pass every column's probe to rewrite (independent
    * per-column tests are conservative — a file holding both key parts but
    * never the combination rewrites harmlessly), and the upsert anti-joins
    * on the full key list.
    */
  def mergeByKeys(spark: SparkSession, batch: DataFrame, dir: String,
      keys: Seq[String], maxExactKeys: Int = 100000,
      // exactly-once marker (appId -> batchId), [[appendExactlyOnce]]'s
      // protocol on the MERGE commit: a batch the table already records
      // (same or later id for the appId) is a structural no-op returning
      // the current version. Batch ids must be monotonic per appId.
      txn: Option[(String, Long)] = None,
      // key tuples (aligned with `keys`, properly typed, driver-side) whose
      // target rows are REMOVED in the SAME commit as the upsert — the
      // atomic delete+merge a two-table fold needs (a separate delete
      // commit opens a crash window no replay can heal). A key in both the
      // batch and deleteKeys UPSERTS (the batch wins). Files holding
      // delete keys join the rewrite footprint.
      deleteKeys: Seq[Seq[Any]] = Nil): Long = {
    txn.foreach { case (app, b) =>
      if (txnOf(currentManifest(spark, dir)).get(app).exists(_ >= b))
        return versions(spark, dir).max
    }
    val fp = keyFootprint(batch, keys, maxExactKeys, "mergeByKeys") match {
      case Some(f) => f
      case None => // empty batch: no-op, current version (0 if absent)
        require(deleteKeys.isEmpty,
          "mergeByKeys: deleteKeys with an EMPTY batch is unsupported — use delete()")
        return emptyBatchTxn(spark, dir, txn)
    }
    val extras = extrasFootprint(batch, keys, deleteKeys, "mergeByKeys")
    val hitFile: FileEntry => Boolean =
      extras.fold(fp.hitFile)(x => e => fp.hitFile(e) || x.hitFile(e))

    val txnMap = txn.map { case (app, b) => Map(app -> b) }.getOrElse(Map.empty[String, Long])
    retryingRewrite(dir) {
      currentManifest(spark, dir) match {
        case None =>
          val entries = writeData(spark, batch, dir)
          commitLoop(spark, dir, op = "merge") { cur =>
            if (cur.isDefined) throw new SnapshotConflictException(
              s"table at $dir appeared concurrently; re-running merge against it")
            Some((entries, txnMap, Some(batch.schema.toDDL)))
          }.get
        case Some(m) =>
          enforceOnBatch(spark, dir, Some(m), batch, s"merge into $dir")
          // align to the table's column set/order up front (extra batch
          // columns drop — upsert's contract), so a batch LACKING a table
          // column is refused uniformly — not "silently null when every
          // file was pruned, AnalysisException otherwise" (the base frame
          // degenerates to batch.limit(0) on a fully-pruned rewrite set,
          // which would otherwise let the narrow schema through)
          val tableCols = m.schemaDdl
            .map(d => org.apache.spark.sql.types.StructType.fromDDL(d).fieldNames.toSeq)
            .getOrElse(batch.columns.toSeq)
          val missingCols = tableCols.filterNot(batch.columns.contains)
          require(missingCols.isEmpty,
            s"merge batch lacks table columns: ${missingCols.mkString(", ")}")
          val aligned = batch.select(tableCols.map(c => col(s"`$c`")): _*)
          val rewrite = m.entries.filter(hitFile)
          val base =
            if (rewrite.isEmpty) aligned.limit(0)
            else scan(spark, dir, m.copy(entries = rewrite))
          // under the cap, the footprint collect IS the anti-join's build
          // side: a local relation of the batch's distinct keys, broadcast —
          // the batch plan is never re-evaluated for the join and the build
          // side never shuffles (plain equality suffices: the footprint
          // already refused NULL batch keys, and a NULL-keyed TARGET row
          // never matches either way, so it survives — upsert's semantics)
          val kept0 = fp.exactKeys match {
            case Some(keyDf) =>
              base.join(broadcast(keyDf(spark)), keys.toSeq, "left_anti")
            case None => IncrementalLoader.newRowsNullSafe(base,
              aligned.select(keys.map(k => col(s"`$k`")): _*), keys)
          }
          // deleteKeys: drop their rows in the SAME rewrite (never re-added)
          val kept = extras.flatMap(_.exactKeys).fold(kept0)(x =>
            kept0.join(broadcast(x(spark)), keys.toSeq, "left_anti"))
          val out0 = aligned.unionByName(kept)
          // size the rewrite's output files from its byte volume (a no-op
          // past the footprint cap, or when natural partitioning is finer)
          val out = fp.exactCount.fold(out0)(n =>
            out0.coalesce(mergeOutParts(rewrite, n.toLong, avgRowHint = tableAvgRow(m))))
          mergeSchemas(priorSchema(spark, dir, Some(m)), out.schema, reservedPhysicals(Some(m)))
          val entries = writeData(spark, out, dir, m.partitionCols.getOrElse(Seq.empty),
            mapping = mappingOf(Some(m)))
          val removed = rewrite.map(_.path).toSet
          val basePaths = m.entries.map(_.path).toSet
          commitLoop(spark, dir, op = "merge", knownCurrent = Some(m)) { cur =>
            // raced delivery of the SAME batch: the winner already recorded
            // the marker — abandon (the current version is the answer)
            if (txn.exists { case (app, b) => txnOf(cur).get(app).exists(_ >= b) }) None
            else {
              val addedSince = cur.map(_.entries).getOrElse(Seq.empty)
                .filterNot(e => basePaths.contains(e.path))
              val overlap = addedSince.filter(hitFile)
              if (overlap.nonEmpty) throw new SnapshotConflictException(
                s"concurrent commit at $dir added ${overlap.length} file(s) intersecting this " +
                  s"merge's key footprint (e.g. ${overlap.take(3).map(_.path).mkString(", ")}); " +
                  "re-running the merge against the new snapshot")
              val merged = mergeSchemas(priorSchema(spark, dir, cur), out.schema, reservedPhysicals(cur))
              Some((rebasedEntries(dir, Some(m), cur, removed, removed, entries),
                txnOf(cur) ++ txnMap, Some(merged.toDDL)))
            }
          }.getOrElse(versions(spark, dir).max)
      }
    }
  }

  /** [[mergeByKey]] MERGE-ON-READ: matched rows' positions become deletion
    * vectors on their files (no data file rewritten — the same MoR tier as
    * [[deleteMoR]]/[[updateMoR]]) and ALL batch rows append as new files,
    * one atomic commit. Write cost is strictly O(batch rows + touched-file
    * DV blobs) at ANY table size — the copy-on-write [[mergeByKey]]
    * rewrites whole files containing matches (keeping them clean); this
    * one wins when matches are sparse across big files, e.g. a streaming
    * fold upserting a few thousand keys into a billion-row assignment.
    * [[compact]] purges the vectors on the normal maintenance cadence.
    *
    * Same semantics and preconditions as [[mergeByKey]] (update-else-
    * insert, one row per key, no NULL keys); the key footprint prunes the
    * candidate scan the same way, and the commit carries BOTH conflict
    * disciplines: a touched file must still be live with the same vector
    * (MoR serializability), and a concurrent commit ADDING files inside
    * the key footprint conflicts (insert-vs-update decisions never saw
    * those rows).
    */
  def mergeByKeyMoR(spark: SparkSession, batch: DataFrame, dir: String,
      key: String, maxExactKeys: Int = 100000): Long =
    mergeByKeysMoR(spark, batch, dir, Seq(key), maxExactKeys)

  /** [[mergeByKeyMoR]] on a COMPOSITE key — [[mergeByKeys]]' pruning and
    * upsert semantics with the MoR write shape.
    */
  def mergeByKeysMoR(spark: SparkSession, batch: DataFrame, dir: String,
      keys: Seq[String], maxExactKeys: Int = 100000,
      // exactly-once marker — [[mergeByKeys]]' protocol, same semantics
      txn: Option[(String, Long)] = None,
      // same-commit key deletes — [[mergeByKeys]]' protocol; here the
      // deleted rows become deletion-vector positions like any match
      deleteKeys: Seq[Seq[Any]] = Nil): Long = {
    txn.foreach { case (app, b) =>
      if (txnOf(currentManifest(spark, dir)).get(app).exists(_ >= b))
        return versions(spark, dir).max
    }
    val fp = keyFootprint(batch, keys, maxExactKeys, "mergeByKeysMoR") match {
      case Some(f) => f
      case None =>
        require(deleteKeys.isEmpty,
          "mergeByKeysMoR: deleteKeys with an EMPTY batch is unsupported — use deleteMoR()")
        return emptyBatchTxn(spark, dir, txn)
    }
    val extras = extrasFootprint(batch, keys, deleteKeys, "mergeByKeysMoR")
    val hitFile: FileEntry => Boolean =
      extras.fold(fp.hitFile)(x => e => fp.hitFile(e) || x.hitFile(e))
    val txnMap = txn.map { case (app, b) => Map(app -> b) }.getOrElse(Map.empty[String, Long])
    retryingRewrite(dir) {
      currentManifest(spark, dir) match {
        case None =>
          val entries = writeData(spark, batch, dir)
          commitLoop(spark, dir, op = "merge") { cur =>
            if (cur.isDefined) throw new SnapshotConflictException(
              s"table at $dir appeared concurrently; re-running merge against it")
            Some((entries, txnMap, Some(batch.schema.toDDL)))
          }.get
        case Some(m) =>
          enforceOnBatch(spark, dir, Some(m), batch, s"MoR merge into $dir")
          // align the batch to the table's column set/order (extra batch
          // columns drop — upsert's contract) BEFORE the schema guard
          val tableCols = m.schemaDdl
            .map(d => org.apache.spark.sql.types.StructType.fromDDL(d).fieldNames.toSeq)
            .getOrElse(batch.columns.toSeq)
          val missing = tableCols.filterNot(batch.columns.contains)
          require(missing.isEmpty,
            s"MoR merge batch lacks table columns: ${missing.mkString(", ")}")
          val aligned = batch.select(tableCols.map(c => col(s"`$c`")): _*)
          // refuse type-changing batches BEFORE any blob/file writes
          mergeSchemas(priorSchema(spark, dir, Some(m)), aligned.schema,
            reservedPhysicals(Some(m)))
          val candidates = m.entries.filter(hitFile)
          val commitName = "c-" + java.util.UUID.randomUUID().toString.take(12)
          val touched =
            if (candidates.isEmpty) Seq.empty[DvTouch]
            else {
              val base = scan(spark, dir, m.copy(entries = candidates), positions = true)
              // under the cap, the footprint collect IS the semi-join's
              // build side (same reuse as the COW path); deleteKeys rows
              // vector out exactly like matches — they are just never
              // re-appended
              val batchSide = fp.exactKeys.map(_(spark))
                .getOrElse(batch.select(keys.map(k => col(s"`$k`")): _*).distinct())
              val buildSide = extras.flatMap(_.exactKeys)
                .fold(batchSide)(x => batchSide.unionByName(x(spark)))
              val matched = base
                .join(broadcast(buildSide), keys, "left_semi")
                .select(col(PosFileCol), col(PosIdxCol))
              writeDvBlobs(spark, dir, commitName, matched, candidates)
            }
          // size the appended files from the batch's (known, under-cap) row
          // count — a fold-sized MoR batch otherwise writes
          // O(shuffle.partitions) near-empty files per commit
          val alignedSized = fp.exactCount.fold(aligned)(n =>
            aligned.coalesce(mergeOutParts(Seq.empty, n.toLong, avgRowHint = tableAvgRow(m))))
          val newEntries = writeData(spark, alignedSized, dir,
            m.partitionCols.getOrElse(Seq.empty), mapping = mappingOf(Some(m)))
          val basePaths = m.entries.map(_.path).toSet
          commitLoop(spark, dir, op = "merge", knownCurrent = Some(m)) { cur =>
            // raced delivery of the SAME batch: abandon, winner already did it
            if (txn.exists { case (app, b) => txnOf(cur).get(app).exists(_ >= b) }) None
            else {
              val vectored = withVectors(dir, cur, touched, "MoR merge")
              // key-uniqueness serializability: adds inside the footprint conflict
              val addedSince = vectored.filterNot(e => basePaths.contains(e.path))
              val overlap = addedSince.filter(hitFile)
              if (overlap.nonEmpty) throw new SnapshotConflictException(
                s"concurrent commit at $dir added ${overlap.length} file(s) intersecting this " +
                  s"merge's key footprint (e.g. ${overlap.take(3).map(_.path).mkString(", ")}); " +
                  "re-running the merge against the new snapshot")
              val mergedNow = mergeSchemas(priorSchema(spark, dir, cur), aligned.schema,
                reservedPhysicals(cur))
              Some((vectored ++ newEntries, txnOf(cur) ++ txnMap, Some(mergedNow.toDDL)))
            }
          }.getOrElse(versions(spark, dir).max)
      }
    }
  }

  /** What [[keyFootprint]] learned from its one bounded collect: the
    * per-file intersection probe, plus (under the cap) a builder for the
    * batch's distinct-key tuples as a LOCAL relation — the merge paths
    * reuse it as their join build side instead of re-evaluating the batch
    * plan and shuffling a distinct.
    */
  private case class KeyFootprint(hitFile: FileEntry => Boolean,
      exactKeys: Option[SparkSession => DataFrame],
      exactCount: Option[Int])

  /** Footprint + local key relation for a merge's `deleteKeys`: the tuples
    * are validated (arity, no NULLs — values must carry the key columns'
    * runtime types) and fed STRAIGHT into [[buildFootprint]] — they are
    * already driver-side and always exact, so no Spark round-trip (no
    * createDataFrame → distinct → collect job on the fold's commit path).
    * None when empty.
    */
  private def extrasFootprint(batch: DataFrame, keys: Seq[String],
      deleteKeys: Seq[Seq[Any]], opName: String): Option[KeyFootprint] = {
    if (deleteKeys.isEmpty) return None
    deleteKeys.foreach { t =>
      require(t.length == keys.length,
        s"$opName: deleteKeys tuple arity ${t.length} != ${keys.length} key columns")
      require(!t.contains(null), s"$opName: deleteKeys contains NULLs")
    }
    val rows = deleteKeys.map(t => org.apache.spark.sql.Row(t: _*)).toArray
    Some(buildFootprint(rows, batch.schema, keys, exact = true, rangeRow = None))
  }

  /** The batch's key-footprint probe for the keyed merges: validates the
    * key column, collects the batch's distinct keys ONCE (capped at
    * `maxExactKeys`, past which pruning degrades to the batch's [min, max]
    * key RANGE — conservative, never wrong), and returns the per-file
    * intersection test — binary search over the sorted key set, O(log
    * keys) per file. None for an EMPTY batch (callers no-op). NaN keys
    * defeat ordered pruning (every comparison is false, which would
    * wrongly SKIP the files holding them) — they disable pruning entirely.
    */
  private def keyFootprint(batch: DataFrame, keys: Seq[String], maxExactKeys: Int,
      opName: String): Option[KeyFootprint] = {
    require(keys.nonEmpty, s"$opName: needs at least one key column")
    keys.foreach { key =>
      require(batch.columns.contains(key), s"$opName: batch has no column '$key'")
      val keyType = batch.schema(key).dataType
      // timestamps refused: their stat bounds live in epoch-micros while a
      // collected key is a wall-clock object — a mismatch that could only
      // prune wrongly; temporal merges belong on the dt-keyed [[merge]]
      val timestampish = keyType == org.apache.spark.sql.types.TimestampType ||
        keyType == org.apache.spark.sql.types.TimestampNTZType
      require(FileStats.eligible(keyType) && !timestampish &&
          keyType != org.apache.spark.sql.types.BooleanType,
        s"$opName key '$key' must be numeric/string/date, got ${keyType.sql}")
    }
    // ONE bounded job serves emptiness, the NULL-key guard (a null is one
    // distinct value per column, so within the cap it is always among the
    // collected tuples; the over-cap agg below re-checks), and the pruning
    // key sets — per-COLUMN probes derived from the distinct key TUPLES
    // (independent per-column tests are conservative for composite keys:
    // a file passing every column may still lack the combination — it is
    // rewritten, never wrongly skipped)
    val keyRows = batch.select(keys.map(k => col(s"`$k`")): _*)
      .distinct().limit(maxExactKeys + 1).collect()
    if (keyRows.isEmpty) return None
    require(!keyRows.exists(r => keys.indices.exists(r.isNullAt)),
      s"$opName: batch has NULL keys")
    val exact = keyRows.length <= maxExactKeys
    // over-cap fallback: ONE EAGER agg yields every column's [min, max],
    // the null re-check the capped collect may have missed, and a NaN
    // count for floating keys. Eager, not lazy: the NULL guard must fire
    // even when every column's probe short-circuits to always-true, and
    // NaN detection cannot rely on the truncated sample — a NaN beyond
    // the cap would otherwise leave range pruning ON while file stats
    // never bound NaN, wrongly skipping the file that holds it (the stale
    // row survives and the batch inserts a duplicate key)
    val rangeRow: Option[org.apache.spark.sql.Row] = if (exact) None else {
      val aggs = keys.flatMap { k =>
        val dt = batch.schema(k).dataType
        val nanCount =
          if (dt == org.apache.spark.sql.types.DoubleType ||
              dt == org.apache.spark.sql.types.FloatType)
            count(when(isnan(col(s"`$k`")), lit(1)))
          else count(lit(null))
        Seq(min(col(s"`$k`")), max(col(s"`$k`")),
          count(when(col(s"`$k`").isNull, lit(1))), nanCount)
      }
      val r = batch.agg(aggs.head, aggs.tail: _*).collect()(0)
      keys.indices.foreach(i => require(r.getLong(4 * i + 2) == 0L,
        s"$opName: batch has NULL keys"))
      Some(r)
    }
    Some(buildFootprint(keyRows, batch.schema, keys, exact, rangeRow))
  }

  /** The probe + build-side construction shared by [[keyFootprint]]
    * (collected batch tuples) and [[extrasFootprint]] (driver-supplied
    * delete tuples, always exact): per-column binary-search probes in
    * exact mode, [min, max] interval tests in range mode, and the local
    * key relation for the merge's join build side.
    */
  private def buildFootprint(keyRows: Array[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType, keys: Seq[String],
      exact: Boolean, rangeRow: Option[org.apache.spark.sql.Row]): KeyFootprint = {
    def repr(v: Any): String = v match {
      case d: java.sql.Date => d.toString
      case ld: java.time.LocalDate => ld.toString
      case other => other.toString
    }
    val probes: Seq[FileEntry => Boolean] = keys.zipWithIndex.map { case (key, ki) =>
      val kind = FileStats.kindOf(schema(key).dataType)
      val unprunable = kind == "num" && (keyRows.exists(r => {
        val s = repr(r.get(ki)); s == "NaN" || s == "-NaN"
      }) || rangeRow.exists(_.getLong(4 * ki + 3) > 0L))
      if (unprunable) (_: FileEntry) => true
      else if (exact) {
        if (kind == "num") {
          val ks = keyRows.map(r => repr(r.get(ki)).toDouble).distinct.sorted
          (e: FileEntry) => keyBounds(e, key) match {
            case Some((lo, hi)) =>
              // Double.compare, not <=: a NaN bound (all-NaN column, or a
              // legacy collector that let NaN through) must read as the
              // GREATEST value — raw <= against NaN is false and would
              // wrongly SKIP the file (FileStats.cmp's own discipline)
              val i = lowerBoundD(ks, lo.toDouble)
              i < ks.length && java.lang.Double.compare(ks(i), hi.toDouble) <= 0
            case None => true
          }
        } else {
          val ks = keyRows.map(r => repr(r.get(ki))).distinct
            .sortWith(FileStats.cmpUtf8(_, _) < 0)
          (e: FileEntry) => keyBounds(e, key) match {
            case Some((lo, hi)) =>
              val i = lowerBoundS(ks, lo)
              i < ks.length && FileStats.cmpUtf8(ks(i), hi) <= 0
            case None => true
          }
        }
      } else {
        val row = rangeRow.get
        val (bLo, bHi) = (repr(row.get(4 * ki)), repr(row.get(4 * ki + 1)))
        (e: FileEntry) => keyBounds(e, key) match {
          case Some((lo, hi)) =>
            if (kind == "num") !(bHi.toDouble < lo.toDouble || bLo.toDouble > hi.toDouble)
            else !(FileStats.cmpUtf8(bHi, lo) < 0 || FileStats.cmpUtf8(bLo, hi) > 0)
          case None => true
        }
      }
    }
    val exactKeysDf: Option[SparkSession => DataFrame] =
      if (!exact) None
      else {
        val keySchema = org.apache.spark.sql.types.StructType(keys.map(schema(_)))
        val rowsList = java.util.Arrays.asList(keyRows: _*)
        Some(s => s.createDataFrame(rowsList, keySchema))
      }
    KeyFootprint(e => probes.forall(_(e)), exactKeysDf,
      if (exact) Some(keyRows.length) else None)
  }

  /** Output-partition sizing for a keyed merge's rewrite: enough parts
    * that each file lands near `targetBytes`, never more than the work
    * needs. Only applies when the batch's row count is KNOWN (under the
    * footprint cap — one row per key); over-cap batches keep their natural
    * partitioning rather than guess. Without this, a fold-sized rewrite
    * (k rows into a few files) inherits the batch's shuffle-partition
    * count and writes O(shuffle.partitions) near-empty files per commit —
    * the small-file explosion that compounds across micro-batches.
    */
  private[catalog] def mergeOutParts(rewrite: Seq[FileEntry], batchRows: Long,
      targetBytes: Long = 128L * 1024 * 1024,
      // bytes-per-row estimate for an EMPTY rewrite set (MoR appends,
      // fully-pruned COW rewrites): the table's manifest-observed row
      // width — without it, wide rows (e.g. embedding columns) fall to
      // the 256-byte default and under-partition into oversized files
      avgRowHint: Option[Double] = None): Int = {
    val rewriteBytes = rewrite.map(_.bytes).sum
    val rewriteRows = math.max(1L, rewrite.map(_.rows).sum)
    val avgRow =
      if (rewrite.nonEmpty) rewriteBytes.toDouble / rewriteRows
      else avgRowHint.filter(_ > 0.0).getOrElse(256.0)
    val estBytes = rewriteBytes + batchRows * avgRow
    math.max(1, math.ceil(estBytes / targetBytes).toInt)
  }

  /** The table's observed bytes-per-row from its live manifest entries —
    * [[mergeOutParts]]' `avgRowHint` source; None for an empty table.
    */
  private def tableAvgRow(m: Manifest): Option[Double] = {
    val rows = m.entries.map(_.rows).sum
    if (rows <= 0L) None else Some(m.entries.map(_.bytes).sum.toDouble / rows)
  }

  /** A file's key bounds for [[mergeByKey]] pruning: Some((lo, hi)) when
    * the manifest carries both bounds for the column, None (conservative)
    * otherwise.
    */
  private def keyBounds(e: FileEntry, key: String): Option[(String, String)] =
    for {
      s <- e.stats.flatMap(_.get(key)); lo <- s.lo; hi <- s.hi
    } yield (lo, hi)

  /** Index of the first element >= target (array length when none). */
  private def lowerBoundD(a: Array[Double], target: Double): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      // NaN-total order (NaN greatest), matching the probe's comparisons
      if (java.lang.Double.compare(a(mid), target) < 0) lo = mid + 1 else hi = mid
    }
    lo
  }

  private def lowerBoundS(a: Array[String], target: String): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (FileStats.cmpUtf8(a(mid), target) < 0) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Rewrite the current snapshot into ⌈total bytes / targetBytes⌉ files and
    * commit — the concurrent-reader-safe form of [[graft.ops.Layout.compact]]:
    * readers of the old snapshot keep their files (nothing is deleted here;
    * that's [[vacuum]]'s job), readers arriving after the commit see only
    * the compacted files.
    *
    * `layout` re-arranges rows during the rewrite (row-preserving — e.g.
    * [[graft.ops.Layout.clusterByZ]] for z-order clustering): layout
    * maintenance rides the same atomic commit as compaction instead of
    * being a second full rewrite. When it repartitions itself, it also
    * controls the file count.
    *
    * @return (live files before, live files after)
    */
  def compact(spark: SparkSession, dir: String,
      targetBytes: Long = 128L * 1024 * 1024,
      layout: Option[DataFrame => DataFrame] = None,
      // BINPACK mode (Delta's OPTIMIZE default, Iceberg's
      // rewrite_data_files BIN_PACK): rewrite ONLY files smaller than this
      // bound — plus any file carrying a deletion vector, which compaction
      // exists to purge — and carry every already-well-sized clean file by
      // reference. At 100 TB a full rewrite is a non-starter; the steady-
      // state maintenance op touches the append-fragmented tail only, so
      // its cost tracks the fragmentation, not the table. None = rewrite
      // everything (the layout-clustering form).
      onlyFilesBelow: Option[Long] = None,
      // Z-ORDERED compaction (Delta's OPTIMIZE ZORDER BY, Iceberg's
      // rewrite sort): one column range-sorts, 2-8 columns cluster by the
      // N-column Morton value — every written file covers a small
      // hyper-rectangle of the key domain, so manifest/footer min-max
      // stats prune on ANY clustered column. On a PARTITIONED table the
      // ordering applies WITHIN the partition routing (the bare `layout`
      // hook can't do that: writeData's rebalance reshuffles after it).
      zorderBy: Seq[String] = Seq.empty): (Int, Int) = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    onlyFilesBelow.foreach(b => require(b > 0, s"onlyFilesBelow must be positive, got $b"))
    require(zorderBy.isEmpty || layout.isEmpty,
      "zorderBy and a custom layout are mutually exclusive")
    retryingRewrite(dir) {
      val m = snapshot(spark, dir)
      zorderBy.foreach { c =>
        val known = m.schemaDdl.map(org.apache.spark.sql.types.StructType.fromDDL)
          .forall(_.fieldNames.exists(_.equalsIgnoreCase(c)))
        require(known, s"zorder column '$c' is not in the table schema at $dir")
      }
      val (rewrite, carried) = onlyFilesBelow match {
        case None => (m.entries, Seq.empty[FileEntry])
        case Some(bound) => m.entries.partition(e => e.bytes < bound || e.dv.isDefined)
      }
      // nothing to gain: one clean WITHIN-TARGET candidate merges with
      // nothing (a lone vectored file still rewrites — purging the vector
      // IS the gain; a lone oversized file still rewrites — SPLITTING to
      // the target, e.g. re-clustering a merge's single-file rewrite, is
      // the gain)
      if (rewrite.isEmpty || (rewrite.length == 1 && rewrite.head.dv.isEmpty &&
          rewrite.head.bytes <= targetBytes))
        return (m.entries.length, m.entries.length)
      val totalBytes = rewrite.map(_.bytes).sum
      val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
      val base = scan(spark, dir, m.copy(entries = rewrite))
      val pcols = m.partitionCols.getOrElse(Seq.empty)
      // z-order sort key: the raw column for one (repartitionByRange
      // handles any orderable type), the range-normalized Morton value
      // for 2-8 ([[graft.ops.Layout.zClusterKey]] — validates key types
      // and fits each domain into the interleave's bit budget; evaluated
      // ONCE against the base, its one skinny min/max agg never re-runs)
      lazy val zKey: org.apache.spark.sql.Column =
        if (zorderBy.size == 1) org.apache.spark.sql.functions.col(s"`${zorderBy.head}`")
        else graft.ops.Layout.zClusterKey(base, zorderBy)
      val arranged =
        if (zorderBy.isEmpty) layout.fold(
          // a partitioned table's files are decided by writeData's rebalance
          // on the routing columns; a shuffle to nOut before it only moves
          // the whole table once more
          if (pcols.nonEmpty) base else base.repartition(nOut))(_.apply(base))
        else if (pcols.nonEmpty) base // ordered inside writeData, post-routing
        else base.withColumn("__zk", zKey)
          .repartitionByRange(nOut, org.apache.spark.sql.functions.col("__zk"))
          .sortWithinPartitions(org.apache.spark.sql.functions.col("__zk"))
          .drop("__zk")
      // partitioned tables re-route through the partition layout: binpack
      // merging never mixes partition values into one file
      val entries = writeData(spark, arranged, dir, pcols,
        sortBy = if (zorderBy.nonEmpty && pcols.nonEmpty) Seq(zKey) else Seq.empty,
        sortParts = Some(nOut), mapping = mappingOf(Some(m)))
      // a compaction reads every REWRITTEN file, so a concurrent rewrite of
      // one conflicts; concurrent appends — and, in binpack mode, rewrites
      // of CARRIED files — rebase, their files ride along until next time
      val rewritePaths = rewrite.map(_.path).toSet
      commitLoop(spark, dir, op = "compact") { cur =>
        Some((rebasedEntries(dir, Some(m), cur, rewritePaths, rewritePaths, entries),
          txnOf(cur), cur.flatMap(_.schemaDdl).orElse(m.schemaDdl)))
      }
      (m.entries.length, carried.length + entries.length)
    }
  }

  /** Grace period an unreferenced file must age before [[vacuum]] may
    * delete it: under the multi-writer contract a writer that has run
    * [[writeData]] but not yet CAS-published is indistinguishable from an
    * abandoned attempt — deleting its fresh files would publish a manifest
    * with dangling references. 30 minutes comfortably exceeds any commit's
    * write-to-publish window; the same idea as Delta's vacuum retention
    * check.
    */
  val DefaultVacuumGraceMs: Long = 30L * 60 * 1000

  /** Retention: delete data files referenced by NONE of the newest
    * `keepVersions` manifests, drop the expired manifests, and clear
    * crash-leftover temp files. Call when no reader can still hold an
    * expired snapshot; concurrent WRITERS are safe by default because only
    * unreferenced files older than `minUnreferencedAgeMs` are touched — an
    * in-flight commit's data files are younger than that by construction.
    * Pass 0 only when provably no commit is in flight (tests, maintenance
    * windows). Returns the number of data files deleted.
    */
  def vacuum(spark: SparkSession, dir: String, keepVersions: Int = 2,
      minUnreferencedAgeMs: Long = DefaultVacuumGraceMs): Int = {
    val (plan, jobDeleted) =
      vacuumSweep(spark, dir, keepVersions, minUnreferencedAgeMs, execute = true)
    (plan.count(_._2 == "data") + jobDeleted.getOrElse("data", 0L)).toInt
  }

  /** DRY RUN: the exact deletion plan [[vacuum]] would execute with the
    * same arguments — (path relative to the table dir, kind) pairs, kind ∈
    * data (unreferenced data file) | orphan (unreferenced non-data file) |
    * manifest (expired version) | log (crash-leftover temp / unreferenced
    * segment) — touching NOTHING (Delta's `VACUUM … DRY RUN`). The list is
    * advisory, not a reservation: a writer committing between the dry run
    * and the real run can change what the real run deletes.
    *
    * The full plan is O(deleted files) driver memory — after massive churn
    * that can be the table's whole history. Pass `planLimit = Some(n)` to
    * cap what returns to the driver (the executing vacuum is unaffected —
    * it never materializes the plan): a capped result holds n entries that
    * ARE in the plan, but which n is arbitrary when the plan is larger.
    */
  def vacuumDryRun(spark: SparkSession, dir: String, keepVersions: Int = 2,
      minUnreferencedAgeMs: Long = DefaultVacuumGraceMs,
      planLimit: Option[Int] = None): Seq[(String, String)] = {
    planLimit.foreach(n => require(n >= 0, "planLimit cannot be negative"))
    vacuumSweep(spark, dir, keepVersions, minUnreferencedAgeMs, execute = false,
      planLimit = planLimit)._1
  }

  /** The ONE selection rule both vacuum walks apply (driver and Spark-job
    * — a shared body so the parallel path can never plan differently):
    * a file is swept iff no retained manifest references it AND it aged
    * past the grace cutoff. Static so the executor closure serializes
    * only (live, cutoff), never the table state.
    */
  private def sweepCandidate(rel: String, name: String, mtime: Long,
      live: Set[String], cutoff: Long): Option[(String, String)] =
    if (!live.contains(rel) && mtime <= cutoff)
      Some((rel, if (name.endsWith(".parquet")) "data" else "orphan"))
    else None

  /** Top-level table-directory count above which the vacuum walk runs as a
    * Spark job instead of a driver-side recursive listing. Each top-level
    * entry is a per-commit subdirectory, so the count grows with retained
    * commit history — at 100 TB / millions of files the driver walk is an
    * hours-long serial crawl (Delta parallelizes vacuum listing for the
    * same reason), while below the threshold the job-scheduling overhead
    * exceeds the listing cost. Overridable for tests and unusual layouts
    * via `spark.graft.vacuum.parallelListingThreshold`.
    */
  val DefaultVacuumParallelThreshold: Int = 64

  /** Returns (planned entries whose paths reached the driver, kind → count
    * of files deleted inside the parallel listing job without their paths
    * ever leaving the executors). Dry runs always put everything in the
    * first component.
    */
  private def vacuumSweep(spark: SparkSession, dir: String, keepVersions: Int,
      minUnreferencedAgeMs: Long,
      execute: Boolean,
      planLimit: Option[Int] = None): (Seq[(String, String)], Map[String, Long]) = {
    require(keepVersions >= 1, "must keep at least the current snapshot")
    require(minUnreferencedAgeMs >= 0, "grace period cannot be negative")
    val cutoff = System.currentTimeMillis() - minUnreferencedAgeMs
    val fs = fsFor(spark, dir)
    val versions = manifestVersions(fs, dir)
    if (versions.isEmpty) return (Seq.empty, Map.empty)
    val (expired, kept) = versions.splitAt(math.max(0, versions.length - keepVersions))
    val keptManifests = kept.map { case (_, p) => readManifest(fs, p) }
    val live: Set[String] = keptManifests.flatMap(m =>
      m.entries.map(_.path) ++ m.entries.flatMap(_.dv.map(_.path))).toSet
    val liveSegs: Set[String] = keptManifests.flatMap(_.segments.getOrElse(Seq.empty)).toSet
    val root = new Path(dir)
    val rootUri = fs.makeQualified(root).toUri
    def relOf(p: Path): String = rootUri.relativize(fs.makeQualified(p).toUri).getPath
    val planned = scala.collection.mutable.ArrayBuffer[(String, String)]()
    // dry-run plan cap: stop RETAINING entries past the limit (the walk
    // itself continues — in execute mode `planned` feeds counts and is
    // never capped)
    def planAdd(c: (String, String)): Unit =
      if (execute || planLimit.forall(planned.length < _)) planned += c
    // kind → count of files deleted INSIDE the parallel listing job (whose
    // paths never reach the driver); empty on every other path
    val jobDeleted = scala.collection.mutable.Map[String, Long]()
    // data files live under per-commit subdirectories — NESTED below
    // partition-value directories when the table is partitioned, so the
    // walk is recursive and empty directories prune bottom-up after
    val topDirs = fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName != LogDirName).map(_.getPath)
    val thresholdKey = "spark.graft.vacuum.parallelListingThreshold"
    val threshold = spark.conf.getOption(thresholdKey)
      .map { v =>
        try v.trim.toInt
        catch { case e: NumberFormatException => throw new IllegalArgumentException(
          s"$thresholdKey must be an integer, got '$v'", e) }
      }.getOrElse(DefaultVacuumParallelThreshold)
    if (topDirs.length <= threshold) {
      // driver walk: listing + (when executing) interleaved delete. Each
      // directory is listed ONCE — emptiness after the sweep is tracked
      // from that listing and the delete outcomes instead of a second
      // listStatus (O(dirs) extra NameNode RPCs otherwise).
      def sweep(d: Path): Boolean = { // true iff d ended up deleted
        val entries = fs.listStatus(d)
        var remaining = entries.length
        entries.foreach { f =>
          if (f.isDirectory) { if (sweep(f.getPath)) remaining -= 1 }
          else sweepCandidate(relOf(f.getPath), f.getPath.getName,
            f.getModificationTime, live, cutoff).foreach { c =>
            planAdd(c)
            if (execute && fs.delete(f.getPath, false)) remaining -= 1
          }
        }
        execute && remaining == 0 && fs.delete(d, false)
      }
      topDirs.foreach(sweep)
    } else {
      // PARALLEL walk: one Spark task per top-level commit directory does
      // the recursive listing + selection; executing deletes run as a
      // second job over the plan. Only the (typically tiny) deletion plan
      // returns to the driver; the empty-directory prune afterwards lists
      // DIRECTORIES only — O(dirs) driver work, not O(files).
      val confB = spark.sparkContext.broadcast(
        new org.apache.spark.util.SerializableConfiguration(
          spark.sessionState.newHadoopConf()))
      val liveB = spark.sparkContext.broadcast(live)
      val qualifiedRoot = fs.makeQualified(root).toString
      val slices = math.max(1, math.min(topDirs.length,
        spark.sparkContext.defaultParallelism * 2))
      // One Spark task per slice of top-level commit dirs does the recursive
      // listing + selection; `act` runs on the selected file INSIDE the task.
      def sweepJob[T: scala.reflect.ClassTag](
          act: (org.apache.hadoop.fs.FileSystem, Path, (String, String)) => Iterator[T]) =
        spark.sparkContext
          .parallelize(topDirs.map(_.toString).toSeq, slices)
          .flatMap { dStr =>
            val tfs = new Path(dStr).getFileSystem(confB.value.value)
            val rUri = tfs.makeQualified(new Path(qualifiedRoot)).toUri
            def walk(q: Path): Iterator[T] =
              tfs.listStatus(q).iterator.flatMap { f =>
                if (f.isDirectory) walk(f.getPath)
                else sweepCandidate(
                  rUri.relativize(tfs.makeQualified(f.getPath).toUri).getPath,
                  f.getPath.getName, f.getModificationTime, liveB.value, cutoff)
                  .iterator.flatMap(c => act(tfs, f.getPath, c))
              }
            walk(new Path(dStr))
          }
      if (execute) {
        // Deletes run inside the listing job itself and only per-kind COUNTS
        // return to the driver: an executing vacuum after massive churn is
        // O(1) driver memory regardless of how many files it removes (the
        // full path list is the DRY-RUN contract; the executing contract is
        // the count). The count is of SELECTED files — the same contract as
        // the driver walk, which counts planned entries whether or not
        // fs.delete succeeds — and is best-effort under task retry either
        // way: a task that deletes some files and then fails cannot report
        // them, and its retry re-lists a directory where they no longer
        // exist, so partial-failure counts can only UNDERcount (never
        // double-count a file).
        val kindCounts = sweepJob { (tfs, p, c) =>
          tfs.delete(p, false)
          Iterator.single(c._2)
        }.countByValue()
        jobDeleted ++= kindCounts
        // bottom-up empty-directory prune — runs even on an empty plan,
        // like the driver walk (which drops pre-existing empty directories
        // regardless of what it swept). Distributed the same way as the
        // sweep (one task prunes one top dir's subtree, single listing per
        // directory): above the threshold the directory count is exactly
        // what outgrew the driver
        spark.sparkContext
          .parallelize(topDirs.map(_.toString).toSeq, slices)
          .foreach { dStr =>
            val tfs = new Path(dStr).getFileSystem(confB.value.value)
            def prune(d: Path): Boolean = { // true iff d ended up deleted
              val entries = tfs.listStatus(d)
              var remaining = entries.length
              entries.foreach { c =>
                if (c.isDirectory && prune(c.getPath)) remaining -= 1
              }
              remaining == 0 && tfs.delete(d, false)
            }
            prune(new Path(dStr))
          }
      } else {
        // a capped plan uses take(n) — only n entries ever reach the
        // driver, instead of collect()'s O(plan) array
        val planRdd = sweepJob((_, _, c) => Iterator.single(c))
        planned ++= planLimit.fold(planRdd.collect())(planRdd.take).sortBy(_._1)
      }
    }
    expired.foreach { case (_, p) =>
      planAdd((relOf(p), "manifest"))
      if (execute) fs.delete(p, false)
    }
    // crash leftovers: unpublished temp manifests — same grace, a fresh
    // .tmp may be a concurrent tryPublish between create and rename —
    // and manifest segments referenced by no RETAINED manifest (expired
    // history, lost-CAS orphans); a fresh segment may belong to a commit
    // between segment write and manifest publish, so the grace applies
    val log = new Path(dir, LogDirName)
    if (fs.exists(log)) fs.listStatus(log)
      .filter { st =>
        val n = st.getPath.getName
        st.isFile && st.getModificationTime <= cutoff &&
          (n.endsWith(".tmp") || (n.startsWith("seg-") && n.endsWith(".json") && !liveSegs(n)))
      }
      .foreach { st =>
        planAdd((relOf(st.getPath), "log"))
        if (execute) fs.delete(st.getPath, false)
      }
    (planned.toSeq, jobDeleted.toMap)
  }

  /** Write `df` into a fresh per-commit subdirectory and return its file
    * entries with row counts and per-column stats read from the parquet
    * FOOTERS ([[FooterStats]]) — no second scan over data just written; a
    * commit's stats cost is O(files) footer reads regardless of file
    * sizes. Files are invisible to every reader until a manifest that
    * lists them is committed.
    */
  private def writeData(spark: SparkSession, df: DataFrame, dir: String,
      pcols: Seq[String] = Seq.empty,
      // intra-file ordering for z-ordered compaction of partitioned
      // tables: rows RANGE-partition on (routing dirs, sortBy) into
      // `sortParts` tasks and sort within — each written file then holds a
      // contiguous sort-key range inside its partition directory, so
      // sibling files' footer min-max spans are disjoint and prune
      sortBy: Seq[org.apache.spark.sql.Column] = Seq.empty,
      sortParts: Option[Int] = None,
      // the table's column mapping: files always store PHYSICAL names, so
      // the (logical-named) frame renames just before the write — AFTER
      // routing and sorting, whose Columns reference logical names
      // (partition columns are refused from rename, so their two names
      // coincide and the routing directories are unaffected)
      mapping: Map[String, String] = Map.empty): Seq[FileEntry] = {
    val commitName = "c-" + java.util.UUID.randomUUID().toString.take(12)
    val commitDir = new Path(dir, commitName)
    if (pcols.isEmpty) toPhysical(df, mapping).write.parquet(commitDir.toString)
    else {
      // partition routing on COMPUTED columns, so the originals stay IN
      // the data files (readers never reconstruct values from paths):
      // identity fields duplicate the value (`__p_<col>=v` — one raw value
      // per file, footer min/max exact, manifest pruning byte-precise),
      // bucket fields compute `pmod(xxhash64(col), n)` (`__pb_<n>_<col>=id` —
      // one bucket per file, the co-located-join layout for
      // high-cardinality keys plus guaranteed 1/n point-lookup pruning)
      validatePartitioning(df.schema, pcols, s"write into partitioned table at $dir")
      val fields = PartitionFields.parseAll(pcols)
      def dtOf(f: PartitionFields.Field): org.apache.spark.sql.types.DataType =
        df.schema.fields.find(_.name.equalsIgnoreCase(f.col)).get.dataType
      val routed = fields.foldLeft(df)((d, f) =>
        d.withColumn(f.dirCol, PartitionFields.routeColumn(f, dtOf(f))))
      // WRITE ALIGNMENT: without it, partitionBy makes every task open a
      // writer per value it sees — O(tasks × values) small files per
      // commit, the classic dynamic-partition explosion. A REBALANCE on
      // the routing columns (Iceberg's hash write-distribution, with
      // AQE's oversized-group splitting keeping huge values parallel)
      // clusters each value into few tasks → O(values) right-sized files
      val ordered =
        if (sortBy.isEmpty) routed.hint("rebalance", fields.map(f => col(f.dirCol)): _*)
        else {
          val keys = fields.map(f => col(f.dirCol)) ++ sortBy
          val n = sortParts.getOrElse(
            spark.sessionState.conf.numShufflePartitions)
          routed.repartitionByRange(n, keys: _*).sortWithinPartitions(keys: _*)
        }
      toPhysical(ordered, mapping).write.partitionBy(fields.map(_.dirCol): _*)
        .parquet(commitDir.toString)
    }
    val fs = fsFor(spark, dir)
    val rel = listDataFiles(fs, new Path(dir), commitDir)
    // footer stats key by the PHYSICAL names the files store; partition
    // columns are never renamed, so the priority list needs no translation
    entriesFromFooters(spark, dir, rel, physicalSchema(df.schema, mapping),
      priority = PartitionFields.cols(pcols))
  }

  /** Duplicate-column prefix the partition routing writes directories
    * under (`c-…/__p_dt=2024-01-02/part-….parquet`). Never appears in any
    * schema or file: purely a layout artifact.
    */
  private[catalog] val PartDupPrefix = "__p_"

  /** All `.parquet` files under `commitDir` (recursively — partitioned
    * writes nest them under value directories) as (path relative to
    * `root`, length), deterministically ordered.
    */
  private def listDataFiles(fs: FileSystem, root: Path, commitDir: Path): Seq[(String, Long)] = {
    if (!fs.exists(commitDir)) return Seq.empty
    val rootUri = fs.makeQualified(root).toUri
    val out = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    val it = fs.listFiles(commitDir, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet")) {
        val rel = rootUri.relativize(fs.makeQualified(st.getPath).toUri).getPath
        out += ((rel, st.getLen))
      }
    }
    out.sortBy(_._1).toSeq
  }

  /** Types an identity partition column may have: exactly the set where a
    * file-level `lo == hi` bound PROVES every row holds that value —
    * strings/dates compare as their stored form, integrals are exact in
    * the double-stat domain below 2^53, booleans/timestamps likewise.
    * Float/double/decimal are refused (rounding makes bounds ambiguous —
    * and partitioning on continuous values is a layout smell anyway).
    */
  private def partitionableType(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.StringType | org.apache.spark.sql.types.DateType |
         org.apache.spark.sql.types.TimestampType | org.apache.spark.sql.types.TimestampNTZType |
         org.apache.spark.sql.types.BooleanType | org.apache.spark.sql.types.ByteType |
         org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.LongType => true
    case _ => false
  }

  /** Refuse loudly when the spec's underlying columns don't all exist in
    * `schema` with a partitionable type — a partitioned table's batches
    * must always carry their partition columns (an appended batch can
    * evolve OTHER columns, never drop the routing ones). `pcols` are
    * ENCODED fields ([[PartitionFields]]): identity column names and
    * `bucket(n,col)` entries; bucket fields restrict to the same type set
    * (the hash is deterministic on exactly those types, and float/double
    * NaN/-0.0 aliasing would make point-lookup bucket pruning ambiguous).
    */
  private[catalog] def validatePartitioning(schema: org.apache.spark.sql.types.StructType,
      pcols: Seq[String], what: String): Unit = {
    val fields = PartitionFields.parseAll(pcols)
    val cols = fields.map(_.col)
    require(cols.distinct.lengthCompare(cols.length) == 0,
      s"$what: duplicate partition columns in ${pcols.mkString(", ")}")
    fields.foreach { pf =>
      val f = schema.fields.find(_.name == pf.col).getOrElse(throw new IllegalArgumentException(
        s"$what: partition column '${pf.col}' is missing from the batch schema " +
          s"(${schema.fieldNames.mkString(", ")}) — every write into a partitioned table " +
          "must carry its partition columns"))
      require(partitionableType(f.dataType),
        s"$what: partition column '${pf.col}' has type ${f.dataType.catalogString}; " +
          "partitioning supports string/date/timestamp/boolean/integral columns only " +
          "(float/double/decimal bounds round, so files could not be pruned exactly)")
      pf match {
        case PartitionFields.Temporal(unit, c) =>
          require(PartitionFields.temporalAccepts(unit, f.dataType),
            s"$what: $unit($c) needs a ${if (unit == "hours") "timestamp" else "date/timestamp"} " +
              s"column; got ${f.dataType.catalogString}" +
              (if (f.dataType == org.apache.spark.sql.types.TimestampNTZType)
                " (timestamp_ntz is refused: unix_micros would shift it through the session zone)"
              else ""))
        case PartitionFields.Truncate(_, c) =>
          require(PartitionFields.truncateAccepts(f.dataType),
            s"$what: truncate(w,$c) needs a string/integral column; got " +
              f.dataType.catalogString)
        case _ =>
      }
    }
  }

  /** The table's identity partition columns (empty = unpartitioned). */
  def partitionColumns(spark: SparkSession, dir: String): Seq[String] =
    currentManifest(spark, dir).flatMap(_.partitionCols).getOrElse(Seq.empty)

  /** [[FileEntry]]s (row counts + per-column stats from parquet FOOTERS)
    * for already-written data files: `files` = (path relative to `dir`,
    * length) — lengths come with the caller's listing or commit messages,
    * so this never re-stats a file. Shared by [[writeData]]
    * (DataFrame-writer commits) and the DSv2 row-level BatchWrite
    * ([[SnapshotRowLevel]]), whose executors write files directly and
    * report (path, length) through commit messages. Empty part files
    * (0 rows) carry nothing a snapshot needs: they stay unlisted and
    * vacuum collects them.
    */
  private[catalog] def entriesFromFooters(spark: SparkSession, dir: String,
      files: Seq[(String, Long)],
      schema: org.apache.spark.sql.types.StructType,
      // columns whose stats must survive the MaxStatCols cap regardless of
      // schema position (partition columns: pruning correctness at the
      // manifest level depends on their bounds being present)
      priority: Seq[String] = Seq.empty): Seq[FileEntry] = {
    if (files.isEmpty) return Seq.empty
    val eligible = schema.fields.filter(f => FileStats.eligible(f.dataType)).toSeq
    val (front, rest) = eligible.partition(f => priority.contains(f.name))
    val statFields = (front ++ rest).take(FileStats.MaxStatCols)
    val conf = spark.sparkContext.hadoopConfiguration
    // footer reads are independent metadata fetches: overlap them (matters
    // on object stores where each is a round trip, harmless locally)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(16, files.length))
    try {
      val futures = files.map { case (rel, len) =>
        pool.submit(new java.util.concurrent.Callable[Option[FileEntry]] {
          def call(): Option[FileEntry] = {
            val p = new Path(dir, rel)
            val (rows, colStats) = FooterStats.collect(conf, p, statFields)
            if (rows == 0L) None
            else {
              val dt = colStats.get("dt").filter(_.kind == "str")
              Some(FileEntry(rel, rows, len,
                dt.flatMap(_.lo), dt.flatMap(_.hi),
                if (colStats.isEmpty) None else Some(colStats)))
            }
          }
        })
      }
      futures.flatMap(_.get())
    } finally pool.shutdown()
  }

  /** Commit a copy-on-write rewrite computed against `base`: `removed`
    * paths replaced by `added`, rebased onto whatever is current at
    * publish time ([[rebasedEntries]] rules: raced appends land, a raced
    * rewrite of any file this op `read` is a [[SnapshotConflictException]]).
    * The seam [[delete]]/[[update]] commit through inline, exposed for the
    * DSv2 row-level write whose retry is owned by the SQL user, not a
    * [[retryingRewrite]] loop (Spark has already computed and written the
    * new files; re-running the rewrite would need the whole query again).
    *
    * `conflictOnAdds` is the MERGE discipline ([[merge]] enforces the
    * dt-scoped version of it): a merge's insert-vs-update decisions were
    * made against `base`, so a file ADDED since might hold a key the
    * merge just inserted — rebasing over it would commit duplicate keys
    * (both serial orders would have produced one row). With no predicate
    * information at this layer, ANY concurrent add conflicts.
    */
  private[catalog] def commitRewrite(spark: SparkSession, dir: String, op: String,
      base: Manifest, read: Set[String], removed: Set[String],
      added: Seq[FileEntry], conflictOnAdds: Boolean = false): Option[Long] = {
    // SQL UPDATE/MERGE replacements were written by executors before any
    // constraint could look at them — validate the written files (one
    // pass over the REWRITE, not the table); refusal leaves invisible
    // orphans for vacuum
    base.constraints.foreach(cs =>
      enforceConstraints(spark,
        scan(spark, dir, base.copy(entries = added)),
        cs, s"row-level $op of $dir"))
    commitLoop(spark, dir, op) { cur =>
      if (conflictOnAdds) {
        val addedSince = cur.map(_.entries.map(_.path).toSet).getOrElse(Set.empty) --
          base.entries.map(_.path).toSet
        if (addedSince.nonEmpty) throw new SnapshotConflictException(
          s"concurrent commit at $dir added ${addedSince.size} file(s) this MERGE never " +
            s"matched against (e.g. ${addedSince.take(3).mkString(", ")}); re-run the MERGE " +
            "against the new snapshot")
      }
      Some((rebasedEntries(dir, Some(base), cur, read, removed, added),
        txnOf(cur), cur.flatMap(_.schemaDdl).orElse(base.schemaDdl)))
    }
  }

  /** The filesystem-qualified table directory — the ONE form every
    * `_file`-to-manifest-path comparison must agree on (the FileIndex, the
    * row-level narrow callback, and the writers all derive paths from it).
    */
  private[graft] def qualifiedDir(spark: SparkSession, dir: String): Path = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p)
  }

  private def txnOf(m: Option[Manifest]): Map[String, Long] =
    m.flatMap(_.txn).getOrElse(Map.empty)

  /** A raced snapshot rewrite whose inputs the winning commit invalidated:
    * the losing operation must be re-run from the new snapshot (see
    * [[retryingRewrite]]); a rebase would silently resurrect rows the
    * winner rewrote.
    */
  final class SnapshotConflictException(msg: String)
    extends java.util.ConcurrentModificationException(msg)

  private val MaxCasAttempts = 50  // CAS losses re-read one manifest: cheap
  private val MaxRewriteRetries = 4 // conflicts re-run a data rewrite: dear

  /** Publish mutexes, striped by log-path hash. Hadoop's local filesystem
    * maps rename onto POSIX rename(2), which OVERWRITES an existing
    * destination — so an exists-check + rename is only a CAS under mutual
    * exclusion. All `local[*]` writers share one JVM, so this striped lock
    * IS the coordination point there; on HDFS the rename itself refuses
    * existing destinations and the lock is merely harmless. A fixed stripe
    * array (not a per-path map) stays bounded over a process that touches
    * unboundedly many table directories; two tables sharing a stripe just
    * serialize their publishes occasionally.
    */
  private val publishLocks = Array.fill(64)(new Object)

  /** Try to publish `manifest` as exactly its version — a compare-and-swap
    * on the version slot. False = another writer took the version first.
    * The temp write + atomic rename keeps torn manifests impossible: a
    * reader sees the full file or no file.
    */
  private def tryPublish(fs: FileSystem, dir: String, manifest: Manifest): Boolean = {
    val t0 = System.nanoTime()
    try tryPublishTimed(fs, dir, manifest)
    finally {
      ManifestMetrics.publishes.increment()
      ManifestMetrics.publishNanos.add(System.nanoTime() - t0)
    }
  }

  private def tryPublishTimed(fs: FileSystem, dir: String, manifest: Manifest): Boolean = {
    val log = new Path(dir, LogDirName)
    val tmp = new Path(log, s"manifest-${java.util.UUID.randomUUID().toString.take(12)}.tmp")
    val out = fs.create(tmp, false)
    try out.write(org.json4s.jackson.Serialization.write(manifest)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dest = new Path(log, f"manifest-${manifest.version}%08d.json")
    val lock = publishLocks(math.floorMod(fs.makeQualified(log).toString.hashCode, 64))
    val won = lock.synchronized {
      !fs.exists(dest) && fs.rename(tmp, dest)
    }
    if (!won) fs.delete(tmp, false)
    won
  }

  /** The optimistic commit loop: build a manifest against the CURRENT
    * version with `mk`, CAS-publish it as current+1, and on a lost race
    * re-invoke `mk` against the winner — each op's `mk` is where rebase vs
    * conflict is decided. `mk` returning None abandons the commit (e.g. an
    * exactly-once batch the winner already recorded); a
    * [[SnapshotConflictException]] from `mk` propagates to
    * [[retryingRewrite]]. Returns the committed version, None if abandoned.
    */
  private def commitLoop(spark: SparkSession, dir: String, op: String,
      // how this commit transforms the carried constraint set: identity
      // for every DML commit (constraints ride along like txn markers);
      // the ALTER paths pass an updater
      reviseConstraints: Option[Map[String, String]] => Option[Map[String, String]] = identity,
      // how this commit transforms the partition spec: identity for every
      // DML commit; create/replace pass a setter (RTAS re-defines
      // partitioning exactly like it re-defines the schema)
      revisePartitioning: Option[Seq[String]] => Option[Seq[String]] = identity,
      // how this commit transforms the dropped-column tombstones: identity
      // everywhere except DROP COLUMN (appends) and replace (clears)
      reviseDropped: Option[Seq[String]] => Option[Seq[String]] = identity,
      // how this commit transforms the logical→physical column mapping:
      // identity everywhere except RENAME COLUMN (moves a logical name),
      // DROP COLUMN (sheds the dropped logical's entry), and replace
      // (clears — all files are new, written under their logical names)
      reviseMapping: Option[Map[String, String]] => Option[Map[String, String]] = identity,
      // the manifest the operation already parsed: reused verbatim when the
      // log listing still shows its version as current (the uncontended
      // path skips one manifest re-read + parse per commit); any newer
      // version re-reads as always — correctness never rests on the hint
      knownCurrent: Option[Manifest] = None)(
      mk: Option[Manifest] => Option[(Seq[FileEntry], Map[String, Long], Option[String])])
      : Option[Long] = {
    val fs = fsFor(spark, dir)
    val log = new Path(dir, LogDirName)
    if (!fs.exists(log)) fs.mkdirs(log)
    var attempt = 0
    while (attempt < MaxCasAttempts) {
      attempt += 1
      val curPair = manifestVersions(fs, dir).lastOption
      val cur = curPair.map { case (v, p) =>
        knownCurrent.filter(_.version == v).getOrElse(readManifest(fs, p))
      }
      val version = curPair.map(_._1 + 1).getOrElse(1L)
      mk(cur) match {
        case None => return None
        case Some((entries, txn, schemaDdl)) =>
          // monotonic-corrected commit clock: never behind the predecessor,
          // so TIMESTAMP AS OF resolution (latest stamp <= ts) is sound
          // even when a writer's wall clock lags the previous committer's
          val stamp = math.max(System.currentTimeMillis(),
            cur.flatMap(_.commitTimeMs).getOrElse(0L) + 1)
          // wire split: unchanged segments carry by name, the rest inlines
          // (sealing into fresh segments past the threshold) — a lost CAS
          // re-plans against the winner and any just-written segments
          // orphan harmlessly until vacuum
          val (inline, segs) = planWire(fs, spark, dir, cur, entries)
          val m = Manifest(version, inline, if (txn.isEmpty) None else Some(txn), schemaDdl,
            op = Some(op), commitTimeMs = Some(stamp), segments = segs,
            constraints = reviseConstraints(cur.flatMap(_.constraints))
              .filter(_.nonEmpty),
            partitionCols = revisePartitioning(cur.flatMap(_.partitionCols))
              .filter(_.nonEmpty),
            droppedCols = reviseDropped(cur.flatMap(_.droppedCols))
              .filter(_.nonEmpty),
            columnMapping = reviseMapping(cur.flatMap(_.columnMapping))
              .filter(_.nonEmpty))
          if (tryPublish(fs, dir, m)) return Some(version)
      }
    }
    throw new IllegalStateException(
      s"gave up publishing at $dir after $MaxCasAttempts lost commit races")
  }

  /** Rebase a rewrite (`removed` base files replaced by `added`) onto the
    * manifest current at publish time. Sound when every commit that won in
    * between only ADDED files; if any file whose content flowed into this
    * rewrite (`read`) is gone from `cur`, the rewrite's output is stale →
    * conflict, re-run. `base` == the manifest the op computed against.
    */
  private def rebasedEntries(dir: String, base: Option[Manifest], cur: Option[Manifest],
      read: Set[String], removed: Set[String], added: Seq[FileEntry]): Seq[FileEntry] = {
    val basePaths = base.map(_.entries.map(_.path).toSet).getOrElse(Set.empty)
    val curPaths = cur.map(_.entries.map(_.path).toSet).getOrElse(Set.empty)
    val goneSince = basePaths -- curPaths
    val stale = goneSince.intersect(read)
    if (stale.nonEmpty) throw new SnapshotConflictException(
      s"concurrent commit at $dir rewrote ${stale.size} file(s) this operation read " +
        s"(e.g. ${stale.take(3).mkString(", ")}); re-running against the new snapshot")
    // a concurrent MERGE-ON-READ commit mutates a file's visible rows
    // WITHOUT touching its path: a read file whose deletion vector changed
    // since `base` invalidates this rewrite exactly like a path rewrite
    // would (its output was computed from rows a winner has since deleted)
    val baseDv = base.map(_.entries.map(e => e.path -> e.dv).toMap).getOrElse(Map.empty)
    val dvStale = cur.map(_.entries).getOrElse(Seq.empty)
      .filter(e => read.contains(e.path) && baseDv.get(e.path).exists(_ != e.dv))
    if (dvStale.nonEmpty) throw new SnapshotConflictException(
      s"concurrent commit at $dir changed the deletion vector of ${dvStale.size} file(s) " +
        s"this operation read (e.g. ${dvStale.take(3).map(_.path).mkString(", ")}); re-running")
    cur.map(_.entries).getOrElse(Seq.empty).filterNot(e => removed.contains(e.path)) ++ added
  }

  /** Run a snapshot rewrite, re-running it from scratch (it re-reads the
    * current snapshot) each time a concurrent winner invalidated its
    * inputs. Bounded: pathological contention surfaces as an error, not
    * livelock.
    */
  private def retryingRewrite[T](dir: String)(body: => T): T = {
    var tries = 0
    while (true) {
      try return body
      catch {
        case e: SnapshotConflictException =>
          tries += 1
          if (tries > MaxRewriteRetries) throw new IllegalStateException(
            s"snapshot rewrite at $dir conflicted $tries times; giving up", e)
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
