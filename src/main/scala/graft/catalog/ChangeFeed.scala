package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Row-level change feed over a snapshot table — Delta CDF semantics
  * computed BY DIFF, with no stored change files: for every commit in
  * (`fromVersion`, `toVersion`] emit each row's change as
  * `_change_type` ∈ insert / delete / update_preimage / update_postimage
  * plus `_commit_version`.
  *
  * [[SnapshotTable.changesBetween]] is the file-level primitive: exactly
  * right for append-only consumption, double-counting by design the moment
  * a merge/compact rewrites carried rows into new files. This reader closes
  * that gap per commit, by kind (the manifest's `op` marker):
  *
  *  - `append`/`write` commits (nothing removed): added files ARE the
  *    inserts — no data diffed, cost O(appended rows), same as the
  *    file-level read.
  *  - `compact` commits preserve the row multiset by contract → skipped
  *    METADATA-ONLY. This is what makes the feed usable at 100 TB: a
  *    compaction rewrites everything, and a diff-based reader without the
  *    op marker would re-read the whole table to discover "no changes".
  *  - rewrite commits (`merge`/`delete`/`update`/`rollback`, or legacy
  *    manifests without `op`): keyed full-outer diff of ONLY the rewritten
  *    files — removed entries (pre-state) vs added entries (post-state).
  *    Carried-by-reference files never enter the diff, so a merge that
  *    rewrote one dt partition costs one partition, not the table.
  *
  * The diff requires `keys` to be unique within the rewritten files — the
  * same contract [[SnapshotTable.merge]] already imposes on the table; a
  * duplicate key fails the job loudly (raise_error) rather than emitting
  * a cartesian of fabricated updates.
  *
  * Pre-images of a commit that (additively) evolved the schema are
  * projected onto the commit's post-schema — pre-evolution rows read NULL
  * for the new columns, exactly as a time-travel read of that version
  * would.
  */
object ChangeFeed {

  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  def rowChanges(spark: SparkSession, dir: String,
      fromVersion: Long, toVersion: Long, keys: Seq[String]): DataFrame = {
    require(fromVersion < toVersion,
      s"need fromVersion < toVersion, got $fromVersion >= $toVersion")
    require(keys.nonEmpty, "rowChanges needs at least one key column")
    val fs = SnapshotTable.fsFor(spark, dir)
    val byVersion = SnapshotTable.manifestVersions(fs, dir).toMap
    def manifestAt(v: Long): Option[SnapshotTable.Manifest] =
      if (v == 0L) None
      else Some(byVersion.get(v).map(SnapshotTable.readManifest(fs, _))
        .getOrElse(throw new IllegalStateException(
          s"version $v not available at $dir (never committed, or expired by vacuum)")))

    // every commit in the window must still be retained: a vacuumed
    // intermediate version would silently fuse two commits into one diff
    val versions = (fromVersion + 1) to toVersion
    versions.foreach(v => require(byVersion.contains(v),
      s"version $v expired by vacuum: the per-commit change feed over " +
        s"($fromVersion, $toVersion] is no longer reconstructible at $dir"))

    var prev = manifestAt(fromVersion)
    val parts = versions.flatMap { v =>
      val m = manifestAt(v).get
      val out = commitChanges(spark, dir, prev, m, keys)
      prev = Some(m)
      out
    }
    parts.reduceOption(_ unionByName _).getOrElse {
      // empty window (every commit was a no-op compact): empty frame with
      // the to-version schema + the change columns
      val schema = StructType.fromDDL(manifestAt(toVersion).get.schemaDdl.getOrElse(
        throw new IllegalStateException(s"snapshot at $dir has no recorded schema")))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema.add(ChangeTypeCol, "string", nullable = false)
          .add(CommitVersionCol, "long", nullable = false))
    }
  }

  /** The changes of ONE commit (prev → m), or None when metadata alone
    * proves there are none.
    */
  private def commitChanges(spark: SparkSession, dir: String,
      prev: Option[SnapshotTable.Manifest], m: SnapshotTable.Manifest,
      keys: Seq[String]): Option[DataFrame] = {
    if (m.op.contains("compact")) return None // row multiset unchanged by contract
    val prevEntries = prev.map(_.entries).getOrElse(Seq.empty)
    val prevByPath = prevEntries.map(e => e.path -> e).toMap
    val curPaths = m.entries.map(_.path).toSet
    val added = m.entries.filterNot(e => prevByPath.contains(e.path))
    val removed = prevEntries.filterNot(e => curPaths.contains(e.path))
    // merge-on-read commits mutate a file's VISIBLE rows without touching
    // its path: a grown vector hides rows (MoR delete/update), a shrunk
    // one (rollback to a less-deleted version) restores them
    val dvChanged = m.entries.filter(e => prevByPath.get(e.path).exists(_.dv != e.dv))
    if (added.isEmpty && removed.isEmpty && dvChanged.isEmpty)
      return None // pure-metadata commit

    val schema = StructType.fromDDL(m.schemaDdl.getOrElse(throw new IllegalStateException(
      s"snapshot at $dir (version ${m.version}) has no recorded schema")))
    keys.foreach(k => require(schema.fieldNames.contains(k),
      s"key column '$k' not in snapshot schema ${schema.fieldNames.mkString("[", ", ", "]")}"))
    val dataCols = schema.fieldNames.filterNot(keys.contains).toSeq
    // project a frame onto the commit's post-schema (pre-evolution files
    // read NULL for columns they predate — the scan already fills those)
    def onSchema(df: DataFrame): DataFrame =
      df.select(schema.fields.map(f => col(s"`${f.name}`")).toSeq: _*)

    def withMeta(df: DataFrame, kind: String): DataFrame =
      df.withColumn(ChangeTypeCol, lit(kind))
        .withColumn(CommitVersionCol, lit(m.version))

    // PRE-state: live rows of removed files (their own vectors applied) +
    // rows newly HIDDEN by vector growth. POST-state: rows of added files
    // + rows RESTORED by vector shrink (a rollback across vectored
    // versions). Diff cost stays O(rewritten + vector-diffed rows) — the
    // carried clean files never enter any side.
    def hidden = onSchema(SnapshotTable.rowsAtDvDiff(spark, dir,
      dvChanged.map(e => (e, e.dv.map(_.path), prevByPath(e.path).dv.map(_.path))), m))
    def restored = onSchema(SnapshotTable.rowsAtDvDiff(spark, dir,
      dvChanged.map(e => (e, prevByPath(e.path).dv.map(_.path), e.dv.map(_.path))), m))

    if (removed.isEmpty && dvChanged.isEmpty)
      return Some(withMeta(
        onSchema(SnapshotTable.scan(spark, dir, m.copy(entries = added))), "insert"))
    if (added.isEmpty && dvChanged.isEmpty)
      return Some(withMeta(
        onSchema(SnapshotTable.scan(spark, dir, m.copy(entries = removed))), "delete"))
    if (added.isEmpty && removed.isEmpty)
      // pure vector commit (MoR delete, or a vector-only rollback): the
      // hidden rows ARE the deletes, the restored rows the inserts — no
      // keyed matching needed (one commit never hides and restores the
      // same position)
      return Some(withMeta(hidden, "delete").unionByName(withMeta(restored, "insert")))

    // rewrite commit: keyed diff of pre-state vs post-state. Aggregating
    // each side to one struct per key both detects duplicate keys
    // (loudly) and makes the full-outer join 1:1.
    def keyed(df: DataFrame, side: String): DataFrame = {
      val payload =
        if (dataCols.isEmpty) struct(lit(1).as("__present")) // key-only schema
        else struct(dataCols.map(c => col(s"`$c`")): _*)
      df.groupBy(keys.map(k => col(s"`$k`")): _*)
        .agg(collect_list(payload).as(s"${side}_rows"))
        .withColumn(s"${side}_row",
          when(size(col(s"${side}_rows")) > 1, raise_error(concat(
            lit(s"rowChanges: duplicate key in $side state of commit ${m.version} at $dir: "),
            to_json(struct(keys.map(k => col(s"`$k`")): _*)),
            lit(" — the change feed requires merge-keyed (unique-key) tables"))))
            .otherwise(element_at(col(s"${side}_rows"), 1)))
        .drop(s"${side}_rows")
    }
    def sideUnion(entries: Seq[SnapshotTable.FileEntry], dvPart: => DataFrame): DataFrame = {
      val filePart =
        if (entries.nonEmpty)
          Some(onSchema(SnapshotTable.scan(spark, dir, m.copy(entries = entries))))
        else None
      val parts = filePart.toSeq ++ (if (dvChanged.nonEmpty) Seq(dvPart) else Seq.empty)
      parts.reduce(_ unionByName _)
    }
    val joined = keyed(sideUnion(removed, hidden), "old")
      .join(keyed(sideUnion(added, restored), "new"), keys.toSeq, "full_outer")
    Some(assembleChanges(joined, keys, dataCols, m.version))
  }

  /** Build the exploded change rows from the 1:1 joined frame. */
  private def assembleChanges(joined: DataFrame, keys: Seq[String],
      dataCols: Seq[String], version: Long): DataFrame = {
    val keyCols = keys.map(k => col(s"`$k`"))
    def rowOf(side: String) = col(s"${side}_row")
    // change list per key, as (kind, row) pairs; equal rows yield none —
    // the empty branch is slice(one-element, 1, 0): a typed empty array
    // without naming the payload struct type inline
    val pairs = when(rowOf("old").isNull,
        array(struct(lit("insert").as("kind"), rowOf("new").as("row"))))
      .when(rowOf("new").isNull,
        array(struct(lit("delete").as("kind"), rowOf("old").as("row"))))
      .when(rowOf("old") <=> rowOf("new"),
        slice(array(struct(lit("x").as("kind"), rowOf("old").as("row"))), 1, 0))
      .otherwise(array(
        struct(lit("update_preimage").as("kind"), rowOf("old").as("row")),
        struct(lit("update_postimage").as("kind"), rowOf("new").as("row"))))
    val exploded = joined.select(keyCols :+ explode(pairs).as("chg"): _*)
    val dataSel: Seq[Column] =
      if (dataCols.isEmpty) Seq.empty
      else dataCols.map(c => col(s"chg.row.`$c`").as(c))
    exploded.select(
      (keyCols ++ dataSel :+ col("chg.kind").as(ChangeTypeCol) :+
        lit(version).as(CommitVersionCol)): _*)
  }
}
