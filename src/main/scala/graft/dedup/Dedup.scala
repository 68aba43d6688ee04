package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Deduplication operators for training-data pipelines, each designed for the
  * 100 TB case:
  *
  * - exact / normalized-exact: one hash-groupBy shuffle on a digest key (the
  *   exchange carries (digest, id), never the documents).
  * - MinHash + LSH: shingle → k minhashes → band buckets → candidate pairs
  *   only within buckets — candidate generation is output-linear instead of
  *   O(n²); all per-doc work is codegen'd higher-order functions.
  * - SimHash: 64-bit signature, near-dups = small hamming distance; signature
  *   is a map-only stage, pairing via pigeonhole chunk buckets.
  * - n-gram Jaccard: exact pairwise similarity — quadratic, so only for
  *   verifying candidates from the scalable paths (or bounded subsets).
  */
object Dedup {

  /** Exact dedup on normalized text: one representative (min id) per distinct
    * normalized content + the duplicate count. Shuffle key is md5 of the
    * normalized text, so the exchange carries 32-char keys, not documents.
    */
  def exactDedup(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .select(col(idCol), md5(normalize(col(textCol))).as("content_key"))
      .groupBy(col("content_key"))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("n_dups"))

  /** Keep only the representative row per distinct content (first by id). */
  def dropExactDups(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val reps = exactDedup(docs, textCol, idCol).select(col("rep_id").as(idCol))
    docs.join(reps, Seq(idCol), "left_semi")
  }

  // ---------------------------------------------------------------- MinHash

  /** P = 2^31 - 1 (Mersenne prime). Keeping h, a, b < 2^31 bounds every
    * intermediate product below 2^62 — no silent Long overflow in the
    * universal hash (a*h + b) mod P.
    */
  val MinHashP = 2147483647L

  /** Deterministic universal-hash parameters (a_i odd, b_i) for k
    * permutations; fixed seed → reproducible signatures.
    */
  private[graft] def permParams(k: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(k)(((math.abs(rnd.nextLong()) % (MinHashP - 1)) + 1, math.abs(rnd.nextLong()) % MinHashP))
  }

  /** (id, sig: array<bigint>[k]) MinHash signatures via explode +
    * codegen'd multi-min aggregation.
    *
    * Why not a higher-order-function fold per permutation? A k=64-wide
    * nest of `aggregate()` lambdas blows past whole-stage-codegen limits and
    * falls back to interpreted evaluation (measured: minutes for 10k docs).
    * The explode shape keeps everything in codegen: shingle hashes explode to
    * (id, h) rows, a HashAggregate computes k `min((a·h+b) mod P)` columns
    * with map-side partial aggregation — since a doc's shingles are
    * partition-local, the shuffle carries exactly one 64-long row per doc.
    */
  def minHashSignatures(
      docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      k: Int = 64, shingleK: Int = 3, seed: Long = 42L): DataFrame =
    signaturesFromHashes(
      docs.select(col(idCol).as("id"),
        explode(shingleHashes(docs.sparkSession, col(textCol), shingleK)).as("h")),
      k, seed)

  /** (id, sig) from an exploded (id, h) shingle-hash frame — the single
    * definition of the signature formula, shared by every MinHash path so
    * a hash-scheme change can never silently diverge between candidate
    * generation and verification.
    */
  private def signaturesFromHashes(hashes: DataFrame, k: Int, seed: Long): DataFrame = {
    val perms = permParams(k, seed)
    val aggs = perms.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(pmod(col("h"), lit(MinHashP)) * a + b, lit(MinHashP))).as(s"m$i")
    }
    hashes
      .groupBy(col("id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("id"), array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** Candidate near-dup pairs via banded LSH over the MinHash signature:
    * k minhashes split into `bands` bands of k/bands rows; docs sharing any
    * band hash are candidates. Returns (id_a, id_b, est_jaccard) with
    * id_a < id_b, est_jaccard = matching-minhash fraction ≥ `threshold`.
    */
  def minHashNearDups(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      seed: Long = 42L): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    // explode drops docs with <shingleK tokens (no shingles → no rows).
    // Persisted because the plan references it 4× (two band sides + two
    // signature joins); released via Caching.materialize below — at
    // production scale checkpoint sigs to a table instead.
    val sigs = minHashSignatures(docs, textCol, idCol, k, 3, seed).persist()

    // Candidate generation carries ONLY (band, band_hash, id) — never the
    // 64-long signatures — so the bucket join's shuffle/broadcast stays slim.
    val banded = bandedFromSigs(sigs, k, bands)

    val pairs = banded
      .join(banded.withColumnRenamed("id", "id_b"), Seq("band", "band_hash"))
      .filter(col("id") < col("id_b"))
      .select(col("id").as("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b") // pairs sharing several bands verify once

    val estimated = pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), m => m)).cast("double") / k)
          .as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
    graft.util.Caching.materialize(estimated, sigs)
  }

  /** MinHash-LSH candidate pairs verified with EXACT shingle Jaccard: the
    * production near-dup pipeline shape (and the oracle-checkable one —
    * unlike [[minHashNearDups]]'s signature-estimated score, the exact
    * Jaccard of the candidate pairs is reproducible in plain SQL).
    * Candidate generation is the same output-linear banded LSH; the
    * quadratic-looking verification only ever touches candidate pairs, so
    * cost is O(candidates), not O(n²). Returns (id_a, id_b, jaccard) with
    * jaccard ≥ threshold over distinct shingle sets.
    */
  def minHashVerifiedNearDups(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      seed: Long = 42L,
      shingleK: Int = 3): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    // ONE native shingling pass over the corpus ([[shingleSetsOf]] — the
    // single definition shared with the cross-corpus sweep): the distinct
    // shingle-HASH array per doc feeds BOTH the MinHash signatures (explode
    // + codegen'd multi-min aggregate) and the exact-Jaccard verification.
    // Jaccard over the distinct hash sets equals Jaccard over the shingle
    // strings (xxhash64 collisions are negligible, and the exhaustive
    // string-side oracle would expose one) — and long-array intersection is
    // far cheaper than string-array intersection. Round 2 re-shingled the
    // corpus for verification; that second pass was most of q40's cost.
    val hashed = shingleSetsOf(docs, textCol, idCol, shingleK).persist()

    // same explode + multi-min shape (and identical signature values) as
    // minHashSignatures, reading the cached hash arrays
    val sigs = signaturesFromHashes(
      hashed.select(col("id"), explode(col("sh")).as("h")), k, seed)
      .persist()

    val banded = bandedFromSigs(sigs, k, bands)
    val pairs = banded
      .join(banded.withColumnRenamed("id", "id_b"), Seq("band", "band_hash"))
      .filter(col("id") < col("id_b"))
      .select(col("id").as("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")

    // Exact verification on candidates only, over the cached hash arrays;
    // the intersection is projected ONCE (a separate Project node — round 2
    // computed it twice inside one projection). Threshold the RAW value,
    // round only for display.
    val sets = hashed.select(col("id"), col("sh"), size(col("sh")).as("n"))
    val verified = pairs
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a"), col("n").as("n_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b"), col("n").as("n_b")), "id_b")
      .withColumn("n_common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .select(col("id_a"), col("id_b"),
        (col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common"))).as("j_raw"))
      .filter(col("j_raw") >= threshold)
      .select(col("id_a"), col("id_b"), col("j_raw").as("jaccard"))
    graft.util.Caching.materialize(verified, hashed, sigs)
  }

  /** Exact shingle-Jaccard verification of EXTERNALLY-generated candidate
    * pairs — the verification half of [[minHashVerifiedNearDups]], factored
    * for alternate candidate generators (the streaming LSH ingest's
    * batch mode runs under the same DuckDB oracle through this). Same
    * formula: jaccard over each doc's DISTINCT shingle-hash set,
    * thresholded raw. `pairs` carries (id_a, id_b); duplicates collapse so
    * a pair sharing several buckets verifies once.
    */
  def verifyPairsExactJaccard(
      docs: DataFrame,
      pairs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleK: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val hashed = shingleSetsOf(docs, textCol, idCol, shingleK).persist()
    val sets = hashed.select(col("id"), col("sh"), size(col("sh")).as("n"))
    val verified = pairs
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a"), col("n").as("n_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b"), col("n").as("n_b")), "id_b")
      .withColumn("n_common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .select(col("id_a"), col("id_b"),
        (col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common"))).as("j_raw"))
      .filter(col("j_raw") >= threshold)
      .select(col("id_a"), col("id_b"), col("j_raw").as("jaccard"))
    graft.util.Caching.materialize(verified, hashed)
  }

  /** CROSS-CORPUS near-dup pairs: every (new, reference) doc pair whose
    * exact shingle Jaccard ≥ `threshold` — the inter-dump dedup stage of a
    * crawl pipeline (a fresh dump is deduped against the already-curated
    * corpus BEFORE joining it, so recrawled pages never accumulate; the
    * CCNet/RefinedWeb recipe). Candidate generation is
    * [[minHashVerifiedNearDups]]' banded LSH, but the bucket join is
    * new-side × reference-side ONLY — never within a side (within-side
    * dedup is the existing operators' job; compose them). Both sides hash
    * through the SAME seeded permutations, so shared content collides by
    * construction, and a pair colliding here iff it collides in the
    * single-corpus operator (band hashes are pure functions of each doc's
    * signature) — the single-corpus oracle precedent carries over intact.
    * Returns (new_id, ref_id, jaccard ≥ threshold) over distinct
    * shingle-hash sets.
    *
    * 100 TB shape: per-side signatures are map-side-combined aggregates;
    * the cross join ships only slim (band, band_hash, id) rows and
    * shuffle-partitions on the band hash; verification touches candidate
    * pairs only. Nothing is ever all-pairs, and the reference side is
    * scanned once regardless of how small the new dump is — at production
    * scale persist the reference's signatures with [[crossPrepareTable]]
    * and sweep dumps against the durable tables instead of this one-shot
    * form (they are deterministic in (seed, k, shingleK)).
    */
  def crossNearDups(
      newDocs: DataFrame,
      reference: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      seed: Long = 42L,
      shingleK: Int = 3): DataFrame = {
    // the reference prepare and the arriving side's shingling are
    // independent eager builds: overlapped, neither waits on the other's jobs
    val (prep, hashedNew) = graft.util.Caching.overlapped("crossNearDups")(
      crossPrepare(reference, textCol, idCol, k, bands, seed, shingleK), {
        val h = shingleSetsOf(newDocs, textCol, idCol, shingleK).persist()
        try { h.count(); h }
        catch { case t: Throwable => h.unpersist(blocking = false); throw t }
      })(_.release(), _.unpersist(blocking = false))
    try sweepPrepared(hashedNew, prep, threshold)
    finally prep.release()
  }

  /** One side's (id, sh) distinct shingle-hash sets — one native shingling
    * pass feeding both the MinHash signatures and the exact-Jaccard
    * verification; docs too short to shingle carry no row.
    */
  private def shingleSetsOf(docs: DataFrame, textCol: String, idCol: String,
      shingleK: Int): DataFrame = docs
    .select(col(idCol).as("id"),
      shingleHashes(docs.sparkSession, col(textCol), shingleK).as("sh"))
    .filter(size(col("sh")) > 0)

  /** Slim (band, band_hash, id) LSH rows from an (id, sig) signature frame
    * — THE band-hash definition: every MinHash path (single-corpus
    * candidate generation, verified pipeline, cross-corpus sweep) bands
    * through this one expression, so a hash-scheme change can never
    * silently diverge between them (a divergence would break the
    * "cross collides iff single-corpus collides" recall argument).
    */
  private def bandedFromSigs(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    val bandHashes = (0 until bands)
      .map(b => xxhash64(slice(col("sig"), b * rows + 1, rows), lit(b)))
    sigs.select(col("id"), posexplode(array(bandHashes: _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
  }

  /** [[bandedFromSigs]] over a shingle-set frame's freshly-computed
    * signatures — the cross-corpus sweep's per-side banding.
    */
  private def bandedRowsOf(hashed: DataFrame, k: Int, bands: Int,
      seed: Long): DataFrame =
    bandedFromSigs(signaturesFromHashes(
      hashed.select(col("id"), explode(col("sh")).as("h")), k, seed), k, bands)

  /** Reference-side state for REPEATED cross-corpus sweeps: the banded LSH
    * rows and the distinct shingle-hash sets, both persisted once —
    * [[crossNearDupsPrepared]]/[[crossSink]] sweep any number of dumps (or
    * micro-batches of one) against the same reference without recomputing
    * its signatures. Model state like [[Decontaminate.prepare]]'s benchmark:
    * deterministic in (k, bands, seed, shingleK) — [[crossPrepareTable]]
    * is the durable form persisting exactly this state as bucketed
    * snapshot tables for reuse across pipeline runs and sessions.
    * Call [[PreparedReference.release]] when done.
    */
  final class PreparedReference private[dedup] (
      val banded: DataFrame, val sets: DataFrame,
      val k: Int, val bands: Int, val seed: Long, val shingleK: Int) {
    def release(): Unit = {
      banded.unpersist(blocking = false)
      sets.unpersist(blocking = false)
      ()
    }
  }

  /** Build the [[PreparedReference]] for [[crossNearDupsPrepared]]. */
  def crossPrepare(
      reference: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 64,
      bands: Int = 16,
      seed: Long = 42L,
      shingleK: Int = 3): PreparedReference = {
    require(k % bands == 0, "bands must divide k")
    val hashedRef = shingleSetsOf(reference, textCol, idCol, shingleK).persist()
    // persisted PRE-PARTITIONED on the join keys: a cached frame keeps its
    // HashPartitioning, so every sweep's bucket join (and verification
    // join) reads the reference side exchange-free — repeated sweeps
    // shuffle ONLY the arriving batch, never the corpus-scale reference
    val banded = bandedRowsOf(hashedRef, k, bands, seed)
      .withColumnRenamed("id", "ref_id")
      .repartition(col("band"), col("band_hash")).persist()
    val sets = hashedRef
      .select(col("id").as("ref_id"), col("sh"), size(col("sh")).as("n"))
      .repartition(col("ref_id")).persist()
    // force both views NOW so the intermediate shingle frame (the same
    // arrays `sets` holds) releases immediately — a long-lived prepared
    // reference pins two caches, not three; the first sweep would have
    // paid these jobs anyway. ONE forcing job, not two (r21): a union of
    // 1-literal projections over both cached frames materializes both
    // caches in a single scheduled job. If forcing throws, unpersist BOTH
    // pinned frames before rethrowing: PreparedReference is never
    // constructed on that path, so its release() would be unreachable and
    // the caches would leak into the caller's session.
    try { banded.select(lit(1).as("one")).unionAll(sets.select(lit(1).as("one"))).count(); () }
    catch {
      case t: Throwable =>
        banded.unpersist(blocking = false)
        sets.unpersist(blocking = false)
        throw t
    }
    finally hashedRef.unpersist(blocking = false)
    new PreparedReference(banded, sets, k, bands, seed, shingleK)
  }

  /** Persist the prepared reference DURABLY: the same banded LSH rows and
    * shingle-hash sets [[crossPrepare]] pins in caches land as SNAPSHOT
    * TABLES under `dir` — the production form the cache-pinned prepare's
    * scaladoc promises. At 100 TB the curated corpus's signatures must
    * survive sessions and executor loss; rebuilding them per pipeline run
    * was the only non-incremental cost left in the inter-dump sweep, and
    * this removes it (signatures are deterministic in (k, bands, seed,
    * shingleK), recorded in `dir/meta` so a loader can never sweep through
    * a different scheme than the tables were built with).
    *
    * Layout is the sweep's join geometry, not an afterthought:
    *  - `dir/banded` (band, band_hash, ref_id) partitioned
    *    `(band, bucket(buckets, band_hash))` — the candidate bucket join's
    *    exact keys, so with v2 bucketing the scan reports
    *    KeyGroupedPartitioning and every sweep reads the reference side IN
    *    PLACE (the arriving dump's slim banded rows broadcast or shuffle
    *    into the bucket domain; the corpus-scale side never exchanges);
    *  - `dir/sets` (ref_id, sh, n) partitioned `bucket(buckets, ref_id)` —
    *    the verification join's key, same argument;
    *  - `dir/meta` one params row.
    *
    * Incremental growth is [[crossPrepareAppend]]: newly-curated docs'
    * banded rows/sets append under the recorded scheme and the next load
    * sweeps against the grown reference — no rebuild, no re-shuffle of
    * existing files.
    */
  def crossPrepareTable(
      reference: DataFrame,
      dir: String,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 64,
      bands: Int = 16,
      seed: Long = 42L,
      shingleK: Int = 3,
      buckets: Int = 32): Unit = {
    require(k % bands == 0, "bands must divide k")
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val spark = reference.sparkSession
    import spark.implicits._
    // one shingling pass feeds both tables (the crossPrepare discipline)
    val hashedRef = shingleSetsOf(reference, textCol, idCol, shingleK).persist()
    try {
      graft.catalog.SnapshotTable.write(spark,
        bandedRowsOf(hashedRef, k, bands, seed).withColumnRenamed("id", "ref_id"),
        s"$dir/banded",
        partitionCols = Some(Seq("band", s"bucket($buckets,band_hash)")))
      graft.catalog.SnapshotTable.write(spark,
        hashedRef.select(col("id").as("ref_id"), col("sh"), size(col("sh")).as("n")),
        s"$dir/sets",
        partitionCols = Some(Seq(s"bucket($buckets,ref_id)")))
      graft.catalog.SnapshotTable.write(spark,
        Seq((k, bands, seed, shingleK)).toDF("k", "bands", "seed", "shingle_k"),
        s"$dir/meta")
    } finally hashedRef.unpersist(blocking = false)
  }

  /** Grow a [[crossPrepareTable]] reference INCREMENTALLY: compute banded
    * rows + shingle sets for `newlyCurated` docs only (under `dir/meta`'s
    * recorded scheme — the append can never diverge from the tables'
    * signatures) and APPEND them; existing files are untouched and the
    * snapshot append routes the new rows into the same bucketed layout, so
    * the next load sweeps against the grown corpus with no rebuild. This
    * is the post-sweep bookkeeping step of an inter-dump pipeline: after
    * [[crossSink]] lands a dump's clean docs, append exactly those docs
    * here and the NEXT dump is deduped against them too. Caller contract:
    * ids not already in the reference (the sweep's output guarantees it).
    *
    * With `appId` the whole append is EXACTLY-ONCE under crash replay: one
    * (appId → batchId) marker spans BOTH commits
    * ([[graft.catalog.SnapshotTable.appendExactlyOnce]]), so a re-run
    * after a crash between them re-commits ONLY the missing half — the
    * heal path converges to exactly the single-shot result, zero duplicate
    * sets rows. Use a stable appId per pipeline and monotone batch ids
    * (the dump counter).
    */
  def crossPrepareAppend(
      newlyCurated: DataFrame,
      dir: String,
      textCol: String = "text",
      idCol: String = "doc_id",
      appId: Option[String] = None,
      batchId: Long = 0L): Unit = {
    val spark = newlyCurated.sparkSession
    // banded commits LAST, so its marker implies the whole append landed —
    // a fully-replayed batch no-ops on one manifest parse, before shingling
    if (appId.exists(app => graft.catalog.SnapshotTable
        .lastTxn(spark, s"$dir/banded", app).exists(_ >= batchId))) return
    val m = graft.catalog.SnapshotTable.read(spark, s"$dir/meta")
      .select(col("k"), col("bands"), col("seed"), col("shingle_k"))
      .collect().head
    val (k, bands, seed, shingleK) = (m.getInt(0), m.getInt(1), m.getLong(2), m.getInt(3))
    val hashed = shingleSetsOf(newlyCurated, textCol, idCol, shingleK).persist()
    try {
      // SETS FIRST: the two appends are separate commits, and a crash (or
      // a concurrent load) between them must degrade SAFE. An extra sets
      // row with no banded rows is inert — nothing generates a candidate
      // against it; the reverse order would leave banded rows whose
      // ref_id misses the verification join's inner side, silently
      // DROPPING true duplicate pairs until the second append lands.
      val setsRows = hashed
        .select(col("id").as("ref_id"), col("sh"), size(col("sh")).as("n"))
      val bandedRows = bandedRowsOf(hashed, k, bands, seed)
        .withColumnRenamed("id", "ref_id")
      appId match {
        case Some(app) =>
          // the shared marker makes the crash-heal exact: a re-run after a
          // crash between the commits finds sets' marker already at
          // batchId (no-op — no duplicate sets rows) and lands banded
          graft.catalog.SnapshotTable.appendExactlyOnce(
            spark, setsRows, s"$dir/sets", app, batchId)
          graft.catalog.SnapshotTable.appendExactlyOnce(
            spark, bandedRows, s"$dir/banded", app, batchId)
        case None =>
          // at-least-once: re-running after a crash heals the gap (banded
          // commits then) at the cost of duplicate sets rows — inert for
          // [[removeCrossDups]] (distinct) and pair-safe for
          // [[crossNearDupsPrepared]] (its verified pairs dedupe), but
          // pass an appId where the sets table's exactness matters
          graft.catalog.SnapshotTable.append(spark, setsRows, s"$dir/sets")
          graft.catalog.SnapshotTable.append(spark, bandedRows, s"$dir/banded")
      }
      ()
    } finally hashed.unpersist(blocking = false)
  }

  /** Maintenance for a grown verbatim reference: BINPACK-compact the
    * append-fragmented tails of `dir/banded` and `dir/sets` (files under
    * `smallFileBytes` merge toward `targetBytes`; well-sized files carry
    * by reference — cost tracks the fragmentation, never the corpus). The
    * rewrites re-route through each table's recorded bucket spec
    * (`(band, bucket(n, band_hash))` / `bucket(n, ref_id)`), so the
    * exchange-free KeyGroupedPartitioning sweep geometry is preserved:
    * after many [[crossPrepareAppend]] generations each bucket reads few
    * large files again instead of one small file per append. Safe against
    * concurrent appends (they rebase over the compaction commit).
    *
    * VACUUM CAUTION: [[crossPreparedFromTable]] hands out VERSION-PINNED
    * views; a compaction here followed by a vacuum can delete files that
    * pinned version still references, failing mid-sweep reads. Keep vacuum
    * retention at or above the longest open sweep's duration (the
    * standard snapshot-retention contract), or reload prepared handles
    * after maintenance.
    */
  def crossMaintain(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      targetBytes: Long = 128L * 1024 * 1024,
      smallFileBytes: Long = 32L * 1024 * 1024): Unit = {
    graft.catalog.SnapshotTable.compact(spark, s"$dir/banded",
      targetBytes = targetBytes, onlyFilesBelow = Some(smallFileBytes))
    graft.catalog.SnapshotTable.compact(spark, s"$dir/sets",
      targetBytes = targetBytes, onlyFilesBelow = Some(smallFileBytes))
    ()
  }

  /** A [[PreparedReference]] VIEW over [[crossPrepareTable]]'s tables —
    * nothing recomputed, nothing cache-pinned: sweeps read the bucketed
    * snapshot layout directly ([[crossNearDupsPrepared]]/[[crossSink]]
    * compose unchanged, `release()` is a no-op on uncached frames).
    *
    * Both views are PINNED (`VERSION AS OF`) to the versions current at
    * load — a current-version reference would re-resolve PER EXECUTION
    * (the documented catalog semantics), so a concurrent
    * [[crossPrepareAppend]] landing mid-sweep could hand one query a
    * banded generation NEWER than its sets generation, and banded rows
    * whose ref_id misses the verification inner join would silently drop
    * true duplicate pairs. Pinning also names the reference generation
    * every sweep decision is reproducible against. Capture order is
    * banded-then-sets, mirroring the append's sets-then-banded commit
    * order: every ref_id in the pinned banded committed AFTER its sets
    * row, so the later-captured sets version is always a superset (extra
    * sets rows are inert). Reload to observe growth.
    *
    * Registers the `snap` SQL catalog (namespaced — no planner behavior
    * change). The session must have v2 bucketing enabled for the scans'
    * KeyGroupedPartitioning to join exchange-free
    * (`spark.sql.sources.v2.bucketing.enabled` + `.shuffle.enabled` —
    * [[graft.Sessions.local]] sets both from session start; a loader
    * flipping them mid-session would make identical queries plan
    * differently depending on run order, corrupting shuffle-byte
    * adjudication artifacts). Without them the sweep is still CORRECT,
    * just re-shuffles the reference side.
    */
  def crossPreparedFromTable(
      spark: org.apache.spark.sql.SparkSession, dir: String): PreparedReference = {
    spark.conf.set("spark.sql.catalog.snap",
      classOf[graft.catalog.SnapshotCatalog].getName)
    val m = graft.catalog.SnapshotTable.read(spark, s"$dir/meta")
      .select(col("k"), col("bands"), col("seed"), col("shingle_k"))
      .collect().head
    val bandedVersions = graft.catalog.SnapshotTable.versions(spark, s"$dir/banded")
    require(bandedVersions.nonEmpty,
      s"no prepared verbatim reference at $dir — build it with crossPrepareTable")
    val bandedV = bandedVersions.max
    val setsVersions = graft.catalog.SnapshotTable.versions(spark, s"$dir/sets")
    require(setsVersions.nonEmpty,
      s"prepared verbatim reference at $dir has banded but no sets table — " +
        "rebuild it with crossPrepareTable")
    val setsV = setsVersions.max
    new PreparedReference(
      spark.sql(s"SELECT * FROM snap.`$dir/banded` VERSION AS OF $bandedV"),
      spark.sql(s"SELECT * FROM snap.`$dir/sets` VERSION AS OF $setsV"),
      k = m.getInt(0), bands = m.getInt(1), seed = m.getLong(2),
      shingleK = m.getInt(3))
  }

  /** [[crossNearDups]] against a [[PreparedReference]] — the repeated-sweep
    * form (identical pairs; the reference side just isn't recomputed).
    */
  def crossNearDupsPrepared(
      newDocs: DataFrame,
      prep: PreparedReference,
      threshold: Double = 0.5,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    sweepPrepared(
      shingleSetsOf(newDocs, textCol, idCol, prep.shingleK).persist(), prep, threshold)

  /** The sweep over an already-persisted arrivals shingle frame — shared by
    * [[crossNearDupsPrepared]] and [[crossNearDups]]'s overlapped build
    * (which forces `hashedNew` concurrently with its reference prepare).
    * Releases `hashedNew` once the verified pairs materialize.
    */
  private def sweepPrepared(
      hashedNew: DataFrame,
      prep: PreparedReference,
      threshold: Double): DataFrame = {
    val candidates = bandedRowsOf(hashedNew, prep.k, prep.bands, prep.seed)
      .withColumnRenamed("id", "new_id")
      .join(prep.banded, Seq("band", "band_hash"))
      .select(col("new_id"), col("ref_id"))
      .dropDuplicates("new_id", "ref_id") // pairs sharing several bands verify once
    val verified = candidates
      .join(hashedNew.select(col("id").as("new_id"),
        col("sh").as("sh_a"), size(col("sh")).as("n_a")), "new_id")
      .join(prep.sets.select(col("ref_id"),
        col("sh").as("sh_b"), col("n").as("n_b")), "ref_id")
      .withColumn("n_common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .select(col("new_id"), col("ref_id"),
        (col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")))
          .as("j_raw"))
      .filter(col("j_raw") >= threshold)
      .select(col("new_id"), col("ref_id"), col("j_raw").as("jaccard"))
      // pair-level dedupe: a crash-healed no-appId crossPrepareAppend can
      // leave duplicate sets rows, which would double candidate rows
      // through the verification join and double-emit identical pairs to
      // pair-consuming callers. The frame is threshold-sparse, so the
      // extra exchange is over the OUTPUT, never the corpus.
      .dropDuplicates("new_id", "ref_id")
    graft.util.Caching.materialize(verified, hashedNew)
  }

  /** Ingest-time cross-corpus dedup (`foreachBatch` sink): every
    * micro-batch of the fresh dump is swept against the prepared reference
    * and only docs that near-duplicate NOTHING in it append to the
    * snapshot table at `outDir` — the inter-dump member of the ingest
    * tier ([[graft.streaming.StreamingDedup]] dedups arrivals against each
    * other; this dedups them against the CURATED CORPUS). Stateless across
    * batches by design (a doc is judged against the fixed reference alone),
    * so batch cost is one sweep; an all-dup or empty batch publishes NO
    * version. With `appId` the append is EXACTLY-ONCE
    * ([[graft.catalog.SnapshotTable.appendExactlyOnce]]; the marker is
    * checked BEFORE the sweep so a crash-replayed batch costs one manifest
    * parse). Without it, at-least-once on replay; the no-appId append
    * routes through [[graft.catalog.SnapshotTable.createOrAppend]], whose
    * creation decision runs INSIDE the OCC commit loop — concurrent sinks
    * racing the same outDir's FIRST batch serialize safely (multi-writer
    * deployments should still pass an appId where exactly-once matters).
    * NOTE: arrivals are NOT deduped against
    * each other or against earlier batches — compose with
    * [[graft.streaming.StreamingDedup]] upstream where that matters.
    */
  def crossSink(
      prep: PreparedReference,
      outDir: String,
      threshold: Double = 0.5,
      textCol: String = "text",
      idCol: String = "doc_id",
      appId: Option[String] = None): (DataFrame, Long) => Unit = (batch, batchId) => {
    val spark = batch.sparkSession
    val replayed = appId.exists(app => graft.catalog.SnapshotTable
      .lastTxn(spark, outDir, app).exists(_ >= batchId))
    if (!replayed) {
      val flagged = crossNearDupsPrepared(batch, prep, threshold, textCol, idCol)
        .select(col("new_id").as(idCol)).distinct()
      // persisted: the emptiness probe and the append would otherwise each
      // re-run the sweep
      val clean = batch.join(flagged, Seq(idCol), "left_anti").persist()
      try {
        if (!clean.isEmpty) appId match {
          case Some(app) =>
            graft.catalog.SnapshotTable.appendExactlyOnce(spark, clean, outDir, app, batchId)
            ()
          case None =>
            // atomic: creation is decided inside the OCC commit loop, so
            // two sinks racing the same outDir's first batch both land
            graft.catalog.SnapshotTable.createOrAppend(spark, clean, outDir)
            ()
        }
      } finally clean.unpersist(blocking = false)
    }
    ()
  }

  /** The filtering form of [[crossNearDups]]: `newDocs` minus every doc
    * near-duplicating the reference corpus — what actually appends to the
    * curated table after an inter-dump sweep. Column-preserving on
    * `newDocs`; docs too short to shingle carry no signature and pass
    * through (the single-corpus operators' contract).
    */
  def removeCrossDups(
      newDocs: DataFrame,
      reference: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      seed: Long = 42L,
      shingleK: Int = 3): DataFrame = {
    val flagged = crossNearDups(newDocs, reference, textCol, idCol,
      k, bands, threshold, seed, shingleK)
      .select(col("new_id").as(idCol)).distinct()
    newDocs.join(flagged, Seq(idCol), "left_anti")
  }

  // ---------------------------------------------------------------- SimHash

  /** (id, sig) 64-bit SimHash signatures: bit b of the signature is 1 iff
    * the sum over tokens of ±1 (by token-hash bit b) is positive.
    *
    * Same shape rationale as [[minHashSignatures]]: explode tokens to
    * (id, token_hash) rows, one codegen'd HashAggregate with 64 vote-sum
    * columns (static bit shifts), then pack sign bits — map-side partial
    * aggregation makes the shuffle one row per doc. Docs with zero tokens
    * produce no signature (explode yields no rows).
    */
  def simHashSignatures(
      docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val hashes = docs.select(col(idCol).as("id"),
      explode(transform(tokens(lower(col(textCol))), t => xxhash64(t))).as("th"))
    val votes = (0 until 64).map(b =>
      sum(when(shiftright(col("th"), b).bitwiseAND(lit(1L)) === 1, 1L).otherwise(-1L)).as(s"v$b"))
    val packed = (0 until 64)
      .map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
    hashes
      .groupBy(col("id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("id"), packed.as("sig"))
  }

  /** Near-dup pairs by SimHash hamming distance ≤ maxDist. Bucketing: split
    * the 64-bit signature into (maxDist+1) chunks — by pigeonhole any pair
    * within maxDist agrees exactly on at least one chunk, so candidates are
    * generated per-chunk-value buckets (linear), then verified with
    * bit_count(xor).
    */
  def simHashNearDups(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxDist: Int = 3): DataFrame = {
    val chunks = maxDist + 1
    val width = 64 / chunks
    val sigs = simHashSignatures(docs, textCol, idCol)
    val chunkVals = (0 until chunks).map(c =>
      shiftrightunsigned(col("sig"), c * width).bitwiseAND(lit((1L << width) - 1)))
    val banded = sigs
      .select(col("id"), col("sig"), posexplode(array(chunkVals: _*)))
      .withColumnRenamed("pos", "chunk")
      .withColumnRenamed("col", "chunk_val")

    val l = banded.select(col("chunk"), col("chunk_val"), col("id").as("id_a"), col("sig").as("sig_a"))
    val r = banded.select(col("chunk"), col("chunk_val"), col("id").as("id_b"), col("sig").as("sig_b"))
    l.join(r, Seq("chunk", "chunk_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Multi-probe pigeonhole SimHash near-dups verified with EXACT
    * token-frequency cosine — the metric SimHash actually approximates
    * (bit-agreement probability is 1 - θ/π for angle θ between token-count
    * vectors), so the verified output is reproducible in plain SQL.
    *
    * Candidates: the 64-bit signature splits into 4 chunks of 16 bits. One
    * join side carries each doc's 4 RAW chunk values; the other side
    * carries every radius-≤2 probe of each chunk (137 flip masks × 4
    * chunks = 548 rows/doc). Two docs whose signatures differ by ≤ 11 bits
    * have some chunk differing by ≤ 2 bits (pigeonhole), and that chunk
    * matches the probe side on EXACTLY ONE flip mask (the XOR of the two
    * chunk values) — so recall is guaranteed for hamming ≤ 11 at join
    * multiplicity ≤ 1 per chunk, while a random pair collides with
    * probability only ~4·(1+16+120)/2^16 ≈ 0.8% (vs ~57% for naive
    * 13-chunk pigeonhole at the same radius). The asymmetry is the r9 time
    * fix: symmetric radius-1 probing covered the same distance but matched
    * identical chunks on 17 probe combinations, multiplying the whole
    * candidate band through the join (~49 duplicate rows per emitted pair,
    * measured). Docs below `minTokens` are excluded: SimHash over a
    * handful of tokens doesn't concentrate (measured: hamming up to 17 for
    * near-identical short docs vs ≤ 9 for ≥50-token docs).
    *
    * Verification computes exact cosine over (token, count) vectors for
    * candidate pairs only — O(candidates · tokens), never O(n²).
    *
    * Scale caveat (holds for every pair-enumerating near-dup operator here):
    * the OUTPUT is inherently quadratic in duplicate-group size — a cluster
    * of g mutual near-dups is C(g,2) pairs, so a corpus dominated by huge
    * duplicate groups pays that enumeration no matter how good candidate
    * generation is (measured: a fixture of signature-identical replica
    * groups went 14× superlinear while honest near-linear corpora stay
    * linear — ScaleSoakSpec). At 100 TB, run exact dedup first and consume
    * [[graft.ops.Graph.connectedComponents]] clusters rather than raw pairs
    * when groups can be large.
    *
    * `broadcastDocLimit` bounds the broadcast-hinted joins IN CODE: the
    * candidate join's build side is 4 slim rows/doc (~160 B) but the
    * verify join broadcasts the term vectors — one ~10 KB row/doc — so
    * past ~10⁵ eligible docs the hints would exceed any sane broadcast
    * budget; beyond the limit the exact same joins run as partitioned
    * hash joins on (chunk, pval) / id with no other change (exercised by
    * DedupSpec's no-hint path).
    *
    * `maxHamming` is the candidate cut — the output contract is exactly
    * "every pair with signature hamming ≤ maxHamming and verified cosine ≥
    * cosThreshold", and the probe scheme's pigeonhole (some chunk within 2
    * bits whenever hamming ≤ 3·chunks−1 = 11) guarantees any cut ≤ 11 is
    * fully covered, so the output is deterministic for the whole range.
    * The default is 9, chosen from exhaustive all-pairs measurement rather
    * than the scheme's ceiling: on both the gate corpus (sf0.01) and the
    * bench corpus (sf0.1 — 3,311 true pairs) every cosine ≥ 0.95 pair sits
    * at hamming ≤ 8 (binomial concentration: a cos-0.95 pair flips each
    * bit w.p. ~0.10, so 64-bit hamming centers at 6.5), while hamming 9–11
    * carried 1.43M pairs with ZERO true positives at sf0.1 — 84% of all
    * candidate volume was medium-similarity flood (avg cos ≈ 0.77) paying
    * the verify join for nothing. Cutting at 9 keeps one band of measured
    * safety margin above the observed max (8) and drops the flood ~3×;
    * RecallMarginSpec re-asserts the margin against THIS cut on every run,
    * so a fixture regen that pushes a true pair toward the cut fails by
    * name, not as an oracle hash diff.
    *
    * A per-bucket density split (escalating over-dense buckets to a
    * two-chunk band) was implemented and MEASURED WORSE, then removed:
    * flood pairs almost always also collide in some below-cap bucket, so
    * candidates only dropped 27% while the sub-bucket shuffle join cost 6×
    * at soak x1 — density is not the lever, the hamming cut is. At corpus
    * sizes where 16-bit chunk buckets hold millions of rows (≳10⁸ eligible
    * docs) the in-bucket quadratic does return; the scale path there is
    * re-chunking (wider chunks / larger one-sided probe radius for the
    * same coverage via this same pigeonhole arithmetic), not per-bucket
    * special-casing.
    *
    * CANDIDATE COUNT IS INTRINSIC, proven by measurement (r9,
    * SimHashSoakProbe + the soak's in-run brute-force assert): the
    * emitted candidate set EQUALS the exhaustive ground-truth
    * hamming ≤ maxHamming band of the corpus, pair for pair — the scheme
    * adds zero excess and recall-guaranteed generation cannot emit less.
    * The soak fixture's 4× corpus grows that band 5.4× (its replicas are
    * independent signature realizations whose band sizes vary ±46%:
    * 555k / 927k / 483k / 1029k pairs), so superlinear CANDIDATE growth
    * there is a property of the data, not the scheme; what the scheme
    * controls — and what the asymmetric probe fixed — is join output per
    * candidate (multiplicity ~49 → ≤ 4) and therefore time.
    */
  def simHashCosineNearDups(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      minTokens: Int = 50,
      cosThreshold: Double = 0.95,
      broadcastDocLimit: Long = 100000L,
      maxHamming: Int = 9,
      // corpus-size-aware RE-CHUNKING: past this many eligible docs the
      // candidate join switches from 4×16-bit chunks (radius-2 probes) to
      // 3 wider chunks of 21/21/22 bits (radius-3 probes). Same pigeonhole
      // coverage — any cut <= 3·4−1 = 11 — so the OUTPUT is identical
      // (SimHashRechunkSpec asserts pair-for-pair equality); what changes
      // is the random-collision mass: a random pair collides with prob
      // Σ C(wᵢ,<=r)/2^wᵢ ≈ 0.19% under the wide scheme vs ≈ 0.84% under
      // the narrow one (4.4× fewer), while the probe side grows 548 →
      // 4918 rows/doc. Collisions are quadratic in corpus size, probes
      // linear — equating the two terms puts the crossover at ~1.4M
      // eligible docs, which is where the default threshold sits. At
      // ≳10⁸ docs (where 16-bit buckets hold millions of rows each) the
      // wide scheme is the difference between a bounded candidate join
      // and an in-bucket quadratic.
      rechunkThreshold: Long = 1500000L,
      // test/benchmark override: force a (chunk widths, probe radius)
      // scheme instead of the size-based choice. Widths must sum to 64
      // and cover maxHamming (chunks·(radius+1)−1 >= maxHamming).
      forceScheme: Option[(Seq[Int], Int)] = None): DataFrame = {
    val spark = docs.sparkSession
    graft.extensions.GraftExtensions.register(spark)

    // ONE tokenization pass (native ws_tokens, codegen'd) and ONE per-doc
    // aggregation over the corpus: the sorted (term, count) vector is built
    // once and yields the minTokens filter (sum of counts), the 64-bit
    // signature (native simhash64 over the vector — identical values to
    // per-occurrence ±1 votes) AND the verification vectors + norms. Round
    // 2 tokenized the corpus three times through the interpreted HOF
    // tokenizer and aggregated twice more (votes, term vectors) — together
    // the single largest cost in the whole bench. At production scale,
    // checkpoint this frame to a table instead.
    //
    // Docs below `minTokens` are excluded: SimHash over a handful of tokens
    // doesn't concentrate (measured: hamming up to 17 for near-identical
    // short docs vs <= 9 for >=50-token docs).
    // Term vectors carry xxhash64 term keys, not the token strings: ~2.5×
    // smaller on the wire (these vectors are broadcast to both verify
    // sides), long-compare merges in sparse_dot, and simhash64 reads the
    // hash directly. Distinct tokens ↔ distinct hashes, so the dot product
    // — and therefore the verified cosine — is unchanged (collisions are
    // negligible and the exhaustive oracle would expose one).
    val docvec = docs
      .select(col(idCol).as("id"),
        explode(graft.extensions.GraftExtensions.ws_tokens(lower(col(textCol)))).as("tok"))
      .groupBy(col("id"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy("id").agg(
        sort_array(collect_list(struct(xxhash64(col("tok")).as("th"), col("c")))).as("vec"),
        sum(col("c")).as("nt"),
        sqrt(sum(col("c") * col("c")).cast("double")).as("nrm"))
      .filter(col("nt") >= minTokens)
      .select(col("id"), col("vec"), col("nrm"),
        graft.extensions.GraftExtensions.simhash64(col("vec")).as("sig"))
      .persist()
    // one cheap job over the cached frame decides the broadcast hints below
    val nEligible = docvec.count()
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (nEligible <= broadcastDocLimit) broadcast(df) else df
    val sigs = docvec.select(col("id"), col("sig"))

    // ASYMMETRIC multi-probe join (r9 redesign, from measured phase
    // decomposition): the former scheme probed radius-1 on BOTH sides,
    // which bridges chunk-distance <= 2 but matches an IDENTICAL chunk on
    // 17 (probe_a, probe_b) combinations — near-identical signatures (the
    // entire candidate band) joined at multiplicity ~49, so the x4 soak
    // pushed 146M pre-cut rows into the dedup shuffle for 3.0M distinct
    // candidates. Probing radius-r on ONE side only covers the same
    // chunk-distance (raw_a == probe_b(B) iff B == chunk_a XOR chunk_b, so
    // distance <= r matches on EXACTLY ONE flip mask): multiplicity drops
    // to <= 1 per chunk, the same pigeonhole coverage for ~15x less join
    // output. The build side is `chunks` slim rows/doc (the raw chunk
    // values) and the probe rows stream map-side through one codegen stage
    // (explode -> bit arithmetic -> hash lookup -> hamming cut) without
    // ever being shuffled or broadcast on the broadcast path.
    //
    // The (widths, radius) CHUNK SCHEME is corpus-size-aware (see
    // `rechunkThreshold`): both schemes cover any hamming cut <= 11 by the
    // same pigeonhole (some chunk within `radius` whenever total hamming
    // <= chunks·(radius+1)−1), so scheme choice never changes the output —
    // only the probe-rows-vs-random-collisions trade.
    val (widths, radius) = forceScheme.getOrElse(
      if (nEligible > rechunkThreshold) (Seq(21, 21, 22), 3) else (Seq(16, 16, 16, 16), 2))
    require(widths.length * (radius + 1) - 1 >= maxHamming,
      s"maxHamming=$maxHamming exceeds the probe scheme's pigeonhole coverage " +
        s"(${widths.length * (radius + 1) - 1}): ${widths.length} chunks with one-sided " +
        s"radius-$radius probes bridge chunk-distance <= $radius only — a larger cut would " +
        "make recall probabilistic")
    // Rows carry the full signature so the join output is cut to
    // hamming <= maxHamming by a codegen'd bit_count BEFORE the dedup
    // shuffle and the verify join. Guarded by maybeBroadcast — past
    // broadcastDocLimit the same join runs partitioned on (chunk, pval);
    // the probe side then shuffles its slim rows/doc, the price of the
    // ~15x smaller join output that dominates at that scale.
    val pairs = simHashCandidateJoin(sigs, widths, radius, maybeBroadcast)
      .filter(col("id") < col("id_b") &&
        bit_count(col("sig").bitwiseXOR(col("sig_b"))) <= maxHamming)
      .select(col("id").as("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
      // free operator metric (CollectMetricsExec, no extra job/shuffle):
      // candidate-pair volume is THE superlinear-leaning term of this
      // pipeline — verification cost tracks it — so every execution
      // reports it for drift monitoring (the scale soak asserts on it)
      .observe("simhash_candidate_pairs", count(lit(1)).as("n"))

    // Exact token-frequency cosine for candidates only, over the SAME
    // cached vectors the signatures came from; the dot product is a native
    // merge (sparse_dot) per pair — no pairs×terms shuffle. Integer dot +
    // sqrt-of-integer norms mirror the oracle SQL's join-based formulation
    // bit-for-bit.
    val out = pairs
      .join(maybeBroadcast(docvec.select(col("id").as("id_a"), col("vec").as("va"), col("nrm").as("na"))), "id_a")
      .join(maybeBroadcast(docvec.select(col("id").as("id_b"), col("vec").as("vb"), col("nrm").as("nb"))), "id_b")
      .select(col("id_a"), col("id_b"),
        (graft.extensions.GraftExtensions.sparse_dot(col("va"), col("vb")).cast("double") /
          (col("na") * col("nb"))).as("cos_raw"))
      .filter(col("cos_raw") >= cosThreshold)
      .select(col("id_a"), col("id_b"), col("cos_raw").as("cos"))
    graft.util.Caching.materialize(out, docvec)
  }

  /** All XOR masks with <= `radius` bits set within `width` bits — the
    * one-sided probe set bridging chunk-distance <= radius (the raw side
    * matches probe `chunk_a XOR chunk_b` exactly once).
    */
  private[graft] def probeMasks(width: Int, radius: Int): Array[Long] = {
    // depth-first over bit combinations; each mask is produced exactly
    // once because bit positions strictly increase along a path
    val out = scala.collection.mutable.ArrayBuffer[Long](0L)
    def rec(start: Int, acc: Long, depth: Int): Unit = {
      var i = start
      while (i < width) {
        val m = acc | (1L << i)
        out += m
        if (depth + 1 < radius) rec(i + 1, m, depth + 1)
        i += 1
      }
    }
    if (radius > 0) rec(0, 0L, 0)
    out.toArray
  }

  /** The pre-cut SimHash bucket-collision join under a (chunk widths,
    * one-sided probe radius) scheme: every (probe row of doc B) ⋈ (raw
    * chunk of doc A) collision, carrying both full signatures. The caller
    * applies the id-order + hamming cut; this seam exists so specs and
    * soaks can COUNT the collision mass — the one term the chunk scheme
    * controls (post-cut candidates are the corpus's intrinsic band) —
    * without a non-codegen metrics node in the production hot path.
    *
    * Both sides' bit arithmetic reads per-chunk offset/mask/flip values
    * from flat array LITERALS (single Literal nodes, janino-friendly);
    * per-chunk probe counts differ when widths do, so a parallel
    * chunk-index array maps flat probe index → chunk.
    */
  private[graft] def simHashCandidateJoin(sigs: DataFrame, widths: Seq[Int],
      radius: Int, hint: DataFrame => DataFrame): DataFrame = {
    require(widths.sum == 64, s"chunk widths must cover all 64 signature bits, got $widths")
    require(widths.forall(w => w > 0 && w <= 62), s"chunk widths out of range: $widths")
    val chunks = widths.length
    val offsets: Array[Int] = widths.scanLeft(0)(_ + _).init.toArray
    val widthMasks: Array[Long] = widths.map(w => (1L << w) - 1).toArray
    val rawSide = sigs
      .select(col("id"), col("sig"), explode(sequence(lit(0), lit(chunks - 1))).as("chunk"))
      .select(col("id"), col("sig"), col("chunk").cast("int").as("chunk"),
        call_function("shiftrightunsigned", col("sig"),
            element_at(lit(offsets), col("chunk") + 1))
          .bitwiseAND(element_at(lit(widthMasks), col("chunk") + 1)).as("pval"))
    val perChunkMasks: Seq[Array[Long]] = widths.map(w => probeMasks(w, radius))
    val flatFlips: Array[Long] = perChunkMasks.flatten.toArray
    val flatChunk: Array[Int] = perChunkMasks.zipWithIndex
      .flatMap { case (ms, i) => Array.fill(ms.length)(i) }.toArray
    val nProbes = flatFlips.length // 548 narrow / 4918 wide
    val chunkOfPi = element_at(lit(flatChunk), col("pi") + 1)
    val probeSide = sigs
      .select(col("id").as("id_b"), col("sig").as("sig_b"),
        explode(sequence(lit(0), lit(nProbes - 1))).as("pi"))
      .select(col("id_b"), col("sig_b"), chunkOfPi.as("chunk"),
        call_function("shiftrightunsigned", col("sig_b"),
            element_at(lit(offsets), chunkOfPi + 1))
          .bitwiseAND(element_at(lit(widthMasks), chunkOfPi + 1))
          .bitwiseXOR(element_at(lit(flatFlips), col("pi") + 1)).as("pval"))
    probeSide.join(hint(rawSide), Seq("chunk", "pval"))
  }

  // ---------------------------------------------------- embedding near-dup

  /** Embedding-cosine near-duplicate pairs: cosine ≥ threshold, id_a < id_b.
    * Candidates come from random-hyperplane LSH band buckets (near-identical
    * vectors share sign bits with high probability), verified with the
    * native codegen'd cosine — never an all-pairs product. Recall rises with
    * `bands` (more, smaller bands = more permissive candidate generation).
    */
  def embeddingNearDups(
      embeddings: DataFrame, // (id, vec)
      threshold: Double = 0.95,
      dim: Int = 64,
      bits: Int = 16,
      bands: Int = 8,
      seed: Long = 42L): DataFrame = {
    require(bits % bands == 0, "bands must divide bits")
    val width = bits / bands
    val mask = (1L << width) - 1
    val spark = embeddings.sparkSession
    val sig = graft.similarity.Similarity.hyperplaneSignature(spark, col("vec"), dim, bits, seed)
    val chunkVals = (0 until bands).map(c => shiftrightunsigned(sig, c * width).bitwiseAND(lit(mask)))
    val banded = embeddings
      .select(col("id"), posexplode(array(chunkVals: _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_val")
    val pairs = banded
      .join(banded.withColumnRenamed("id", "id_b"), Seq("band", "band_val"))
      .filter(col("id") < col("id_b"))
      .select(col("id").as("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    // Threshold on the RAW cosine (round only for display) so the cut is
    // identical to an oracle that filters the unrounded value — rounding
    // first would keep scores in [threshold-5e-7, threshold).
    pairs
      .join(embeddings.select(col("id").as("id_a"), col("vec").as("vec_a")), "id_a")
      .join(embeddings.select(col("id").as("id_b"), col("vec").as("vec_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        graft.similarity.Similarity.nativeCosine(spark, col("vec_a"), col("vec_b")).as("cos_raw"))
      .filter(col("cos_raw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos_raw"), 6).as("cos"))
  }

  // ------------------------------------------------------- decontamination

  /** Benchmark decontamination: flag corpus docs sharing at least
    * `minShared` distinct k-token shingles with the benchmark set —
    * standard LLM training-data hygiene (strip eval-set contamination
    * before pretraining). The join carries (shingle_hash, id) rows only —
    * never documents — and the benchmark side is the small one: its
    * distinct shingle set builds once and the overlap count is a hash join
    * + groupBy, output-linear in the corpus.
    *
    * @return every corpus doc: (doc_id, n_shared, contaminated)
    */
  def contaminationFlags(
      corpus: DataFrame,
      benchmark: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleK: Int = 3,
      minShared: Int = 5): DataFrame = {
    val spark = corpus.sparkSession
    val corpusSh = corpus.select(col(idCol).as("doc_id"),
      explode(shingleHashes(spark, col(textCol), shingleK)).as("h"))
    val benchSh = benchmark
      .select(explode(shingleHashes(spark, col(textCol), shingleK)).as("h"))
      .distinct()
    val shared = corpusSh.join(benchSh, "h")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared")) // corpus shingles are per-doc distinct
    corpus.select(col(idCol).as("doc_id"))
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) >= minShared).as("contaminated"))
  }

  // ------------------------------------------------------------ n-gram Jaccard

  /** Exact pairwise n-gram Jaccard (quadratic — verification tool / bounded
    * subsets; the scalable path is MinHash above). Pairs share at least one
    * shingle; jaccard = |A∩B| / |A∪B|, id_a < id_b, filtered at threshold.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleK: Int = 3,
      threshold: Double = 0.1): DataFrame = {
    val sh = docs
      .select(col(idCol).as("id"), array_distinct(shingles(docs.sparkSession, col(textCol), shingleK)).as("sh"))
      .filter(size(col("sh")) > 0)
    val expl = sh.select(col("id"), explode(col("sh")).as("s"))
    val l = expl.select(col("s"), col("id").as("id_a"))
    val r = expl.select(col("s"), col("id").as("id_b"))
    val common = l.join(r, Seq("s")).filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_common"))
    val sizes = sh.select(col("id"), size(col("sh")).as("n"))
    // Filter on the RAW jaccard, round only in the output projection — the
    // oracle thresholds the unrounded value, and both sides must cut
    // identically at the [threshold-5e-7, threshold) boundary.
    common
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "n_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common"))).as("j_raw"))
      .filter(col("j_raw") >= threshold)
      .select(col("id_a"), col("id_b"), col("j_raw").as("jaccard"))
  }

  // --------------------------------------------------------- paragraph dedup

  /** Corpus-level paragraph dedup (the C4 / RefinedWeb recipe): split each
    * document into paragraphs, keep the FIRST corpus-wide occurrence of
    * every distinct paragraph — smallest (doc_id, position) — drop the
    * repeats everywhere else, and reassemble documents from their surviving
    * paragraphs. Boilerplate that repeats across pages (headers, navigation,
    * license blurbs) would otherwise dominate a trained model's data.
    *
    * Output: (doc_id, clean_text, n_paras, n_kept). Documents whose every
    * paragraph was a repeat survive with clean_text = '' and n_kept = 0 —
    * the caller's quality gate drops them explicitly; silently losing rows
    * here would corrupt any downstream anti-join against the input.
    *
    * Scale shape: first-occurrence selection is a hash-groupBy
    * min(struct(doc_id, pos)) on an 8-byte paragraph digest — NOT a
    * corpus-wide window per paragraph (hot boilerplate is exactly the key
    * skew a window cannot split, while partial aggregation collapses each
    * hot digest map-side). The exchanges carry (digest, doc_id, pos) for
    * selection and each SURVIVING paragraph once for reassembly; dropped
    * duplicate text never shuffles. Digest equality stands in for string
    * equality (xxhash64 collisions negligible; the string-keyed oracle
    * would expose one).
    */
  def paragraphDedup(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      sep: String = "\n\n"): DataFrame = {
    val sepLit = java.util.regex.Pattern.quote(sep)
    val paras = docs
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), sepLit)).as(Seq("pos", "para")))
      .withColumn("ph", xxhash64(col("para")))
    val firsts = paras.groupBy(col("ph"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
      .select(col("ph"), col("f.doc_id").as("f_doc"), col("f.pos").as("f_pos"))
    val kept = paras.join(firsts, Seq("ph"))
      .filter(col("doc_id") === col("f_doc") && col("pos") === col("f_pos"))
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(sep,
          transform(array_sort(collect_list(struct(col("pos"), col("para")))),
            x => x.getField("para"))).as("clean_text"))
    docs
      .select(col(idCol).as("doc_id"), size(split(col(textCol), sepLit)).as("n_paras"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  // ------------------------------------------------ exact-substring span dedup

  /** EXACT-SUBSTRING dedup at span granularity (the distributed form of
    * Lee et al. 2022's ExactSubstr rule, "Deduplicating Training Data Makes
    * Language Models Better"): a document is flagged when any verbatim
    * k-token span of it also appears in an EARLIER document (lower id) —
    * repeated long spans are what the paper's suffix-array pipeline cuts.
    * A suffix array is a single-machine structure; at cluster scale the
    * span index is the set of k-gram hashes, whose ownership (first doc to
    * contain the span) a hash aggregation computes exactly.
    *
    * Scale shape: ownership is a hash-groupBy min(doc_id) on the 8-byte
    * k-gram hash — partial aggregation collapses hot boilerplate spans
    * map-side (the same skew argument as [[paragraphDedup]]; a window over
    * the span key could not split a hot span). The join back re-keys each
    * doc's DISTINCT spans once; clean docs cost one aggregate row per
    * span and nothing else. Digest equality stands in for span equality
    * (xxhash64 collisions negligible; the string-keyed oracle would expose
    * one).
    *
    * @return every corpus doc: (doc_id, n_dup_spans = DISTINCT k-token
    *         spans owned by an earlier doc, dup_of_earlier = n_dup_spans>0)
    */
  def exactSpanDedupFlags(
      corpus: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 8): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val spark = corpus.sparkSession
    val sh = corpus.select(col(idCol).as("doc_id"),
      explode(shingleHashes(spark, col(textCol), k)).as("h"))
    val owners = sh.groupBy(col("h")).agg(min(col("doc_id")).as("owner"))
    val flagged = sh.join(owners, "h")
      .groupBy(col("doc_id")) // sh is per-doc distinct: each span counts once
      .agg(sum(when(col("owner") < col("doc_id"), 1L).otherwise(0L)).as("n_dup_spans"))
    corpus.select(col(idCol).as("doc_id"))
      .join(flagged, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        (coalesce(col("n_dup_spans"), lit(0L)) > 0).as("dup_of_earlier"))
  }

  /** QUALITY-AWARE representative selection: production dedup keeps the
    * BEST document of each near-dup cluster, not an arbitrary one — when a
    * boilerplate-mangled copy has a lower id than the clean original,
    * min-id selection ships the mangled text to training. Re-keys every
    * cluster to its member with the highest quality score (ties to the
    * LOWEST doc id, so the choice is deterministic and degrades to plain
    * min-id when scores tie across a cluster).
    *
    * Scale shape: one join of the assignment to the per-doc scores, one
    * hash-groupBy max(struct(score, −doc_id, doc_id)) per cluster (struct
    * ordering implements the argmax + tie-break; partial aggregation
    * collapses hot clusters map-side), one join back — never a window over
    * the cluster key.
    *
    * @param clusters (doc_id, rep_id) — any assignment whose rep ids key
    *                 clusters ([[graft.ops.Graph.connectedComponents]]'
    *                 output shape); singleton docs map to themselves
    * @param scores   (doc_id, score) — any deterministic per-doc quality
    *                 signal ([[TextFunctions.statsQualityScore]] is the
    *                 stack's default). Every assignment doc is expected to
    *                 have a score row: an unscored member can't win the
    *                 argmax, and a cluster with NO scored member has no
    *                 best and drops from the output (inner-join contract)
    * @return (doc_id, rep_id = the cluster's best doc, best_score,
    *         keep = doc_id == rep_id) for every assignment row
    */
  def qualityAwareReps(clusters: DataFrame, scores: DataFrame): DataFrame = {
    val best = clusters.join(scores, "doc_id")
      .groupBy(col("rep_id"))
      .agg(max(struct(col("score"), (-col("doc_id")).as("neg"),
        col("doc_id").as("best_doc"))).as("m"))
      .select(col("rep_id"),
        col("m.best_doc").as("best_doc"), col("m.score").as("best_score"))
    clusters.join(best, "rep_id")
      .select(col("doc_id"), col("best_doc").as("rep_id"), col("best_score"),
        (col("doc_id") === col("best_doc")).as("keep"))
  }

  /** The corpus with later-doc span duplicates REMOVED — the earliest
    * holder of every span survives; all original columns kept.
    */
  def exactSpanDedup(
      corpus: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 8): DataFrame = {
    val dropIds = exactSpanDedupFlags(corpus, textCol, idCol, k)
      .filter(col("dup_of_earlier")).select(col("doc_id").as(idCol))
    corpus.join(dropIds, Seq(idCol), "left_anti")
  }
}
