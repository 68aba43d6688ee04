package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dedup.{Dedup, SemDeDup}
import graft.functions.TextFunctions

/** LLM-data curation over the engine's `documents` and `embeddings`
  * fixtures (sf0.1) with seeded planted duplicates: exact dedup, MinHash
  * near-dups with exact verification, connected components, quality-aware
  * representatives, and semantic dedup over the embeddings with planted
  * twins. The layer functions are called directly, so the registry's
  * near-dup memo is never involved.
  */
final class CorpusWorkload(work: String, dataDir: String, seed: Long) extends Workload {
  private val threshold = 0.5
  private val semThreshold = 0.95
  /** Near copies take their source among documents this long, so one
    * edited token keeps the copy's shingle Jaccard at 0.9 or more, where
    * the banded LSH (16 bands of 4 rows) misses a pair with probability
    * below 1e-7; at the 0.8 of a 30-token source it misses about 1 in 6000.
    */
  private val minNearTokens = 60
  private val docsPath = s"$work/corpus/docs.parquet"
  private val embPath = s"$work/corpus/emb.parquet"

  // the corpus, kept on the driver for the checks
  private var texts: Map[Long, String] = Map.empty
  private var nBase = 0
  private var exactCopies: Seq[(Long, Long)] = Nil // (copy, source)
  private var nearCopies: Seq[(Long, Long)] = Nil
  private var nVec = 0
  private var twins: Seq[(Long, Long)] = Nil
  private var centroids: Seq[Seq[Double]] = Nil

  /** Fixture documents plus one planted exact copy (case and spacing
    * changed) and one token-edited near copy per ten documents; fixture
    * embeddings plus one near-identical twin per twenty vectors. The seed
    * picks the sources and the edits. Centroids are the per-label means
    * of the fixture embeddings.
    */
  def generate(spark: SparkSession): Unit = {
    val rnd = new scala.util.Random(seed)
    val base = spark.read.parquet(s"$dataDir/documents.parquet").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ").toVector).sortBy(_._1).toVector
    nBase = base.size
    val long = base.filter(_._2.size >= minNearTokens)
    val exact = (0 until nBase / 10).map { j =>
      val (src, toks) = base(rnd.nextInt(nBase))
      val t = toks.map(w => if (rnd.nextDouble() < 0.2) w.toUpperCase else w).mkString("  ")
      (1000000L + j, src, t)
    }
    val near = (0 until nBase / 10).map { j =>
      val (src, toks) = long(rnd.nextInt(long.size))
      val pos = rnd.nextInt(toks.size)
      val fresh = s"edit${rnd.nextInt(1000000)}"
      val edited = rnd.nextInt(3) match {
        case 0 => toks.updated(pos, fresh)
        case 1 => toks.patch(pos, Nil, 1)
        case _ => toks.patch(pos, Seq(fresh), 0)
      }
      (2000000L + j, src, edited.mkString(" "))
    }
    texts = (base.map { case (i, t) => i -> t.mkString(" ") } ++
      exact.map(e => e._1 -> e._3) ++ near.map(e => e._1 -> e._3)).toMap
    exactCopies = exact.map(e => e._1 -> e._2)
    nearCopies = near.map(e => e._1 -> e._2)

    def unit(v: Array[Double]): Array[Double] = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    val emb = spark.read.parquet(s"$dataDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>"), col("label")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getInt(2))).sortBy(_._1).toVector
    nVec = emb.size
    centroids = emb.groupBy(_._3).toSeq.sortBy(_._1).map { case (_, vs) =>
      unit(vs.map(_._2).transpose.map(_.sum).toArray).toSeq
    }
    val twinVecs = (0 until nVec / 20).map { j =>
      val (src, v, _) = emb(rnd.nextInt(nVec))
      (1000000L + j, src, unit(v.map(_ + rnd.nextGaussian() * 0.002)))
    }
    twins = twinVecs.map(t => t._1 -> t._2)

    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(
      texts.toSeq.sortBy(_._1).map { case (i, t) => Row(i, t) }, 4), docSchema)
      .write.mode("overwrite").parquet(docsPath)
    val embSchema = StructType(Seq(StructField("id", LongType), StructField("vec", ArrayType(DoubleType))))
    spark.createDataFrame(spark.sparkContext.parallelize(
      (emb.map(e => e._1 -> e._2) ++ twinVecs.map(t => t._1 -> t._3))
        .map { case (i, v) => Row(i, v.toSeq) }, 4), embSchema)
      .write.mode("overwrite").parquet(embPath)
    // warm-up: load the native expressions once
    spark.read.parquet(docsPath).limit(8)
      .select(TextFunctions.shingleHashes(spark, col("text"), 3)).collect()
  }

  def inputInfo: Map[String, Any] = Map("rows" -> (texts.size + nVec + twins.size).toLong,
    "docs" -> texts.size, "fixture_docs" -> nBase, "vectors" -> (nVec + twins.size),
    "fixture_vectors" -> nVec, "bytes" -> (Util.duBytes(docsPath) + Util.duBytes(embPath)),
    "planted_exact" -> exactCopies.size, "planted_near" -> nearCopies.size,
    "planted_twins" -> twins.size)

  // outputs of the last pass, collected for the checks after the timed loop
  private var last: Option[(DataFrame, DataFrame, DataFrame, DataFrame)] = None
  private var pairsOut: Seq[(Long, Long, Double)] = Nil
  private var repsOut: Seq[(Long, Long, Boolean)] = Nil
  private var exactKept: Set[Long] = Set.empty
  private var semOut: Seq[(Long, Int, Long, Boolean)] = Nil // (id, cell, rep, keep)

  /** Warm-up: the whole pipeline once, untimed. */
  def warm(ctx: PassCtx): Unit = ctx.rec.op("warm-up") {
    curateText(ctx, ctx.spark.read.parquet(docsPath))
    curateSemantic(ctx, ctx.spark.read.parquet(embPath))
  }

  /** Two operations: the text pipeline, then semantic dedup. */
  def pass(ctx: PassCtx, p: Int): Map[String, Double] = {
    ctx.spark.catalog.clearCache()
    var text: Option[(DataFrame, DataFrame, DataFrame)] = None
    var sem: Option[DataFrame] = None
    ctx.rec.op("curate.text") { text = Some(curateText(ctx, ctx.spark.read.parquet(docsPath))) }
    ctx.rec.op("curate.semantic") { sem = Some(curateSemantic(ctx, ctx.spark.read.parquet(embPath))) }
    last = for ((e, pairs, reps) <- text; s <- sem) yield (e, pairs, reps, s)
    Map.empty
  }

  /** Exact dedup, verified near-dups, components, quality-aware
    * representatives; the kept documents go to a noop sink. Returns
    * (exact-deduped docs, verified pairs, representatives) for the checks.
    */
  private def curateText(ctx: PassCtx, docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val spark = ctx.spark
    val tr = ctx.tr
    val exact = tr.span("dedup.exact")(ctx.boundary(Dedup.dropExactDups(docs)))
    val pairs = tr.span("dedup.minhash_verified") {
      Dedup.minHashVerifiedNearDups(exact, threshold = threshold)
    }
    val comps = tr.span("ops.components")(graft.ops.Graph.connectedComponentsAuto(pairs))
    val clusters = exact.select(col("doc_id"))
      .join(comps.select(col("id").as("doc_id"), col("rep")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("rep_id"))
    val scores = tr.span("text.quality") {
      ctx.boundary(exact.select(col("doc_id"), TextFunctions.statsQualityScore(
        TextFunctions.langStats(spark, col("text")), col("text")).as("score")))
    }
    val reps = Dedup.qualityAwareReps(clusters, scores)
    tr.span("dedup.quality_reps") {
      exact.join(reps.filter(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi")
        .write.mode("overwrite").format("noop").save()
    }
    (exact, pairs, reps)
  }

  /** Semantic dedup of the embeddings against the seeded centres. */
  private def curateSemantic(ctx: PassCtx, emb: DataFrame): DataFrame = {
    val sem = ctx.tr.span("similarity.semdedup")(SemDeDup.semanticDedup(emb, centroids, semThreshold))
    sem.write.mode("overwrite").format("noop").save()
    sem
  }

  private def shingles(text: String): Set[String] = {
    val t = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (t.length < 3) Set.empty else t.sliding(3).map(_.mkString(" ")).toSet
  }

  override def checkValues: Map[String, Double] = {
    val kept = repsOut.count(_._3)
    Map("dedup.verified_pairs" -> pairsOut.size.toDouble,
      "dedup.removed_docs" -> (texts.size - kept).toDouble,
      "dedup.corpus_docs" -> texts.size.toDouble,
      "similarity.removed_vectors" -> semOut.count(!_._4).toDouble)
  }

  def checks(ctx: PassCtx): Seq[Check] = {
    val (exact, pairs, reps, sem) = last.get
    repsOut = reps.select("doc_id", "rep_id", "keep").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    pairsOut = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    exactKept = exact.select("doc_id").collect().map(_.getLong(0)).toSet
    semOut = sem.select("id", "cluster", "rep_id", "keep").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3))).toSeq
    ctx.spark.catalog.clearCache()
    val rep = repsOut.map(r => r._1 -> r._2).toMap
    // the fixture has exact duplicates of its own, and two edits can
    // coincide: a document stands for the lowest id with its normalized
    // text (lowercase, collapsed spaces), the one exact dedup keeps
    val canon = texts.groupBy { case (_, t) => t.toLowerCase.trim.split("\\s+").mkString(" ") }
      .values.flatMap { g => val m = g.keys.min; g.keys.map(_ -> m) }.toMap
    // an exact copy's cluster is its source's: it must be dropped for it
    val exactOk = exactCopies.filterNot { case (c, s) =>
      canon(c) == canon(s) && !exactKept(c) && exactKept(canon(s)) }
    val nearBad = nearCopies.filterNot { case (c, s) =>
      rep.contains(canon(c)) && rep.get(canon(c)) == rep.get(canon(s)) }
    def jaccard(a: Long, b: Long): Double = {
      val (x, y) = (shingles(texts(a)), shingles(texts(b)))
      (x & y).size.toDouble / (x | y).size
    }
    val jBad = pairsOut.filter { case (a, b, _) => jaccard(a, b) < threshold }
    val perCluster = repsOut.groupBy(_._2).map { case (_, ms) => ms.count(_._3) }
    // semantic dedup compares vectors only within a centroid cell; a twin
    // of a vector near a cell boundary may be assigned the other cell
    val semBy = semOut.map(r => r._1 -> r).toMap
    val (sameCell, straddling) = twins.partition { case (t, s) => semBy(t)._2 == semBy(s)._2 }
    val twinBad = sameCell.filterNot { case (t, s) => semBy(t)._3 == semBy(s)._3 }
    val semPerGroup = semOut.groupBy(_._3).map { case (_, ms) => ms.count(_._4) }
    Seq(
      Check("dedup.exact_copies_dropped_for_source", exactOk.isEmpty,
        s"${exactOk.size} of ${exactCopies.size} exact copies not resolved to their source"),
      Check("dedup.near_copies_in_source_cluster", nearBad.isEmpty,
        s"${nearBad.size} of ${nearCopies.size} near copies outside their source's cluster" +
          nearBad.take(3).map { case (c, s) => f"; $c of $s (Jaccard ${jaccard(c, s)}%.3f)" }.mkString),
      Check("dedup.verified_pairs_meet_threshold", jBad.isEmpty && pairsOut.nonEmpty,
        s"${jBad.size} of ${pairsOut.size} verified pairs below Jaccard $threshold"),
      Check("dedup.one_kept_per_cluster", perCluster.forall(_ == 1) && repsOut.size == exactKept.size,
        s"${perCluster.count(_ != 1)} clusters without exactly one kept document"),
      Check("similarity.twins_in_source_group", twinBad.isEmpty && sameCell.nonEmpty,
        s"${twinBad.size} of ${sameCell.size} planted twins in their source's cell outside its " +
          s"group (${straddling.size} more assigned another cell)"),
      Check("similarity.one_kept_per_group", semPerGroup.forall(_ == 1),
        s"${semPerGroup.count(_ != 1)} groups without exactly one kept vector"))
  }

  /** LSH candidate pairs before verification: a threshold-0 run of the
    * estimated near-dup operator over the same signatures and bands.
    */
  override def traceExtras(spark: SparkSession): Map[String, Double] = {
    val exact = Dedup.dropExactDups(spark.read.parquet(docsPath))
    val cands = Dedup.minHashNearDups(exact, threshold = 0.0).count()
    spark.catalog.clearCache()
    Map("dedup.candidate_pairs" -> cands.toDouble)
  }
}
