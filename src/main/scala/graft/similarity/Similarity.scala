package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * - `bruteForceTopK`: exact cosine top-k — broadcast the (small) query set,
  *   linear scan of the corpus, per-query top-k via window. At 100 TB this is
  *   the right *exact* plan: the corpus is never shuffled, only scanned, and
  *   the top-k reduction is per-partition then merged.
  * - `lshTopK`: random-hyperplane LSH — corpus is bucketed by signature band
  *   (a one-time map stage reusable across queries); a query probes only its
  *   matching buckets, turning the scan into a fraction of the corpus.
  *   Approximate; recall tunable via bands/bits.
  *
  * All math is done in double precision via codegen'd higher-order functions
  * (`zip_with` + `aggregate`) — no UDF, no driver collect of the corpus.
  */
object Similarity {

  /** Dot product of two array<numeric> columns, in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (s, v) => s + v)

  /** L2 norm. */
  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (s, v) => s + v.cast("double") * v.cast("double")))

  /** Cosine similarity; 0 when either vector has zero norm. Higher-order
    *-function formulation — interpreted (CodegenFallback); kept as the
    * reference implementation and for contexts without the graft extensions.
    * Hot paths use [[nativeCosine]].
    */
  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0, lit(0.0)).otherwise(dot(a, b) / d)
  }

  /** Codegen'd native cosine (graft.expressions.CosineSimilarity): one fused
    * Java loop per row, numerically identical to [[cosine]] (same
    * left-to-right double accumulation). Registers the function on the
    * session idempotently.
    */
  def nativeCosine(spark: org.apache.spark.sql.SparkSession, a: Column, b: Column): Column = {
    graft.extensions.GraftExtensions.register(spark)
    graft.extensions.GraftExtensions.cosine_sim(a, b)
  }

  /** Per-vector int8 scalar quantization — the 100 TB embedding
    * storage/bandwidth move: scale = max|x| / 127, q_i =
    * round-half-up(x_i / scale), so every element lands in [−127, 127]
    * with the max hitting ±127 exactly; dot products run in the int
    * domain. Zero vectors quantize to zeros with scale 0. Rounding is
    * written as `floor(x·127/max + 0.5)` — exact floor semantics in any
    * engine, so the whole transform is oracle-checkable arithmetic.
    * SIZE NOTE: values are int8-RANGE but the column is array<long> for
    * oracle-exact int aggregates — the 4× win is ON DISK, where parquet's
    * bit-packing encodes the 8-bit range regardless of the logical width;
    * for an in-memory/shuffle win too, cast the output to array<tinyint>
    * at the write site.
    */
  def quantizeInt8(
      df: DataFrame,
      vecCol: String,
      outVec: String = "qvec",
      outScale: String = "qscale"): DataFrame = {
    val v = col(vecCol)
    val mx = aggregate(v, lit(0.0), (acc, x) => greatest(acc, abs(x.cast("double"))))
    df.withColumn("__mx", mx)
      .withColumn(outVec,
        transform(v, x => when(col("__mx") === 0, lit(0L))
          .otherwise(floor(x.cast("double") * 127.0 / col("__mx") + 0.5))
          .cast("long")))
      .withColumn(outScale, col("__mx") / 127.0)
      .drop("__mx")
  }

  /** Exact top-k nearest corpus vectors (cosine) for each query vector.
    * Output: (query_id, neighbor_id, score) with rank ≤ k per query,
    * excluding self-matches. `queries` must be small enough to broadcast —
    * the corpus side is a single linear scan, no shuffle of the vectors
    * (only the (query_id, id, score) triples reach the top-k exchange).
    */
  def bruteForceTopK(
      queries: DataFrame, // (query_id, qvec)
      corpus: DataFrame, // (id, vec)
      k: Int = 5,
      scoreDecimals: Int = 6): DataFrame = {
    val scored = corpus
      .join(broadcast(queries), col("query_id") =!= col("id"))
      .select(col("query_id"), col("id"),
        round(nativeCosine(corpus.sparkSession, col("qvec"), col("vec")), scoreDecimals).as("score"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id").as("neighbor_id"), col("score"))
  }

  // ------------------------------------------------------------------- IVF

  /** Centroid model state as a tiny DataFrame (cid, cvec) for broadcast
    * joins. Scoring vectors against centroids as a broadcast cross join +
    * column-column native cosine keeps the plan free of nlist×dim literal
    * arrays — the literal formulation made every training job re-analyze and
    * janino-compile a huge expression tree (measured as most of IVF's
    * wall-clock; the scan itself is cheap).
    */
  private def centroidFrame(spark: org.apache.spark.sql.SparkSession, centroids: Seq[Seq[Double]]): DataFrame = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cid", "cvec")
  }

  /** Spherical nearest-centroid assignment of every corpus vector, keeping
    * the winning cosine: (id, cluster, score). Max (score, cid) struct per
    * id — struct ordering is lexicographic, so ties deterministically pick
    * the larger cid (same tie-break as the literal array_max formulation).
    * This is the deterministic half of k-means, exposed on its own so a
    * fixed-centroid assignment is oracle-checkable end to end (the
    * iterative fit stays spec-gated by planted-cluster recovery).
    */
  def assignEmbeddings(corpus: DataFrame, centroids: Seq[Seq[Double]]): DataFrame = {
    val spark = corpus.sparkSession
    corpus.crossJoin(broadcast(centroidFrame(spark, centroids)))
      .select(col("id"),
        struct(nativeCosine(spark, col("vec"), col("cvec")).as("s"), col("cid").as("i")).as("sc"))
      .groupBy(col("id"))
      .agg(max(col("sc")).as("m"))
      .select(col("id"), col("m").getField("i").as("cluster"), col("m").getField("s").as("score"))
  }

  /** (id, cell) nearest-centroid assignment ([[assignEmbeddings]] without
    * the score) — the fit's per-round assignment step.
    */
  private def assignCells(corpus: DataFrame, centroids: Seq[Seq[Double]]): DataFrame =
    assignEmbeddings(corpus, centroids)
      .select(col("id"), col("cluster").as("cell"))

  /** Deterministic k-means-lite coarse quantizer: seeds = the nlist
    * lowest-id corpus vectors, then `iters` Lloyd rounds (assignment on
    * executors, centroid update collects nlist × dim doubles to the driver —
    * legitimate model state, like any ML fit).
    */
  def trainCentroids(
      corpus: DataFrame, // (id, vec)
      dim: Int,
      nlist: Int = 16,
      iters: Int = 2,
      initSeeds: Option[Seq[Seq[Double]]] = None): Seq[Seq[Double]] = {
    // Each Lloyd round re-scans the corpus (seed job + iters assignment
    // jobs); cache it across the fit like any iterative ML training — but
    // only if the caller hasn't already, so the release below never clobbers
    // a caller-owned cache.
    val weCached = corpus.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (weCached) corpus.persist()
    // try/finally: a failing Lloyd-round collect must not leak the
    // training cache into the caller's session (the crossPrepare
    // exception-path discipline)
    try {
      var centroids: Seq[Seq[Double]] = initSeeds.getOrElse(corpus
        .orderBy(col("id")).limit(nlist)
        .select(col("vec").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toSeq).toSeq)
      require(initSeeds.isDefined || centroids.forall(_.length == dim),
        s"corpus vectors are not $dim-wide (got ${centroids.map(_.length).distinct.sorted
          .mkString("/")}) — the declared dim must match the data")
      (0 until iters).foreach { _ =>
        val assigned = corpus.join(assignCells(corpus, centroids), "id")
          .select(col("cell"), posexplode(col("vec").cast("array<double>")))
        val means = assigned.groupBy(col("cell"), col("pos")).agg(avg(col("col")).as("m"))
          .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
        val byCell = means.groupBy(_._1)
        centroids = centroids.indices.map { c =>
          byCell.get(c).fold(centroids(c))(ms => ms.sortBy(_._2).map(_._3).toSeq)
        }
      }
      centroids
    } finally {
      // the fit is over (all jobs above collected); don't leak the
      // training cache into the caller's session
      if (weCached) corpus.unpersist(blocking = false)
    }
  }

  /** IVF approximate top-k: corpus vectors live in their nearest-centroid
    * cell (one map-only assignment, reusable across queries); each query
    * probes only its `nprobe` closest cells and exact-reranks those
    * candidates. Scan fraction ≈ nprobe / nlist of the corpus — the standard
    * inverted-file trade of recall for throughput.
    */
  def ivfTopK(
      queries: DataFrame, // (query_id, qvec)
      corpus: DataFrame, // (id, vec)
      dim: Int,
      k: Int = 5,
      nlist: Int = 16,
      nprobe: Int = 4,
      iters: Int = 2,
      scoreDecimals: Int = 6): DataFrame = {
    val spark = corpus.sparkSession
    val centroids = trainCentroids(corpus, dim, nlist, iters)
    val cells = corpus.join(assignCells(corpus, centroids), "id")

    // per-query probed cells: top-nprobe centroid scores, ranked by
    // (score, cid) descending — identical ordering to nearest-cell
    // assignment's tie-break
    val pw = Window.partitionBy(col("query_id"))
      .orderBy(struct(col("ps"), col("cid")).desc)
    val probed = queries
      .crossJoin(broadcast(centroidFrame(spark, centroids)))
      .select(col("query_id"), col("qvec"), col("cid"),
        nativeCosine(spark, col("qvec"), col("cvec")).as("ps"))
      .withColumn("prank", row_number().over(pw))
      .filter(col("prank") <= nprobe)
      .select(col("query_id"), col("qvec"), col("cid").as("cell"))

    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("id"))
    probed.join(cells, Seq("cell"))
      .filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id"),
        round(nativeCosine(spark, col("qvec"), col("vec")), scoreDecimals).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id").as("neighbor_id"), col("score"))
  }

  /** Random-hyperplane signature: `bits` sign bits packed into a Long,
    * computed by the native fused-codegen expression
    * (graft.expressions.HyperplaneSignature) — one pass over the vector per
    * plane inside generated Java. Hyperplanes are seeded-deterministic; dim
    * must match the embedding width.
    */
  def hyperplaneSignature(
      spark: org.apache.spark.sql.SparkSession,
      vec: Column, dim: Int, bits: Int = 16, seed: Long = 42L): Column = {
    graft.extensions.GraftExtensions.register(spark)
    graft.extensions.GraftExtensions.hyperplane_sig(vec, lit(dim), lit(bits), lit(seed))
  }

  /** Higher-order-function formulation of [[hyperplaneSignature]] — one
    * interpreted `aggregate(zip_with(...))` dot per bit. Kept ONLY as the
    * reference implementation for the bit-identity spec; round-1 bench showed
    * it dominating LSH query cost (~50× the native expression).
    */
  def hofHyperplaneSignature(vec: Column, dim: Int, bits: Int = 16, seed: Long = 42L): Column = {
    val rnd = new scala.util.Random(seed)
    val planes: Seq[Seq[Double]] = Seq.fill(bits)(Seq.fill(dim)(rnd.nextGaussian()))
    val bitExprs = planes.zipWithIndex.map { case (p, i) =>
      val planeCol = array(p.map(lit): _*)
      when(dot(vec, planeCol) >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    bitExprs.reduce(_.bitwiseOR(_))
  }

  /** Approximate top-k: candidates = corpus vectors sharing at least one of
    * `bands` signature chunks with the query, then exact cosine re-rank of
    * candidates only. Probed fraction ≈ bands / 2^(bits/bands) of the corpus
    * for random data.
    */
  def lshTopK(
      queries: DataFrame, // (query_id, qvec)
      corpus: DataFrame, // (id, vec)
      dim: Int,
      k: Int = 5,
      bits: Int = 16,
      bands: Int = 4,
      seed: Long = 42L,
      scoreDecimals: Int = 6): DataFrame = {
    require(bands >= 1, s"bands must be >= 1, got $bands (16 % -1 == 0 " +
      "would pass the divisibility check and silently emit ZERO rows)")
    require(bits % bands == 0, "bands must divide bits")
    val width = bits / bands
    // width == 64 (bits=64, bands=1): `(1L << 64) - 1` wraps to 0 on the
    // JVM (shift counts are mod 64), which would zero every band value and
    // degenerate the LSH join into a single-hot-key cross join — use the
    // all-bits mask so one band means exact-signature buckets
    val mask = if (width == 64) -1L else (1L << width) - 1

    def banded(df: DataFrame, vecCol: String, idCols: Seq[String]): DataFrame = {
      val sig = hyperplaneSignature(df.sparkSession, col(vecCol), dim, bits, seed)
      val chunkVals = (0 until bands).map(c => shiftrightunsigned(sig, c * width).bitwiseAND(lit(mask)))
      df.select(idCols.map(col) :+ col(vecCol) :+ posexplode(array(chunkVals: _*)): _*)
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "band_val")
    }

    val qb = banded(queries, "qvec", Seq("query_id"))
    val cb = banded(corpus, "vec", Seq("id"))
    val candidates = qb.join(cb, Seq("band", "band_val"))
      .filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("qvec"), col("id"), col("vec"))
      .dropDuplicates("query_id", "id") // dedup on keys only — never hash the vectors

    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("id"))
    candidates
      .select(col("query_id"), col("id"),
        round(nativeCosine(corpus.sparkSession, col("qvec"), col("vec")), scoreDecimals).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id").as("neighbor_id"), col("score"))
  }

  // ------------------------------------------------------------ clustering

  /** Deterministic farthest-point seeding for [[clusterEmbeddings]]: an
    * md5-ordered sample of `candidates` vectors (hash-spread — unbiased by
    * id layout, unlike the lowest-id seeds the IVF quantizer is content
    * with), then greedy max-min-cosine-distance selection of k on the
    * driver (candidates × dim bounded model state). The k-means++ idea
    * without its RNG: every run picks the same well-spread seeds, so a
    * corpus whose modes are separated gets one seed per mode with
    * overwhelming probability.
    */
  private def spreadSeeds(corpus: DataFrame, k: Int, candidates: Int): Seq[Seq[Double]] = {
    // distinct by VALUE: a pool dominated by exact-duplicate embeddings
    // (precisely the dedup corpora this module serves) must not starve the
    // selection loop — fewer distinct candidates than k simply yields fewer
    // seeds, i.e. an effectively smaller k, which degenerate data deserves
    val cand = corpus
      .orderBy(md5(col("id").cast("string")), col("id"))
      .limit(candidates)
      .select(col("vec").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq.distinct
    require(cand.nonEmpty, "cannot seed clustering from an empty corpus")
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      val n = math.sqrt(na) * math.sqrt(nb)
      if (n == 0) 0.0 else d / n
    }
    val chosen = scala.collection.mutable.ArrayBuffer(cand.head)
    while (chosen.length < math.min(k, cand.length)) {
      // the candidate farthest (min-cosine over chosen, maximized) from
      // every seed so far; ties resolve to the earliest candidate
      val next = cand.iterator.filterNot(chosen.contains)
        .maxBy(c => 1.0 - chosen.iterator.map(s => cos(c, s)).max)
      chosen += next
    }
    chosen.toSeq
  }

  /** First-class k-means clustering of the corpus: (id, cluster) via the
    * same deterministic Lloyd iterations the IVF index builds its cells
    * with ([[trainCentroids]]), but seeded by [[spreadSeeds]] — clustering
    * QUALITY depends on seed spread in a way a coarse quantizer doesn't.
    * Spherical assignment by native cosine; the driver holds only
    * seeds/centroids (k × dim). Exposed on its own because clustering is a
    * curation primitive in its own right, not just an index: topic
    * bucketing, semantic dedup domains, and cluster-balanced subsampling
    * all start from this frame.
    */
  def clusterEmbeddings(
      corpus: DataFrame, // (id, vec)
      dim: Int,
      k: Int = 8,
      iters: Int = 4): DataFrame = {
    val centroids = trainCentroids(corpus, dim, k, iters,
      initSeeds = Some(spreadSeeds(corpus, k, candidates = 8 * k)))
    assignCells(corpus, centroids).withColumnRenamed("cell", "cluster")
  }

  /** Cluster-balanced corpus subsampling: k-means buckets the corpus by
    * semantic neighborhood, then a deterministic per-cluster hash quota
    * takes at most `perCluster` ids from EACH cluster — lowest
    * md5(id | seed) ranks win, ties to the lower id, no RNG (the same
    * count-based-quota IDEA as
    * [[graft.text.TextPipelines.hashSamplePerGroup]], but a DIFFERENT
    * ranking hash: that one is a seedless multiplicative hash through the
    * bounded-heap operator — the two samplers never agree row-for-row).
    * This is the curation move that stops a corpus's dominant mode from
    * crowding out its tails in a training mix. Returns (id, cluster);
    * join back on id for the payload.
    */
  def clusterBalancedSample(
      corpus: DataFrame, // (id, vec)
      dim: Int,
      k: Int = 8,
      perCluster: Int = 100,
      iters: Int = 4,
      seed: Long = 42L): DataFrame = {
    require(perCluster > 0, s"perCluster must be positive, got $perCluster")
    val assigned = clusterEmbeddings(corpus, dim, k, iters)
    val w = Window.partitionBy(col("cluster"))
      .orderBy(md5(concat_ws("|", col("id").cast("string"), lit(seed))), col("id"))
    assigned
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= perCluster)
      .drop("__rk")
  }
}
