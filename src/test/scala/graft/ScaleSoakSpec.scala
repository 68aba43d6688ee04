package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.similarity.Similarity

/** Empirical scaling evidence for the heavy pipelines: run each at 1× and
  * 4× input and require near-linear growth in time and shuffle volume with
  * ZERO disk spill — the measured counterpart of the "would this survive
  * 100×?" plan arguments. Metrics come from `graft.obs.Recorder` (per-task
  * shuffle write bytes, spill, peak execution memory), not wall-clock
  * guesswork alone.
  *
  * Env-gated (slow): runs only with SPARK_GRAFT_SOAK=1, e.g.
  * `SPARK_GRAFT_SOAK=1 sbt 'testOnly graft.ScaleSoakSpec'`. Time bounds are
  * deliberately loose (6× for 4× data, min of 2 reps) because the box is
  * co-tenant; the shuffle-byte and spill assertions are exact.
  */
class ScaleSoakSpec extends SparkSpec {
  import spark.implicits._

  private val enabled = sys.env.get("SPARK_GRAFT_SOAK").contains("1")
  private val sf01 = "/root/testdata/sf0.1"
  private lazy val soakRoot = java.nio.file.Files.createTempDirectory("graft-soak").toString

  private case class RunMetrics(sec: Double, shuffleWriteBytes: Long,
      diskSpill: Long, memSpill: Long, peakMem: Long) {
    def pretty: String =
      f"$sec%.2fs shuffleW=${shuffleWriteBytes / 1e6}%.1fMB diskSpill=$diskSpill%d " +
        f"memSpill=${memSpill / 1e6}%.1fMB peakTaskMem=${peakMem / 1e6}%.1fMB"
  }

  /** Run the action twice, collecting task metrics; keep the faster rep
    * (robust to one co-tenant hiccup — both reps being inflated is rarer).
    */
  private def measure(run: () => Unit): RunMetrics =
    Seq(measureOnce(run), measureOnce(run)).minBy(_.sec)

  /** One measured run — for actions that are NOT repeatable (a delete is
    * a no-op the second time); repeatable actions go through [[measure]].
    */
  private def measureOnce(run: () => Unit): RunMetrics = {
    val (_, r) = graft.obs.Recorder.measure(spark)(run())
    spark.catalog.clearCache()
    SparkEntry.clearMemos()
    RunMetrics(r.wallSec, r.shuffleWriteBytes, r.tasks.map(_.diskSpill).sum,
      r.tasks.map(_.memSpill).sum, r.tasks.map(_.peakMem).maxOption.getOrElse(0L))
  }

  private def assertScaling(name: String, m1: RunMetrics, m4: RunMetrics,
      extra: Map[String, Long] = Map.empty): Unit = {
    info(s"$name 1x: ${m1.pretty}")
    info(s"$name 4x: ${m4.pretty}")
    def named(m: RunMetrics) = Map[String, Any]("sec" -> m.sec,
      "shuffle_write_bytes" -> m.shuffleWriteBytes, "disk_spill_bytes" -> m.diskSpill,
      "mem_spill_bytes" -> m.memSpill, "peak_task_mem_bytes" -> m.peakMem)
    SoakReport.record(name, named(m1), named(m4), extra)
    assert(m4.diskSpill == 0L, s"$name spilled ${m4.diskSpill} bytes to disk at 4x")
    assert(m4.sec <= 6.0 * math.max(m1.sec, 0.5),
      f"$name time superlinear: 1x ${m1.sec}%.2fs -> 4x ${m4.sec}%.2fs")
    assert(m4.shuffleWriteBytes <= 6L * math.max(m1.shuffleWriteBytes, 1L << 20),
      s"$name shuffle superlinear: ${m1.shuffleWriteBytes} -> ${m4.shuffleWriteBytes}")
  }

  /** Capture a named `observe` metric (first long of its row) from the
    * last query `run` executes that carries it.
    */
  private def observedMetric(name: String)(run: () => Unit): Long = {
    val (_, r) = graft.obs.Recorder.measure(spark)(run())
    val got = r.executions.flatMap(_.observedMetrics.get(name))
    assert(got.nonEmpty, s"observed metric '$name' never arrived")
    got.last.getLong(0)
  }

  /** `factor`× the sf0.1 documents: replica i suffixes EVERY token with
    * `~i`, so replicas share no terms (and no shingles) with each other —
    * a token shuffle is NOT enough, because SimHash/cosine are bag-of-words
    * operators and would see shuffled replicas as exact duplicates, making
    * pair counts quadratic in the factor by fixture construction. One
    * genuine " zz"-perturbed twin per doc keeps the verify stage scaling
    * with input. Written to parquet once so every measured run starts from
    * a real scan.
    */
  private def scaledDocs(factor: Int): DataFrame = {
    val path = s"$soakRoot/docs_x$factor"
    if (!new java.io.File(path).exists()) {
      val base = Tables.documents(spark, sf01).select(col("doc_id"), col("text"))
      val reps = (0 until factor).map { i =>
        if (i == 0) base
        else base.as[(Long, String)].map { case (id, text) =>
          (id + i * 10000000L, text.split(' ').map(t => s"$t~$i").mkString(" "))
        }.toDF("doc_id", "text")
      }
      val all = reps.reduce(_ unionByName _)
      all.unionByName(all.select((col("doc_id") + 500000000L).as("doc_id"),
        concat(col("text"), lit(" zz")).as("text")))
        .repartition(32).write.mode("overwrite").parquet(path)
    }
    spark.read.parquet(path)
  }

  /** `factor`× the sf0.1 embeddings with per-replica direction noise so
    * clones don't collapse into identical directions.
    */
  private def scaledVecs(factor: Int): DataFrame = {
    val path = s"$soakRoot/vecs_x$factor"
    if (!new java.io.File(path).exists()) {
      val base = Tables.embeddings(spark, sf01)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val reps = (0 until factor).map { i =>
        if (i == 0) base
        else base.select((col("id") + i * 10000000L).as("id"),
          transform(col("vec"),
            (x, j) => x + sin((col("id") + 1) * (j + 1) * lit(i * 0.7))).as("vec"))
      }
      reps.reduce(_ unionByName _).repartition(32).write.mode("overwrite").parquet(path)
    }
    spark.read.parquet(path)
  }

  private def scaledLineitem(factor: Int): DataFrame = {
    val base = Tables.lineitem(spark, sf01).select("l_returnflag", "l_extendedprice")
    (0 until factor).map { i =>
      if (i == 0) base
      else base.withColumn("l_extendedprice", col("l_extendedprice") + lit(i * 0.01))
    }.reduce(_ unionByName _)
  }

  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  test("soak: MinHash-LSH near-dup pipeline scales near-linearly, no disk spill") {
    assume(enabled, "set SPARK_GRAFT_SOAK=1 to run the scale soak")
    noop(Dedup.minHashVerifiedNearDups(scaledDocs(1), threshold = 0.5)) // warm-up
    val m1 = measure(() => noop(Dedup.minHashVerifiedNearDups(scaledDocs(1), threshold = 0.5)))
    val m4 = measure(() => noop(Dedup.minHashVerifiedNearDups(scaledDocs(4), threshold = 0.5)))
    assertScaling("minhash", m1, m4)
  }

  /** The strongest possible candidate-volume statement, established r9
    * (SimHashSoakProbe): the scheme's candidate set EQUALS the exhaustive
    * ground-truth hamming<=9 band — zero scheme-induced excess — so its
    * growth is the DATA's. The fixture's replicas are independent
    * signature realizations whose band sizes vary ±46% (555k / 927k /
    * 483k / 1029k pairs ⇒ 5.39x at 4x input); asserting any fixed
    * sub-5.4x growth ratio would assert a property the fixture does not
    * have. Instead each run brute-forces the band over the signatures
    * (cheap at soak scale: one broadcast bit_count sweep) and requires
    * EXACT equality with the candidate metric.
    */
  private def intrinsicBand(docs: DataFrame): Long = {
    val sigs = Dedup.simHashSignatures(
      docs.filter(graft.functions.TextFunctions.tokenCount(col("text")) >= 50),
      idCol = "doc_id")
    sigs.join(broadcast(sigs.select(col("id").as("id_b"), col("sig").as("sig_b"))),
        col("id") < col("id_b"))
      .filter(bit_count(col("sig").bitwiseXOR(col("sig_b"))) <= 9)
      .count()
  }

  test("soak: SimHash-cosine near-dup pipeline scales near-linearly, no disk spill") {
    assume(enabled, "set SPARK_GRAFT_SOAK=1 to run the scale soak")
    var cand1 = 0L
    var cand4 = 0L
    val m1 = measure(() => cand1 = observedMetric("simhash_candidate_pairs")(
      () => noop(Dedup.simHashCosineNearDups(scaledDocs(1)))))
    val m4 = measure(() => cand4 = observedMetric("simhash_candidate_pairs")(
      () => noop(Dedup.simHashCosineNearDups(scaledDocs(4)))))
    val band1 = intrinsicBand(scaledDocs(1))
    val band4 = intrinsicBand(scaledDocs(4))
    info(s"simhash candidate pairs: 1x=$cand1 4x=$cand4; intrinsic band 1x=$band1 4x=$band4")
    assert(cand1 > 0L, "candidate stage produced zero pairs at 1x")
    assert(cand1 == band1 && cand4 == band4,
      s"candidate set diverged from the exhaustive hamming<=9 band: " +
        s"1x $cand1 vs $band1, 4x $cand4 vs $band4 — recall loss if under, " +
        "scheme-induced excess if over")
    assertScaling("simhash", m1, m4,
      Map("candidate_pairs_x1" -> cand1, "candidate_pairs_x4" -> cand4,
        "intrinsic_band_x1" -> band1, "intrinsic_band_x4" -> band4))
  }

  test("soak: IVF ANN scales near-linearly in corpus size, no disk spill") {
    assume(enabled, "set SPARK_GRAFT_SOAK=1 to run the scale soak")
    def queriesFrom(c: DataFrame) = c.filter(col("id") < 20)
      .select(col("id").as("query_id"), col("vec").as("qvec"))
    val c1 = scaledVecs(1)
    val c4 = scaledVecs(4)
    val m1 = measure(() => noop(Similarity.ivfTopK(queriesFrom(c1), c1, dim = 64, k = 5)))
    val m4 = measure(() => noop(Similarity.ivfTopK(queriesFrom(c4), c4, dim = 64, k = 5)))
    assertScaling("ivf", m1, m4)
  }

  /** `factor`× the sf0.1 orders as a keyed snapshot-table feed: replica i
    * offsets the key space, same dt spread.
    */
  private def scaledOrders(factor: Int): DataFrame = {
    val base = Tables.orders(spark, sf01)
      .select(col("o_orderkey"), col("o_orderdate").cast("string").as("dt"),
        col("o_totalprice"))
    (0 until factor).map { i =>
      if (i == 0) base
      else base.withColumn("o_orderkey", col("o_orderkey") + i * 100000000L)
    }.reduce(_ unionByName _)
  }

  test("soak: snapshot pipeline (write, append, merge, compact, read) scales near-linearly, no disk spill") {
    assume(enabled, "set SPARK_GRAFT_SOAK=1 to run the scale soak")
    import graft.catalog.SnapshotTable
    def pipeline(factor: Int): Unit = {
      val dir = s"$soakRoot/snap_x${factor}_${System.nanoTime()}"
      val o = scaledOrders(factor)
      SnapshotTable.write(spark, o.filter(pmod(col("o_orderkey"), lit(2)) === 0), dir)
      SnapshotTable.append(spark, o.filter(pmod(col("o_orderkey"), lit(2)) === 1), dir)
      SnapshotTable.merge(spark,
        o.filter(pmod(col("o_orderkey"), lit(7)) === 0)
          .withColumn("o_totalprice", -col("o_totalprice")),
        dir, keys = Seq("o_orderkey", "dt"))
      SnapshotTable.compact(spark, dir, targetBytes = 1L << 30)
      noop(SnapshotTable.read(spark, dir))
    }
    val m1 = measure(() => pipeline(1))
    val m4 = measure(() => pipeline(4))
    assertScaling("snapshot_pipeline", m1, m4)
  }

  test("soak: SQL row-level UPDATE (copy-on-write ReplaceData) scales near-linearly, no disk spill") {
    assume(enabled, "set SPARK_GRAFT_SOAK=1 to run the scale soak")
    import graft.catalog.SnapshotTable
    spark.conf.set("spark.sql.catalog.snap",
      classOf[graft.catalog.SnapshotCatalog].getName)
    def build(factor: Int): String = {
      val dir = s"$soakRoot/rowlevel_x${factor}_${System.nanoTime()}/t"
      val big = scaledOrders(factor)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"))
      // four commits → a multi-file table, like any incrementally-loaded one
      SnapshotTable.write(spark, big.filter(pmod(col("k"), lit(4)) === 0), dir)
      (1 to 3).foreach(r =>
        SnapshotTable.append(spark, big.filter(pmod(col("k"), lit(4)) === r), dir))
      dir
    }
    val (d1, d4) = (build(1), build(4))
    // pmod predicate: invisible to stats, so the cost is the honest COW
    // shape — runtime matching subquery over the table + rewrite of the
    // files holding the ~0.1% matched rows (uniform keys → most files)
    def update(dir: String): Unit =
      spark.sql(s"UPDATE snap.`$dir` SET v = v + 1.0 WHERE k % 997 = 1")
    val m1 = measure(() => update(d1))
    val m4 = measure(() => update(d4))
    def rewritten(dir: String): Long =
      SnapshotTable.history(spark, dir).orderBy(col("version").desc)
        .select("files_removed").head().getLong(0)
    assertScaling("sql_rowlevel_update", m1, m4,
      extra = Map("files_rewritten_last_commit_1x" -> rewritten(d1),
        "files_rewritten_last_commit_4x" -> rewritten(d4)))
  }

  test("soak: change-feed diff cost is O(rewritten rows), not O(table)") {
    assume(enabled, "set SPARK_GRAFT_SOAK=1 to run the scale soak")
    import graft.catalog.{ChangeFeed, SnapshotTable}
    // the table grows with the factor (replica i's dt range shifts into a
    // disjoint decade, file count scales so rows-per-file stays constant),
    // but the merge always touches the SAME single base-dt slice with the
    // SAME batch — so the feed's work (diff of the one rewritten file vs
    // its replacements) must stay FLAT while the table quadruples. This is
    // the measured form of the O(rewritten) claim: carried-by-reference
    // files never enter the diff.
    val base = Tables.orders(spark, sf01)
      .select(col("o_orderkey"), col("o_orderdate").cast("date").as("d"),
        col("o_totalprice"))
    val d0 = base.agg(min(col("d"))).head().getDate(0).toString
    def build(factor: Int): (String, Long, Long) = {
      val dir = s"$soakRoot/cf_x${factor}_${System.nanoTime()}/t"
      val o = (0 until factor).map { i =>
        base.select((col("o_orderkey") + i * 100000000L).as("o_orderkey"),
          date_add(col("d"), i * 5000).cast("string").as("dt"), col("o_totalprice"))
      }.reduce(_ unionByName _)
      SnapshotTable.write(spark, o.repartitionByRange(8 * factor, col("dt")), dir) // v1
      val batch = base.filter(col("d") === lit(d0).cast("date"))
        .select(col("o_orderkey"), col("d").cast("string").as("dt"),
          (-col("o_totalprice")).as("o_totalprice"))
      SnapshotTable.merge(spark, batch, dir, keys = Seq("o_orderkey", "dt")) // v2
      val vs = SnapshotTable.versions(spark, dir)
      (dir, vs.head, vs.last)
    }
    val (dir1, a1, b1) = build(1)
    val (dir4, a4, b4) = build(4)
    def feed(dir: String, from: Long, to: Long): Unit =
      noop(ChangeFeed.rowChanges(spark, dir, from, to, keys = Seq("o_orderkey", "dt")))
    val m1 = measure(() => feed(dir1, a1, b1))
    val m4 = measure(() => feed(dir4, a4, b4))
    def rewritten(dir: String): Long =
      SnapshotTable.history(spark, dir).orderBy(col("version").desc)
        .select("files_removed").head().getLong(0)
    assertScaling("change_feed", m1, m4,
      extra = Map("files_rewritten_1x" -> rewritten(dir1),
        "files_rewritten_4x" -> rewritten(dir4)))
    // the FLATNESS assertions — stronger than assertScaling's linearity
    // bound: 4x the table, same rewrite slice, so cost must not follow
    // the table (generous 2x headroom for version-listing overhead)
    assert(m4.sec <= 2.0 * math.max(m1.sec, 0.5),
      f"change-feed time follows the TABLE, not the rewrite: ${m1.sec}%.2fs -> ${m4.sec}%.2fs")
    assert(m4.shuffleWriteBytes <= 2L * math.max(m1.shuffleWriteBytes, 1L << 20),
      s"change-feed shuffle follows the TABLE, not the rewrite: " +
        s"${m1.shuffleWriteBytes} -> ${m4.shuffleWriteBytes}")
  }

  test("soak: PageRank scales near-linearly in edges, no disk spill") {
    assume(enabled, "set SPARK_GRAFT_SOAK=1 to run the scale soak")
    def edges(factor: Int): DataFrame = {
      val base = Tables.orders(spark, sf01)
        .select(col("o_custkey").as("src"), pmod(col("o_orderkey"), lit(15000)).as("dst"))
        .filter(col("src") =!= col("dst"))
      (0 until factor).map { i =>
        // disjoint subgraph per replica: nodes AND edges both scale by the
        // factor, the per-iteration exchange stays (node, double)-sized
        if (i == 0) base
        else base.select((col("src") + i * 10000000L).as("src"),
          (col("dst") + i * 10000000L).as("dst"))
      }.reduce(_ unionByName _)
    }
    val m1 = measure(() => noop(graft.ops.Graph.pageRank(edges(1), iters = 5)))
    val m4 = measure(() => noop(graft.ops.Graph.pageRank(edges(4), iters = 5)))
    assertScaling("pagerank", m1, m4)
  }

  test("soak: triangle count keeps wedge intermediates bounded on a skewed apex graph") {
    assume(enabled, "set SPARK_GRAFT_SOAK=1 to run the scale soak")
    def edges(factor: Int): DataFrame = {
      val base = Tables.orders(spark, sf01)
        .select(col("o_custkey").as("src"), pmod(col("o_orderkey"), lit(15000)).as("dst"))
        .filter(col("src") =!= col("dst"))
      // one APEX per replica: a node linked to every dst node (degree ~15k).
      // A naive three-way self-join wedges deg² ≈ 2×10⁸ rows per replica
      // through the shuffle; the degree orientation bounds the apex's
      // OUT-degree, so wedge volume tracks |E|^1.5 and 4x disjoint replicas
      // cost ~4x — the skew assertion is exactly this ratio staying flat.
      val apex = base.select(lit(99999999L).as("src"), col("dst")).distinct()
      val rep = base.unionByName(apex)
      (0 until factor).map { i =>
        if (i == 0) rep
        else rep.select((col("src") + i * 100000000L).as("src"),
          (col("dst") + i * 100000000L).as("dst"))
      }.reduce(_ unionByName _)
    }
    // Pin the plan shape across scales: at x1 the oriented edge list fits
    // under the broadcast threshold and the wedge join plans broadcast
    // (~0 shuffle), at x4 it flips to shuffle joins — a 13x "shuffle
    // growth" that is a strategy flip, not superlinear work. The 100 TB
    // shape is all-shuffle, so measure that at both scales.
    val m1 = withoutAutoBroadcast(measure(() => noop(graft.ops.Graph.triangleCount(edges(1)))))
    val m4 = withoutAutoBroadcast(measure(() => noop(graft.ops.Graph.triangleCount(edges(4)))))
    assertScaling("triangles", m1, m4)
  }

  /** Run `body` with auto-broadcast joins disabled (both the static and the
    * AQE threshold), restoring the session confs afterwards.
    */
  private def withoutAutoBroadcast[T](body: => T): T = {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val prior = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "-1"))
    try body finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("soak: connected components (star contraction) scales near-linearly, no disk spill") {
    assume(enabled, "set SPARK_GRAFT_SOAK=1 to run the scale soak")
    def edges(factor: Int): DataFrame = {
      // the orders bipartite blob PLUS a 2048-node chain per replica —
      // chains are label propagation's O(diameter) pathology; the star
      // contraction's round count is log-bounded and structure-invariant
      // across disjoint replicas, so 4x edges must cost ~4x
      val blob = Tables.orders(spark, sf01)
        .select(col("o_custkey").as("id_a"), pmod(col("o_orderkey"), lit(15000)).as("id_b"))
        .filter(col("id_a") =!= col("id_b"))
      val chain = spark.range(0, 2047).select(
        (col("id") + 50000000L).as("id_a"), (col("id") + 50000001L).as("id_b"))
      val rep = blob.unionByName(chain)
      (0 until factor).map { i =>
        if (i == 0) rep
        else rep.select((col("id_a") + i * 100000000L).as("id_a"),
          (col("id_b") + i * 100000000L).as("id_b"))
      }.reduce(_ unionByName _)
    }
    // Pin the plan shape across scales (the triangles lesson): the hybrid's
    // label-round and star-round joins broadcast their (node, label)-sized
    // sides at x1 but flip to shuffle joins at x4 — a strategy flip that
    // reads as ~20x "shuffle growth". The 100 TB shape is all-shuffle, so
    // measure that at both scales.
    val m1 = withoutAutoBroadcast(measure(() => noop(graft.ops.Graph.connectedComponents(edges(1)))))
    val m4 = withoutAutoBroadcast(measure(() => noop(graft.ops.Graph.connectedComponents(edges(4)))))
    assertScaling("connected_components", m1, m4)
  }

  // ------------------------------------------- partition-layout surface

  private def executedPlan(df: DataFrame): org.apache.spark.sql.execution.SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  private def scannedFiles(p: org.apache.spark.sql.execution.SparkPlan): Set[String] = {
    def all[T](q: org.apache.spark.sql.execution.SparkPlan)(
        pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, T]): Seq[T] = {
      val nested = q.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          all(a.executedPlan)(pf)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => all(s.plan)(pf)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          all(r.child)(pf)
      }.flatten
      q.collect(pf) ++ nested
    }
    all(p) { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }
      .flatMap(_.inputRDD.partitions).flatMap {
        case d: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
          d.inputPartitions
        case _ => Seq.empty
      }.flatMap {
        case f: org.apache.spark.sql.execution.datasources.FilePartition =>
          f.files.map(_.filePath.toString)
        case _ => Seq.empty
      }.toSet
  }

  private def withSpjConf(body: => Unit): Unit = {
    val keys = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val prior = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), "true")
    spark.conf.set(keys(1), "-1")
    try body finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def ensureSnapCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.snap",
      classOf[graft.catalog.SnapshotCatalog].getName)

  test("soak: storage-partitioned join stays exchange-free as the probe side scales") {
    assume(enabled, "set SPARK_GRAFT_SOAK=1 to run the scale soak")
    import graft.catalog.SnapshotTable
    ensureSnapCatalog()
    // fixed co-bucketed dim, fact scaled by the factor: the SPJ's cost must
    // follow the probe side with EXACTLY zero exchange bytes at both scales
    val dimDir = s"$soakRoot/spj/dim"
    SnapshotTable.write(spark,
      spark.range(0, 4096).select(col("id").as("k"), (col("id") * 3).as("w")),
      dimDir, partitionCols = Some(Seq("bucket(8,k)")))
    def build(factor: Int): String = {
      val dir = s"$soakRoot/spj/fact_x$factor"
      SnapshotTable.write(spark, scaledOrders(factor)
        .select(pmod(col("o_orderkey"), lit(4096)).as("k"), col("o_totalprice").as("v")),
        dir, partitionCols = Some(Seq("bucket(8,k)")))
      dir
    }
    val (f1, f4) = (build(1), build(4))
    def join(dir: String): Unit = noop(spark.sql(
      s"SELECT x.k, x.v, y.w FROM snap.`$dir` x JOIN snap.`$dimDir` y ON x.k = y.k"))
    withSpjConf {
      join(f1) // warm-up
      val m1 = measure(() => join(f1))
      val m4 = measure(() => join(f4))
      assert(m1.shuffleWriteBytes == 0L && m4.shuffleWriteBytes == 0L,
        s"storage-partitioned join must move ZERO exchange bytes: " +
          s"1x=${m1.shuffleWriteBytes} 4x=${m4.shuffleWriteBytes}")
      assertScaling("spj_join", m1, m4)
    }
  }

  test("soak: bucket point lookup stays confined to one bucket as the table scales") {
    assume(enabled, "set SPARK_GRAFT_SOAK=1 to run the scale soak")
    import graft.catalog.SnapshotTable
    ensureSnapCatalog()
    def build(factor: Int): String = {
      val dir = s"$soakRoot/bucket/t_x$factor"
      SnapshotTable.write(spark, scaledOrders(factor)
        .select(col("o_orderkey").as("ck"), col("o_totalprice").as("v")),
        dir, partitionCols = Some(Seq("bucket(8,ck)")))
      dir
    }
    val (t1, t4) = (build(1), build(4))
    def lookupDf(dir: String) = spark.sql(s"SELECT v FROM snap.`$dir` WHERE ck = 7777")
    val m1 = measure(() => noop(lookupDf(t1)))
    val m4 = measure(() => noop(lookupDf(t4)))
    // confinement is structural: the 4x lookup reads exactly the files of
    // ONE bucket of eight, independent of table growth
    def accounting(dir: String): (Long, Long) = {
      val scanned = scannedFiles(executedPlan(lookupDf(dir)))
      val total = SnapshotTable.currentManifest(spark, dir).get.entries.size.toLong
      assert(scanned.nonEmpty && scanned.forall(_.contains("__pb_8_ck=")),
        s"lookup must stay inside its routed bucket: $scanned")
      (scanned.size.toLong, total)
    }
    val (s1, n1) = accounting(t1)
    val (s4, n4) = accounting(t4)
    assert(s4 * 8 <= n4 + 7, s"4x lookup escaped its bucket: $s4 of $n4 files")
    assertScaling("bucket_pointlookup", m1, m4, extra = Map(
      "files_scanned_x1" -> s1, "files_total_x1" -> n1,
      "files_scanned_x4" -> s4, "files_total_x4" -> n4))
  }

  test("soak: routed streaming ingest keeps files bounded and SPJ provable at 4x") {
    assume(enabled, "set SPARK_GRAFT_SOAK=1 to run the scale soak")
    import graft.catalog.SnapshotTable
    ensureSnapCatalog()
    val dimDir = s"$soakRoot/routed/dim"
    SnapshotTable.write(spark,
      spark.range(0, 8).select(col("id").as("k"), (col("id") * 11).as("w")),
      dimDir, partitionCols = Some(Seq("k")))
    val epochsPerRun = 10
    // one sustained-ingest run = `epochsPerRun` micro-batches of
    // factor-scaled size into an identity-partitioned table; measure()
    // replays it, so the table sees 2 runs of continuous ingest before
    // the layout assertions — the sustained part of the claim
    def ingest(factor: Int): (String, RunMetrics) = {
      val dir = s"$soakRoot/routed/t_x$factor"
      SnapshotTable.write(spark,
        spark.range(0, 0).select((col("id") % 8).as("k"), col("id").as("v")),
        dir, partitionCols = Some(Seq("k")))
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long](spark)
      val q = mem.toDF().select(pmod(col("value"), lit(8)).as("k"), col("value").as("v"))
        .writeStream
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory(s"graft-soak-routed-$factor").toString)
        .toTable(s"snap.`$dir`")
      var offset = 0L
      val rowsPerEpoch = 20000L * factor
      val m = measure { () =>
        (0 until epochsPerRun).foreach { _ =>
          mem.addData(offset until (offset + rowsPerEpoch): _*)
          offset += rowsPerEpoch
          q.processAllAvailable()
        }
      }
      q.stop()
      (dir, m)
    }
    val (d1, m1) = ingest(1)
    val (d4, m4) = ingest(4)
    def layout(dir: String): Long = {
      val entries = SnapshotTable.currentManifest(spark, dir).get.entries
      entries.foreach { e =>
        assert(e.path.contains("__p_k="), s"epoch file must stay routed: ${e.path}")
        val s = e.stats.get("k")
        assert(s.lo == s.hi, s"${e.path}: one value per file, got $s")
      }
      entries.size.toLong
    }
    val (files1, files4) = (layout(d1), layout(d4))
    // bounded fan-out: ≤ tasks × 8 values per epoch, 2 measured runs
    val cap = 2L * epochsPerRun * 8 * spark.sparkContext.defaultParallelism
    assert(files4 <= cap, s"routed ingest sprayed files: $files4 > $cap")
    // SPJ provable AFTER sustained ingest: the join moves zero exchange bytes
    withSpjConf {
      def join(dir: String): Unit = noop(spark.sql(
        s"SELECT x.k, x.v, y.w FROM snap.`$dir` x JOIN snap.`$dimDir` y ON x.k = y.k"))
      val j1 = measure(() => join(d1))
      val j4 = measure(() => join(d4))
      assert(j1.shuffleWriteBytes == 0L && j4.shuffleWriteBytes == 0L,
        s"post-ingest SPJ must stay exchange-free: 1x=${j1.shuffleWriteBytes} " +
          s"4x=${j4.shuffleWriteBytes}")
      assertScaling("routed_streaming_ingest", m1, m4, extra = Map(
        "files_x1" -> files1, "files_x4" -> files4,
        "post_ingest_join_shuffle_bytes_x1" -> j1.shuffleWriteBytes,
        "post_ingest_join_shuffle_bytes_x4" -> j4.shuffleWriteBytes))
    }
  }

  test("soak: MoR delete cost follows the MATCHED slice, not the table") {
    assume(enabled, "set SPARK_GRAFT_SOAK=1 to run the scale soak")
    import graft.catalog.SnapshotTable
    // the table quadruples (disjoint key ranges per replica) but the
    // delete predicate always matches the SAME base-range slice: a
    // merge-on-read delete writes position blobs for the touched files
    // only, so its cost must stay FLAT while the table grows — the
    // measured form of "MoR beats copy-on-write for sparse deletes"
    def build(factor: Int): String = {
      val dir = s"$soakRoot/mor/t_x$factor"
      val o = scaledOrders(factor)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"))
      SnapshotTable.write(spark, o.repartitionByRange(8 * factor, col("k")), dir)
      dir
    }
    val (d1, d4) = (build(1), build(4))
    // base keys < 100000000 exist at BOTH scales; replicas are offset past
    // it, so the matched row set is identical for x1 and x4
    def del(dir: String): Unit = {
      val n = SnapshotTable.deleteMoR(spark, dir,
        col("k") < 100000000L && col("k") % 997 === 1)
      assert(n > 0, "the sparse predicate must match rows")
    }
    // NOT measure()-repeated: a second identical delete is a no-op (the
    // positions are already hidden); one timed run per scale instead
    val m1 = measureOnce(() => del(d1))
    val m4 = measureOnce(() => del(d4))
    SoakReport.record("mor_delete",
      Map("sec" -> m1.sec, "shuffle_write_bytes" -> m1.shuffleWriteBytes,
        "disk_spill_bytes" -> m1.diskSpill, "mem_spill_bytes" -> m1.memSpill,
        "peak_task_mem_bytes" -> m1.peakMem),
      Map("sec" -> m4.sec, "shuffle_write_bytes" -> m4.shuffleWriteBytes,
        "disk_spill_bytes" -> m4.diskSpill, "mem_spill_bytes" -> m4.memSpill,
        "peak_task_mem_bytes" -> m4.peakMem),
      Map.empty)
    info(s"mor_delete 1x: ${m1.pretty}")
    info(s"mor_delete 4x: ${m4.pretty}")
    assert(m4.diskSpill == 0L, s"mor delete spilled ${m4.diskSpill} bytes at 4x")
    // flatness with generous co-tenant headroom: same matched slice, 4x
    // table — candidate pruning keeps the scan near the matched files
    assert(m4.sec <= 3.0 * math.max(m1.sec, 0.5),
      f"MoR delete follows the TABLE, not the match: ${m1.sec}%.2fs -> ${m4.sec}%.2fs")
  }

  test("soak: streaming dedup probe ingest stays flat as resident state scales") {
    assume(enabled, "set SPARK_GRAFT_SOAK=1 to run the scale soak")
    // E111's scale claim measured: ingesting the SAME 2k-doc probe batch
    // into 1x vs 4x resident bucket state must cost about the same —
    // per-arrival work tracks bucket occupancy (~1 for distinct docs),
    // never corpus size
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def words(seed: Long): String = {
      val r = new scala.util.Random(seed)
      Seq.fill(25)("w" + r.nextInt(5000)).mkString(" ")
    }
    def metricsFor(resident: Int): RunMetrics = {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val mem = MemoryStream[(Long, String)]
      val q = graft.streaming.StreamingDedup
        .nearDupCandidates(mem.toDF.toDF("doc_id", "text"))
        .writeStream.format("memory").queryName(s"sdedup_soak_$resident")
        .outputMode("append").start()
      try {
        mem.addData((0 until resident).map(i => (i.toLong, words(i.toLong))): _*)
        q.processAllAvailable() // resident state build — untimed
        measureOnce { () =>
          mem.addData((0 until 2000).map(i =>
            ((10000000 + i).toLong, words((5000000 + i).toLong))): _*)
          q.processAllAvailable()
        }
      } finally q.stop()
    }
    val m1 = metricsFor(20000)
    val m4 = metricsFor(80000)
    SoakReport.record("streaming_dedup",
      Map("sec" -> m1.sec, "shuffle_write_bytes" -> m1.shuffleWriteBytes,
        "disk_spill_bytes" -> m1.diskSpill, "mem_spill_bytes" -> m1.memSpill,
        "peak_task_mem_bytes" -> m1.peakMem),
      Map("sec" -> m4.sec, "shuffle_write_bytes" -> m4.shuffleWriteBytes,
        "disk_spill_bytes" -> m4.diskSpill, "mem_spill_bytes" -> m4.memSpill,
        "peak_task_mem_bytes" -> m4.peakMem),
      Map("resident_x1" -> 20000L, "resident_x4" -> 80000L, "probe" -> 2000L))
    info(s"streaming_dedup 1x: ${m1.pretty}")
    info(s"streaming_dedup 4x: ${m4.pretty}")
    assert(m4.diskSpill == 0L, s"probe ingest spilled ${m4.diskSpill} bytes at 4x state")
    assert(m4.sec <= 2.5 * math.max(m1.sec, 0.5),
      f"probe ingest follows CORPUS, not bucket occupancy: ${m1.sec}%.2fs -> ${m4.sec}%.2fs")
  }

  test("soak: streaming SemDeDup probe ingest is cap-bounded as resident state scales") {
    assume(enabled, "set SPARK_GRAFT_SOAK=1 to run the scale soak")
    // The semantic tier's honest scale bound: a cell holds EVERY same-cell
    // vector (unlike LSH buckets, where distinct docs rarely collide), so
    // per-arrival cost is cell occupancy UNTIL the cap — then flat at the
    // cap. Both scales sit above cap x k here, so the SAME 1k-vector probe
    // must cost about the same against 4x resident state.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dim = 16
    def vec(seed: Long): Seq[Double] = {
      val r = new scala.util.Random(seed)
      Seq.fill(dim)(r.nextGaussian())
    }
    val centroids: Seq[Seq[Double]] = (0 until 16).map(i => vec(900000L + i))
    def metricsFor(resident: Int): RunMetrics = {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val mem = MemoryStream[(Long, Seq[Double])]
      val q = graft.streaming.StreamingSemDeDup
        .semanticPairs(mem.toDF.toDF("id", "vec"), centroids,
          threshold = 0.99, maxPerCell = 512)
        .writeStream.format("memory").queryName(s"ssd_soak_$resident")
        .outputMode("append").start()
      try {
        mem.addData((0 until resident).map(i => (i.toLong, vec(i.toLong))): _*)
        q.processAllAvailable() // resident state build — untimed
        measureOnce { () =>
          mem.addData((0 until 1000).map(i =>
            ((10000000 + i).toLong, vec((5000000 + i).toLong))): _*)
          q.processAllAvailable()
        }
      } finally q.stop()
    }
    val m1 = metricsFor(20000)
    val m4 = metricsFor(80000)
    SoakReport.record("streaming_semdedup",
      Map("sec" -> m1.sec, "shuffle_write_bytes" -> m1.shuffleWriteBytes,
        "disk_spill_bytes" -> m1.diskSpill, "mem_spill_bytes" -> m1.memSpill,
        "peak_task_mem_bytes" -> m1.peakMem),
      Map("sec" -> m4.sec, "shuffle_write_bytes" -> m4.shuffleWriteBytes,
        "disk_spill_bytes" -> m4.diskSpill, "mem_spill_bytes" -> m4.memSpill,
        "peak_task_mem_bytes" -> m4.peakMem),
      Map("resident_x1" -> 20000L, "resident_x4" -> 80000L, "probe" -> 1000L,
        "max_per_cell" -> 512L))
    info(s"streaming_semdedup 1x: ${m1.pretty}")
    info(s"streaming_semdedup 4x: ${m4.pretty}")
    assert(m4.diskSpill == 0L, s"probe ingest spilled ${m4.diskSpill} bytes at 4x state")
    assert(m4.sec <= 2.5 * math.max(m1.sec, 0.5),
      f"probe ingest follows CORPUS, not the cell cap: ${m1.sec}%.2fs -> ${m4.sec}%.2fs")
  }

  test("soak: incremental-clusters fold REWRITE stays flat as the assignment grows 4x") {
    assume(enabled, "set SPARK_GRAFT_SOAK=1 to run the scale soak")
    // E112's r16 scale claim measured: folding the SAME batch of pairs into
    // a 1x vs 4x assignment must rewrite about the same rows/files — the
    // keyed MERGE prunes by per-file doc_id bounds, so the write side
    // follows the batch's key footprint, not the table. Files are built at
    // FIXED size with file count growing with the table (how a real table
    // grows); the fold still scans the assignment once (documented), so
    // only the rewrite volume is asserted flat, times are recorded.
    import graft.catalog.SnapshotTable
    val chunkRows = 12500L
    def build(dir: String, chunks: Int): Unit = (0 until chunks).foreach { i =>
      val df = spark.range(i * chunkRows, (i + 1) * chunkRows)
        .select(col("id").as("doc_id"), col("id").as("rep_id")).repartition(2)
      if (i == 0) SnapshotTable.write(spark, df, dir) else SnapshotTable.append(spark, df, dir)
    }
    def foldAndMeasure(dir: String, mor: Boolean = false): (RunMetrics, Long, Long) = {
      val before = SnapshotTable.currentManifest(spark, dir).get.entries.map(_.path).toSet
      // 500 singleton merges confined to doc_ids [0, 2000) — one chunk's range
      val batch = (0L until 500L).map(i => (4 * i, 4 * i + 1)).toDF("id_a", "id_b")
      val m = measureOnce { () =>
        graft.streaming.IncrementalClusters.foldPairs(spark, dir, batch, mor); ()
      }
      val newFiles = SnapshotTable.currentManifest(spark, dir).get.entries
        .filterNot(e => before.contains(e.path))
      (m, newFiles.map(_.rows).sum, newFiles.size.toLong)
    }
    val d1 = s"$soakRoot/incc_x1"; val d4 = s"$soakRoot/incc_x4"
    val dm1 = s"$soakRoot/incc_mor_x1"; val dm4 = s"$soakRoot/incc_mor_x4"
    build(d1, 16) // 200k rows
    build(d4, 64) // 800k rows, same file size
    build(dm1, 16); build(dm4, 64)
    val (m1, rows1, files1) = foldAndMeasure(d1)
    val (m4, rows4, files4) = foldAndMeasure(d4)
    // merge-on-read: written rows per fold = the 500 changed rows alone
    // (superseded rows become vectors), at BOTH table sizes
    val (_, morRows1, _) = foldAndMeasure(dm1, mor = true)
    val (_, morRows4, _) = foldAndMeasure(dm4, mor = true)
    assert(morRows1 == 500L && morRows4 == 500L,
      s"MoR fold should write exactly the 500 changed rows: $morRows1 / $morRows4")
    SoakReport.record("incc_fold",
      Map("sec" -> m1.sec, "shuffle_write_bytes" -> m1.shuffleWriteBytes,
        "disk_spill_bytes" -> m1.diskSpill, "mem_spill_bytes" -> m1.memSpill,
        "peak_task_mem_bytes" -> m1.peakMem),
      Map("sec" -> m4.sec, "shuffle_write_bytes" -> m4.shuffleWriteBytes,
        "disk_spill_bytes" -> m4.diskSpill, "mem_spill_bytes" -> m4.memSpill,
        "peak_task_mem_bytes" -> m4.peakMem),
      Map("table_rows_x1" -> 16 * chunkRows, "table_rows_x4" -> 64 * chunkRows,
        "rewritten_rows_x1" -> rows1, "rewritten_rows_x4" -> rows4,
        "rewritten_files_x1" -> files1, "rewritten_files_x4" -> files4,
        "mor_written_rows_x1" -> morRows1, "mor_written_rows_x4" -> morRows4))
    info(f"incc_fold 1x: ${m1.pretty} rewrittenRows=$rows1 files=$files1")
    info(f"incc_fold 4x: ${m4.pretty} rewrittenRows=$rows4 files=$files4")
    assert(m4.diskSpill == 0L, s"fold spilled ${m4.diskSpill} bytes at 4x")
    assert(rows4 <= 2L * math.max(rows1, 1L),
      s"fold rewrite follows TABLE size, not batch footprint: $rows1 -> $rows4 rows")
    assert(rows4 < 16 * chunkRows / 2,
      s"fold rewrote $rows4 rows of an ${64 * chunkRows}-row table - pruning broke")
  }

  test("soak: 50 MoR folds with auto-maintain keep read amplification bounded") {
    assume(enabled, "set SPARK_GRAFT_SOAK=1 to run the scale soak")
    // E112's operational loop closed: MoR folds accumulate deletion
    // vectors; foldPairs(maintainAboveDvRatio) purges them from the
    // manifest-read ratio alone. 50 folds at two assignment sizes — the
    // POST-FOLD ratio must never exceed the trigger (read amplification
    // bounded by the knob), maintenance must actually fire, and the live
    // file count must stay bounded instead of growing one file per fold.
    import graft.streaming.IncrementalClusters
    val thr = 0.005
    def loop(n: Long, tag: String): (RunMetrics, Double, Long, Int) = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-soak-am-$tag").toString
      graft.catalog.SnapshotTable.write(spark,
        spark.range(n).select(col("id").as("doc_id"), col("id").as("rep_id"))
          .repartition(8), dir)
      var maxRatio = 0.0; var maxFiles = 0L; var maintains = 0
      val m = measureOnce { () =>
        (0 until 50).foreach { k =>
          val pairs = (0 until 10).map { j =>
            val p = (k * 10 + j).toLong; (2 * p, 2 * p + 1)
          }.toDF("id_a", "id_b")
          val vb = graft.catalog.SnapshotTable.versions(spark, dir).max
          IncrementalClusters.foldPairs(spark, dir, pairs, mor = true,
            maintainAboveDvRatio = Some(thr))
          if (graft.catalog.SnapshotTable.versions(spark, dir).max > vb + 1) maintains += 1
          maxRatio = math.max(maxRatio, IncrementalClusters.dvRatio(spark, dir))
          maxFiles = math.max(maxFiles, graft.catalog.SnapshotTable
            .currentManifest(spark, dir).get.entries.length.toLong)
        }
      }
      (m, maxRatio, maxFiles, maintains)
    }
    val (m1, r1, f1, n1) = loop(20000L, "x1")
    val (m4, r4, f4, n4) = loop(80000L, "x4")
    def named(m: RunMetrics) = Map[String, Any]("sec" -> m.sec,
      "shuffle_write_bytes" -> m.shuffleWriteBytes, "disk_spill_bytes" -> m.diskSpill,
      "mem_spill_bytes" -> m.memSpill, "peak_task_mem_bytes" -> m.peakMem)
    SoakReport.record("incc_mor_automaintain", named(m1), named(m4), Map(
      "folds" -> 50L, "max_dv_ratio_ppm_x1" -> (r1 * 1e6).toLong,
      "max_dv_ratio_ppm_x4" -> (r4 * 1e6).toLong,
      "max_files_x1" -> f1, "max_files_x4" -> f4,
      "maintains_x1" -> n1.toLong, "maintains_x4" -> n4.toLong))
    info(f"incc_mor_automaintain 1x: ${m1.pretty} maxRatio=$r1%.5f files<=$f1 maintains=$n1")
    info(f"incc_mor_automaintain 4x: ${m4.pretty} maxRatio=$r4%.5f files<=$f4 maintains=$n4")
    assert(r1 <= thr && r4 <= thr,
      f"post-fold DV ratio exceeded the trigger: $r1%.5f / $r4%.5f > $thr")
    assert(n1 >= 3, s"auto-maintain fired only $n1 times over 50 folds at 1x")
    assert(n4 >= 1, s"auto-maintain never fired at 4x ($n4)")
    assert(f1 <= 40L && f4 <= 70L,
      s"live file count unbounded under MoR folds: $f1 / $f4")
  }

  test("soak: 50 MoR SCORED folds auto-maintain BOTH tables' DV ratios") {
    assume(enabled, "set SPARK_GRAFT_SOAK=1 to run the scale soak")
    // the twin of incc_mor_automaintain over the TWO-TABLE scored fold:
    // a MoR scored pipeline accumulates deletion vectors on the assignment
    // (moved docs) AND the reps table (re-keyed argmaxes + stale-rep
    // deletes), so foldPairsScored(maintainAboveDvRatio) must bound the
    // POST-FOLD ratio on both from their manifest-read dvRatio alone.
    import graft.streaming.IncrementalClusters
    val thr = 0.005
    def loop(n: Long, tag: String): (RunMetrics, Double, Double, Long, Long, Int) = {
      val cdir = java.nio.file.Files.createTempDirectory(s"graft-soak-sam-$tag-c").toString
      val rdir = java.nio.file.Files.createTempDirectory(s"graft-soak-sam-$tag-r").toString
      // seed: n singleton clusters, each its own quality-scored rep
      graft.catalog.SnapshotTable.write(spark,
        spark.range(n).select(col("id").as("doc_id"), col("id").as("rep_id"))
          .repartition(8), cdir)
      graft.catalog.SnapshotTable.write(spark,
        spark.range(n).select(col("id").as("rep_id"), col("id").as("best_doc"),
          (pmod(col("id"), lit(97)) / lit(97.0)).as("best_score"))
          .repartition(8), rdir)
      val noScores = Seq.empty[(Long, Double)].toDF("doc_id", "score")
      var maxCRatio = 0.0; var maxRRatio = 0.0
      var maxCFiles = 0L; var maxRFiles = 0L; var maintains = 0
      val m = measureOnce { () =>
        (0 until 50).foreach { k =>
          // each fold merges two EXISTING singleton clusters: one moved
          // assignment row, one reps upsert + one stale-rep delete
          val pairs = (0 until 10).map { j =>
            val p = (k * 10 + j).toLong; (2 * p, 2 * p + 1)
          }.toDF("id_a", "id_b")
          val vb = graft.catalog.SnapshotTable.versions(spark, cdir).max
          IncrementalClusters.foldPairsScored(spark, cdir, rdir, pairs, noScores,
            mor = true, maintainAboveDvRatio = Some(thr))
          if (graft.catalog.SnapshotTable.versions(spark, cdir).max > vb + 1) maintains += 1
          maxCRatio = math.max(maxCRatio, IncrementalClusters.dvRatio(spark, cdir))
          maxRRatio = math.max(maxRRatio, IncrementalClusters.dvRatio(spark, rdir))
          maxCFiles = math.max(maxCFiles, graft.catalog.SnapshotTable
            .currentManifest(spark, cdir).get.entries.length.toLong)
          maxRFiles = math.max(maxRFiles, graft.catalog.SnapshotTable
            .currentManifest(spark, rdir).get.entries.length.toLong)
        }
      }
      // the fold's correctness under the churn: every merged pair's two
      // docs share a cluster, and reps carry max-score members
      val merged = graft.catalog.SnapshotTable.read(spark, cdir)
        .filter(col("doc_id") < 1000L && pmod(col("doc_id"), lit(2)) === 1)
        .select(col("doc_id"), col("rep_id")).as[(Long, Long)].collect()
      assert(merged.forall { case (d, r) => r == d - 1 },
        s"merged odd docs must rep to their even partner: ${merged.take(5).toSeq}")
      (m, maxCRatio, maxRRatio, maxCFiles max maxRFiles, maxRFiles, maintains)
    }
    val (m1, c1, r1, f1, _, n1) = loop(20000L, "x1")
    val (m4, c4, r4, f4, _, n4) = loop(80000L, "x4")
    def named(m: RunMetrics) = Map[String, Any]("sec" -> m.sec,
      "shuffle_write_bytes" -> m.shuffleWriteBytes, "disk_spill_bytes" -> m.diskSpill,
      "mem_spill_bytes" -> m.memSpill, "peak_task_mem_bytes" -> m.peakMem)
    SoakReport.record("incc_scored_automaintain", named(m1), named(m4), Map(
      "folds" -> 50L,
      "max_assign_dv_ppm_x1" -> (c1 * 1e6).toLong, "max_reps_dv_ppm_x1" -> (r1 * 1e6).toLong,
      "max_assign_dv_ppm_x4" -> (c4 * 1e6).toLong, "max_reps_dv_ppm_x4" -> (r4 * 1e6).toLong,
      "max_files_x1" -> f1, "max_files_x4" -> f4,
      "maintains_x1" -> n1.toLong, "maintains_x4" -> n4.toLong))
    info(f"incc_scored_automaintain 1x: ${m1.pretty} assign=$c1%.5f reps=$r1%.5f files<=$f1 maintains=$n1")
    info(f"incc_scored_automaintain 4x: ${m4.pretty} assign=$c4%.5f reps=$r4%.5f files<=$f4 maintains=$n4")
    assert(c1 <= thr && c4 <= thr,
      f"post-fold assignment DV ratio exceeded the trigger: $c1%.5f / $c4%.5f > $thr")
    assert(r1 <= thr && r4 <= thr,
      f"post-fold reps DV ratio exceeded the trigger: $r1%.5f / $r4%.5f > $thr")
    assert(n1 >= 3, s"auto-maintain fired only $n1 times over 50 scored folds at 1x")
    assert(n4 >= 1, s"auto-maintain never fired at 4x ($n4)")
    assert(f1 <= 40L && f4 <= 70L,
      s"live file count unbounded under MoR scored folds: $f1 / $f4")
  }

  test("soak: fuzzy self-join cost follows the block histogram; domain blocking divides it") {
    assume(enabled, "set SPARK_GRAFT_SOAK=1 to run the scale soak")
    // q94's fixture is the OPERATOR'S documented degenerate case: TPC-H
    // customer names are fixed-width, so length blocking collapses the
    // corpus into ONE block and candidates grow ~quadratically (n²/2).
    // This soak (a) reports the max-block-occupancy diagnostic at both
    // scales, (b) bounds the length-only join's shuffle by the quadratic
    // the histogram predicts — more would mean the join leaks outside its
    // blocks — with ZERO disk spill (the memory-pressure hazard q94 showed
    // under co-tenant load), and (c) measures the documented escape hatch:
    // conjoining a domain block key (nation) divides candidate volume by
    // ~|key cardinality|. The exponent itself only drops when the key's
    // cardinality grows with the corpus, so the assertion is the measured
    // division, not a claim of linearity.
    import graft.ops.FuzzyJoin
    def names(every: Int): DataFrame =
      Tables.customer(spark, sf01).filter(pmod(col("c_custkey"), lit(every)) === 0)
        .select(col("c_custkey").as("id"), col("c_name").as("name"),
          col("c_nationkey").as("nation"))
        .repartition(32).cache()
    val n1 = names(20)
    val n4 = names(5)
    val (rows1, rows4) = (n1.count(), n4.count())
    def maxOcc(df: DataFrame): Long =
      FuzzyJoin.blockOccupancy(df, "name").select(max(col("n"))).head().getLong(0)
    val (occ1, occ4) = (maxOcc(n1), maxOcc(n4))
    noop(FuzzyJoin.levenshteinPairs(n1, "name", "id", maxDist = 2)) // warm-up
    val m1 = measure(() => noop(FuzzyJoin.levenshteinPairs(n1, "name", "id", maxDist = 2)))
    val m4 = measure(() => noop(FuzzyJoin.levenshteinPairs(n4, "name", "id", maxDist = 2)))
    val b1 = measure(() => noop(FuzzyJoin.levenshteinPairs(n1, "name", "id", maxDist = 2,
      extraBlockCol = Some("nation"))))
    val b4 = measure(() => noop(FuzzyJoin.levenshteinPairs(n4, "name", "id", maxDist = 2,
      extraBlockCol = Some("nation"))))
    n1.unpersist(); n4.unpersist()
    def named(m: RunMetrics) = Map[String, Any]("sec" -> m.sec,
      "shuffle_write_bytes" -> m.shuffleWriteBytes, "disk_spill_bytes" -> m.diskSpill,
      "mem_spill_bytes" -> m.memSpill, "peak_task_mem_bytes" -> m.peakMem)
    SoakReport.record("fuzzy", named(m1), named(m4), Map(
      "rows_x1" -> rows1, "rows_x4" -> rows4,
      "max_block_occupancy_x1" -> occ1, "max_block_occupancy_x4" -> occ4,
      "nation_blocked_shuffle_x1" -> b1.shuffleWriteBytes,
      "nation_blocked_shuffle_x4" -> b4.shuffleWriteBytes))
    info(s"fuzzy 1x (occ=$occ1): ${m1.pretty}")
    info(s"fuzzy 4x (occ=$occ4): ${m4.pretty}")
    info(s"fuzzy+nation 1x: ${b1.pretty}  4x: ${b4.pretty}")
    assert(m4.diskSpill == 0L && b4.diskSpill == 0L,
      s"fuzzy spilled at 4x: ${m4.diskSpill}/${b4.diskSpill}")
    // length-only: candidates scale with occupancy² — allow that quadratic
    // (plus slack) but nothing beyond what the histogram predicts
    val occRatio = occ4.toDouble * occ4 / (occ1.toDouble * occ1)
    assert(m4.shuffleWriteBytes <=
      (1.5 * occRatio * math.max(m1.shuffleWriteBytes, 1L << 20)).toLong,
      s"fuzzy shuffle beyond the histogram's quadratic: ${m1.shuffleWriteBytes} -> " +
        s"${m4.shuffleWriteBytes} (occ $occ1 -> $occ4)")
    // domain-blocked: same corpus, candidate volume divided by ~|nations|
    // (25) — require at least a 5x shuffle reduction vs length-only at 4x
    assert(b4.shuffleWriteBytes * 5 <= m4.shuffleWriteBytes,
      s"nation blocking bought < 5x: ${m4.shuffleWriteBytes} -> ${b4.shuffleWriteBytes}")
  }

  test("soak: parallel vacuum listing scales near-linearly over commit history") {
    assume(enabled, "set SPARK_GRAFT_SOAK=1 to run the scale soak")
    import graft.catalog.SnapshotTable
    // `factor` x 20 commits → that many top-level commit directories, well
    // past the parallel-listing threshold (64 at x4); compact orphans the
    // originals, then the vacuum walk runs as a Spark job. The dry run is
    // the measured op (pure listing + selection — no delete I/O noise);
    // the real vacuum afterwards sanity-checks plan/execute parity
    def build(factor: Int): String = {
      val dir = s"$soakRoot/vac/t_x$factor"
      val rows = Tables.orders(spark, sf01)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"))
      (0 until 20 * factor).foreach { i =>
        val slice = rows.filter(pmod(col("k"), lit(20 * factor)) === i).repartition(2)
        if (i == 0) SnapshotTable.write(spark, slice, dir)
        else SnapshotTable.append(spark, slice, dir)
      }
      SnapshotTable.compact(spark, dir, targetBytes = 1L << 30)
      dir
    }
    val (d1, d4) = (build(1), build(4))
    spark.conf.set("spark.graft.vacuum.parallelListingThreshold", "0")
    try {
      var plan1 = 0L
      var plan4 = 0L
      val m1 = measure(() => plan1 = SnapshotTable.vacuumDryRun(spark, d1,
        keepVersions = 1, minUnreferencedAgeMs = 0).count(_._2 == "data").toLong)
      val m4 = measure(() => plan4 = SnapshotTable.vacuumDryRun(spark, d4,
        keepVersions = 1, minUnreferencedAgeMs = 0).count(_._2 == "data").toLong)
      assert(plan4 >= 3 * plan1, s"4x history must plan ~4x the files: $plan1 -> $plan4")
      val deleted4 = SnapshotTable.vacuum(spark, d4, keepVersions = 1, minUnreferencedAgeMs = 0)
      assert(deleted4 == plan4, s"real vacuum deleted $deleted4, dry run planned $plan4")
      assertScaling("vacuum_parallel", m1, m4,
        extra = Map("planned_data_x1" -> plan1, "planned_data_x4" -> plan4))
    } finally spark.conf.unset("spark.graft.vacuum.parallelListingThreshold")
  }

  test("soak: exact quantiles scale near-linearly, no disk spill") {
    assume(enabled, "set SPARK_GRAFT_SOAK=1 to run the scale soak")
    val m1 = measure(() => noop(graft.ops.Quantiles.exactQuantilesSpread(
      scaledLineitem(1), "l_extendedprice", Seq("l_returnflag"),
      Seq(0.05, 0.5, 0.95), Seq("lo", "med", "hi"))))
    val m4 = measure(() => noop(graft.ops.Quantiles.exactQuantilesSpread(
      scaledLineitem(4), "l_extendedprice", Seq("l_returnflag"),
      Seq(0.05, 0.5, 0.95), Seq("lo", "med", "hi"))))
    assertScaling("quantiles", m1, m4)
  }

  test("soak: SemDeDup stays near-linear when cluster count scales with the corpus") {
    assume(enabled, "set SPARK_GRAFT_SOAK=1 to run the scale soak")
    // The published deployment shape: k grows with the corpus so per-cell
    // pair blocks stay bounded — with k FIXED the within-cell self-join is
    // quadratic by construction (16x pairs at 4x input), which is the
    // operator's documented trade, not a defect. The soak asserts the
    // k-scaled path: shuffle (cell routing + pair rows) near-linear, no
    // spill. Assignment cost N x k is the remaining quadratic-at-scale
    // surface; at 100 TB the coarse fit runs on a sample (trainCentroids'
    // contract) and assignment stays one broadcast cross join per row.
    import graft.dedup.SemDeDup
    def run(factor: Int): Unit =
      noop(SemDeDup.semanticDedupAuto(scaledVecs(factor), dim = 64,
        k = 8 * factor, iters = 2, threshold = 0.9))
    run(1) // warm-up (codegen + centroid-fit JIT)
    val m1 = measure(() => run(1))
    val m4 = measure(() => run(4))
    assertScaling("semdedup", m1, m4)
  }

  test("soak: exact-substring span dedup scales near-linearly, no disk spill") {
    assume(enabled, "set SPARK_GRAFT_SOAK=1 to run the scale soak")
    // ownership is a hash-groupBy min over k-gram hashes: the shuffle
    // carries (hash, doc) pairs linear in corpus tokens; the " zz" twins in
    // scaledDocs guarantee real cross-doc span duplicates at both scales
    val m1 = measure(() => noop(Dedup.exactSpanDedupFlags(scaledDocs(1), k = 8)))
    val m4 = measure(() => noop(Dedup.exactSpanDedupFlags(scaledDocs(4), k = 8)))
    assertScaling("span_dedup", m1, m4)
  }

  test("soak: DSIR scoring scales near-linearly, no disk spill") {
    assume(enabled, "set SPARK_GRAFT_SOAK=1 to run the scale soak")
    // two model fits (map-side-combined counts) + one keyed join per bigram
    // occurrence; the target slice scales with the corpus
    def run(factor: Int): Unit = {
      val docs = scaledDocs(factor)
      noop(graft.text.TextPipelines.dsirScores(
        docs, docs.filter(pmod(col("doc_id"), lit(5)) === 0)))
    }
    val m1 = measure(() => run(1))
    val m4 = measure(() => run(4))
    assertScaling("dsir", m1, m4)
  }

  test("soak: span-level contamination excision scales near-linearly, no disk spill") {
    assume(enabled, "set SPARK_GRAFT_SOAK=1 to run the scale soak")
    // positions explode one row per token; hit windows broadcast into the
    // per-doc range anti-join; reassembly shuffles each doc's kept tokens
    // once — the benchmark stays fixed-size while the corpus scales
    val bench = Tables.documents(spark, sf01)
      .filter(pmod(col("doc_id"), lit(17)) === 0).select(col("text"))
    val m1 = measure(() => noop(
      graft.dedup.Decontaminate.exciseContaminated(scaledDocs(1), bench, n = 8)))
    val m4 = measure(() => noop(
      graft.dedup.Decontaminate.exciseContaminated(scaledDocs(4), bench, n = 8)))
    assertScaling("excise", m1, m4)
  }

  test("soak: cross-corpus sweep cost stays flat as the prepared reference grows 4x") {
    assume(enabled, "set SPARK_GRAFT_SOAK=1 to run the scale soak")
    // E125's scale claim measured: sweeping the SAME 2k-doc fresh batch
    // against a 1x vs 4x prepared reference must shuffle about the same —
    // the reference side persists PRE-PARTITIONED on the join keys, so a
    // sweep exchanges only the batch's slim banded rows + candidates,
    // never the corpus-scale reference
    def words(seed: Long): String = {
      val r = new scala.util.Random(seed)
      Seq.fill(25)("w" + r.nextInt(5000)).mkString(" ")
    }
    val fresh = (0 until 2000)
      .map(i => ((10000000 + i).toLong, words((5000000 + i).toLong)))
      .toDF("doc_id", "text")
    def metricsFor(refDocs: Int): RunMetrics = {
      val reference = (0 until refDocs).map(i => (i.toLong, words(i.toLong)))
        .toDF("doc_id", "text")
      val prep = Dedup.crossPrepare(reference) // prepare forces its caches
      try measure(() => noop(Dedup.crossNearDupsPrepared(fresh, prep)))
      finally prep.release()
    }
    val m1 = metricsFor(20000)
    val m4 = metricsFor(80000)
    SoakReport.record("cross_dedup",
      Map("sec" -> m1.sec, "shuffle_write_bytes" -> m1.shuffleWriteBytes,
        "disk_spill_bytes" -> m1.diskSpill, "mem_spill_bytes" -> m1.memSpill,
        "peak_task_mem_bytes" -> m1.peakMem),
      Map("sec" -> m4.sec, "shuffle_write_bytes" -> m4.shuffleWriteBytes,
        "disk_spill_bytes" -> m4.diskSpill, "mem_spill_bytes" -> m4.memSpill,
        "peak_task_mem_bytes" -> m4.peakMem),
      Map("reference_x1" -> 20000L, "reference_x4" -> 80000L, "fresh" -> 2000L))
    info(s"cross_dedup 1x: ${m1.pretty}")
    info(s"cross_dedup 4x: ${m4.pretty}")
    assert(m4.diskSpill == 0L, s"cross sweep spilled ${m4.diskSpill} bytes at 4x reference")
    assert(m4.shuffleWriteBytes <= (1.5 * math.max(m1.shuffleWriteBytes, 1L << 20)).toLong,
      s"sweep shuffle follows the REFERENCE, not the batch: " +
        s"${m1.shuffleWriteBytes} -> ${m4.shuffleWriteBytes}")
    assert(m4.sec <= 2.5 * math.max(m1.sec, 0.5),
      f"sweep time follows the REFERENCE, not the batch: ${m1.sec}%.2fs -> ${m4.sec}%.2fs")
  }

  test("soak: cross-SEMANTIC sweep cost stays flat as the prepared reference grows 4x") {
    assume(enabled, "set SPARK_GRAFT_SOAK=1 to run the scale soak")
    // E126's scale claim measured: sweeping the SAME 2k-vector fresh batch
    // against a 1x vs 4x prepared cell reference. Cell count scales with
    // the corpus (the published SemDeDup deployment shape, the `semdedup`
    // soak's precedent), so per-cell occupancy — and with it the sweep's
    // comparison count — stays FLAT; the cells persist PRE-PARTITIONED on
    // the cell id, so a sweep shuffles only the batch's assignment rows
    // and the threshold-sparse output, never the corpus-scale reference.
    val dim = 16
    def vecs(n: Int, prefix: Long): org.apache.spark.sql.DataFrame =
      spark.range(n).select((col("id") + prefix).as("id"),
        transform(sequence(lit(0), lit(dim - 1)), j =>
          xxhash64(col("id") + prefix, j).cast("double") / lit(Long.MaxValue.toDouble))
          .as("vec"))
    def centroidsOf(k: Int): Seq[Seq[Double]] = {
      val r = new scala.util.Random(7L)
      Seq.fill(k)(Seq.fill(dim)(r.nextDouble() * 2 - 1))
    }
    val fresh = vecs(2000, 10000000L)
    def metricsFor(refVectors: Int, k: Int): RunMetrics = {
      val prep = graft.dedup.SemDeDup.crossSemanticPrepare(
        vecs(refVectors, 0L), centroidsOf(k)) // prepare forces its cache
      try measure(() => noop(
        graft.dedup.SemDeDup.crossSemanticDupsPrepared(fresh, prep, threshold = 0.9)))
      finally prep.release()
    }
    val m1 = metricsFor(20000, 32)
    val m4 = metricsFor(80000, 128)
    SoakReport.record("cross_semantic",
      Map("sec" -> m1.sec, "shuffle_write_bytes" -> m1.shuffleWriteBytes,
        "disk_spill_bytes" -> m1.diskSpill, "mem_spill_bytes" -> m1.memSpill,
        "peak_task_mem_bytes" -> m1.peakMem),
      Map("sec" -> m4.sec, "shuffle_write_bytes" -> m4.shuffleWriteBytes,
        "disk_spill_bytes" -> m4.diskSpill, "mem_spill_bytes" -> m4.memSpill,
        "peak_task_mem_bytes" -> m4.peakMem),
      Map("reference_x1" -> 20000L, "reference_x4" -> 80000L, "fresh" -> 2000L,
        "cells_x1" -> 32L, "cells_x4" -> 128L))
    info(s"cross_semantic 1x: ${m1.pretty}")
    info(s"cross_semantic 4x: ${m4.pretty}")
    assert(m4.diskSpill == 0L,
      s"cross-semantic sweep spilled ${m4.diskSpill} bytes at 4x reference")
    assert(m4.shuffleWriteBytes <= (1.5 * math.max(m1.shuffleWriteBytes, 1L << 20)).toLong,
      s"sweep shuffle follows the REFERENCE, not the batch: " +
        s"${m1.shuffleWriteBytes} -> ${m4.shuffleWriteBytes}")
    assert(m4.sec <= 2.5 * math.max(m1.sec, 0.5),
      f"sweep time follows the REFERENCE, not the batch: ${m1.sec}%.2fs -> ${m4.sec}%.2fs")
  }

  test("soak: prepared-reference maintenance bounds file counts independent of append history") {
    assume(enabled, "set SPARK_GRAFT_SOAK=1 to run the scale soak")
    // crossMaintain's 100 TB claim measured: N crossPrepareAppend
    // generations fragment dir/sets + dir/banded into O(N) files (the
    // exchange-free SPJ scan then opens one small file per append per
    // bucket); a BINPACK compact collapses them back to O(partitions),
    // INDEPENDENT of how many appends preceded it — at 4x the append
    // count, the post-maintain file count must stay flat, not 4x.
    def words(seed: Long): String = {
      val r = new scala.util.Random(seed)
      Seq.fill(25)("w" + r.nextInt(5000)).mkString(" ")
    }
    def docs(n: Int, base: Long): DataFrame =
      (0 until n).map(i => (base + i, words(base + i))).toDF("doc_id", "text")
    def filesOf(dir: String): Long =
      (graft.catalog.SnapshotTable.currentManifest(spark, s"$dir/sets").get.entries.length +
        graft.catalog.SnapshotTable.currentManifest(spark, s"$dir/banded").get.entries.length)
        .toLong
    def metricsFor(tag: String, appends: Int): (Long, Long, RunMetrics) = {
      val dir = s"$soakRoot/xmaint-$tag/ref"
      Dedup.crossPrepareTable(docs(2000, 0L), dir, buckets = 8)
      (0 until appends).foreach(a =>
        Dedup.crossPrepareAppend(docs(500, 1000000L + a * 500L), dir))
      val before = filesOf(dir)
      val m = measure(() => Dedup.crossMaintain(spark, dir))
      (before, filesOf(dir), m)
    }
    val (b1, a1, m1) = metricsFor("x1", 4)
    val (b4, a4, m4) = metricsFor("x4", 16)
    SoakReport.record("cross_maintain",
      Map("sec" -> m1.sec, "files_before" -> b1, "files_after" -> a1,
        "disk_spill_bytes" -> m1.diskSpill),
      Map("sec" -> m4.sec, "files_before" -> b4, "files_after" -> a4,
        "disk_spill_bytes" -> m4.diskSpill),
      Map("appends_x1" -> 4L, "appends_x4" -> 16L, "buckets" -> 8L))
    info(s"cross_maintain 1x (4 appends): files $b1 -> $a1, ${m1.pretty}")
    info(s"cross_maintain 4x (16 appends): files $b4 -> $a4, ${m4.pretty}")
    assert(b4 > b1, s"fixture: 4x appends must fragment more ($b1 vs $b4)")
    assert(a4 < b4, s"maintain must compact: $b4 -> $a4")
    // the post-maintain count is partition-bounded, not history-bound
    assert(a4 <= (1.5 * a1).toLong + 2,
      s"post-maintain file count follows HISTORY, not partitions: $a1 vs $a4")
    assert(m4.diskSpill == 0L, s"maintain spilled ${m4.diskSpill} bytes at 4x")
  }
}

/** Accumulates each soak's measured metrics and persists them as
  * `SOAK.json` in the repo root after every test — the per-round artifact
  * that makes the scale-soak evidence reviewable without re-running the
  * (env-gated, slow) suite. Flushed incrementally so a later test's
  * failure never loses an earlier test's numbers.
  */
object SoakReport {
  private val results = new java.util.concurrent.ConcurrentHashMap[String, String]()

  def record(name: String, m1: Map[String, Any], m4: Map[String, Any],
      extra: Map[String, Long]): Unit = {
    // fields arrive NAMED from the call site — never positionally
    // destructured off a case class, so a RunMetrics reordering cannot
    // silently transpose artifact fields
    def renderMetrics(m: Map[String, Any]): String = {
      def num(v: Any): String = v match {
        case d: Double => f"$d%.2f"
        case x => x.toString
      }
      m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${num(v)}""" }
        .mkString("{", ",", "}")
    }
    val extraJson =
      if (extra.isEmpty) ""
      else extra.toSeq.sortBy(_._1).map { case (k, v) => s""","$k":$v""" }.mkString
    results.put(name, s""""$name":{"x1":${renderMetrics(m1)},"x4":${renderMetrics(m4)}$extraJson}""")
    flush()
  }

  private val artifact = java.nio.file.Paths.get("SOAK.json")

  /** The entries already in the artifact, rendered like [[record]]'s: a
    * run that measures only some soaks replaces only their entries.
    */
  private lazy val prior: Map[String, String] =
    if (!java.nio.file.Files.exists(artifact)) Map.empty
    else {
      import org.json4s._
      import org.json4s.jackson.JsonMethods.{compact, parse, render}
      parse(new String(java.nio.file.Files.readAllBytes(artifact),
        java.nio.charset.StandardCharsets.UTF_8)) match {
        case JObject(fields) => fields.collect {
          case (k, v) if k != "sf_base" && k != "factors" => k -> s""""$k":${compact(render(v))}"""
        }.toMap
        case _ => Map.empty
      }
    }

  private def flush(): Unit = {
    import scala.jdk.CollectionConverters._
    val body = (prior ++ results.asScala).toSeq.sortBy(_._1).map(_._2).mkString(",")
    val json = s"""{"sf_base":"/root/testdata/sf0.1","factors":[1,4],$body}""" + "\n"
    java.nio.file.Files.write(artifact, json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
