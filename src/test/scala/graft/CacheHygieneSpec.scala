package graft

/** Library calls must not leak pinned blocks into the caller's session: at
  * 100 TB an unreleased cache is an eviction storm for every query that
  * follows. Operators that persist shared intermediates (signatures, term
  * vectors, training corpora) eagerly materialize their small result and
  * release every cache before returning (graft.util.Caching.materialize) —
  * so after ANY registry query executes, the SQL cache manager must be
  * empty without the harness's clearCache masking anything.
  */
class CacheHygieneSpec extends SparkSpec {

  test("no InMemoryRelation outlives its registry query") {
    // other specs in the shared session legitimately .cache() fixtures;
    // start from a clean slate so only THIS spec's queries are measured
    spark.catalog.clearCache()
    val leaked = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      if (spark.sharedState.cacheManager.isEmpty) None
      else {
        spark.catalog.clearCache() // isolate: report every offender, not just the first
        Some(name)
      }
    }
    assert(leaked.isEmpty, s"queries leaking cached blocks: ${leaked.mkString(", ")}")
  }

  test("overlapped: a failed build releases the other one before the failure propagates") {
    import graft.util.Caching.overlapped
    val released = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    // this thread's build fails while the second thread's is still running
    val bFails = intercept[IllegalStateException](overlapped("op")(
      { Thread.sleep(200); "a" }, (throw new IllegalStateException("b broke")): String)(
      released.add(_), released.add(_)))
    assert(bFails.getMessage == "b broke" && released.contains("a") && !released.contains("b"))
    released.clear()
    // the second thread's build fails after this thread's one is done
    val aFails = intercept[IllegalArgumentException](overlapped("op")(
      (throw new IllegalArgumentException("a broke")): String, "b")(
      released.add(_), released.add(_)))
    assert(aFails.getMessage == "a broke" && released.contains("b") && !released.contains("a"))
  }

  test("q166's failed semantic prepare leaks neither the verbatim prepare nor the corpus") {
    // no doc_id is a multiple of 50, so q166 finds no centroids and its
    // semantic prepare refuses them while the verbatim prepare is building
    // its two caches on the second thread
    val dir = java.nio.file.Files.createTempDirectory("graft-q166-fail").toString
    for ((t, id) <- Seq("documents" -> "doc_id", "embeddings" -> "vec_id"))
      Tables.load(spark, sfDir, t).filter(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col(id), org.apache.spark.sql.functions.lit(50)) =!= 0)
        .write.parquet(s"$dir/$t.parquet")
    spark.catalog.clearCache()
    val rdds = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[IllegalArgumentException](SparkEntry.queries("q166_cross_all")(spark, dir))
    assert(e.getMessage.contains("centroids"), e.getMessage)
    assert(spark.sharedState.cacheManager.isEmpty, "a failed q166 left a cached frame behind")
    assert(spark.sparkContext.getPersistentRDDs.keySet == rdds, "a failed q166 left a persistent RDD")
  }

  test("clearMemos releases the checkpoint-backed memo frames") {
    // the shared near-dup pairs memo is localCheckpoint-backed, i.e. a
    // persistent RDD that cacheManager.isEmpty (above) cannot see; prove the
    // explicit release hook drops it
    spark.catalog.clearCache()
    SparkEntry.clearMemos()
    SparkEntry.queries("q59_dedup_clusters")(spark, sfDir)
      .write.mode("overwrite").format("noop").save()
    spark.catalog.clearCache()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "expected the memoized pairs frame to be checkpoint-persisted before release")
    SparkEntry.clearMemos()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "clearMemos must leave no persistent RDDs behind")
  }

  test("memo is per-(session, dir) and sheds dead-session entries on access") {
    SparkEntry.clearMemos()
    val a = spark.newSession()
    val b = spark.newSession()
    SparkEntry.queries("q40_minhash_neardups")(a, sfDir)
      .write.mode("overwrite").format("noop").save()
    assert(SparkEntry.memoSize == 1)
    // same session + dir → memo hit, no second entry
    SparkEntry.queries("q40_minhash_neardups")(a, sfDir)
      .write.mode("overwrite").format("noop").save()
    assert(SparkEntry.memoSize == 1, "same (session, dir) must reuse its entry")
    // distinct session, same dir → its own entry
    SparkEntry.queries("q40_minhash_neardups")(b, sfDir)
      .write.mode("overwrite").format("noop").save()
    assert(SparkEntry.memoSize == 2)
    // a "stopped" session's entry is dropped by the access-path prune —
    // injected predicate, since really stopping `a` would kill the suite's
    // shared SparkContext; the default predicate is sparkContext.isStopped
    val dropped = SparkEntry.pruneDeadMemoEntries(isDead = _ eq a)
    assert(dropped == 1 && SparkEntry.memoSize == 1,
      s"dead-session entry must be shed (dropped=$dropped, size=${SparkEntry.memoSize})")
    // the survivor still serves its session from the memo
    SparkEntry.queries("q40_minhash_neardups")(b, sfDir)
      .write.mode("overwrite").format("noop").save()
    assert(SparkEntry.memoSize == 1)
    SparkEntry.clearMemos()
  }
}
