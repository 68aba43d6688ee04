package graft

import org.apache.spark.sql.functions._
import graft.ops.Skew
import graft.similarity.Similarity

class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("saltedSum equals the plain aggregation exactly") {
    val li = Tables.lineitem(spark, sfDir)
    val salted = Skew.saltedSum(li, Seq("l_returnflag"), "l_quantity")
      .orderBy("l_returnflag").as[(String, Double, Long)].collect()
    val plain = li.groupBy("l_returnflag")
      .agg(sum("l_quantity").as("s"), count(lit(1)).as("n"))
      .orderBy("l_returnflag").as[(String, Double, Long)].collect()
    assert(salted.map(r => (r._1, math.round(r._2 * 100), r._3)).toSeq ==
      plain.map(r => (r._1, math.round(r._2 * 100), r._3)).toSeq)
  }

  test("saltedJoin produces exactly the plain join's rows") {
    val orders = Tables.orders(spark, sfDir)
    val customer = Tables.customer(spark, sfDir)
      .withColumnRenamed("c_custkey", "o_custkey")
    val plain = orders.join(customer, Seq("o_custkey")).select("o_orderkey", "c_name")
    val salted = Skew.saltedJoin(orders, customer, "o_custkey").select("o_orderkey", "c_name")
    assert(salted.count() == plain.count())
    assert(salted.except(plain).count() == 0 && plain.except(salted).count() == 0)
  }

  test("salting accepts frames with map-typed columns (salt skips unhashable types)") {
    // xxhash64 rejects MapType — the deterministic salt must filter such
    // columns out (the pre-r19 rand(seed) salt accepted any schema), not
    // throw. Results stay exact: the salt only affects partial grouping.
    val df = Seq((1L, 10.0, Map("a" -> 1)), (1L, 20.0, Map("b" -> 2)),
      (2L, 5.0, Map("c" -> 3))).toDF("k", "v", "m")
    val got = Skew.saltedSum(df, Seq("k"), "v", saltBuckets = 4)
      .orderBy("k").as[(Long, Double, Long)].collect().toSeq
    assert(got == Seq((1L, 30.0, 2L), (2L, 5.0, 1L)))
    // nested maps (struct/array wrapping one) must be skipped too
    val nested = Seq((1L, 1.0, Seq(Map("x" -> 1))), (1L, 2.0, Seq(Map("y" -> 2))))
      .toDF("k", "v", "am")
    assert(Skew.saltedSum(nested, Seq("k"), "v").select("sum_v")
      .as[Double].collect().toSeq == Seq(3.0))
    // saltedJoin: a map-typed payload on the skewed left side joins fine
    val left = Seq((1L, Map("p" -> 1)), (2L, Map("q" -> 2))).toDF("k", "m")
    val right = Seq((1L, "one"), (2L, "two")).toDF("k", "name")
    assert(Skew.saltedJoin(left, right, "k").count() == 2)
  }

  test("saltedJoin rejects right/full outer join types") {
    val orders = Tables.orders(spark, sfDir)
    val customer = Tables.customer(spark, sfDir).withColumnRenamed("c_custkey", "o_custkey")
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(orders, customer, "o_custkey", joinType = "right_outer")
    }
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(orders, customer, "o_custkey", joinType = "full")
    }
  }

  test("saltedJoin measurably spreads a hot key: max/median task shuffle-read ratio") {
    // synthetic hot key: key 0 carries 60k rows, keys 1..15 carry 500 each.
    // Broadcast and AQE are disabled so the join is a genuine shuffle join
    // and AQE's own skew splitting can't mask the operator's effect.
    val left = spark.range(60000).select(lit(0L).as("k"), col("id").as("x"))
      .union(spark.range(15L * 500).select((col("id") % 15 + 1).as("k"), col("id").as("x")))
    val right = spark.range(16).select(col("id").as("k"), (col("id") * 10).as("y"))

    def joinStageTaskReads(run: () => Unit): Seq[Long] = {
      val tasks = graft.obs.Recorder.measure(spark)(run())._2.tasks
      // the join's reduce stage is the stage with the largest shuffle-read total
      tasks.groupBy(_.stageId).values.map(_.map(_.shuffleReadRecords)).maxBy(_.sum)
    }
    def maxOverMedian(reads: Seq[Long]): Double = {
      val nz = reads.filter(_ > 0).sorted
      assert(nz.length >= 2, s"need several reading tasks, got $nz")
      nz.max.toDouble / nz(nz.length / 2)
    }

    val confs = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val plainReads = joinStageTaskReads(() =>
        left.join(right, Seq("k")).write.mode("overwrite").format("noop").save())
      val saltedReads = joinStageTaskReads(() =>
        Skew.saltedJoin(left, right, "k", saltBuckets = 8)
          .write.mode("overwrite").format("noop").save())
      val (before, after) = (maxOverMedian(plainReads), maxOverMedian(saltedReads))
      info(f"max/median task shuffle-read: plain $before%.1f -> salted $after%.1f")
      assert(before >= 10.0,
        f"synthetic skew must dominate the plain join's hottest task (got $before%.1f)")
      assert(after <= before / 4,
        f"salting must spread the hot key (plain $before%.1f, salted $after%.1f)")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("keyHistogram surfaces the heaviest keys with shares") {
    val ev = Tables.events(spark, sfDir)
    val h = Skew.keyHistogram(ev, Seq("event_type"), topN = 3).collect()
    assert(h.length == 3)
    assert(h(0).getAs[Long]("n") >= h(1).getAs[Long]("n"))
    assert(h.forall(r => r.getAs[Double]("share") > 0 && r.getAs[Double]("share") <= 1))
  }
}

class IvfSpec extends SparkSpec {
  import spark.implicits._

  test("ivfTopK recall vs brute force is reasonable, and full-probe equals brute") {
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter(col("vec_id") < 5).select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val c = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val brute = Similarity.bruteForceTopK(q, c, k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet

    // probing every cell must reproduce the exact result
    val full = Similarity.ivfTopK(q, c, dim = 64, k = 3, nlist = 8, nprobe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(full == brute)

    // partial probe: decent recall at 1/4 the scan
    val part = Similarity.ivfTopK(q, c, dim = 64, k = 3, nlist = 8, nprobe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(part).size.toDouble / brute.size
    assert(recall >= 0.4, s"recall=$recall")
  }
}

class FuzzyJoinSpec extends SparkSpec {
  import spark.implicits._

  test("levenshteinPairs equals the exhaustive all-pairs truth (blocking is complete)") {
    val names = Seq(
      (1L, "alpha"), (2L, "alphas"), (3L, "alpaca"), (4L, "beta"),
      (5L, "betas"), (6L, "a"), (7L, "ab"), (8L, "gamma-long-name"),
      (9L, "gamma-long-nam"), (10L, "")).toDF("id", "name")
    val got = graft.ops.FuzzyJoin.levenshteinPairs(names, "name", "id", maxDist = 2)
      .orderBy("id_a", "id_b").as[(Long, Long, Int)].collect().toSeq
    val all = names.as[(Long, String)].collect()
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      (ia, na) <- all; (ib, nb) <- all if ia < ib
      dist = lev(na, nb) if dist <= 2
    } yield (ia, ib, dist)).sortBy(p => (p._1, p._2)).toSeq
    assert(got == want, s"got=$got want=$want")
  }

  test("blockOccupancy reports the probe-block histogram the verify cost follows") {
    // lengths 3,3,4 share length block 1 (width 3) and probe {1,2}; the
    // length-9 outlier probes {3,4}: histogram must be exact
    val names = Seq((1L, "aaa"), (2L, "aab"), (3L, "aabc"), (4L, "longname9"))
      .toDF("id", "name")
    val got = graft.ops.FuzzyJoin.blockOccupancy(names, "name", maxDist = 2)
      .as[(Long, String, Long)].collect().toSet
    assert(got == Set((1L, "", 3L), (2L, "", 3L), (3L, "", 1L), (4L, "", 1L)), s"got $got")
    // conjoining a domain key splits the uniform-length block
    val keyed = Seq((1L, "aaa", "x"), (2L, "aab", "x"), (3L, "aac", "y"))
      .toDF("id", "name", "src")
    val occ = graft.ops.FuzzyJoin.blockOccupancy(keyed, "name", maxDist = 2,
      extraBlockCol = Some("src")).as[(Long, String, Long)].collect().toSet
    assert(occ == Set((1L, "x", 2L), (2L, "x", 2L), (1L, "y", 1L), (2L, "y", 1L)), s"got $occ")
    // the histogram predicts candidate volume: Σ n·(n−1)/2 per block of
    // the UN-exploded assignment bounds the deduped candidate pairs
    val cands = graft.ops.FuzzyJoin.levenshteinPairs(names, "name", "id", maxDist = 2)
    assert(cands.count() <= 3L * 2L / 2 + 1)
  }

  test("levenshteinPairs: extraBlockCol confines comparisons to its blocks") {
    val names = Seq((1L, "aaa", "x"), (2L, "aab", "x"), (3L, "aac", "y"))
      .toDF("id", "name", "src")
    val got = graft.ops.FuzzyJoin.levenshteinPairs(names, "name", "id",
      maxDist = 2, extraBlockCol = Some("src"))
      .as[(Long, Long, Int)].collect().toSeq
    assert(got == Seq((1L, 2L, 1)), s"cross-block pair leaked: $got")
  }

  test("levenshteinPairs: NULL extraBlockCol is a block of its own (null-safe equality)") {
    // rows 3/4 are near-duplicates whose block key is NULL on both sides;
    // three-valued `===` would silently drop the pair — the null-safe fix
    // must keep it while still never crossing NULL with a real block
    val names = Seq(
      (1L, "aaa", Some("x")), (2L, "aab", Some("x")),
      (3L, "aaa", None), (4L, "aab", None), (5L, "aaa", Some("y")))
      .toDF("id", "name", "src")
    val got = graft.ops.FuzzyJoin.levenshteinPairs(names, "name", "id",
      maxDist = 2, extraBlockCol = Some("src"))
      .orderBy("id_a", "id_b").as[(Long, Long, Int)].collect().toSeq
    assert(got == Seq((1L, 2L, 1), (3L, 4L, 1)),
      s"NULL-block pair missing or cross-block pair leaked: $got")
  }
}

class QuantilesSpec extends SparkSpec {
  import spark.implicits._

  test("exactQuantiles equals percentile() bit-for-bit on fixtures, incl. degenerate groups") {
    val li = Tables.lineitem(spark, sfDir)
    val probs = Seq(0.0, 0.25, 0.5, 0.99, 1.0)
    val names = probs.map(p => s"q${(p * 100).toInt}")
    val refAggs = probs.zip(names).map { case (p, nm) =>
      expr(s"percentile(l_extendedprice, ${p}D)").as(nm)
    }
    val ref = li.groupBy(col("l_returnflag")).agg(refAggs.head, refAggs.tail: _*)
    val mine = graft.ops.Quantiles.exactQuantilesSpread(
      li, "l_extendedprice", Seq("l_returnflag"), probs, names)
    assert(mine.exceptAll(ref).count() == 0 && ref.exceptAll(mine).count() == 0,
      mine.orderBy("l_returnflag").collect().mkString(" | "))
    // single-row group: the quantile IS the value at every prob
    val one = Seq(("a", 7.5)).toDF("g", "v")
    val r = graft.ops.Quantiles.exactQuantilesSpread(one, "v", Seq("g"), Seq(0.0, 0.5, 1.0),
      Seq("a", "b", "c")).collect().head
    assert(r.getDouble(1) == 7.5 && r.getDouble(2) == 7.5 && r.getDouble(3) == 7.5)
    // NULL values are ignored, exactly like percentile()
    val withNulls = Seq(("a", Some(10.0)), ("a", None), ("a", Some(20.0)))
      .toDF("g", "v")
    val rn = graft.ops.Quantiles.exactQuantilesSpread(withNulls, "v", Seq("g"),
      Seq(0.0, 0.5, 1.0), Seq("lo", "mid", "hi")).collect().head
    assert(rn.getDouble(1) == 10.0 && rn.getDouble(2) == 15.0 && rn.getDouble(3) == 20.0)
    // a group whose values are ALL NULL yields a row with NULL quantiles
    // (percentile() parity), not a dropped group
    val allNull = Seq(("a", Some(1.0)), ("b", None), ("b", None)).toDF("g", "v")
    val rows = graft.ops.Quantiles.exactQuantilesSpread(allNull, "v", Seq("g"), Seq(0.5), Seq("med"))
      .orderBy("g").collect()
    assert(rows.length == 2, rows.mkString(" | "))
    assert(rows(0).getDouble(1) == 1.0)
    assert(rows(1).isNullAt(1), s"all-NULL group must yield NULL med: ${rows(1)}")
  }

  test("all-NULL group at p = 1.0 still yields its NULL row (single-pass bracket arm)") {
    // NULL rows sort past a group's non-NULL count; at p = 1.0 an
    // all-NULL group's bracket h = (0−1)·1 = −1 names NO row, so the group
    // must still reproduce percentile()'s NULL row rather than vanish or
    // read a position outside its run. p = 0.5/0.0 accidentally land on
    // rank 1 (ceil(−0.5) = −0.0 = 0), so only p = 1.0 exercises the case.
    val allNull = Seq(("a", Some(2.0)), ("b", None), ("b", None)).toDF("g", "v")
    val rows = graft.ops.Quantiles.exactQuantilesSpread(allNull, "v", Seq("g"),
      Seq(0.0, 1.0), Seq("lo", "hi")).orderBy("g").collect()
    assert(rows.length == 2, rows.mkString(" | "))
    assert(rows(0).getDouble(1) == 2.0 && rows(0).getDouble(2) == 2.0)
    assert(rows(1).isNullAt(1) && rows(1).isNullAt(2),
      s"all-NULL group must survive p=1.0 with NULL quantiles: ${rows(1)}")
  }

  test("NULL group key with non-null values gets its computed quantiles (percentile() parity)") {
    // percentile() treats NULL as a group key like any other: the NULL
    // key's run must be counted and bracketed like every other group's,
    // not orphaned into NULL quantiles
    val nullKey = Seq(
      (Some("a"), Some(1.0)), (None, Some(2.0)), (None, Some(4.0)),
      (None, None)).toDF("g", "v")
    val ref = nullKey.groupBy(col("g"))
      .agg(expr("percentile(v, 0.0D)").as("lo"),
        expr("percentile(v, 0.5D)").as("med"),
        expr("percentile(v, 1.0D)").as("hi"))
    val mine = graft.ops.Quantiles.exactQuantilesSpread(nullKey, "v", Seq("g"), Seq(0.0, 0.5, 1.0),
      Seq("lo", "med", "hi"))
    assert(mine.exceptAll(ref).count() == 0 && ref.exceptAll(mine).count() == 0,
      mine.collect().mkString(" | "))
    val nullRow = mine.filter(col("g").isNull).collect()
    assert(nullRow.length == 1 && nullRow.head.getDouble(2) == 3.0,
      s"NULL-keyed group must carry med=3.0: ${nullRow.mkString(" | ")}")
  }
}
