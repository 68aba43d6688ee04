package graft

import org.apache.spark.sql.functions._
import graft.ingest.IncrementalRollup

/** The incrementally-maintained rollup: folding batches through mergeable
  * state must equal one full aggregation, in ANY fold order (the state is a
  * commutative monoid), including groups that appear in only one batch and
  * NULL measure values.
  */
class RollupSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("g")
  private val ms = Seq("v")

  test("fold of batches equals full aggregation, independent of fold order") {
    val batches = Seq(
      Seq(("a", Some(1.0)), ("a", Some(3.0)), ("b", Some(10.0))),
      Seq(("a", Some(5.0)), ("c", Some(-2.0)), ("c", None)), // NULL measure: counted out
      Seq(("b", Some(0.5))))
      .map(_.toDF("g", "v"))
    val full = IncrementalRollup.finalize(
      IncrementalRollup.aggState(batches.reduce(_ unionByName _), keys, ms), ms)
      .orderBy("g").collect().toSeq
    for (perm <- batches.permutations) {
      val folded = IncrementalRollup.finalize(
        perm.map(b => IncrementalRollup.aggState(b, keys, ms))
          .reduce((a, b) => IncrementalRollup.mergeState(a, b, keys, ms)), ms)
        .orderBy("g").collect().toSeq
      assert(folded == full, s"fold order changed the rollup: $folded vs $full")
    }
  }

  test("state stays O(groups): folding a batch never scans prior facts") {
    // structural: mergeState's plan reads ONLY the two state frames — no
    // scan of any fact table can appear in it
    val s1 = IncrementalRollup.aggState(Seq(("a", 1.0)).toDF("g", "v"), keys, ms)
    val s2 = IncrementalRollup.aggState(Seq(("a", 2.0)).toDF("g", "v"), keys, ms)
    val merged = IncrementalRollup.mergeState(s1, s2, keys, ms)
    val row = merged.collect().head
    assert(row.getDouble(1) == 3.0 && row.getLong(2) == 2L
      && row.getDouble(3) == 1.0 && row.getDouble(4) == 2.0)
    // an all-NULL-measure group carries cnt 0 and NULL min/max/avg, like SQL
    val s3 = IncrementalRollup.aggState(Seq(("z", Option.empty[Double])).toDF("g", "v"), keys, ms)
    val fin = IncrementalRollup.finalize(
      IncrementalRollup.mergeState(s1, s3, keys, ms), ms).orderBy("g").collect()
    assert(fin(1).getLong(2) == 0L && fin(1).isNullAt(3) && fin(1).isNullAt(5),
      s"all-NULL group must finalize to NULLs: ${fin(1)}")
  }

  test("incremental join view: random delta folds equal the one-shot join") {
    import graft.ingest.IncrementalJoin
    val rnd = new scala.util.Random(53L)
    for (round <- 0 until 5) {
      val aRows = (0 until 30 + rnd.nextInt(40)).map(_ =>
        (rnd.nextInt(15).toLong, rnd.nextInt(100)))
      val bRows = (0 until 30 + rnd.nextInt(40)).map(_ =>
        (rnd.nextInt(15).toLong, rnd.nextInt(100)))
      val nLoads = 2 + rnd.nextInt(3)
      // random, possibly EMPTY delta slices per load (empty deltas exercise
      // the degenerate terms of the delta rule)
      val aSplit = aRows.map(r => (rnd.nextInt(nLoads), r))
      val bSplit = bRows.map(r => (rnd.nextInt(nLoads), r))
      val loads = (0 until nLoads).map { i =>
        (aSplit.filter(_._1 == i).map(_._2).toDF("k", "av"),
          bSplit.filter(_._1 == i).map(_._2).toDF("k", "bv"))
      }
      val (view, fa, fb) = IncrementalJoin.foldView(loads, Seq("k"))
      val oneShot = aRows.toDF("k", "av").join(bRows.toDF("k", "bv"), Seq("k"))
      assert(view.exceptAll(oneShot).count() == 0 && oneShot.exceptAll(view).count() == 0,
        s"round $round: folded view diverged from the one-shot join")
      // the folded sides are the full sides
      assert(fa.count() == aRows.length.toLong && fb.count() == bRows.length.toLong)
    }
  }

  test("signed rollup: random insert/retract folds equal the one-shot aggregate of net-live facts") {
    import graft.ingest.IncrementalRollup
    import graft.analytics.Analytics
    val rnd = new scala.util.Random(97L)
    for (rd <- 0 until 3) {
      var live = Vector.empty[(String, Option[Double])]
      val groups = Seq("a", "b", "c", "d")
      val nLoads = 3 + rnd.nextInt(2)
      val states = (0 until nLoads).map { i =>
        val ins = (0 until 15 + rnd.nextInt(15)).map { _ =>
          (groups(rnd.nextInt(groups.length)),
            if (rnd.nextInt(10) == 0) Option.empty[Double]
            else Some(rnd.nextInt(10000) / 100.0)) // 2dp money-like
        }
        val dels = if (i == 0) Vector.empty else rnd.shuffle(live).take(rnd.nextInt(8))
        live = (live diff dels) ++ ins
        val delta = ins.map { case (g, v) => (g, v, 1L) } ++
          dels.map { case (g, v) => (g, v, -1L) }
        IncrementalRollup.signedAggState(delta.toDF("g", "v", "mult"), Seq("g"), Seq("v"))
      }
      val state = states.reduce((a, b) =>
        IncrementalRollup.mergeSignedState(a, b, Seq("g"), Seq("v")))
      val got = IncrementalRollup.finalize(state, Seq("v"))
        .select("g", "rows_net", "sum_v", "cnt_v", "avg_v")
      val oneShot = live.toDF("g", "v").groupBy("g").agg(
        count(lit(1)).as("rows_net"),
        Analytics.dsum(col("v")).as("sum_v"),
        count(col("v")).as("cnt_v"))
        .withColumn("avg_v",
          round(col("sum_v") / nullif(col("cnt_v").cast("double"), lit(0.0)), 6))
        .select("g", "rows_net", "sum_v", "cnt_v", "avg_v")
      assert(got.exceptAll(oneShot).count() == 0 && oneShot.exceptAll(got).count() == 0,
        s"round $rd: signed rollup diverged from one-shot recompute of the live bag")
    }
  }

  test("HLL distinct state: fold-order invariant, sparse-regime exact, bounded error at scale") {
    import graft.ingest.IncrementalRollup
    // three loads with overlapping value sets (overlap is what makes
    // distinct counts non-additive and forces real sketch state)
    val batches = Seq(0 until 400, 200 until 600, 500 until 900).map(r =>
      r.map(i => ("g" + (i % 2), i.toLong % 700, (i * 7).toLong % 350)).toDF("g", "u", "v"))
    val full = batches.reduce(_ unionByName _)
    val exact = full.groupBy("g").agg(
      countDistinct(col("u")).as("nd_u"), countDistinct(col("v")).as("nd_v"))
      .orderBy("g").collect().toSeq
    for (perm <- batches.permutations.take(3)) {
      val folded = IncrementalRollup.finalizeDistinct(
        perm.map(b => IncrementalRollup.distinctState(b, Seq("g"), Seq("u", "v")))
          .reduce((a, b) => IncrementalRollup.mergeDistinctState(a, b, Seq("g"), Seq("u", "v"))),
        Seq("u", "v")).orderBy("g").collect().toSeq
      assert(folded.map(r => (r.getString(0), r.getLong(1), r.getLong(2))) ==
        exact.map(r => (r.getString(0), r.getLong(1), r.getLong(2))),
        s"sparse-regime sketch estimates must equal exact distincts in any fold order")
    }
    // beyond the sparse regime the estimate stays near-exact: lgK=12 HLL_4
    // has ~1.6% relative stddev, so 4% (±2.5σ) bounds this deterministic
    // fixture without flaking (measured: 2.0% on this data)
    val big = spark.range(0, 200000).select(lit("g").as("g"), (col("id") % 150000).as("u"))
    val est = IncrementalRollup.finalizeDistinct(
      IncrementalRollup.distinctState(big, Seq("g"), Seq("u"), lgConfigK = 12), Seq("u"))
      .collect().head.getLong(1)
    assert(math.abs(est - 150000.0) / 150000.0 < 0.04,
      s"HLL estimate drifted beyond 4% at 150k distincts: $est")
  }

  test("histogram state: folds equal one-shot binning; quantile readout within one bin width of exact") {
    import graft.ingest.IncrementalRollup
    val rnd = new scala.util.Random(113L)
    val rows = (0 until 3000).map(_ =>
      ("g" + rnd.nextInt(3), math.floor(rnd.nextDouble() * 10000) / 100.0)) // 2dp values in [0, 100)
    val width = 5.0
    val batches = rows.grouped(1000).map(_.toDF("g", "v")).toSeq
    val folded = batches.map(b => IncrementalRollup.histState(b, Seq("g"), "v", width))
      .reduce((a, b) => IncrementalRollup.mergeHistState(a, b, Seq("g")))
    val oneShot = IncrementalRollup.histState(rows.toDF("g", "v"), Seq("g"), "v", width)
    assert(folded.exceptAll(oneShot).count() == 0 && oneShot.exceptAll(folded).count() == 0,
      "folded histogram state must equal one-shot binning exactly")

    val got = IncrementalRollup.quantilesFromHist(folded, Seq("g"), width,
      Seq(0.5, 0.9, 0.99), Seq("p50", "p90", "p99")).orderBy("g").collect()
    val exact = graft.ops.Quantiles.exactQuantilesSpread(rows.toDF("g", "v"), "v", Seq("g"),
      Seq(0.5, 0.9, 0.99), Seq("p50", "p90", "p99")).orderBy("g").collect()
    got.zip(exact).foreach { case (h, e) =>
      assert(h.getString(0) == e.getString(0))
      (1 to 3).foreach { i =>
        val (hv, ev) = (h.getDouble(i), e.getDouble(i))
        assert(hv >= ev - 1e-9 && hv - ev <= width + 1e-9,
          s"hist quantile off by more than one bin: group ${h.getString(0)} col $i hist=$hv exact=$ev")
      }
    }
  }

  test("signed rollup: a fully-retracted group vanishes from the state") {
    import graft.ingest.IncrementalRollup
    val d1 = Seq(("z", 5.0, 1L), ("z", 7.0, 1L), ("k", 1.0, 1L)).toDF("g", "v", "mult")
    val d2 = Seq(("z", 5.0, -1L), ("z", 7.0, -1L)).toDF("g", "v", "mult")
    val state = IncrementalRollup.mergeSignedState(
      IncrementalRollup.signedAggState(d1, Seq("g"), Seq("v")),
      IncrementalRollup.signedAggState(d2, Seq("g"), Seq("v")),
      Seq("g"), Seq("v"))
    val rows = state.collect()
    assert(rows.length == 1 && rows.head.getString(0) == "k",
      s"fully-retracted group must drop from the state, got ${rows.toSeq}")
    // and the retraction cancelled EXACTLY (decimal-summed, no residue)
    assert(state.filter(col("g") === "k").select("sum_v").collect().head.getDouble(0) == 1.0)
  }

  test("signed join view: random insert/retract folds equal the one-shot join of net-live sides") {
    import graft.ingest.IncrementalJoin
    val rnd = new scala.util.Random(71L)
    for (round <- 0 until 4) {
      val nLoads = 3 + rnd.nextInt(2)
      var liveA = Vector.empty[(Long, Int)] // live BAGS, tracked in plain Scala
      var liveB = Vector.empty[(Long, Int)]
      val loads = (0 until nLoads).map { i =>
        def mkDelta(live: Vector[(Long, Int)]): (Seq[(Long, Int, Long)], Vector[(Long, Int)]) = {
          val ins = (0 until 10 + rnd.nextInt(10)).map(_ =>
            (rnd.nextInt(12).toLong, rnd.nextInt(50)))
          val dels = if (i == 0) Vector.empty else rnd.shuffle(live).take(rnd.nextInt(6))
          (ins.map { case (k, v) => (k, v, 1L) } ++ dels.map { case (k, v) => (k, v, -1L) },
            (live diff dels) ++ ins)
        }
        val (da, la) = mkDelta(liveA); liveA = la
        val (db, lb) = mkDelta(liveB); liveB = lb
        (da.toDF("k", "av", "mult"), db.toDF("k", "bv", "mult"))
      }
      val (view, fa, fb) = IncrementalJoin.foldSignedView(loads, Seq("k"))
      assert(view.filter(col("mult") <= 0L).isEmpty,
        s"round $round: consolidated view kept a non-positive multiplicity")
      // expand multiplicities back into a bag and compare to the one-shot
      // join of the net-live bags — the recompute the fold must never need
      def expand(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("__i", explode(sequence(lit(1L), col("mult")))).drop("mult", "__i")
      val oneShot = liveA.toDF("k", "av").join(liveB.toDF("k", "bv"), Seq("k"))
      val got = expand(view)
      assert(got.exceptAll(oneShot).count() == 0 && oneShot.exceptAll(got).count() == 0,
        s"round $round: signed fold diverged from one-shot recompute")
      // final sides are exactly the net-live bags
      val gotA = expand(fa)
      val wantA = liveA.toDF("k", "av")
      assert(gotA.exceptAll(wantA).count() == 0 && wantA.exceptAll(gotA).count() == 0)
      val gotB = expand(fb)
      val wantB = liveB.toDF("k", "bv")
      assert(gotB.exceptAll(wantB).count() == 0 && wantB.exceptAll(gotB).count() == 0)
    }
  }

  test("signed join view: retraction delivered before its insert nets out (commutative algebra)") {
    import graft.ingest.IncrementalJoin
    val noB = Seq.empty[(Long, Int, Long)].toDF("k", "bv", "mult")
    // a reordered (retract, insert) pair for the same row must cancel to
    // ZERO — the retraction corresponds to the insert that arrives late
    val loads = Seq(
      (Seq((1L, 10, 1L)).toDF("k", "av", "mult"), Seq((1L, 99, 1L)).toDF("k", "bv", "mult")),
      (Seq((1L, 20, -1L)).toDF("k", "av", "mult"), noB), // retract BEFORE its insert
      (Seq((1L, 20, 1L)).toDF("k", "av", "mult"), noB))
    val (view, fa, _) = IncrementalJoin.foldSignedView(loads, Seq("k"))
    val got = view.orderBy("av").collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 10, 99, 1L)),
      s"swapped retract+insert must net to zero, got ${got.toSeq}")
    assert(fa.filter(col("av") === 20).isEmpty, "cancelled row must leave no side state")

    // a FURTHER genuine insert of the same row then nets to one live pair
    val (view2, _, _) = IncrementalJoin.foldSignedView(
      loads :+ ((Seq((1L, 20, 1L)).toDF("k", "av", "mult"), noB)), Seq("k"))
    val got2 = view2.orderBy("av").collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    assert(got2.toSeq == Seq((1L, 10, 99, 1L), (1L, 20, 99, 1L)),
      s"net +1 after cancellation must be one live pair, got ${got2.toSeq}")
  }
}
