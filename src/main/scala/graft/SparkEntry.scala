package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.analytics.Analytics
import graft.dedup.Dedup
import graft.functions.TextFunctions
import graft.ingest.IncrementalLoader
import graft.similarity.Similarity
import graft.transform.KpiTransform

/** Driver contract — one `queries` entry per operator in SURVEY.md §2 plus
  * the LLM-data-pipeline extension operators; each SQL-expressible entry has
  * a DuckDB oracle in `oracleSql`. Determinism: fixed anchors (never
  * current_date), full-key ORDER BY tiebreakers, money/doubles rounded
  * before compare (SURVEY.md §7.5).
  */
object SparkEntry {

  /** Flagship query on sf=0.001 (notebook cell 3 analogue); driver
    * smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    Analytics.topCampaignsBySpend(spark, "/root/testdata/sf0.001")

  // ------------------------------------------------------------------ helpers

  /** documents ∪ deterministically-perturbed copies — gives the near-dup
    * operators guaranteed true positives (a doc and its copy with one
    * appended token are near-identical).
    */
  private def docsWithNearDups(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    d.union(d.select(col("doc_id") + 1000000, concat(col("text"), lit(" zz"))))
  }

  /** Session-scoped memo of the verified near-dup pairs (q40's result):
    * computed once per (session, sfDir) and shared by q40 and q59, so the
    * cluster query pays for connected components only — not a second full
    * LSH + verify pipeline. Safe to share because the operator eagerly
    * materializes its result (localCheckpoint), so the memoized frame is a
    * plan-free RDD snapshot that survives `catalog.clearCache()` between
    * bench/verify queries. Bounded: one tiny pairs frame per (session,
    * fixture dir) for the life of the session.
    */
  private val nearDupPairsMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def nearDupPairs(s: SparkSession, dir: String): DataFrame = {
    pruneDeadMemoEntries()
    nearDupPairsMemo.getOrElseUpdate((s, dir),
      Dedup.minHashVerifiedNearDups(docsWithNearDups(s, dir), threshold = 0.5))
  }

  /** Drop memo entries whose session is dead, returning how many were
    * dropped. The memoized DataFrames strongly reference their session, so
    * without this an embedding process that creates and stops many sessions
    * would pin every stopped one (and its checkpoint blocks) until
    * [[clearMemos]] — which only Bench/Verify reliably call. Runs on every
    * memo access; the predicate is injectable so the wiring is testable
    * without stopping the suite's shared SparkContext.
    */
  private[graft] def pruneDeadMemoEntries(
      isDead: SparkSession => Boolean = _.sparkContext.isStopped): Int = {
    val before = nearDupPairsMemo.size
    nearDupPairsMemo.filterInPlace { case ((sess, _), _) => !isDead(sess) }
    before - nearDupPairsMemo.size
  }

  private[graft] def memoSize: Int = nearDupPairsMemo.size

  /** Release every memoized frame. The memos are localCheckpoint-backed, so
    * `catalog.clearCache()` cannot see them (checkpoint blocks are RDD
    * persists, not cache-manager entries); this hook makes the release
    * explicit and assertable. It unpersists ALL persistent RDDs of the
    * sessions that hold a memo — the memo frames plus any stray
    * checkpoint blocks an iterative operator left behind (e.g. label-
    * propagation rounds) — so call it after `clearCache()`, as Bench/Verify
    * do, when no query is concurrently relying on a pinned block.
    */
  def clearMemos(): Unit = {
    val sessions = nearDupPairsMemo.keySet.map(_._1).toSet
    nearDupPairsMemo.clear()
    sessions.foreach { s =>
      if (!s.sparkContext.isStopped)
        s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
  }

  /** Snapshot-table fixtures for the table-layer queries (q138+): built
    * ONCE per (query, sf dir) per process and reused across bench reps,
    * so the timed region measures STEADY-STATE read latency instead of
    * re-paying fixture construction (writes + metadata-only alters +
    * maintenance rewrites) three times per query — rebuilding a ~600k-row
    * table per rep was most of what q138–q148 "measured" in round 9.
    * Deliberately NOT cleared by [[clearMemos]]: the memo holds on-disk
    * table paths, not cached frames, and each build is deterministic in
    * (query, sf), so a rep reading a prior rep's table reads exactly what
    * it would have built. Verify runs each query once per process and is
    * unaffected.
    */
  private val fixtureMemo = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def fixture(name: String, sfDir: String)(build: String => Unit): String =
    fixtureMemo.computeIfAbsent(s"$name|$sfDir", _ => {
      val base = java.nio.file.Files.createTempDirectory(s"graft-$name").toString
      build(base)
      base
    })

  /** ANN fixture with ground truth: corpus = embeddings plus 5 planted
    * near-duplicate twins per query (dimension 0 perturbed by j/128 — exact
    * in binary, so Spark and DuckDB construct bit-identical vectors). The
    * twins' cosines (~0.996..0.99999) dominate any random neighbor (~0.5 at
    * this corpus size), so the exact top-5 IS the twin set and an
    * approximate index must recover it — which makes the approximate
    * operators exhaustively oracle-checkable, the q49 pattern.
    */
  private def annQueriesAndTwinCorpus(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = Tables.embeddings(s, dir)
    val queries = e.filter(col("vec_id") <= 2)
      .select(col("vec_id").as("query_id"), col("embedding").cast("array<double>").as("qvec"))
    val twins = queries
      .select(col("query_id"), col("qvec"), explode(array((1 to 5).map(lit): _*)).as("j"))
      .select((lit(2000000) + col("query_id") * 10 + col("j")).as("id"),
        transform(col("qvec"), (x, i) =>
          when(i === 0, x + col("j") * lit(0.0078125)).otherwise(x)).as("vec"))
    val corpus = e.select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
      .union(twins)
    (queries, corpus)
  }

  // ------------------------------------------------------------------ queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- reference surface: analytics (A1-A3, P6, O1-O3) ----
    "q01_kpi_topk_spend" -> ((s, dir) => Analytics.topCampaignsBySpend(s, dir)),

    "q02_kpi_derive" -> ((s, dir) =>
      Analytics.campaignDailyMetrics(s, dir)
        .select(col("user_id"), col("dt"), col("impressions"), col("clicks"),
          col("spend"), col("conversions"),
          col("ctr"), col("cpm"), col("cpc"), col("cpa"))
        .orderBy(col("user_id"), col("dt"))),

    "q08_daily_avg" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupBy(col("o_orderdate").as("dt"))
        .agg((Analytics.dsum(col("o_totalprice")) / count(lit(1))).as("avg_price"), count(lit(1)).as("n"))
        .orderBy(col("dt"))),

    "q09_scorecard" -> ((s, dir) => Analytics.creativeScorecard(s, dir)),

    // ---- joins (J1 anti, semi, equi, multi-way) ----
    "q03_anti_join" -> ((s, dir) => {
      val orders = Tables.orders(s, dir)
      val anchor = orders.agg(date_sub(max(col("o_orderdate")), 180).as("lo"))
      val recent = orders.join(broadcast(anchor), col("o_orderdate") >= col("lo"))
        .select(col("o_custkey").as("c_custkey"))
      IncrementalLoader.newRows(Tables.customer(s, dir), recent, Seq("c_custkey"))
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    "q04_semi_join" -> ((s, dir) => {
      val big = Tables.orders(s, dir).filter(col("o_totalprice") > 400000)
        .select(col("o_custkey").as("c_custkey"))
      Tables.customer(s, dir).join(big, Seq("c_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    "q22_join_agg" -> ((s, dir) =>
      Tables.orders(s, dir)
        .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), year(col("o_orderdate")).as("yr"))
        .agg(Analytics.dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
        .orderBy(col("c_mktsegment"), col("yr"))),

    "q23_join_three" -> ((s, dir) =>
      Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"), Analytics.dsum(col("c_acctbal")).as("total_bal"))
        .orderBy(col("r_name"), col("n_name"))),

    // ---- TPC-H-shaped multi-way join analytics ----
    "q51_ship_priority" -> ((s, dir) => {
      // Q3 shape: revenue of undelivered orders for one segment, top-10
      val cust = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > lit("1996-03-15"))
        .join(Tables.orders(s, dir).filter(col("o_orderdate") < lit("1996-03-15")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)"))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    "q52_region_volume" -> ((s, dir) =>
      // Q5 shape: revenue by nation for customers in one region
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)"))
          .cast("double").as("revenue"), count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("n_name"))),

    "q56_min_cost_supplier" -> ((s, dir) => {
      // Q2 shape: correlated-subquery min — for each PROMO small part, the
      // supplier(s) achieving the minimum observed price, decorated with
      // supplier/nation dims. The "correlated subquery" decorrelates into a
      // groupBy-min + equality self-join, the plan Catalyst produces for the
      // SQL form too.
      val parts = Tables.part(s, dir)
        .filter(col("p_type") === "PROMO" && col("p_size") <= 10)
        .select(col("p_partkey"), col("p_brand"))
      val supply = Tables.lineitem(s, dir)
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .select(col("p_partkey"), col("p_brand"), col("l_suppkey"), col("l_extendedprice"))
      val minPrice = supply.groupBy(col("p_partkey").as("mp_partkey"))
        .agg(min(col("l_extendedprice")).as("min_price"))
      supply
        .join(broadcast(minPrice),
          col("p_partkey") === col("mp_partkey") && col("l_extendedprice") === col("min_price"))
        .select(col("p_partkey"), col("p_brand"), col("l_suppkey"), col("min_price"))
        .distinct()
        .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("s_name"), col("p_partkey"), col("p_brand"), col("min_price"))
        .orderBy(col("min_price"), col("p_partkey"), col("s_name"))
        .limit(20)
    }),

    "q57_nation_trade" -> ((s, dir) => {
      // Q7 shape: two-nation trade volume by ship year, both directions
      val n1 = Tables.nation(s, dir).select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, dir).select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("sk"))
        .join(broadcast(n2), col("c_nationkey") === col("ck"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).as("l_year"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)"))
          .cast("double").as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),

    "q58_market_share" -> ((s, dir) => {
      // Q8 shape: NATION_3 suppliers' share of STANDARD-part revenue sold to
      // EUROPE customers, by order year
      val vol = (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)")
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir).filter(col("p_type") === "STANDARD")),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir).select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("sk"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_3", vol).otherwise(lit(0).cast("decimal(18,4)"))).cast("double").as("nation_vol"),
          sum(vol).cast("double").as("total_vol"))
        .select(col("o_year"),
          (col("nation_vol") / col("total_vol")).as("mkt_share"),
          col("total_vol"))
        .orderBy(col("o_year"))
    }),

    // ---- multi-dimensional grouping: CUBE over (returnflag, linestatus) —
    // all four grouping levels in one pass (Expand + single aggregate, no
    // four-scan union). NULL grouping slots coalesced to 'ALL' so both
    // engines sort/compare identically ----
    "q66_cube" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(Analytics.dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n"))
        .orderBy(col("rf"), col("ls"))),

    // ---- explicit GROUPING SETS: only the two single-dimension rollups —
    // the grouping-family member CUBE/ROLLUP can't express (still one
    // Expand pass, two of four level tuples) ----
    "q69_grouping_sets" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      s.sql("""SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
              |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, COUNT(*) AS n
              |FROM lineitem_v
              |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
              |ORDER BY 1, 2""".stripMargin)
    }),

    // ---- correlated EXISTS / NOT EXISTS predicate subqueries (TPC-H
    // Q4-style): orders that contain a deeply-discounted item but no
    // tax-free item. Catalyst plans these as semi/anti joins — no per-row
    // subquery execution ----
    "q72_exists_subquery" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      s.sql("""SELECT o_orderpriority, COUNT(*) AS n_orders
              |FROM orders_v o
              |WHERE EXISTS (
              |    SELECT 1 FROM lineitem_v l
              |    WHERE l.l_orderkey = o.o_orderkey AND l.l_discount >= 0.08)
              |  AND NOT EXISTS (
              |    SELECT 1 FROM lineitem_v l
              |    WHERE l.l_orderkey = o.o_orderkey AND l.l_tax = 0)
              |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    }),

    // ---- correlated scalar aggregate subquery (TPC-H Q17 shape): parts of
    // one brand whose order quantity is below 0.2x that part's average.
    // Catalyst decorrelates the subquery into an aggregate + join — no
    // per-row re-execution. The threshold is decimal-exact until one final
    // double cast, so both engines cut identically at the boundary ----
    "q67_small_qty_revenue" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      Tables.part(s, dir).createOrReplaceTempView("part_v")
      s.sql("""SELECT
              |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
              |  COUNT(*) AS n_small
              |FROM lineitem_v l JOIN part_v p ON p.p_partkey = l.l_partkey
              |WHERE p.p_brand = 'Brand#1'
              |  AND l.l_quantity < (
              |    SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
              |    FROM lineitem_v l2 WHERE l2.l_partkey = p.p_partkey)""".stripMargin)
    }),

    // ---- generator cross product (J2) ----
    "q05_cross_gen" -> ((s, _) => {
      val c = s.range(1, 11).toDF("campaign_id")
      val a = s.range(1, 6).toDF("adset_id")
      val r = s.range(1, 4).toDF("creative_id")
      c.crossJoin(a).crossJoin(r)
        .withColumn("metric", pmod(col("campaign_id") * 31 + col("adset_id") * 7 + col("creative_id"), lit(97)))
        .orderBy(col("campaign_id"), col("adset_id"), col("creative_id"))
    }),

    // ---- scans / filters / projections (P2, P4, P6, S-ops) ----
    "q06_filter_pushdown" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1998-01-01") && col("l_shipdate") < lit("1999-01-01")
          && col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    "q12_project_rename" -> ((s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderkey").as("order_key"), col("o_orderdate").as("dt"),
          col("o_orderpriority").as("priority"))
        .orderBy(col("order_key"))),

    // ---- aggregations (A1, A4) ----
    "q07_pricing_summary" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(Analytics.dsum(col("l_quantity")).as("sum_qty"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)"))
            .cast("double").as("revenue"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    "q10_counts" -> ((s, dir) =>
      Tables.lineitem(s, dir).agg(count(lit(1)).as("n_lineitem"))
        .crossJoin(Tables.orders(s, dir).agg(count(lit(1)).as("n_orders")))
        .crossJoin(Tables.customer(s, dir).agg(count(lit(1)).as("n_customer")))),

    // ---- sorts / top-k (O1-O3) ----
    "q11_topk_orders" -> ((s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)),

    // ---- scalar functions (F1-F14) ----
    "q13_date_format" -> ((s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("dt_str"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mth"))
        .orderBy(col("o_orderkey"))),

    "q14_nullsafe_div" -> ((s, dir) =>
      // materialized before the range-sampled sort — see q71 (an
      // un-materialized range-exchange child runs twice)
      graft.util.Caching.materialize(
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_linenumber"),
            KpiTransform.safeDiv(col("l_discount"), col("l_tax")).as("disc_tax_ratio")))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    // ---- set operations (§2.7) ----
    "q15_union" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.filter(col("event_type") === "click").select(col("user_id"))
        .union(ev.filter(col("event_type") === "view").select(col("user_id")))
        .distinct()
        .orderBy(col("user_id"))
    }),

    "q16_intersect" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.filter(col("event_type") === "click").select(col("user_id"))
        .intersect(ev.filter(col("event_type") === "purchase").select(col("user_id")))
        .orderBy(col("user_id"))
    }),

    "q17_except" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.filter(col("event_type") === "signup").select(col("user_id"), col("dt"))
        .except(ev.filter(col("event_type") === "error").select(col("user_id"), col("dt")))
        .orderBy(col("user_id"), col("dt"))
    }),

    // ---- window functions (§2.5 extension) ----
    "q18_window_running" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), sum(col("value").cast("decimal(18,2)")).over(w).cast("double").as("running_spend"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    "q19_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("dt")).orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .select(col("o_orderdate").as("dt"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("dt"), col("o_orderkey"), col("rnk"))
        .orderBy(col("dt"), col("rnk"))
    }),

    "q20_window_movavg" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderdate").as("dt"))
        .agg(Analytics.dsum(col("o_totalprice")).as("rev"))
      // Global (partition-less) window over the DAILY grain — a deliberate
      // bounded-domain choice: the input to the window is one row per
      // calendar day, so its size grows with the time span (~365 rows/year),
      // NOT with data volume; at 100 TB the heavy lifting is the groupBy
      // above (fully distributed) and the single-task window sees only the
      // tiny daily aggregate. For an unbounded partition key, formulate as
      // partitionBy(year) with a 6-row boundary carry instead.
      val w = Window.orderBy(col("dt")).rowsBetween(-6, Window.currentRow)
      daily.select(col("dt"), (sum(col("rev").cast("decimal(18,2)")).over(w).cast("double") / count(lit(1)).over(w)).as("movavg7"))
        .orderBy(col("dt"))
    }),

    // ---- pivot / unpivot ----
    "q54_pivot" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L)
        .orderBy(col("user_id"))),

    "q55_unpivot" -> ((s, dir) =>
      // NOT materialized before the sort (unlike q14/q71/q117): the
      // unpivot off the daily aggregate's shuffle is cheap enough that the
      // checkpoint job measured as a net loss (0.39 → 0.49 s)
      Analytics.dailyAds(s, dir)
        .select(col("user_id"), col("dt"), col("impressions"),
          col("clicks"), col("conversions"))
        .unpivot(Array(col("user_id"), col("dt")),
          Array(col("impressions"), col("clicks"), col("conversions")),
          "metric", "v")
        .orderBy(col("user_id"), col("dt"), col("metric"))),

    // ---- grouping sets extension ----
    "q21_rollup" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(Analytics.dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),

    // ---- incremental-load semantics (J1/§2.9) ----
    "q24_incremental_delta" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val existing = ev.filter(pmod(col("event_id"), lit(2)) === 0)
      IncrementalLoader.newRows(ev, existing, Seq("event_id"))
        .agg(count(lit(1)).as("n_new"), min(col("event_id")).as("mn"), max(col("event_id")).as("mx"))
    }),

    // ---- LLM-pipeline: dedup ----
    "q30_dedup_exact" -> ((s, dir) =>
      Dedup.exactDedup(Tables.documents(s, dir)).orderBy(col("content_key"))),

    "q31_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(
        docsWithNearDups(s, dir).filter(pmod(col("doc_id"), lit(1000000)) < 200),
        threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))),

    "q40_minhash_neardups" -> ((s, dir) =>
      nearDupPairs(s, dir)
        .orderBy(col("id_a"), col("id_b"))),

    "q41_simhash_neardups" -> ((s, dir) =>
      Dedup.simHashCosineNearDups(docsWithNearDups(s, dir), minTokens = 50, cosThreshold = 0.95)
        .orderBy(col("id_a"), col("id_b"))),

    // ---- the STREAMING dedup operator's batch mode under the oracle gate:
    // candidates from the stateful LSH ingest path (flatMapGroupsWithState
    // runs on batch frames with empty state), exact-Jaccard verified — the
    // result must equal q40's, proving the ingest-shaped candidate
    // generator loses nothing vs the batch pipeline. The generator runs
    // with estimate threshold 0.0 (ALL bucket-colliding pairs emit) so the
    // exact verification alone applies the 0.5 cut — the same semantics as
    // minHashVerifiedNearDups; an estimate pre-filter would data-dependently
    // drop borderline pairs whose exact Jaccard clears 0.5 while the
    // 64-sample estimate lands just under it ----
    "q150_streaming_dedup" -> ((s, dir) => {
      val docs = docsWithNearDups(s, dir)
      val cands = graft.streaming.StreamingDedup
        .nearDupCandidates(docs, threshold = 0.0)
        .toDF().select(col("id_a"), col("id_b"))
      Dedup.verifyPairsExactJaccard(docs, cands, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- incrementally-maintained dedup clusters: the verified near-dup
    // edge set folded through the foreachBatch cluster maintenance
    // (IncrementalClusters.foldPairs) in three chunks — each fold
    // contracts previous-assignment ∪ delta, never the accumulated pair
    // set — and the FINAL assignment must equal the one-shot connected
    // components over all pairs (q59's exhaustive recursive-CTE oracle) ----
    "q151_incremental_clusters" -> ((s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft-q151").toString
      val pairs = nearDupPairs(s, dir).select(col("id_a"), col("id_b"))
      (0 until 3).foreach { c =>
        graft.streaming.IncrementalClusters.foldPairs(s, tbl,
          pairs.filter(pmod(col("id_a") + col("id_b"), lit(3)) === c))
      }
      graft.streaming.IncrementalClusters.clusters(s, tbl)
        .select(col("doc_id"), col("rep_id"))
        .orderBy(col("doc_id"))
    }),

    // ---- benchmark decontamination (GPT-3-appendix n-gram overlap rule):
    // every corpus doc flagged with the number of distinct 8-grams it
    // shares with the benchmark set (here: every 17th doc's text). The
    // corpus side explodes to n-gram hashes but the benchmark bloom
    // discards the non-overlapping bulk in the scan stage; the exact semi
    // join removes the false-positive sliver, so the flags equal the plain
    // join's — which is what the exhaustive string-side oracle checks ----
    "q152_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val bench = docs.filter(pmod(col("doc_id"), lit(17)) === 0).select(col("text"))
      graft.dedup.Decontaminate.ngramOverlap(docs, bench, n = 8, minHits = 1)
        .orderBy(col("doc_id"))
    }),

    // ---- span-level contamination excision: cut ONLY the 8-token windows
    // that verbatim-overlap the benchmark slice (benchmark-member docs
    // excise to empty — their every window matches); survivors reassemble
    // in order over the canonical lowercased token space ----
    "q156_excise_contaminated" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val bench = docs.filter(pmod(col("doc_id"), lit(17)) === 0).select(col("text"))
      graft.dedup.Decontaminate.exciseContaminated(docs, bench, n = 8)
        .orderBy(col("doc_id"))
    }),

    // ---- quality-aware dedup representative: each near-dup cluster re-keys
    // to its HIGHEST-quality member (min-id ships a boilerplate-mangled
    // copy whenever it sorts first); shares q59's memoized verified pairs,
    // scores with the q32 quality signal, argmax per cluster ----
    "q157_quality_aware_dedup" -> ((s, dir) => {
      val corpus = docsWithNearDups(s, dir)
      // the AUTO entry point: near-dup pair sets are a small fraction of
      // the corpus, so the driver union-find usually answers in one
      // collect instead of the iterative engine's ~15 round jobs, and
      // past its 262k-edge cap it self-selects the distributed engine
      // (q59 stays on the distributed engine as that path's anchor)
      val clusters = graft.ops.Graph.connectedComponentsAuto(
          nearDupPairs(s, dir).select(col("id_a"), col("id_b")))
        .select(col("id").as("doc_id"), col("rep").as("rep_id"))
      val full = corpus.select(col("doc_id"))
        .join(clusters, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("rep_id"), col("doc_id")).as("rep_id"))
      val scores = corpus.select(col("doc_id"),
        TextFunctions.statsQualityScore(
          TextFunctions.langStats(s, col("text")), col("text")).as("score"))
      Dedup.qualityAwareReps(full, scores).orderBy(col("doc_id"))
    }),

    // ---- z-order (Morton) values for two-column layout clustering: the
    // interleave is a pure function, so the native expression is fully
    // oracle-checkable; ops/Layout.clusterByZ uses it to range-partition +
    // sort so parquet min/max stats prune on either column ----
    "q78_zorder" -> ((s, dir) =>
      // NOT materialized before the sort (unlike the 3-column q127): the
      // 2-column interleave is cheap enough that the checkpoint job
      // measured as a net loss (0.59 → 0.63 s)
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          graft.ops.Layout.zValue(s, col("l_partkey"), col("l_suppkey")).as("z"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    // ---- bloom pre-filtered semi join: bloom_filter_agg scalar subquery
    // prunes the fact scan before the exact semi join removes false
    // positives — result is row-identical to the plain semi join ----
    "q76_bloom_semijoin" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val picked = Tables.supplier(s, dir).filter(col("s_acctbal") > 5000)
      graft.ops.BloomJoin.bloomSemiJoin(li, picked, "l_suppkey", "s_suppkey",
        fpp = 0.01)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), Analytics.dsum(col("l_extendedprice")).as("revenue"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- custom Catalyst operator: per-key top-k via bounded heaps
    // (plans/TopKPerKey + TopKPerKeyStrategy) — partial heaps, hash
    // exchange carrying <= k rows per (partition, key), final heaps; no
    // window sort, nothing fully sorted. Oracle = the ROW_NUMBER window
    // formulation it replaces ----
    "q75_topk_per_key" -> ((s, dir) =>
      graft.ops.TopK.topKPerKey(Tables.orders(s, dir),
        keys = Seq("o_orderpriority"),
        order = Seq(("o_totalprice", false), ("o_orderkey", true)), k = 3)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderpriority"), col("o_totalprice").desc, col("o_orderkey"))),

    // ---- PII scrub: plant deterministic emails/URLs, count and redact
    // them (map-only codegen'd regex; patterns are lookaround-free so Java
    // regex and the oracle's RE2 agree byte-for-byte) ----
    "q73_pii_redact" -> ((s, dir) => {
      val planted = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit(" contact user"), col("doc_id"), lit("@example.com now"))).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(4)) === 0,
            concat(lit(" see https://example.org/doc/"), col("doc_id"), lit(" today"))).otherwise(lit("")))
          .as("text"))
      // regex scans materialized once before the range-sampled sort (q71's
      // rationale: an un-materialized range-exchange child runs twice)
      graft.util.Caching.materialize(
        planted.select(col("doc_id"),
          TextFunctions.emailCount(col("text")).as("n_emails"),
          TextFunctions.urlCount(col("text")).as("n_urls"),
          md5(TextFunctions.redactPii(col("text"))).as("redacted_md5")))
        .orderBy(col("doc_id"))
    }),

    // ---- benchmark decontamination: corpus docs sharing >= 5 distinct
    // shingles with the benchmark set (every 50th doc) are flagged ----
    "q74_decontamination" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val bench = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
      Dedup.contaminationFlags(docs, bench, minShared = 5)
        .orderBy(col("doc_id"))
    }),

    // ---- LLM-pipeline: text analysis ----
    // every token signal derives from ONE native single-pass lang_stats
    // struct (the HOF formulations are interpreted CodegenFallback lambdas
    // and re-walk the token array per signal)
    "q32_text_stats" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"),
          TextFunctions.langStats(s, col("text")).as("__st"))
        .select(col("doc_id"),
          col("__st.n_tokens").as("n_tokens"),
          TextFunctions.statsAvgTokenLen(col("__st")).as("avg_token_len"),
          TextFunctions.punctRatio(col("text")).as("punct_ratio"),
          TextFunctions.statsStopwordRatio(col("__st")).as("stopword_ratio"),
          TextFunctions.statsQualityScore(col("__st"), col("text")).as("quality"))
        .orderBy(col("doc_id"))),

    "q33_langid" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextFunctions.statsLangId(TextFunctions.langStats(s, col("text"))).as("lang_pred"))
        .orderBy(col("doc_id"))),

    "q34_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))),

    // ---- token Shannon entropy (vocabulary-diversity quality signal):
    // ln n − (Σ c·ln c)/n over per-doc token frequencies — two hash
    // aggregations, map-side combined; docs with no tokens have no entropy ----
    "q38_token_entropy" -> ((s, dir) => {
      val tf = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(TextFunctions.tokensNative(s, lower(col("text")))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      tf.groupBy("doc_id")
        .agg(sum(col("c")).as("n"), sum(col("c") * log(col("c"))).as("clogc"))
        .select(col("doc_id"), col("n"),
          round(log(col("n")) - col("clogc") / col("n"), 6).as("entropy"))
        .orderBy(col("doc_id"))
    }),

    // ---- latest record per key (SCD-style dedup): k=1 through the custom
    // TopKPerKey operator — partial bounded heaps make the exchange carry
    // one row per (partition, user), never the event history ----
    "q39_latest_per_key" -> ((s, dir) =>
      graft.ops.TopK.topKPerKey(Tables.events(s, dir),
        keys = Seq("user_id"),
        order = Seq(("ts_nanos", false), ("event_id", true)), k = 1)
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
        .orderBy(col("user_id"))),

    "q53_langid_ngram" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextFunctions.langIdNgram(s, col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))),

    // ---- LLM-pipeline: similarity search ----
    "q35_ann_brute" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = e.filter(col("vec_id") <= 2)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.bruteForceTopK(queries, corpus, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    "q36_embed_norms" -> ((s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"),
          round(Similarity.norm(col("embedding")), 6).as("l2_norm"))
        .orderBy(col("vec_id"))),

    "q42_ann_lsh" -> ((s, dir) => {
      val (queries, corpus) = annQueriesAndTwinCorpus(s, dir)
      Similarity.lshTopK(queries, corpus, dim = 64, k = 5, bits = 16, bands = 4)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- string predicates (P8) ----
    "q25_string_pred" -> ((s, dir) =>
      Tables.part(s, dir)
        .filter(col("p_type").startsWith("ECO") && col("p_brand").endsWith("#5")
          && col("p_name").contains("a"))
        .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"))
        .orderBy(col("p_partkey"))),

    // ---- conditional aggregation over a dim join (TPC-H Q14 shape) ----
    "q26_promo_share" -> ((s, dir) => {
      val rev = (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)")
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0).cast("decimal(18,4)")))
            .cast("double").as("promo_rev"),
          sum(rev).cast("double").as("total_rev"))
        .select(col("promo_rev"), col("total_rev"),
          (col("promo_rev") / col("total_rev")).as("promo_share"))
    }),

    // ---- JSON extraction (events.props) ----
    "q27_json_extract" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(get_json_object(col("props"), "$.k").cast("long").as("k"), col("value"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"), Analytics.dsum(col("value")).as("total_value"))
        .orderBy(col("k"))),

    // ---- date-series generation (F11: sequence + explode) ----
    "q28_date_series" -> ((s, _) =>
      s.range(1)
        .select(explode(sequence(
          to_date(lit("2026-01-01")), to_date(lit("2026-01-31")), expr("interval 1 day"))).as("d"))
        .select(col("d"), month(col("d")).as("m"), dayofmonth(col("d")).as("dd"))
        .orderBy(col("d"))),

    // ---- multi-distinct aggregation ----
    "q29_distinct_agg" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(count_distinct(col("user_id")).as("n_users"),
          count_distinct(col("dt")).as("n_days"))
        .orderBy(col("event_type"))),

    // ---- SQL front door (S14: spark.sql string entry point) ----
    "q37_sql_entry" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      s.sql("""SELECT l_returnflag,
              |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
              |  COUNT(*) AS n
              |FROM lineitem_v GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    }),

    // ---- approximate sketches (HLL / quantiles), self-verified against
    // exact aggregates: the exact columns hash-match the oracle and the
    // booleans pin each sketch within its tolerance of the exact value.
    // Exact percentiles come from ops/Quantiles (sort-based, no per-group
    // buffering — scales); exact count-distinct is a two-level hash agg.
    // At 100 TB you'd still ship the approximate columns for single-pass
    // mergeable state; the exact columns remain computable when needed ----
    "q44_sketches" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      // Separate aggregation passes joined on the (3-row) group key: mixing
      // count_distinct with the percentile object-aggregates in one agg
      // makes Catalyst Expand every input row through the object hash
      // aggregate (measured ~2.5x slower than clean passes).
      val distincts = li.groupBy(col("l_returnflag")).agg(
        count_distinct(col("l_partkey")).as("n_parts"),
        approx_count_distinct(col("l_partkey")).as("hll_parts"))
      // exact side via the sort-based distributed quantile: its range
      // sort spreads the 3 groups over every partition
      val pctls = graft.ops.Quantiles.exactQuantilesSpread(
        li, "l_extendedprice", Seq("l_returnflag"),
        Seq(0.5, 0.99), Seq("p50_exact", "p99_exact"))
      val approxs = li.groupBy(col("l_returnflag")).agg(
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("p50_approx"),
        percentile_approx(col("l_extendedprice"), lit(0.99), lit(1000)).as("p99_approx"))
      distincts.join(pctls, "l_returnflag").join(approxs, "l_returnflag")
        .select(col("l_returnflag"), col("n_parts"),
          (abs(col("hll_parts") - col("n_parts")).cast("double") / col("n_parts") <= 0.1).as("hll_ok"),
          round(col("p50_exact"), 6).as("p50"),
          (abs(col("p50_approx") - col("p50_exact")) / col("p50_exact") <= 0.05).as("p50_ok"),
          round(col("p99_exact"), 6).as("p99"),
          (abs(col("p99_approx") - col("p99_exact")) / col("p99_exact") <= 0.05).as("p99_ok"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- count-min-sketch heavy hitters, q44-style self-verification:
    // the exact top-10 key counts hash-match the oracle; the booleans pin
    // the CMS estimate inside its guarantee (exact <= est <= exact + eps*N,
    // eps = 0.001, fixed seed => deterministic). The sketch is the scalable
    // single-pass artifact; estimating 10 keys from the collected sketch is
    // driver-side verification harness, like q44's exact columns ----
    "q77_cms_heavy_hitters" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      // one combined pass: sketch + total row count (a separate count()
      // would be a second full scan)
      val skRow = li.agg(expr("count_min_sketch(l_suppkey, 0.001d, 0.99d, 42)").as("sk"),
        count(lit(1)).as("n")).collect()(0)
      val sketch = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(skRow.getAs[Array[Byte]]("sk")))
      val total = skRow.getAs[Long]("n")
      val top = li.groupBy(col("l_suppkey")).agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("l_suppkey")).limit(10)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      import s.implicits._
      top.map { case (k, n) =>
        val est = sketch.estimateCount(k)
        (k, n, est >= n && est <= n + (0.001 * total).toLong + 1)
      }.toSeq.toDF("l_suppkey", "n_exact", "cms_ok")
        .orderBy(col("n_exact").desc, col("l_suppkey"))
    }),

    // ---- multimodal frame sampling (counts are oracle-checkable) ----
    "q45_frame_sample" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal.asMedia(Tables.documents(s, dir), "doc_id", "text", "video/fake")
      val frames = graft.multimodal.Multimodal.sampleFrames(media, stride = 100)
        .select(col("id"), size(col("frame_offsets")).as("n_frames"))
      media.select(col("id"), octet_length(col("media")).as("n_bytes"))
        .join(frames, "id")
        .orderBy(col("id"))
    }),

    // ---- embedding-cosine near-dup (LSH candidates + exact verify) ----
    "q49_embed_neardup" -> ((s, dir) => {
      val base = Tables.embeddings(s, dir).filter(col("vec_id") < 100)
        .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
      // deterministic near-identical twins: +0.01 on dimension 0
      val pert = base.select((col("id") + 1000000).as("id"),
        transform(col("vec"), (x, i) => when(i === 0, x + 0.01).otherwise(x)).as("vec"))
      Dedup.embeddingNearDups(base.union(pert), threshold = 0.99)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- SemDeDup semantic dedup (cluster-scoped cosine + components):
    // deterministic centroids (every 50th vector) make the k-means half
    // oracle-checkable; two perturbation generations build A~B~C chains
    // whose ends fall below the cut, so keep/rep exercise real transitive
    // grouping, not just twin pairs ----
    "q153_semantic_dedup" -> ((s, dir) => {
      val base = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
      val pert1 = base.filter(col("id") < 50).select((col("id") + 1000000).as("id"),
        transform(col("vec"), (x, i) => when(i === 0, x + 0.01).otherwise(x)).as("vec"))
      val pert2 = base.filter(col("id") < 25).select((col("id") + 2000000).as("id"),
        transform(col("vec"), (x, i) => when(i === 0, x + 0.02).otherwise(x)).as("vec"))
      val corpus = base.union(pert1).union(pert2)
      // fixture centroids: bounded collect (fixture/50 rows); production
      // callers pass k-means model state (trainCentroids) here
      val centroids = base.filter(pmod(col("id"), lit(50)) === 0).orderBy(col("id"))
        .collect().map(_.getSeq[Double](1).toIndexedSeq: Seq[Double]).toIndexedSeq
      graft.dedup.SemDeDup.semanticDedup(corpus, centroids, threshold = 0.99)
        .orderBy(col("id"))
    }),

    // ---- CROSS-CORPUS semantic dedup (E125's paraphrase-tier sibling):
    // the perturbed twins play the fresh dump, the original embeddings the
    // curated corpus — every twin must flag against its source (and any
    // same-cell reference above the cut); no closure, pairs ARE the output ----
    "q163_cross_semantic" -> ((s, dir) => {
      val base = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
      val fresh = base.filter(col("id") < 50).select((col("id") + 1000000).as("id"),
        transform(col("vec"), (x, i) => when(i === 0, x + 0.01).otherwise(x)).as("vec"))
      val centroids = base.filter(pmod(col("id"), lit(50)) === 0).orderBy(col("id"))
        .collect().map(_.getSeq[Double](1).toIndexedSeq: Seq[Double]).toIndexedSeq
      graft.dedup.SemDeDup.crossSemanticDups(fresh, base, centroids, threshold = 0.99)
        .orderBy(col("new_id"), col("ref_id"))
    }),

    // ---- streaming SemDeDup (semantic dedup-on-ingest) in batch mode —
    // E111's treatment for the paraphrase tier: the cell-state pair
    // generator runs on the q153 fixture corpus, components + assignment
    // reassemble q153's exact output shape, and the SAME recursive-CTE
    // oracle must hash-match (generator ≡ batch edge set) ----
    "q160_streaming_semdedup" -> ((s, dir) => {
      val base = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
      val pert1 = base.filter(col("id") < 50).select((col("id") + 1000000).as("id"),
        transform(col("vec"), (x, i) => when(i === 0, x + 0.01).otherwise(x)).as("vec"))
      val pert2 = base.filter(col("id") < 25).select((col("id") + 2000000).as("id"),
        transform(col("vec"), (x, i) => when(i === 0, x + 0.02).otherwise(x)).as("vec"))
      val corpus = base.union(pert1).union(pert2)
      val centroids = base.filter(pmod(col("id"), lit(50)) === 0).orderBy(col("id"))
        .collect().map(_.getSeq[Double](1).toIndexedSeq: Seq[Double]).toIndexedSeq
      val pairs = graft.streaming.StreamingSemDeDup
        .semanticPairs(corpus, centroids, threshold = 0.99)
        .toDF().select(col("id_a"), col("id_b"))
      // semantic near-dup pairs are threshold-sparse — the auto entry's
      // driver union-find path, with the distributed engine past its cap
      val comps = graft.ops.Graph.connectedComponentsAuto(pairs)
      Similarity.assignEmbeddings(corpus, centroids).select(col("id"), col("cluster"))
        .join(comps.select(col("id"), col("rep")), Seq("id"), "left")
        .select(col("id"), col("cluster"), coalesce(col("rep"), col("id")).as("rep_id"))
        .withColumn("keep", col("id") === col("rep_id"))
        .orderBy(col("id"))
    }),

    // ---- exact-substring span dedup (Lee et al. ExactSubstr, hash-grouped):
    // each doc carries an appended copy of doc (id % 100)'s text, so every
    // doc whose id exceeds its donor repeats that block's verbatim 8-token
    // spans and must be flagged against the earliest holder ----
    "q154_exact_span_dedup" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val b = d.select(col("doc_id").as("bid"), col("text").as("btext"))
      val fixture = d.join(b, col("bid") === pmod(col("doc_id"), lit(100)))
        .select(col("doc_id"), concat_ws(" ", col("text"), col("btext")).as("text"))
      Dedup.exactSpanDedupFlags(fixture, k = 8).orderBy(col("doc_id"))
    }),

    // ---- DSIR importance scores (target-domain likelihood ratio): every
    // corpus doc scored against the English-slice bigram model vs the
    // whole-corpus model — the data-selection signal, exact bigram
    // equality classes instead of the paper's hash buckets ----
    "q155_dsir_scores" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.text.TextPipelines.dsirScores(docs, docs.filter(col("lang") === "en"))
        .orderBy(col("doc_id"))
    }),

    // ---- select-on-ingest's scoring core in batch mode: frozen PREPARED
    // models (fit once, persisted counts + collected scalars) swept over
    // the fit corpus must reproduce the one-shot q155 scores exactly, so
    // the identical oracle applies — E124's oracle gate ----
    "q161_dsir_prepared" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val model = graft.text.TextPipelines.dsirPrepare(docs, docs.filter(col("lang") === "en"))
      try graft.util.Caching.materialize(
        graft.text.TextPipelines.dsirScorePrepared(docs, model).orderBy(col("doc_id")))
      finally model.release()
    }),

    // ---- CROSS-CORPUS near-dedup (inter-dump sweep): the perturbed twins
    // play the fresh dump, the original documents the curated corpus —
    // every twin must flag against its source (and any near-dup of it);
    // banded LSH across sides only, exact Jaccard on candidates ----
    "q162_cross_dedup" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val fresh = d.select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" zz")).as("text"))
      Dedup.crossNearDups(fresh, d, threshold = 0.5)
        .orderBy(col("new_id"), col("ref_id"))
    }),

    // ---- TABLE-BACKED inter-dump sweep (verbatim tier): q162's exact
    // pairs, but the curated corpus's signatures read from durable
    // bucketed snapshot tables (built once — the fixture memo plays the
    // "reference maintained across dumps" role) instead of session
    // caches; the reference side joins exchange-free off the layout ----
    "q164_cross_dedup_table" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val base = fixture("q164", dir) { b =>
        Dedup.crossPrepareTable(d, s"$b/ref")
      }
      val fresh = d.select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" zz")).as("text"))
      val prep = Dedup.crossPreparedFromTable(s, s"$base/ref")
      Dedup.crossNearDupsPrepared(fresh, prep, threshold = 0.5)
        .orderBy(col("new_id"), col("ref_id"))
    }),

    // ---- TABLE-BACKED cross-semantic sweep: q163's exact pairs off the
    // durable cell table + centroid model table ----
    "q165_cross_semantic_table" -> ((s, dir) => {
      val base = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
      val fresh = base.filter(col("id") < 50).select((col("id") + 1000000).as("id"),
        transform(col("vec"), (x, i) => when(i === 0, x + 0.01).otherwise(x)).as("vec"))
      val tbl = fixture("q165", dir) { b =>
        val centroids = base.filter(pmod(col("id"), lit(50)) === 0).orderBy(col("id"))
          .collect().map(_.getSeq[Double](1).toIndexedSeq: Seq[Double]).toIndexedSeq
        graft.dedup.SemDeDup.crossSemanticPrepareTable(base, centroids, s"$b/ref")
      }
      val prep = graft.dedup.SemDeDup.crossSemanticPreparedFromTable(s, s"$tbl/ref")
      graft.dedup.SemDeDup.crossSemanticDupsPrepared(fresh, prep, threshold = 0.99)
        .orderBy(col("new_id"), col("ref_id"))
    }),

    // ---- COMPOSED inter-dump sweep (E127): verbatim tier first, the
    // survivors swept semantically — the full pre-admission pipeline a
    // fresh dump runs before joining the curated corpus. Fixture: the
    // reference is documents ⋈ embeddings (docs with both text and vec);
    // the dump is one verbatim twin per doc (text + ' zz', vec pushed far
    // off), one paraphrase twin per early doc (reversed text — no shared
    // shingles — with a near-identical vec), and a band of genuinely
    // clean arrivals that must SURVIVE both tiers. The composed kept set
    // is gated on the exhaustive two-tier truth: fresh minus the UNION of
    // the verbatim-Jaccard and cell-cosine flag sets ----
    "q166_cross_all" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("doc_id"), col("embedding").cast("array<double>").as("vec"))
      // persisted: the joined corpus feeds the centroid collect, BOTH
      // tier prepares, and both twin projections — unpersisted, the
      // documents⋈embeddings join would re-evaluate five times
      val corpus = d.join(e, "doc_id").persist()
      // centroids from the JOINED corpus — structurally the same frame the
      // oracle's `cent` CTE reads, so a fixture regeneration where some
      // embedding row lacks a document (or vice versa) can never diverge
      // the centroid sets between the engines
      val centroids = corpus.filter(pmod(col("doc_id"), lit(50)) === 0)
        .orderBy(col("doc_id")).select(col("vec"))
        .collect().map(_.getSeq[Double](0).toIndexedSeq: Seq[Double]).toIndexedSeq
      val verbTwins = corpus.select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" zz")).as("text"),
        transform(col("vec"), (x, i) => when(i === 0, x + 0.5).otherwise(x)).as("vec"))
      val semTwins = corpus.filter(col("doc_id") < 50)
        .select((col("doc_id") + 2000000).as("doc_id"),
          reverse(col("text")).as("text"),
          transform(col("vec"), (x, i) => when(i === 0, x + 0.01).otherwise(x)).as("vec"))
      // genuinely clean arrivals (reversed text shares no shingles; a
      // negated vector is antipodal to its source) — the survivors that
      // make the kept set a non-trivial gate
      val cleanDocs = corpus.filter(col("doc_id") >= 50 && col("doc_id") < 100)
        .select((col("doc_id") + 3000000).as("doc_id"),
          reverse(col("text")).as("text"),
          transform(col("vec"), x => -x).as("vec"))
      val fresh = verbTwins.union(semTwins).union(cleanDocs)
      // the two reference prepares are INDEPENDENT eager builds over the
      // (already-materialized — the centroid collect forced it) cached
      // corpus: overlapped, the semantic tier's assignment jobs back-fill
      // the verbatim tier's shingling stages instead of queueing after
      // them. A failed build leaves neither prepare nor the corpus pinned.
      val (vPrep, sPrep) =
        try graft.util.Caching.overlapped("q166_cross_all")(
          Dedup.crossPrepare(corpus),
          graft.dedup.SemDeDup.crossSemanticPrepare(
            corpus.select(col("doc_id").as("id"), col("vec")), centroids))(
          _.release(), _.release())
        catch { case t: Throwable => corpus.unpersist(blocking = false); throw t }
      try graft.dedup.CrossSweep.removeCrossAll(fresh, vPrep, sPrep,
          jaccardThreshold = 0.5, cosThreshold = 0.99)
        .select(col("doc_id"), col("text")).orderBy(col("doc_id"))
      finally {
        vPrep.release(); sPrep.release()
        corpus.unpersist(blocking = false); ()
      }
    }),

    // ---- DSIR over the paper's FIXED hashed feature space: bigrams hash
    // into 256 md5-prefix buckets, so both multinomial fits are ≤256 rows
    // no matter the corpus — the bounded-model-state deploy option ----
    "q159_dsir_hashed" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.text.TextPipelines.dsirScoresHashed(docs, docs.filter(col("lang") === "en"),
        hexChars = 2)
        .orderBy(col("doc_id"))
    }),

    // ---- context-window chunking: 32-token windows, stride 24 (overlap 8)
    // over every document — the curation-to-training handoff; fixture docs
    // run 40-100 tokens so most emit several chunks with a short tail ----
    "q158_chunk_tokens" -> ((s, dir) =>
      graft.text.TextPipelines.chunkTokens(Tables.documents(s, dir),
        maxLen = 32, stride = 24)
        .orderBy(col("doc_id"), col("chunk_id"))),

    // ---- BPE-ish regex tokenization ----
    "q50_bpe_tokens" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextFunctions.bpeTokenCount(col("text")).as("n_bpe"),
          element_at(TextFunctions.bpeTokens(col("text")), 1).as("t1"))
        .orderBy(col("doc_id"))),

    // ---- temporal joins (operators Spark lacks; composed, not custom plans) ----
    "q47_asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val left = ev.select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      graft.ops.TemporalJoins.asOf(left, purchases, Seq("user_id"), "ts", "ts", Seq("value"))
        .select(col("event_id"), col("user_id"), col("r_value").cast("double").as("last_purchase_value"))
        .orderBy(col("event_id"))
    }),

    "q48_range_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_id"), col("ts"))
      val intervals = s.range(1)
        .select(explode(sequence(
          to_timestamp(lit("2024-01-01")), to_timestamp(lit("2024-01-29")), expr("interval 7 days"))).as("w_start"))
        .withColumn("w_end", col("w_start") + expr("interval 14 days"))
      graft.ops.TemporalJoins.rangeJoin(ev, intervals, "ts", "w_start", "w_end")
        .select(col("event_id"), col("w_start").cast("date").as("w_start"))
        .orderBy(col("event_id"), col("w_start"))
    }),

    "q46_ann_ivf" -> ((s, dir) => {
      val (queries, corpus) = annQueriesAndTwinCorpus(s, dir)
      Similarity.ivfTopK(queries, corpus, dim = 64, k = 5, nlist = 16, nprobe = 4)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- dedup clusters: near-dup pairs -> connected components (the
    // edge list is the memoized q40 result — computed once per session) ----
    "q59_dedup_clusters" -> ((s, dir) => {
      val edges = nearDupPairs(s, dir)
        .select(col("id_a"), col("id_b"))
      graft.ops.Graph.connectedComponents(edges)
        .select(col("id").as("doc_id"), col("rep").as("rep_id"))
        .orderBy(col("doc_id"))
    }),

    // ---- TF-IDF top terms per document ----
    "q60_tfidf_topterms" -> ((s, dir) =>
      graft.text.TextPipelines.tfIdfTopTerms(Tables.documents(s, dir), k = 3)
        .orderBy(col("doc_id"), col("rank"))),

    // ---- repetition / boilerplate score ----
    "q61_repetition" -> ((s, dir) =>
      graft.text.TextPipelines.repetitionScores(Tables.documents(s, dir))
        .orderBy(col("doc_id"))),

    // ---- batch sessionization: gap > 30 min starts a new session (the
    // batch twin of streaming/StreamOps.sessionize) ----
    // ---- click attribution: the BATCH twin of the stream-stream interval
    // join (streaming/StreamOps.clickAttribution runs this same code with
    // watermarks) — oracle-checks the join semantics the streaming specs
    // exercise with MemoryStreams ----
    "q70_click_attribution" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val shape = (t: String) => ev.filter(col("event_type") === t)
        .select(col("user_id"), col("event_id"), col("ts"))
      graft.streaming.StreamOps.clickAttribution(shape("view"), shape("click"), withinMinutes = 30)
        .orderBy(col("user_id"), col("click_id"), col("view_id"))
    }),

    "q62_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val runW = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"))
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            col("ts").cast("long") - col("prev_ts").cast("long") > 1800, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_sess")).over(runW))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"), min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // ---- ordered funnel: first view -> first click -> first purchase ----
    "q63_funnel" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "view", col("ts"))).as("v"),
          min(when(col("event_type") === "click", col("ts"))).as("c"),
          min(when(col("event_type") === "purchase", col("ts"))).as("p"))
        .agg(
          count(col("v")).as("n_view"),
          count(when(col("c") > col("v"), lit(1))).as("n_view_then_click"),
          count(when(col("c") > col("v") && col("p") > col("c"), lit(1))).as("n_full_funnel"))),

    // ---- sequence packing (concat-then-chop) for pretraining batches ----
    "q64_pack_sequences" -> ((s, dir) =>
      graft.text.TextPipelines.packSequences(Tables.documents(s, dir), capacity = 2048)
        .orderBy(col("doc_id"))),

    // ---- sequence packing, scale path: per-shard partitioned window with
    // shard-namespaced bin ids (vs q64's bounded-domain global window) ----
    "q68_pack_sharded" -> ((s, dir) =>
      graft.text.TextPipelines.packSequencesSharded(
        Tables.documents(s, dir), capacity = 2048, shards = 8)
        .orderBy(col("doc_id"))),

    // ---- deterministic weighted source mixing (pretraining mixture) ----
    "q79_source_mixing" -> ((s, dir) =>
      graft.text.TextPipelines.weightedMix(
        Tables.documents(s, dir).select(col("doc_id"), col("source")),
        weights = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1))
        .orderBy(col("doc_id"))),

    // ---- C4-style quality gate over the composed text signals ----
    "q80_quality_gate" -> ((s, dir) =>
      graft.text.TextPipelines.qualityGate(
        Tables.documents(s, dir), minQuality = 0.5, minTokens = 20,
        maxTokens = 100000, langs = Seq("en", "de"))
        .orderBy(col("doc_id"))),

    // ---- deterministic stratified systematic sample ----
    "q65_stratified_sample" -> ((s, dir) =>
      graft.text.TextPipelines.stratifiedSample(
        Tables.documents(s, dir).select(col("doc_id"), col("source"), col("lang")), "source", k = 10)
        .orderBy(col("doc_id"))),

    // ---- REAL image codec roundtrip: synthesize solid-gray PNGs whose
    // decoded dimensions/luma are pure arithmetic of doc_id, encode with
    // the JDK's PNG writer, decode with Multimodal.decodeImages (ImageIO) —
    // the oracle predicts every decoded value in plain SQL, so the actual
    // codec path (not a stub) sits under the hash gate ----
    "q71_image_roundtrip" -> ((s, dir) => {
      val spec = Tables.documents(s, dir).select(
        col("doc_id").as("id"),
        (lit(16) + pmod(col("doc_id"), lit(32))).as("width"),
        (lit(8) + pmod(col("doc_id"), lit(16))).as("height"),
        pmod(col("doc_id"), lit(256)).as("gray"))
      val media = graft.multimodal.Multimodal.synthesizeImages(spec)
      // materialize the decoded rows BEFORE the global sort (r21): a range
      // exchange samples its child to pick partition bounds, so an
      // un-materialized child runs TWICE — and here the child is the whole
      // encode+decode codec chain (measured as two back-to-back jobs of
      // equal cost). The checkpoint runs the codecs once; the sample and
      // the sort read the slim materialized rows.
      graft.util.Caching.materialize(
        graft.multimodal.Multimodal.decodeImages(media).toDF()
          .select(col("id").as("doc_id"), col("width"), col("height"),
            col("n_pixels"), round(col("mean_luma"), 4).as("mean_luma"), col("format_ok")))
        .orderBy(col("doc_id"))
    }),

    // ---- REAL audio codec roundtrip (the q71 pattern for sound): WAVs
    // synthesized with header fields that are pure arithmetic of doc_id,
    // written by the JDK's WAV encoder, decoded by Multimodal.decodeAudio
    // (javax.sound) — the oracle predicts every decoded field in SQL ----
    "q82_audio_roundtrip" -> ((s, dir) => {
      val spec = Tables.documents(s, dir).select(
        col("doc_id").as("id"),
        (lit(8000) + pmod(col("doc_id"), lit(8)) * 1000).as("sample_rate"),
        (lit(1) + pmod(col("doc_id"), lit(2))).as("channels"),
        (lit(100) + pmod(col("doc_id"), lit(400))).as("n_frames"))
      val media = graft.multimodal.Multimodal.synthesizeAudio(spec)
      // codec chain materialized once before the range-sampled sort (q71's
      // rationale)
      graft.util.Caching.materialize(
        graft.multimodal.Multimodal.decodeAudio(media).toDF()
          .select(col("id").as("doc_id"), col("sample_rate"), col("channels"),
            col("n_frames"), round(col("duration_sec"), 6).as("duration_sec"),
            col("format_ok")))
        .orderBy(col("doc_id"))
    }),

    // ---- REAL video codec roundtrip: AVI/RIFF container with lossless
    // PNG-coded frames (registered 'MPNG' fourcc), written and parsed by
    // the engine, frames decoded by ImageIO — every decoded property is
    // arithmetic of the spec, so the full container+codec path sits under
    // the hash gate (closes the last stub tier) ----
    "q93_video_roundtrip" -> ((s, dir) => {
      val spec = Tables.documents(s, dir).select(
        col("doc_id").as("id"),
        (lit(16) + pmod(col("doc_id"), lit(16))).as("width"),
        (lit(8) + pmod(col("doc_id"), lit(8))).as("height"),
        (lit(2) + pmod(col("doc_id"), lit(4))).as("n_frames"),
        pmod(col("doc_id"), lit(200)).as("gray0"))
      val media = graft.multimodal.Multimodal.synthesizeVideos(spec)
      // codec chain materialized once before the range-sampled sort (q71's
      // rationale)
      graft.util.Caching.materialize(
        graft.multimodal.Multimodal.decodeVideos(media).toDF()
          .select(col("id").as("doc_id"), col("width"), col("height"), col("n_frames"),
            round(col("first_luma"), 4).as("first_luma"),
            round(col("last_luma"), 4).as("last_luma"), col("format_ok")))
        .orderBy(col("doc_id"))
    }),

    // ---- LLM-pipeline: multimodal plumbing ----
    "q43_multimodal" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal.asMedia(Tables.documents(s, dir), "doc_id", "text", "text/plain")
      graft.multimodal.Multimodal.extractFeatures(media).toDF().orderBy(col("id"))
    }),

    // ---- keyed upsert (MERGE): update-else-insert on o_orderkey — every
    // 100th order's status flipped in place, every 500th re-keyed as a new
    // insert; the anti-join side of the merge is the broadcastable batch ----
    "q81_merge_upsert" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      val updates = o.filter(pmod(col("o_orderkey"), lit(100)) === 0)
        .withColumn("o_orderstatus", lit("X"))
      val inserts = o.filter(pmod(col("o_orderkey"), lit(500)) === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          col("o_custkey"), col("o_orderstatus"))
      IncrementalLoader.upsert(o, updates.unionByName(inserts), Seq("o_orderkey"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- exactly-k deterministic sample per source (count-based quota,
    // hash-ranked through the bounded-heap TopKPerKey operator) ----
    "q84_group_sample_topk" -> ((s, dir) =>
      graft.text.TextPipelines.hashSamplePerGroup(
        Tables.documents(s, dir).select(col("doc_id"), col("source")), "source", k = 5)
        .select(col("source"), col("doc_id"), col("hkey"))
        .orderBy(col("source"), col("hkey"), col("doc_id"))),

    // ---- SCD2 history apply: changed open versions close at the effective
    // date, new versions open, no-op batch rows leave history untouched ----
    "q85_scd2_apply" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
      val target = cust.select(col("c_custkey").as("k"), col("c_mktsegment").as("v"),
        to_date(lit("2020-01-01")).as("valid_from"), lit(null).cast("date").as("valid_to"))
      // every 3rd key changes segment; every 5th (non-3rd) re-sends its
      // current value — MUST be a no-op
      val batch = cust.filter(pmod(col("c_custkey"), lit(3)) === 0)
        .select(col("c_custkey").as("k"), lit("NEW").as("v"))
        .unionByName(
          cust.filter(pmod(col("c_custkey"), lit(3)) =!= 0 && pmod(col("c_custkey"), lit(5)) === 0)
            .select(col("c_custkey").as("k"), col("c_mktsegment").as("v")))
      graft.ingest.Scd2.applyScd2(target, batch, Seq("k"), Seq("v"), lit("2024-06-01"))
        // open rows compare as the conventional SCD2 high date: a NULL date
        // column stringifies differently in the two compare paths (pandas
        // object 'None' vs datetime 'NaT'), and 9999-12-31 is what most
        // warehouses physically store for the open version anyway
        .withColumn("valid_to", coalesce(col("valid_to"), to_date(lit("9999-12-31"))))
        .orderBy(col("k"), col("valid_from"))
    }),

    // ---- fixed-width numeric histogram (profiling primitive) ----
    "q86_histogram" -> ((s, dir) =>
      Analytics.histogram(Tables.lineitem(s, dir), "l_extendedprice", 5000.0)),

    // ---- TPC-H Q10 shape: revenue lost to returns per customer, top 20 ----
    "q88_returned_items" -> ((s, dir) => {
      val returned = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
      Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1996-07-01"))
        .join(returned, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)"))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // ---- TPC-H Q6 shape: pure-scan forecast revenue — every predicate
    // reaches the parquet row-group stats (PushedFilters), the 100 TB
    // "touch only matching data" archetype ----
    "q89_forecast_revenue" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1997-01-01") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum((col("l_extendedprice") * col("l_discount")).cast("decimal(18,4)"))
          .cast("double").as("revenue"))),

    // ---- TPC-H Q16 shape: distinct supplier count per part group ----
    "q90_parts_suppliers" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)
          .filter(col("p_brand") =!= "Brand#1" && col("p_size").between(10, 40))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_size"))
        .agg(count_distinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))),

    // ---- int8 embedding quantization: arrays don't canonicalize across
    // the compare paths, so the gate checks int-domain aggregates of the
    // quantized vector (sum, |sum|, max|q|) plus the scale ----
    "q91_embed_quantize" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      Similarity.quantizeInt8(e, "v")
        .select(col("vec_id"),
          round(col("qscale"), 9).as("qscale"),
          aggregate(col("qvec"), lit(0L), (acc, q) => acc + q).as("q_sum"),
          aggregate(col("qvec"), lit(0L), (acc, q) => acc + abs(q)).as("q_abs_sum"),
          aggregate(col("qvec"), lit(0L), (acc, q) => greatest(acc, abs(q))).as("q_max_abs"))
        .orderBy(col("vec_id"))
    }),

    // ---- winsorized aggregation: per-group p01/p99 bounds from the exact
    // distributed quantile operator, outliers clamped, decimal-exact totals
    // — the robust-stats composition over Quantiles ----
    "q92_winsorized" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      // 3 groups: a per-group window would sort ~1/3 of lineitem through
      // ONE task; the range sort spreads them over every partition
      val bounds = graft.ops.Quantiles.exactQuantilesSpread(
        li, "l_extendedprice", Seq("l_returnflag"), Seq(0.01, 0.99), Seq("lo", "hi"))
      li.join(broadcast(bounds), "l_returnflag")
        .select(col("l_returnflag"),
          greatest(col("lo"), least(col("hi"), col("l_extendedprice"))).as("w"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("w").cast("decimal(18,4)")).cast("double").as("total_w"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- blocked fuzzy matching: sound length-blocking + exact
    // Levenshtein verify, checked against the exhaustive all-pairs truth
    // (the q40 pattern for edit distance) on a bounded name subset ----
    "q94_fuzzy_pairs" -> ((s, dir) => {
      val names = Tables.customer(s, dir).filter(pmod(col("c_custkey"), lit(30)) === 0)
        .select(col("c_custkey").as("id"), col("c_name").as("name"))
      graft.ops.FuzzyJoin.levenshteinPairs(names, "name", "id", maxDist = 2)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- LAG window: day-over-day revenue delta. The global-order LAG
    // rides a range-partitioned rank + rank−1 self-join instead of a
    // partition-less WindowExec — the daily grain bounds the frame either
    // way, but no single task ever has to hold the whole series ----
    "q95_dod_change" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderdate").as("dt"))
        .agg(Analytics.dsum(col("o_totalprice")).as("rev"))
      val ranked = graft.ops.Ranks.withGlobalRowNumber(daily, Seq(col("dt")))
      // the first row finds no rank−1 predecessor: delta stays NULL, as LAG defines
      val prev = ranked.select((col("__rn") + 1).as("__rn"), col("rev").as("__prev"))
      ranked.join(prev, Seq("__rn"), "left")
        .select(col("dt"), col("rev"), (col("rev") - col("__prev")).as("delta"))
        .orderBy(col("dt"))
    }),

    // ---- NTILE under a total order: quartiles as rank arithmetic over a
    // range-partitioned global row number (Ranks.ntileFromRank, pinned
    // against ntile() by RanksSpec and RangeSortSpec) — an ntile() window
    // moves EVERY order row through ONE task (partition-less WindowExec),
    // the canonical 100 TB wall ----
    "q96_ntile" -> ((s, dir) => {
      val ranked = graft.ops.Ranks.withGlobalRowNumber(
        Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice")),
        Seq(col("o_totalprice"), col("o_orderkey")), nName = Some("__n"))
      ranked.select(col("o_orderkey"),
        graft.ops.Ranks.ntileFromRank(4, col("__rn"), col("__n")).as("quartile"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- salted aggregation under the oracle: two-stage (keys, salt) →
    // keys merge must be row-identical to the plain GROUP BY (salting is an
    // execution detail, invisible in the result). Integer value column so
    // the partial-merge order can't perturb float sums ----
    "q97_skew_salted_agg" -> ((s, dir) =>
      graft.ops.Skew.saltedSum(Tables.lineitem(s, dir),
        keys = Seq("l_returnflag"), valueCol = "l_partkey", saltBuckets = 16)
        .orderBy(col("l_returnflag"))),

    // ---- skew diagnostic: per-key share histogram (find the hot keys
    // before they find you) ----
    "q98_key_histogram" -> ((s, dir) =>
      graft.ops.Skew.keyHistogram(Tables.events(s, dir), Seq("event_type"))
        .orderBy(col("n").desc, col("event_type"))),

    // ---- EXCEPT ALL: the MULTISET difference (q17's EXCEPT is the
    // distinct variant) — per-key copies survive count-wise ----
    "q99_except_all" -> ((s, dir) => {
      val all = Tables.orders(s, dir).select(col("o_custkey"))
      val f = Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
        .select(col("o_custkey"))
      all.exceptAll(f).orderBy(col("o_custkey"))
    }),

    // ---- median absolute deviation: the robust dispersion statistic —
    // the exact quantile operator composed twice (median, then median of
    // absolute deviations) ----
    "q100_mad" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      // two range-sorted passes (q92's argument), inherently sequential:
      // the deviations need the medians
      val med = graft.ops.Quantiles.exactQuantilesSpread(
        li, "l_extendedprice", Seq("l_returnflag"), Seq(0.5), Seq("med"))
      val dev = li.join(broadcast(med), "l_returnflag")
        .select(col("l_returnflag"), abs(col("l_extendedprice") - col("med")).as("adev"))
      graft.ops.Quantiles.exactQuantilesSpread(dev, "adev", Seq("l_returnflag"), Seq(0.5), Seq("mad"))
        .select(col("l_returnflag"), round(col("mad"), 6).as("mad"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- the optimizer rule under the oracle gate: this is PLAIN window
    // syntax (row_number <= 3, rank dropped) — RowNumberTopKRewrite plans
    // it as the bounded-heap TopKPerKey operator (asserted in TopKSpec);
    // rows must equal the window semantics exactly ----
    "q87_window_topk_rewrite" -> ((s, dir) => {
      graft.extensions.GraftExtensions.register(s)
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderpriority"), col("o_totalprice").desc, col("o_orderkey"))
    }),

    // ---- null-safe anti join under the oracle gate: NULL keys must match
    // NULL keys (plain equality would re-append them forever) ----
    "q83_antijoin_nullsafe" -> ((s, dir) => {
      import s.implicits._
      val src = Tables.orders(s, dir)
        .select(col("o_orderkey"), expr("nullif(o_orderkey % 10, 5)").as("bucket"))
      val ex = Seq[Option[Long]](None, Some(2L), Some(4L), Some(6L), Some(8L)).toDF("bucket")
      IncrementalLoader.newRowsNullSafe(src, ex, Seq("bucket"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- snapshot-committed MERGE under the oracle gate: write the table
    // as a snapshot, merge a batch (updates + inserts) through the manifest
    // commit, read back THROUGH the manifest — rows must equal the plain
    // relational upsert (q81's semantics, now with atomic visibility) ----
    "q101_snapshot_merge" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderdate").as("dt"), col("o_orderstatus"))
      val tbl = java.nio.file.Files.createTempDirectory("graft-q101").toString
      graft.catalog.SnapshotTable.write(s, o, tbl)
      val updates = o.filter(pmod(col("o_orderkey"), lit(100)) === 0)
        .withColumn("o_orderstatus", lit("X"))
      val inserts = o.filter(pmod(col("o_orderkey"), lit(500)) === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          col("dt"), col("o_orderstatus"))
      graft.catalog.SnapshotTable.merge(s, updates.unionByName(inserts), tbl,
        keys = Seq("o_orderkey", "dt"))
      graft.catalog.SnapshotTable.read(s, tbl)
        .orderBy(col("o_orderkey"), col("dt"))
    }),

    // ---- snapshot compaction under the oracle gate: two appends, one
    // compact — the read-back multiset must be exactly the union (compaction
    // is pure layout, invisible to rows) ----
    "q102_snapshot_compact" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      val tbl = java.nio.file.Files.createTempDirectory("graft-q102").toString
      graft.catalog.SnapshotTable.write(s,
        li.filter(pmod(col("l_orderkey"), lit(2)) === 0), tbl)
      graft.catalog.SnapshotTable.append(s,
        li.filter(pmod(col("l_orderkey"), lit(2)) === 1), tbl)
      graft.catalog.SnapshotTable.compact(s, tbl, targetBytes = Long.MaxValue)
      graft.catalog.SnapshotTable.read(s, tbl)
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // ---- incrementally-maintained rollup under the oracle gate: three
    // loads folded through mergeable partial-aggregate state must equal ONE
    // full aggregation of everything (the materialized-view invariant) ----
    "q103_incremental_rollup" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val keys = Seq("l_returnflag", "l_linestatus")
      val ms = Seq("l_quantity", "l_extendedprice")
      val states = (0 until 3).map(i =>
        graft.ingest.IncrementalRollup.aggState(
          li.filter(pmod(col("l_orderkey"), lit(3)) === i), keys, ms))
      val state = states.reduce((a, b) =>
        graft.ingest.IncrementalRollup.mergeState(a, b, keys, ms))
      graft.ingest.IncrementalRollup.finalize(state, ms)
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // ---- the full incremental-consumption loop under the oracle gate:
    // three appends to a snapshot table, rollup folded ONLY from each
    // version window's changesBetween (never a full table scan) — must
    // equal one full aggregation of everything ----
    "q104_rollup_from_changes" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_linestatus"),
          col("l_quantity"), col("l_extendedprice"))
      val tbl = java.nio.file.Files.createTempDirectory("graft-q104").toString
      (0 until 3).foreach(i => graft.catalog.SnapshotTable.append(s,
        li.filter(pmod(col("l_orderkey"), lit(3)) === i), tbl))
      val keys = Seq("l_returnflag", "l_linestatus")
      val ms = Seq("l_quantity", "l_extendedprice")
      val state = (0L until 3L).map(v =>
        graft.ingest.IncrementalRollup.aggState(
          graft.catalog.SnapshotTable.changesBetween(s, tbl, v, v + 1), keys, ms))
        .reduce((a, b) => graft.ingest.IncrementalRollup.mergeState(a, b, keys, ms))
      graft.ingest.IncrementalRollup.finalize(state, ms)
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // ---- snapshot rollback under the oracle gate: base write, then a junk
    // append and a junk delete, then rollback to version 1 — the read-back
    // must be exactly the base table (RESTORE is metadata-only; the bad
    // commits stay in history) ----
    "q105_snapshot_rollback" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderdate").as("dt"), col("o_totalprice"))
      val tbl = java.nio.file.Files.createTempDirectory("graft-q105").toString
      graft.catalog.SnapshotTable.write(s, o, tbl) // v1
      graft.catalog.SnapshotTable.append(s,
        o.filter(pmod(col("o_orderkey"), lit(10)) === 0)
          .select(col("o_orderkey") + 20000000L, col("dt"), col("o_totalprice")), tbl) // v2
      graft.catalog.SnapshotTable.delete(s, tbl, pmod(col("o_orderkey"), lit(7)) === 0) // v3
      graft.catalog.SnapshotTable.rollback(s, tbl, 1L) // v4 == v1
      graft.catalog.SnapshotTable.read(s, tbl).orderBy(col("o_orderkey"), col("dt"))
    }),

    // ---- deterministic corpus shuffle + fixed-size sharding: every row's
    // exact (shard, pos) placement in md5(id, seed) order — computed
    // hierarchically (bucket windows + offset lift), never through a global
    // single-task window ----
    "q106_shuffle_shard" -> ((s, dir) =>
      graft.ops.Shards.deterministicShards(
        Tables.documents(s, dir), seed = 42L, shardSize = 64L)
        .orderBy(col("doc_id"))),

    // ---- corpus-level paragraph dedup (C4/RefinedWeb recipe): the fixture
    // plants cross-document repeats by suffixing every doc with the text of
    // doc (id mod 100); first corpus-wide occurrence survives, repeats drop,
    // docs reassemble from surviving paragraphs ----
    "q107_paragraph_dedup" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val b = d.select(col("doc_id").as("bid"), col("text").as("btext"))
      val fixture = d.join(b, col("bid") === pmod(col("doc_id"), lit(100)))
        .select(col("doc_id"), concat(col("text"), lit("\n\n"), col("btext")).as("text"))
      Dedup.paragraphDedup(fixture).orderBy(col("doc_id"))
    }),

    // ---- corpus-trained bigram LM surprisal (CCNet-style quality signal):
    // add-k-smoothed bigram NLL per document, counts trained on the corpus
    // itself ----
    "q108_bigram_surprisal" -> ((s, dir) =>
      graft.text.TextPipelines.bigramSurprisal(Tables.documents(s, dir))
        .orderBy(col("doc_id"))),

    // ---- LATERAL-FLATTEN surface (Snowflake FLATTEN ≙ Spark explode):
    // corpus token frequency, top-20 by (count desc, token) — the explode
    // and empty-filter stay in whole-stage codegen, shuffle carries
    // (token, partial count) ----
    "q109_flatten_tokens" -> ((s, dir) =>
      graft.text.TextPipelines.tokenFrequency(Tables.documents(s, dir), topN = 20)),

    // ---- time-series densification: every (priority, day) cell of the
    // order-date span, missing days forward-filled from the last observed
    // daily revenue (decimal-exact sums; NULL before first observation) ----
    "q110_gap_fill" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderpriority").as("priority"), col("o_orderdate"), col("o_totalprice"))
      graft.analytics.Analytics.densifyDaily(o, "priority", "o_orderdate",
        graft.analytics.Analytics.dsum(col("o_totalprice")), "revenue_ffill")
        .orderBy(col("priority"), col("day"))
    }),

    // ---- deterministic train/val/test split: membership is a pure
    // function of md5(doc_id) against cumulative hex thresholds — re-runs,
    // engines, and shards agree, no RNG ----
    "q111_hash_split" -> ((s, dir) =>
      graft.text.TextPipelines.deterministicSplit(
        Tables.documents(s, dir), col("doc_id"),
        Seq("test" -> 0.05, "val" -> 0.05, "train" -> 0.9))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
        .orderBy(col("split"))),

    // ---- per-column data profile in ONE pass (nulls / exact distincts /
    // decimal-canonicalized bounds): the promotion gate a 100 TB ingest
    // runs before publishing a batch ----
    "q112_profile" -> ((s, dir) =>
      graft.analytics.Analytics.profileColumns(Tables.customer(s, dir),
        Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))),

    // ---- collocation extraction: top-30 bigrams by PMI over bigrams seen
    // ≥5 times — unigram counts join the DISTINCT bigram keys, totals ride
    // 1-row broadcasts ----
    "q113_pmi_collocations" -> ((s, dir) =>
      graft.text.TextPipelines.pmiCollocations(Tables.documents(s, dir),
        minCount = 5, topN = 30)),

    // ---- k-means ASSIGNMENT, the deterministic half of clustering: every
    // embedding to its nearest of 4 fixed centroids (spherical argmax,
    // ties to the higher cid), per-cluster sizes + min/max cosine. The
    // centroids are integer-arithmetic constants both engines spell
    // identically (the q116 trick), so this half is hash-gated; the
    // iterative Lloyd FIT stays spec-gated by planted-cluster recovery
    // (SimilaritySpec/CurationOpsSpec) ----
    "q114_kmeans_assign" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
      graft.similarity.Similarity.assignEmbeddings(e, KmeansCentroids)
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"),
          round(min(col("score")), 6).as("lo"), round(max(col("score")), 6).as("hi"))
        .orderBy(col("cluster"))
    }),

    // ---- BPE APPLY, the deterministic half of tokenization: segment every
    // document's words with a FIXED merge table (rank order, Sennrich's
    // apply discipline) and count pieces per document. Hash-gated against
    // a DuckDB oracle that replays the exact left-fold per merge as
    // unrolled recursive CTEs; the iterative merge TRAINING stays
    // spec-gated by the textbook walkthrough (CurationOpsSpec) ----
    "q115_bpe_apply" -> ((s, dir) =>
      graft.text.TextPipelines.bpeTokenCounts(Tables.documents(s, dir), BpeFixedMerges)
        .orderBy(col("doc_id"))),

    // ---- PageRank centrality, 5 fixed power iterations over an
    // orders-derived topology — fixed iteration count is what makes the
    // recurrence oracle-expressible as unrolled CTEs; the constants are
    // written identically on both sides so even (1 − d)/N matches
    // bit-for-bit before the final 6dp rounding ----
    "q116_pagerank" -> ((s, dir) => {
      val edges = Tables.orders(s, dir)
        .select(col("o_custkey").as("src"), pmod(col("o_orderkey"), lit(1500)).as("dst"))
        .filter(col("src") =!= col("dst"))
      graft.ops.Graph.pageRank(edges, iters = 5).orderBy(col("v"))
    }),

    // ---- the remaining rank-family windows in one pass: PERCENT_RANK /
    // CUME_DIST (frame-independent) and FIRST_VALUE / NTH_VALUE over an
    // explicit running frame (both engines default differently — spelling
    // the frame keeps the gate exact); (price, key) ordering is total, so
    // every rank is deterministic ----
    "q117_window_stats" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // materialized before the range-sampled sort — see q71 (here the
      // re-executed child is the whole window compute off its shuffle)
      graft.util.Caching.materialize(
        Tables.orders(s, dir).select(
          col("o_orderkey"), col("o_orderpriority"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"),
          first(col("o_totalprice")).over(run).as("min_price"),
          nth_value(col("o_totalprice"), 2).over(run).as("second_price")))
        .orderBy(col("o_orderkey"))
    }),

    // ---- incrementally-maintained JOIN view: three loads of MISALIGNED
    // order/lineitem deltas (mod-3 vs mod-5 splits, so ΔA⋈B, A⋈ΔB and
    // ΔA⋈ΔB all contribute) folded by the delta rule — the aggregated view
    // must equal one full join the oracle computes directly ----
    "q118_incremental_join" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority"))
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"), col("l_extendedprice"))
      val loads = (0 until 3).map(i => (
        o.filter(pmod(col("o_orderkey"), lit(3)) === i),
        li.filter(pmod(col("o_orderkey"), lit(5)) === i)))
      val (view, _, _) = graft.ingest.IncrementalJoin.foldView(loads, Seq("o_orderkey"))
      view.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("revenue"))
        .orderBy(col("o_orderpriority"))
    }),

    // ---- correlated LATERAL subquery (Snowflake/pg LATERAL, Spark 3.4+
    // lateral join): per-nation top-2 customers through the SQL surface —
    // Catalyst decorrelates the ordered-limit subquery; same total-order
    // tie-break on both engines ----
    "q119_lateral_topk" -> ((s, dir) => {
      Tables.nation(s, dir).createOrReplaceTempView("nation")
      Tables.customer(s, dir).createOrReplaceTempView("customer")
      s.sql("""
        SELECT n.n_name, c.c_name, c.c_acctbal
        FROM nation n,
        LATERAL (SELECT c_name, c_acctbal FROM customer
                 WHERE c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_name LIMIT 2) c
        ORDER BY n.n_name, c.c_acctbal DESC, c.c_name""")
    }),

    // ---- RETRACTION-capable incremental join view (Z-relation algebra):
    // three loads of signed deltas — inserts, double-inserts, retractions
    // on both sides — folded through signedJoinDelta; the oracle computes
    // each row's NET multiplicity closed-form and joins once. Gates that
    // a retraction cancels exactly the view rows its insert produced ----
    "q120_ivm_retract" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_custkey").as("k"), col("o_orderkey").as("a_id"))
      val c = Tables.customer(s, dir).select(col("c_custkey").as("k"), col("c_nationkey").as("nat"))
      def m(df: DataFrame, mult: Long) = df.withColumn("mult", lit(mult))
      def aMod(i: Int) = o.filter(pmod(col("a_id"), lit(3)) === i)
      val loads = Seq(
        (m(aMod(0), 1L), m(c, 1L)),
        (m(aMod(1), 1L)
          .unionByName(m(aMod(0).filter(pmod(col("a_id"), lit(5)) === 0), -1L)),
          m(c.limit(0), 1L)),
        (m(aMod(2), 1L)
          .unionByName(m(aMod(1).filter(pmod(col("a_id"), lit(5)) === 0), -1L))
          .unionByName(m(aMod(0).filter(pmod(col("a_id"), lit(7)) === 0), 1L)),
          m(c.filter(pmod(col("k"), lit(10)) === 0), -1L)))
      val (view, _, _) = graft.ingest.IncrementalJoin.foldSignedView(loads, Seq("k"))
      view.select(col("k"), col("a_id"), col("nat"), col("mult"))
        .orderBy(col("k"), col("a_id"))
    }),

    // ---- RETRACTION-capable incremental rollup (subtractable aggregates
    // only — min/max stay on the append-only path by design): three signed
    // loads with a retraction wave folded through decimal-exact state; the
    // oracle weights every fact by its closed-form net multiplicity and
    // aggregates once ----
    "q121_rollup_retract" -> ((s, dir) => {
      import graft.ingest.IncrementalRollup
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"),
        col("l_returnflag"), col("l_linestatus"),
        col("l_quantity"), col("l_extendedprice"))
      val keys = Seq("l_returnflag", "l_linestatus")
      val ms = Seq("l_quantity", "l_extendedprice")
      def m(df: DataFrame, mult: Long) = df.withColumn("mult", lit(mult))
      def slice(i: Int) = li.filter(pmod(col("l_orderkey"), lit(3)) === i)
      def retractWave(i: Int) = slice(i).filter(pmod(col("l_orderkey"), lit(5)) === 0)
      val loads = Seq(
        m(slice(0), 1L),
        m(slice(1), 1L).unionByName(m(retractWave(0), -1L)),
        m(slice(2), 1L).unionByName(m(retractWave(1), -1L)))
      val state = loads.map(d => IncrementalRollup.signedAggState(d, keys, ms))
        .reduce((a, b) => IncrementalRollup.mergeSignedState(a, b, keys, ms))
      IncrementalRollup.finalize(state, ms)
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // ---- incremental COUNT DISTINCT via mergeable HLL sketch state
    // (DataSketches hll_sketch_agg/hll_union_agg): three loads folded as
    // sketch unions, estimates read at the end. Cardinalities here sit in
    // the sketch's coupon (sparse) regime, where the estimate IS the exact
    // count — so plain COUNT(DISTINCT) oracles it exactly; beyond that
    // regime the same state degrades to ±~1% with O(2^lgK) bytes/group ----
    "q122_rollup_distinct" -> ((s, dir) => {
      import graft.ingest.IncrementalRollup
      // both distinct domains are MODULO-BOUNDED (2000 and 5000) so the
      // lgK-16 coupon-set regime (exact to 2^16/4 = 16384) holds at ANY
      // scale factor — raw l_suppkey would leave the exact regime past
      // ~SF 1.6 and turn this gate into a false alarm
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_returnflag"),
        pmod(col("l_suppkey"), lit(2000)).as("supp_bucket"),
        pmod(col("l_orderkey"), lit(5000)).as("okey_bucket"))
      val keys = Seq("l_returnflag")
      val cols = Seq("supp_bucket", "okey_bucket")
      val states = (0 until 3).map(i => IncrementalRollup.distinctState(
        li.filter(pmod(col("l_orderkey"), lit(3)) === i), keys, cols, lgConfigK = 16))
      val state = states.reduce((a, b) => IncrementalRollup.mergeDistinctState(a, b, keys, cols))
      IncrementalRollup.finalizeDistinct(state, cols).orderBy(col("l_returnflag"))
    }),

    // ---- planner-integrated snapshot relation (custom FileIndex, the
    // Delta TahoeFileIndex seam): the committed table read through
    // SnapshotTable.read, filtered and aggregated through the ordinary DataFrame
    // surface — manifest pruning happens at planning time invisibly
    // (asserted by SnapshotRelationSpec's numFiles metrics; here the
    // oracle gates end-to-end row fidelity of the scan path) ----
    "q123_snapshot_relation" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"),
        col("o_orderdate").cast("string").as("dt"),
        col("o_orderpriority"), col("o_totalprice"))
      val tbl = java.nio.file.Files.createTempDirectory("graft-q123").toString
      (0 until 3).foreach { k =>
        val part = o.filter(pmod(col("o_orderkey"), lit(3)) === k)
        if (k == 0) graft.catalog.SnapshotTable.write(s, part, tbl)
        else graft.catalog.SnapshotTable.append(s, part, tbl)
      }
      graft.catalog.SnapshotTable.read(s, tbl)
        .filter(col("o_totalprice") > 150000.0)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          graft.analytics.Analytics.dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderpriority"))
    }),

    // ---- incremental PERCENTILES from mergeable histogram state: bin
    // counts add across loads (order statistics don't), the readout is
    // deterministic integer arithmetic with error bounded by one bin
    // width — so the folded state AND the quantile walk replicate exactly
    // in SQL, unlike GK/KLL sketch internals ----
    "q124_hist_quantiles" -> ((s, dir) => {
      import graft.ingest.IncrementalRollup
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_extendedprice"))
      val keys = Seq("l_returnflag")
      val states = (0 until 3).map(i => IncrementalRollup.histState(
        li.filter(pmod(col("l_orderkey"), lit(3)) === i), keys, "l_extendedprice", 1000.0))
      val state = states.reduce((a, b) => IncrementalRollup.mergeHistState(a, b, keys))
      IncrementalRollup.quantilesFromHist(state, keys, 1000.0,
        Seq(0.5, 0.95), Seq("med", "p95"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- the snapshot table through PURE SQL (DataSourceV2 catalog):
    // write base orders as v-first, append junk, then read the FIRST
    // version back with `VERSION AS OF` — no Scala read API anywhere in
    // the query path. The junk append must be invisible to the pinned
    // version, so the truth is the plain base projection ----
    "q125_sql_version_as_of" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderdate").as("dt"), col("o_totalprice"))
      val tbl = java.nio.file.Files.createTempDirectory("graft-q125").toString
      graft.catalog.SnapshotTable.write(s, o, tbl) // v-first
      graft.catalog.SnapshotTable.append(s,
        o.filter(pmod(col("o_orderkey"), lit(9)) === 0)
          .select(col("o_orderkey") + 30000000L, col("dt"), col("o_totalprice")), tbl)
      s.conf.set("spark.sql.catalog.snap", classOf[graft.catalog.SnapshotCatalog].getName)
      val v0 = graft.catalog.SnapshotTable.versions(s, tbl).head
      s.sql(s"SELECT o_orderkey, dt, o_totalprice FROM snap.`$tbl` VERSION AS OF $v0 " +
        "ORDER BY o_orderkey, dt")
    }),

    // ---- row-level change feed across a MERGE commit: write base orders
    // as v1, merge one batch that updates every o_orderkey%7 row (negated
    // price) and inserts fresh keys, then read the per-row changes of the
    // commit — update pre/post images carry old/new values, carried rows
    // rewritten value-identical stay silent, inserts surface once. The
    // oracle reproduces the diff from the base table alone ----
    "q126_row_changes" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderdate").as("dt"), col("o_totalprice"))
      val tbl = java.nio.file.Files.createTempDirectory("graft-q126").toString
      graft.catalog.SnapshotTable.write(s, o, tbl) // v1
      val batch = o.filter(pmod(col("o_orderkey"), lit(7)) === 0)
        .select(col("o_orderkey"), col("dt"), (-col("o_totalprice")).as("o_totalprice"))
        .unionByName(o.filter(pmod(col("o_orderkey"), lit(11)) === 0)
          .select((col("o_orderkey") + 40000000L).as("o_orderkey"), col("dt"),
            col("o_totalprice")))
      graft.catalog.SnapshotTable.merge(s, batch, tbl, keys = Seq("o_orderkey", "dt")) // v2
      graft.catalog.ChangeFeed.rowChanges(s, tbl, 1L, 2L, Seq("o_orderkey", "dt"))
        .orderBy(col("o_orderkey"), col("dt"), col("_change_type"))
    }),

    // ---- variadic (3-column) Morton interleave, q78's sibling: bit i of
    // column j lands at output bit 3i+j, 21-bit budget per column — the
    // pure function behind Layout.clusterByZN, fully oracle-checkable ----
    "q127_zorder3" -> ((s, dir) =>
      // materialized before the range-sampled sort — see q71
      graft.util.Caching.materialize(
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_linenumber"),
            graft.ops.Layout.zValueN(s,
              col("l_partkey"), col("l_suppkey"), col("l_linenumber")).as("z")))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    // ---- rank() <= k through plain window syntax, planned as the
    // bounded-heap operator in WITH-TIES mode (RowNumberTopKRewrite +
    // TopKPerKey(RankMode)): l_quantity's small-integer domain ties
    // heavily, so the kept row set differs from row_number's and the
    // oracle checks the tie semantics, not just "some top rows" ----
    "q128_rank_topk" -> ((s, dir) => {
      graft.extensions.GraftExtensions.register(s)
      import org.apache.spark.sql.expressions.{Window => W}
      val w = W.partitionBy(col("l_returnflag")).orderBy(col("l_quantity").desc)
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"))
        .withColumn("r", rank().over(w))
        .filter(col("r") <= 2)
        .drop("r")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
    }),

    // ---- the snapshot table's full SQL WRITE surface in one lifecycle:
    // CTAS creates+populates, INSERT INTO appends (an OCC commit), DELETE
    // FROM runs the stats-pruned copy-on-write delete, the final SELECT
    // reads the surviving state — no Scala API anywhere in the query path.
    // The oracle replays the three mutations as set algebra on the base
    // table ----
    "q129_sql_insert_delete" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderdate").as("dt"), col("o_totalprice"))
      val tbl = java.nio.file.Files.createTempDirectory("graft-q129").toString + "/t"
      s.conf.set("spark.sql.catalog.snap", classOf[graft.catalog.SnapshotCatalog].getName)
      o.createOrReplaceTempView("q129_base")
      s.sql(s"CREATE TABLE snap.`$tbl` AS SELECT * FROM q129_base") // atomic CTAS: one commit
      s.sql(s"INSERT INTO snap.`$tbl` " +
        "SELECT o_orderkey + 30000000, dt, o_totalprice FROM q129_base WHERE o_orderkey % 9 = 0")
      s.sql(s"DELETE FROM snap.`$tbl` WHERE o_totalprice > 300000.0")
      s.sql(s"SELECT o_orderkey, dt, o_totalprice FROM snap.`$tbl` ORDER BY o_orderkey, dt")
    }),

    // ---- SQL UPDATE through the row-level-operation (copy-on-write)
    // path: the pmod predicate cannot translate to source filters, so this
    // exercises the full ReplaceData rewrite — group-pruned scan, DSv2
    // parquet batch write, OCC file swap — not the metadata-delete shortcut
    // (graft.catalog.SnapshotRowLevel) ----
    "q130_sql_update" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderdate").as("dt"), col("o_totalprice"))
      val tbl = java.nio.file.Files.createTempDirectory("graft-q130").toString + "/t"
      s.conf.set("spark.sql.catalog.snap", classOf[graft.catalog.SnapshotCatalog].getName)
      graft.catalog.SnapshotTable.write(s, o, tbl)
      s.sql(s"UPDATE snap.`$tbl` SET o_totalprice = o_totalprice * 0.5 " +
        "WHERE o_orderkey % 7 = 0")
      s.sql(s"SELECT o_orderkey, dt, o_totalprice FROM snap.`$tbl` ORDER BY o_orderkey, dt")
    }),

    // ---- SQL MERGE INTO with the full clause set — matched-and DELETE,
    // matched UPDATE, not-matched INSERT — resolved by Spark's merge
    // rewrite into one copy-on-write ReplaceData commit. Source keys are
    // unique (original keys for updates, +50M-shifted keys for inserts),
    // as MERGE requires ----
    "q131_sql_merge" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderdate").as("dt"), col("o_totalprice"))
      val tbl = java.nio.file.Files.createTempDirectory("graft-q131").toString + "/t"
      s.conf.set("spark.sql.catalog.snap", classOf[graft.catalog.SnapshotCatalog].getName)
      graft.catalog.SnapshotTable.write(s, o, tbl)
      o.filter(pmod(col("o_orderkey"), lit(6)) === 0)
        .select(col("o_orderkey"), col("dt"), (col("o_totalprice") * 1.1).as("p"))
        .unionByName(o.filter(pmod(col("o_orderkey"), lit(11)) === 0)
          .select((col("o_orderkey") + 50000000L).as("o_orderkey"), col("dt"),
            col("o_totalprice").as("p")))
        .createOrReplaceTempView("q131_src")
      s.sql(
        s"""MERGE INTO snap.`$tbl` t USING q131_src s ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED AND s.p > 200000.0 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET o_totalprice = s.p
           |WHEN NOT MATCHED THEN INSERT (o_orderkey, dt, o_totalprice)
           |  VALUES (s.o_orderkey, s.dt, s.p)
           |""".stripMargin)
      s.sql(s"SELECT o_orderkey, dt, o_totalprice FROM snap.`$tbl` ORDER BY o_orderkey, dt")
    }),

    // ---- SQL ALTER TABLE ADD COLUMNS: metadata-only additive evolution —
    // pre-evolution rows read NULL for the appended column (no file
    // rewritten), and subsequent inserts resolve against the evolved
    // schema. The oracle replays it as a NULL-extended projection plus the
    // inserted subset ----
    "q132_sql_alter" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderdate").as("dt"), col("o_totalprice"))
      val tbl = java.nio.file.Files.createTempDirectory("graft-q132").toString + "/t"
      s.conf.set("spark.sql.catalog.snap", classOf[graft.catalog.SnapshotCatalog].getName)
      graft.catalog.SnapshotTable.write(s, o, tbl)
      o.createOrReplaceTempView("q132_base")
      s.sql(s"ALTER TABLE snap.`$tbl` ADD COLUMNS (priority STRING)")
      s.sql(s"INSERT INTO snap.`$tbl` " +
        "SELECT o_orderkey + 70000000, dt, o_totalprice, 'late' " +
        "FROM q132_base WHERE o_orderkey % 10 = 0")
      s.sql(s"SELECT o_orderkey, dt, o_totalprice, priority FROM snap.`$tbl` " +
        "ORDER BY o_orderkey, dt")
    }),

    // ---- SQL maintenance procedures (CALL): compact bin-packs the
    // two-commit table, vacuum (grace 0) drops the expired version's
    // files — and the surviving snapshot must still be EXACTLY the
    // original multiset, which is what the oracle hash-checks ----
    "q133_sql_maintenance" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderdate").as("dt"), col("o_totalprice"))
      val tbl = java.nio.file.Files.createTempDirectory("graft-q133").toString + "/t"
      s.conf.set("spark.sql.catalog.snap", classOf[graft.catalog.SnapshotCatalog].getName)
      graft.catalog.SnapshotTable.write(s, o.filter(pmod(col("o_orderkey"), lit(2)) === 0), tbl)
      graft.catalog.SnapshotTable.append(s, o.filter(pmod(col("o_orderkey"), lit(2)) === 1), tbl)
      s.sql(s"CALL snap.system.compact(table => '$tbl')")
      s.sql(s"CALL snap.system.vacuum(table => '$tbl', keep_versions => 1, grace_ms => 0)")
      s.sql(s"SELECT o_orderkey, dt, o_totalprice FROM snap.`$tbl` ORDER BY o_orderkey, dt")
    }),

    // ---- degree-oriented triangle count on the q116 customer/order-slot
    // graph: the bounded-intermediate algorithm (orient edges low→high by
    // (degree, id), wedge-join at the minimum vertex) against DuckDB's
    // canonical three-way join truth ----
    "q134_triangles" -> ((s, dir) =>
      graft.ops.Graph.triangleCount(
        Tables.orders(s, dir).select(col("o_custkey").as("src"),
          pmod(col("o_orderkey"), lit(15000)).as("dst")))),

    // ---- TIMESTAMP AS OF wall-clock time travel: write base orders (v1),
    // append offset-key junk (v2); v1's monotonic commit stamp, formatted
    // as a UTC SQL literal, resolves to exactly the v1 snapshot (v2's
    // stamp is strictly later by the monotonic-correction invariant) ----
    "q135_sql_timestamp_as_of" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderdate").as("dt"), col("o_totalprice"))
      val tbl = java.nio.file.Files.createTempDirectory("graft-q135").toString + "/t"
      graft.catalog.SnapshotTable.write(s, o, tbl) // v1
      graft.catalog.SnapshotTable.append(s,
        o.filter(pmod(col("o_orderkey"), lit(9)) === 0)
          .select(col("o_orderkey") + 30000000L, col("dt"), col("o_totalprice")), tbl) // v2
      s.conf.set("spark.sql.catalog.snap", classOf[graft.catalog.SnapshotCatalog].getName)
      val t1 = graft.catalog.SnapshotTable.commitTimes(s, tbl).head._2.get
      val ts1 = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.ofEpochMilli(t1))
      s.sql(s"SELECT o_orderkey, dt, o_totalprice FROM snap.`$tbl` TIMESTAMP AS OF '$ts1' " +
        "ORDER BY o_orderkey, dt")
    }),

    // ---- safe type widening over a MIXED file history: half of lineitem
    // lands with narrow types (int line numbers, decimal(5,2) quantities),
    // the schema widens metadata-only (int->bigint, decimal(5,2)->(18,2)),
    // the other half appends with native wide types — one SQL read spans
    // both physical generations and must agree with the all-wide truth ----
    "q136_widen_mixed_read" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir).select(col("l_orderkey"),
        col("l_linenumber").cast("int").as("ln"),
        col("l_quantity").cast("decimal(5,2)").as("qty"))
      val tbl = java.nio.file.Files.createTempDirectory("graft-q136").toString + "/t"
      graft.catalog.SnapshotTable.write(s,
        l.filter(pmod(col("l_orderkey"), lit(2)) === 0), tbl) // v1: narrow files
      graft.catalog.SnapshotTable.alterColumnType(s, tbl, "ln",
        org.apache.spark.sql.types.LongType)
      graft.catalog.SnapshotTable.alterColumnType(s, tbl, "qty",
        org.apache.spark.sql.types.DecimalType(18, 2))
      graft.catalog.SnapshotTable.append(s,
        l.filter(pmod(col("l_orderkey"), lit(2)) === 1)
          .select(col("l_orderkey"), col("ln").cast("long"),
            col("qty").cast("decimal(18,2)")), tbl) // v4: wide files
      s.conf.set("spark.sql.catalog.snap", classOf[graft.catalog.SnapshotCatalog].getName)
      s.sql(s"SELECT l_orderkey, ln, CAST(qty AS DOUBLE) AS qty FROM snap.`$tbl` " +
        "ORDER BY l_orderkey, ln")
    }),

    // ---- merge-on-read DELETE via deletion vectors: SQL DELETE under
    // deleteMode=mor writes per-file position blobs (zero data rewritten —
    // DeletionVectorSpec measures the write-amplification win); the SQL
    // read then applies the vectors inside the scan. The oracle never sees
    // any of that machinery: it is simply the rows that survive ----
    "q137_mor_delete" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir).select(col("l_orderkey"),
        col("l_linenumber").cast("long").as("ln"),
        col("l_quantity").cast("double").as("qty"), col("l_returnflag"))
      val tbl = java.nio.file.Files.createTempDirectory("graft-q137").toString + "/t"
      graft.catalog.SnapshotTable.write(s, l, tbl)
      s.conf.set("spark.sql.catalog.snap", classOf[graft.catalog.SnapshotCatalog].getName)
      s.conf.set("graft.snapshot.deleteMode", "mor")
      try s.sql(s"DELETE FROM snap.`$tbl` WHERE l_returnflag = 'R'")
      finally s.conf.unset("graft.snapshot.deleteMode")
      s.sql(s"SELECT l_orderkey, ln, qty, l_returnflag FROM snap.`$tbl` " +
        "ORDER BY l_orderkey, ln")
    }),

    // ---- storage-partitioned join through pure SQL: customer and
    // supplier co-partitioned by nation key; with v2 bucketing enabled
    // both scans report KeyGroupedPartitioning over provable one-value-
    // per-file layouts and the join plans with ZERO shuffles on either
    // side (ManifestPlanningSpec asserts the plan shape; this gate
    // asserts the rows) ----
    "q138_spj_join" -> ((s, dir) => {
      // the %50 customer slice is part of the fixture (pre-filtered so the
      // gate's cost is the join under test, not bulk table writes); the
      // oracle applies the same slice
      val c = Tables.customer(s, dir)
        .filter(pmod(col("c_custkey"), lit(50)) === 0)
        .select(col("c_custkey"), col("c_nationkey").as("nk"), col("c_acctbal"))
      val sup = Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_nationkey").as("nk"), col("s_acctbal"))
      val base = fixture("q138", dir) { base =>
        graft.catalog.SnapshotTable.write(s, c, s"$base/c", partitionCols = Some(Seq("nk")))
        graft.catalog.SnapshotTable.write(s, sup, s"$base/s", partitionCols = Some(Seq("nk")))
      }
      s.conf.set("spark.sql.catalog.snap", classOf[graft.catalog.SnapshotCatalog].getName)
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.sql(s"SELECT c.nk, c.c_custkey, sup.s_suppkey " +
        s"FROM snap.`$base/c` c JOIN snap.`$base/s` sup ON c.nk = sup.nk " +
        "ORDER BY c.nk, c.c_custkey, sup.s_suppkey")
    }),

    // ---- manifest-answered aggregate: count(*)/count(col)/min/max over
    // long, nullable-long, and date columns collapse to a LocalTableScan
    // fed from the manifest — ZERO file reads, zero tasks (the Snowflake
    // metadata-answer pattern; ManifestPlanningSpec asserts the plan).
    // The oracle computes the same values the hard way ----
    "q139_manifest_agg" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"),
        col("o_orderdate").cast("date").as("dt"),
        when(pmod(col("o_orderkey"), lit(7)) =!= 0, col("o_custkey")).as("ck"))
      val tbl = fixture("q139", dir) { base =>
        graft.catalog.SnapshotTable.write(s, o, s"$base/t")
      } + "/t"
      s.conf.set("spark.sql.catalog.snap", classOf[graft.catalog.SnapshotCatalog].getName)
      s.sql(s"SELECT count(*) AS cnt, count(ck) AS cntck, " +
        "min(o_orderkey) AS mn, max(o_orderkey) AS mx, " +
        s"min(dt) AS mind, max(dt) AS maxd FROM snap.`$tbl`")
    }),

    // ---- manifest aggregate GROUPED by the identity partition column:
    // one-value-per-file routing makes per-group totals pure metadata —
    // one local row per partition value, still zero file reads ----
    "q140_manifest_agg_grouped" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(pmod(col("o_orderkey"), lit(8)).as("g"), col("o_orderkey"))
      val tbl = fixture("q140", dir) { base =>
        graft.catalog.SnapshotTable.write(s, o, s"$base/t", partitionCols = Some(Seq("g")))
      } + "/t"
      s.conf.set("spark.sql.catalog.snap", classOf[graft.catalog.SnapshotCatalog].getName)
      s.sql(s"SELECT g, count(*) AS cnt, min(o_orderkey) AS mn, " +
        s"max(o_orderkey) AS mx FROM snap.`$tbl` GROUP BY g ORDER BY g")
    }),

    // ---- runtime (DPP-style) file pruning: a selective dimension filter
    // materializes at execution, lands on the partitioned fact scan as an
    // IN predicate, and manifest stats drop every non-matching file
    // before any task launches (ManifestPlanningSpec measures the file
    // drop; this gate asserts result parity through that path) ----
    "q141_runtime_prune_join" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey").as("nk"))
      val tbl = fixture("q141", dir) { base =>
        graft.catalog.SnapshotTable.write(s, c, s"$base/t", partitionCols = Some(Seq("nk")))
      } + "/t"
      s.conf.set("spark.sql.catalog.snap", classOf[graft.catalog.SnapshotCatalog].getName)
      Tables.nation(s, dir).createOrReplaceTempView("q141_nation")
      s.sql(s"SELECT f.nk, count(*) AS cnt, min(f.c_custkey) AS mn, " +
        s"max(f.c_custkey) AS mx FROM snap.`$tbl` f " +
        "JOIN q141_nation d ON f.nk = d.n_nationkey WHERE d.n_regionkey = 1 " +
        "GROUP BY f.nk ORDER BY f.nk")
    }),

    // ---- BUCKET-transform storage-partitioned join: orders and customer
    // bucketed 16 ways on the customer key (the co-located layout for a
    // join key with millions of values, where identity partitioning would
    // explode); with v2 bucketing on, the join plans shuffle-free on both
    // sides — BucketPartitionSpec asserts the plan and the routing; this
    // gate asserts the rows through that exact path ----
    "q142_bucket_spj" -> ((s, dir) => {
      val o = Tables.orders(s, dir).filter(pmod(col("o_orderkey"), lit(20)) === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
      val base = fixture("q142", dir) { base =>
        graft.catalog.SnapshotTable.write(s, o, s"$base/o",
          partitionCols = Some(Seq("bucket(16,o_custkey)")))
        graft.catalog.SnapshotTable.write(s, c, s"$base/c",
          partitionCols = Some(Seq("bucket(16,c_custkey)")))
      }
      s.conf.set("spark.sql.catalog.snap", classOf[graft.catalog.SnapshotCatalog].getName)
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.sql(s"SELECT o.o_orderkey, o.o_custkey, c.c_nationkey, o.o_totalprice " +
        s"FROM snap.`$base/o` o JOIN snap.`$base/c` c ON o.o_custkey = c.c_custkey " +
        "ORDER BY o.o_orderkey")
    }),

    // ---- bucket point-lookup pruning: an IN-list on the bucketed key
    // reads only the admissible buckets' files (guaranteed 1/n, no value
    // ranges needed — BucketPartitionSpec measures the file cut); the
    // gate asserts no surviving row was lost to the pruning ----
    "q143_bucket_pointlookup" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir).select(col("l_orderkey"),
        col("l_linenumber").cast("long").as("ln"), col("l_partkey"),
        col("l_quantity").cast("double").as("qty"))
      val tbl = fixture("q143", dir) { base =>
        graft.catalog.SnapshotTable.write(s, l, s"$base/t",
          partitionCols = Some(Seq("bucket(32,l_partkey)")))
      } + "/t"
      s.conf.set("spark.sql.catalog.snap", classOf[graft.catalog.SnapshotCatalog].getName)
      s.sql(s"SELECT l_orderkey, ln, l_partkey, qty FROM snap.`$tbl` " +
        "WHERE l_partkey IN (1, 500, 999) ORDER BY l_orderkey, ln")
    }),

    // ---- HIDDEN temporal partitioning (Iceberg's months transform): the
    // table is laid out by months(l_shipdate) — ~84 directories, the 100 TB
    // time-series layout — while the QUERY filters on the raw date column;
    // the monotone transform maps the range predicate to a directory
    // ordinal range, so only ~12 months of files are read
    // (TemporalPartitionSpec measures the cut); the gate asserts the
    // pruned read loses no row ----
    "q144_temporal_hidden" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir).select(col("l_shipdate"), col("l_returnflag"),
        col("l_quantity").cast("double").as("qty"),
        col("l_extendedprice").cast("double").as("price"))
      val tbl = fixture("q144", dir) { base =>
        graft.catalog.SnapshotTable.write(s, l, s"$base/t",
          partitionCols = Some(Seq("months(l_shipdate)")))
      } + "/t"
      s.conf.set("spark.sql.catalog.snap", classOf[graft.catalog.SnapshotCatalog].getName)
      s.sql(s"SELECT l_returnflag, count(*) AS n, round(sum(qty), 2) AS sum_qty, " +
        s"round(sum(price), 2) AS sum_price FROM snap.`$tbl` " +
        "WHERE l_shipdate >= DATE'1995-01-01' AND l_shipdate < DATE'1996-01-01' " +
        "GROUP BY l_returnflag ORDER BY l_returnflag")
    }),

    // ---- truncate-transform range pruning: orders laid out by
    // truncate(256, o_custkey) (fixed-width key bands — the layout when
    // ranges matter but identity would explode); a BETWEEN on the raw key
    // reads only the overlapping bands ----
    "q145_truncate_range" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_custkey"), col("o_orderkey"),
        col("o_totalprice").cast("double").as("price"))
      val tbl = fixture("q145", dir) { base =>
        graft.catalog.SnapshotTable.write(s, o, s"$base/t",
          partitionCols = Some(Seq("truncate(256,o_custkey)")))
      } + "/t"
      s.conf.set("spark.sql.catalog.snap", classOf[graft.catalog.SnapshotCatalog].getName)
      s.sql(s"SELECT o_custkey, o_orderkey, price FROM snap.`$tbl` " +
        "WHERE o_custkey BETWEEN 300 AND 700 ORDER BY o_orderkey")
    }),

    // ---- PARTITION EVOLUTION: the table starts identity-partitioned,
    // evolves to months(o_orderdate) as a METADATA-ONLY commit, then takes
    // an append that routes by the new spec — the query reads the MIXED
    // layout (old files conservative, new files month-pruned) and must
    // lose no row; PartitionEvolutionSpec asserts the layout mechanics,
    // this gate asserts end-to-end result fidelity ----
    "q146_partition_evolution" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderpriority"), col("o_orderdate"),
        col("o_totalprice").cast("double").as("price"))
      val tbl = fixture("q146", dir) { base =>
        val t = s"$base/t"
        graft.catalog.SnapshotTable.write(s, o.filter(col("o_orderkey") % 3 =!= 0), t,
          partitionCols = Some(Seq("o_orderpriority")))
        graft.catalog.SnapshotTable.setPartitionSpec(s, t, Seq("months(o_orderdate)"))
        graft.catalog.SnapshotTable.append(s, o.filter(col("o_orderkey") % 3 === 0), t)
      } + "/t"
      s.conf.set("spark.sql.catalog.snap", classOf[graft.catalog.SnapshotCatalog].getName)
      s.sql(s"SELECT o_orderpriority, count(*) AS n, round(sum(price), 2) AS sum_price " +
        s"FROM snap.`$tbl` " +
        "WHERE o_orderdate >= DATE'1994-01-01' AND o_orderdate < DATE'1995-01-01' " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority")
    }),

    // ---- Z-ORDERED COMPACTION (OPTIMIZE ZORDER): the rewrite Morton-
    // clusters (l_partkey, l_suppkey) so point/range predicates on EITHER
    // column prune files (ZOrderCompactionSpec measures the file cut); the
    // gate asserts the clustered rewrite is a pure reordering — the
    // filtered read equals the raw-table truth ----
    "q147_zorder_compact" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity").cast("double").as("qty"))
      s.conf.set("spark.sql.catalog.snap", classOf[graft.catalog.SnapshotCatalog].getName)
      val tbl = fixture("q147", dir) { base =>
        val t = s"$base/t"
        graft.catalog.SnapshotTable.write(s, l.repartition(8), t)
        val bytes = graft.catalog.SnapshotTable.currentManifest(s, t).get.entries.map(_.bytes).sum
        s.sql(s"CALL snap.system.compact(table => '$t', " +
          s"target_file_bytes => ${math.max(1L, bytes / 8)}, zorder_by => 'l_partkey,l_suppkey')")
      } + "/t"
      s.sql(s"SELECT l_orderkey, l_partkey, l_suppkey, qty FROM snap.`$tbl` " +
        "WHERE l_partkey BETWEEN 100 AND 120 AND l_suppkey BETWEEN 10 AND 60 " +
        "ORDER BY l_orderkey, l_partkey, l_suppkey, qty")
    }),

    // ---- DROP COLUMN as metadata-only narrowing: the table starts with a
    // junk column, drops it (files untouched — readers stop asking for
    // it), then takes a post-drop append lacking it; the mixed read must
    // equal the never-had-it truth (DropColumnSpec asserts the tombstone/
    // resurrection mechanics) ----
    "q148_drop_column" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("double").as("price"),
        (col("o_orderkey") * 7).as("junk"))
      s.conf.set("spark.sql.catalog.snap", classOf[graft.catalog.SnapshotCatalog].getName)
      val tbl = fixture("q148", dir) { base =>
        val t = s"$base/t"
        graft.catalog.SnapshotTable.write(s, o.filter(col("o_orderkey") % 2 === 0), t)
        s.sql(s"ALTER TABLE snap.`$t` DROP COLUMN junk")
        graft.catalog.SnapshotTable.append(s,
          o.drop("junk").filter(col("o_orderkey") % 2 =!= 0), t)
      } + "/t"
      s.sql(s"SELECT o_custkey, count(*) AS n, round(sum(price), 2) AS sum_price " +
        s"FROM snap.`$tbl` WHERE o_custkey BETWEEN 1 AND 200 " +
        "GROUP BY o_custkey ORDER BY o_custkey")
    }),

    // ---- RENAME COLUMN via name-based column mapping (Delta's
    // columnMapping.mode=name): the logical name moves as a metadata-only
    // commit, the physical (file-stored) name stays, and the mixed read —
    // pre-rename files + a post-rename append — filters and aggregates on
    // the NEW name through the mapping (RenameColumnSpec asserts the
    // mechanics: stats pruning, DML, compaction, tombstone interplay) ----
    "q149_rename_column" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("double").as("totprice"))
      s.conf.set("spark.sql.catalog.snap", classOf[graft.catalog.SnapshotCatalog].getName)
      val tbl = fixture("q149", dir) { base =>
        val t = s"$base/t"
        graft.catalog.SnapshotTable.write(s, o.filter(col("o_orderkey") % 2 === 0), t)
        s.sql(s"ALTER TABLE snap.`$t` RENAME COLUMN totprice TO price")
        graft.catalog.SnapshotTable.append(s,
          o.withColumnRenamed("totprice", "price").filter(col("o_orderkey") % 2 =!= 0), t)
      } + "/t"
      s.sql(s"SELECT o_custkey, count(*) AS n, round(sum(price), 2) AS sum_price " +
        s"FROM snap.`$tbl` WHERE price > 50000 AND o_custkey BETWEEN 1 AND 400 " +
        "GROUP BY o_custkey ORDER BY o_custkey")
    })
  )

  // ---------------------------------------------------------------- oracles

  /** DuckDB lambda-free token list shared by the text oracles. */
  private val ToksCte =
    "list_filter(string_split_regex(text, '\\s+'), x -> x <> '')"

  /** Shared CTE chain computing distinct 3-token shingles and common-shingle
    * pair counts over the twin-augmented doc set (the q40/q59 truth base).
    */
  private lazy val ShingleCommonCtes: String =
    s"""base AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text || ' zz' FROM documents),
      |toks AS (SELECT doc_id, $ToksCte AS t FROM (SELECT doc_id, LOWER(text) AS text FROM base)),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    UNNEST(list_transform(generate_series(1, GREATEST(LEN(t) - 2, 0)),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      |  FROM toks),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      |common AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)""".stripMargin

  /** Shared exhaustive top-5 oracle over the twin-planted ANN corpus —
    * mirrors [[annQueriesAndTwinCorpus]] (j/128 perturbation on dimension 0;
    * DuckDB lambdas index 1-based, so dimension 0 is i = 1).
    */
  private val AnnTwinOracle: String =
    """WITH q AS (
      |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      |  FROM embeddings WHERE vec_id <= 2),
      |tw AS (
      |  SELECT 2000000 + query_id * 10 + j AS id,
      |    list_transform(qv, (x, i) -> CASE WHEN i = 1 THEN x + j * 0.0078125 ELSE x END) AS v
      |  FROM q, (SELECT UNNEST([1, 2, 3, 4, 5]) AS j)),
      |corpus AS (
      |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |  UNION ALL SELECT id, v FROM tw),
      |scored AS (
      |  SELECT q.query_id, c.id AS neighbor_id,
      |    ROUND(list_cosine_similarity(q.qv, c.v), 6) AS score
      |  FROM q, corpus c WHERE c.id <> q.query_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, score,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS rank
      |  FROM scored)
      |SELECT query_id, rank, neighbor_id, score FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** q114's fixed centroids: 4 × 64 constants from integer arithmetic and
    * one division — `((c·31 + j·17) mod 13 − 6) / 6.0` — which Scala and
    * DuckDB evaluate to bit-identical IEEE doubles. Fixing the centroids is
    * what makes the assignment half of k-means SQL-expressible; the Lloyd
    * fit (which would have to reproduce cross-engine float summation order)
    * stays spec-gated.
    */
  private val KmeansCentroids: Seq[Seq[Double]] =
    (0 until 4).map(c => (0 until 64).map(j => ((c * 31 + j * 17) % 13 - 6).toDouble / 6.0))

  /** q115's fixed merge table, rank order. Later merges consume earlier
    * merges' output symbols ("th"+"e") — the sequencing the oracle must
    * replay exactly.
    */
  private val BpeFixedMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "e" -> "r", "a" -> "n",
    "o" -> "n", "r" -> "e", "a" -> "t", "e" -> "n", "o" -> "r")

  /** q114's oracle: the same centroid constants generated by the same
    * integer arithmetic, brute-force cosine argmax (ties to higher cid,
    * matching the engine's max-struct ordering), per-cluster rollup.
    */
  private def kmeansAssignOracle(centroids: Seq[Seq[Double]]): String = {
    val k = centroids.length
    val dim = centroids.head.length
    s"""WITH cents AS (
      |  SELECT CAST(c AS INT) AS c,
      |    list_transform(generate_series(0, ${dim - 1}),
      |      j -> CAST((c*31 + j*17) % 13 - 6 AS DOUBLE) / 6.0) AS cvec
      |  FROM (SELECT UNNEST(generate_series(0, ${k - 1})) AS c)),
      |scored AS (
      |  SELECT e.vec_id, c.c,
      |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec) AS s
      |  FROM embeddings e CROSS JOIN cents c),
      |best AS (
      |  SELECT vec_id, c, s,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, c DESC) AS rn
      |  FROM scored)
      |SELECT c AS cluster, COUNT(*) AS n, ROUND(MIN(s), 6) AS lo, ROUND(MAX(s), 6) AS hi
      |FROM best WHERE rn = 1 GROUP BY c ORDER BY c""".stripMargin
  }

  /** q115's oracle: one recursive CTE per merge replaying EXACTLY the
    * engine's per-word left fold (merge the current symbol into the
    * accumulator's tail when (tail, current) = (left, right)). Built by a
    * loop over the same merge table the Spark side applies, so table and
    * unroll can never drift. A greedy string-replace formulation is NOT
    * equivalent (repeated-symbol runs share delimiters across occurrences
    * and converge to a different segmentation) — the fold must be literal.
    */
  private def bpeApplyOracle(merges: Seq[(String, String)]): String = {
    def q(s: String) = s.replace("'", "''")
    val folds = merges.zipWithIndex.map { case ((a, b), i) =>
      s"""f$i AS (
        |  SELECT w, syms AS rest, CAST([] AS VARCHAR[]) AS acc FROM in$i
        |  UNION ALL
        |  SELECT w, rest[2:],
        |    CASE WHEN len(acc) > 0 AND acc[len(acc)] = '${q(a)}' AND rest[1] = '${q(b)}'
        |      THEN list_append(acc[1:len(acc)-1], '${q(a + b)}')
        |      ELSE list_append(acc, rest[1]) END
        |  FROM f$i WHERE len(rest) > 0),
        |in${i + 1} AS (SELECT w, acc AS syms FROM f$i WHERE len(rest) = 0)""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE
      |words AS (SELECT doc_id, UNNEST($ToksCte) AS w
      |  FROM (SELECT doc_id, LOWER(text) AS text FROM documents)),
      |dict AS (SELECT DISTINCT w FROM words),
      |in0 AS (SELECT w, string_split(w, '') AS syms FROM dict),
      |$folds,
      |seg AS (SELECT w, CAST(len(syms) AS INT) AS pieces FROM in${merges.length})
      |SELECT doc_id, COUNT(*) AS n_words, CAST(SUM(pieces) AS BIGINT) AS n_bpe_tokens
      |FROM words JOIN seg USING (w) GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** q116's oracle: the same fixed-point-free PageRank recurrence unrolled
    * as one CTE per iteration. Built by a loop so the Spark iteration count
    * and the SQL unroll depth can never drift apart. Constants are spelled
    * so both engines compute identical doubles: `(CAST(1 AS DOUBLE) - 0.85)`
    * is IEEE 1.0−0.85 (= Scala's `1.0 - damping`), NOT DuckDB's exact
    * decimal 0.15.
    */
  private def pageRankOracle(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""r$i AS (
        |  SELECT nd.v AS v,
        |    (CAST(1 AS DOUBLE) - 0.85) / nn.n + 0.85 * COALESCE(c.s, CAST(0 AS DOUBLE)) AS r
        |  FROM nodes nd CROSS JOIN nn
        |  LEFT JOIN (
        |    SELECT e.dst AS v, SUM(p.r / d.deg) AS s
        |    FROM edges e JOIN r${i - 1} p ON p.v = e.src JOIN deg d ON d.src = e.src
        |    GROUP BY e.dst) c ON c.v = nd.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
      |  SELECT DISTINCT o_custkey AS src, o_orderkey % 1500 AS dst
      |  FROM orders WHERE o_custkey <> o_orderkey % 1500),
      |nodes AS (SELECT src AS v FROM edges UNION SELECT dst FROM edges),
      |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
      |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
      |r0 AS (SELECT v, CAST(1 AS DOUBLE) / n AS r FROM nodes, nn),
      |$iterCtes
      |SELECT v, ROUND(r, 6) AS rank FROM r$iters ORDER BY v""".stripMargin
  }

  /** Cross-corpus verbatim-dedup truth, shared by q162 (cache-pinned
    * prepared reference) and q164 (table-backed reference): every
    * CROSS-side pair (original id < 1000000 as reference, twin ≥ 1000000
    * as the fresh dump) above the exact-Jaccard cut, nothing within-side.
    */
  private lazy val CrossDedupOracleSql: String =
    s"""WITH $ShingleCommonCtes
      |SELECT id_b AS new_id, id_a AS ref_id,
      |  CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
      |FROM common JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
      |WHERE id_a < 1000000 AND id_b >= 1000000
      |  AND CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5
      |ORDER BY new_id, ref_id""".stripMargin

  /** Cross-corpus semantic-dedup truth, shared by q163 (cache-pinned
    * prepared cells) and q165 (table-backed cells): both sides assign
    * through the shared every-50th centroids (same argmax + tie-break as
    * q153's oracle) and the cross pairs are exhaustively enumerated per
    * cell — every (fresh twin, reference) pair in one cell with cosine
    * >= 0.99.
    */
  private val CrossSemanticOracleSql: String =
    """WITH v AS (
      |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
      |fr AS (SELECT id + 1000000 AS id,
      |  list_transform(vec, (x, i) -> CASE WHEN i = 1 THEN x + 0.01 ELSE x END) AS vec
      |  FROM v WHERE id < 50),
      |cent AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INT) AS cid, vec AS cvec
      |         FROM v WHERE id % 50 = 0),
      |assr AS (SELECT id, cid AS cluster FROM (
      |  SELECT c.id, ct.cid,
      |    ROW_NUMBER() OVER (PARTITION BY c.id
      |      ORDER BY list_cosine_similarity(c.vec, ct.cvec) DESC, ct.cid DESC) AS rn
      |  FROM v c CROSS JOIN cent ct) WHERE rn = 1),
      |assf AS (SELECT id, cid AS cluster FROM (
      |  SELECT c.id, ct.cid,
      |    ROW_NUMBER() OVER (PARTITION BY c.id
      |      ORDER BY list_cosine_similarity(c.vec, ct.cvec) DESC, ct.cid DESC) AS rn
      |  FROM fr c CROSS JOIN cent ct) WHERE rn = 1)
      |SELECT f.id AS new_id, r.id AS ref_id,
      |  list_cosine_similarity(fv.vec, rv.vec) AS cos
      |FROM assf f JOIN assr r ON f.cluster = r.cluster
      |JOIN fr fv ON fv.id = f.id JOIN v rv ON rv.id = r.id
      |WHERE list_cosine_similarity(fv.vec, rv.vec) >= 0.99
      |ORDER BY new_id, ref_id""".stripMargin

  /** SemDeDup truth, shared by q153 (batch operator) and q160 (the
    * streaming-shaped generator run in batch mode): deterministic
    * centroids (every 50th vector, cid = rank), spherical argmax
    * assignment with the same (score DESC, cid DESC) tie-break as
    * assignEmbeddings' max-struct, within-cluster cosine pairs,
    * transitive closure, min-id rep.
    */
  private val SemanticDedupOracleSql: String =
    """WITH RECURSIVE v AS (
      |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
      |pert1 AS (SELECT id + 1000000 AS id,
      |  list_transform(vec, (x, i) -> CASE WHEN i = 1 THEN x + 0.01 ELSE x END) AS vec
      |  FROM v WHERE id < 50),
      |pert2 AS (SELECT id + 2000000 AS id,
      |  list_transform(vec, (x, i) -> CASE WHEN i = 1 THEN x + 0.02 ELSE x END) AS vec
      |  FROM v WHERE id < 25),
      |corpus AS (SELECT * FROM v UNION ALL SELECT * FROM pert1 UNION ALL SELECT * FROM pert2),
      |cent AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INT) AS cid, vec AS cvec
      |         FROM v WHERE id % 50 = 0),
      |scored AS (SELECT c.id, ct.cid, list_cosine_similarity(c.vec, ct.cvec) AS s
      |           FROM corpus c CROSS JOIN cent ct),
      |ass AS (SELECT id, cid AS cluster FROM (
      |  SELECT id, cid, ROW_NUMBER() OVER (PARTITION BY id ORDER BY s DESC, cid DESC) AS rn
      |  FROM scored) WHERE rn = 1),
      |cellv AS (SELECT a.id, a.cluster, c.vec FROM ass a JOIN corpus c USING (id)),
      |pairs AS (
      |  SELECT x.id AS id_a, y.id AS id_b FROM cellv x JOIN cellv y
      |  ON x.cluster = y.cluster AND x.id < y.id
      |  WHERE list_cosine_similarity(x.vec, y.vec) >= 0.99),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
      |          UNION ALL SELECT id_b, id_a FROM pairs),
      |nodes AS (SELECT DISTINCT src AS id FROM edges),
      |reach AS (
      |  SELECT id, id AS lab FROM nodes
      |  UNION
      |  SELECT e.src AS id, r.lab FROM edges e JOIN reach r ON r.id = e.dst),
      |reps AS (SELECT id, MIN(lab) AS rep FROM reach GROUP BY 1)
      |SELECT a.id, a.cluster, COALESCE(r.rep, a.id) AS rep_id,
      |  COALESCE(r.rep, a.id) = a.id AS keep
      |FROM ass a LEFT JOIN reps r USING (id) ORDER BY a.id""".stripMargin

  /** DSIR truth over exact bigram classes, shared by q155 (one-shot) and
    * q161 (frozen prepared models swept over the fit corpus — identical
    * scores by construction, spec'd in StreamingDsirSpec).
    */
  private val DsirOracleSql: String =
    """WITH t AS (
      |  SELECT doc_id, lang,
      |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
      |  FROM documents),
      |t2 AS (SELECT doc_id, lang, toks FROM t WHERE LEN(toks) >= 2),
      |p AS (SELECT doc_id, lang, generate_subscripts(toks, 1) AS i, unnest(toks) AS w FROM t2),
      |g AS (SELECT a.doc_id, a.lang, a.w || ' ' || b.w AS bg
      |      FROM p a JOIN p b ON b.doc_id = a.doc_id AND b.i = a.i + 1),
      |cr AS (SELECT bg, COUNT(*) AS c_r FROM g GROUP BY 1),
      |ct AS (SELECT bg, COUNT(*) AS c_t FROM g WHERE lang = 'en' GROUP BY 1),
      |nr AS (SELECT COUNT(*) AS n_r FROM g),
      |nt AS (SELECT COUNT(*) AS n_t FROM g WHERE lang = 'en'),
      |v AS (SELECT COUNT(DISTINCT bg) AS v FROM g),
      |sc AS (
      |  SELECT doc_id, COUNT(*) AS n_bigrams,
      |    ROUND(AVG(LN((COALESCE(c_t, 0) + 0.5) / (n_t + 0.5 * v))
      |            - LN((c_r + 0.5) / (n_r + 0.5 * v))), 6) AS dsir_score
      |  FROM g JOIN cr USING (bg) LEFT JOIN ct USING (bg)
      |  CROSS JOIN nr CROSS JOIN nt CROSS JOIN v
      |  GROUP BY doc_id)
      |SELECT d.doc_id, COALESCE(sc.n_bigrams, 0) AS n_bigrams,
      |  COALESCE(sc.dsir_score, 0) AS dsir_score
      |FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q114_kmeans_assign" -> kmeansAssignOracle(KmeansCentroids),
    "q115_bpe_apply" -> bpeApplyOracle(BpeFixedMerges),
    "q116_pagerank" -> pageRankOracle(5),

    "q117_window_stats" ->
      """SELECT o_orderkey, o_orderpriority,
        |  ROUND(percent_rank() OVER w, 6) AS pr,
        |  ROUND(cume_dist() OVER w, 6) AS cd,
        |  first_value(o_totalprice) OVER wr AS min_price,
        |  nth_value(o_totalprice, 2) OVER wr AS second_price
        |FROM orders
        |WINDOW
        |  w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey),
        |  wr AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,

    "q118_incremental_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE l_orderkey % 5 <= 2
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q119_lateral_topk" ->
      """SELECT n.n_name, c.c_name, c.c_acctbal
        |FROM nation n,
        |LATERAL (SELECT c_name, c_acctbal FROM customer
        |         WHERE c_nationkey = n.n_nationkey
        |         ORDER BY c_acctbal DESC, c_name LIMIT 2) c
        |ORDER BY n.n_name, c.c_acctbal DESC, c.c_name""".stripMargin,

    // q120: each row's net multiplicity in closed form — base insert (+1),
    // the two %5 retraction waves (−1), the %3∧%7 double-insert (+1) on
    // the A side; the %10 customer retraction zeroes the B side — then ONE
    // join with multiplicity products and net-zero rows dropped. The fold
    // must land on exactly this.
    "q120_ivm_retract" ->
      """WITH a AS (
        |  SELECT o_custkey AS k, o_orderkey AS a_id,
        |    CAST(1
        |      - CASE WHEN o_orderkey % 3 IN (0, 1) AND o_orderkey % 5 = 0 THEN 1 ELSE 0 END
        |      + CASE WHEN o_orderkey % 3 = 0 AND o_orderkey % 7 = 0 THEN 1 ELSE 0 END AS BIGINT) AS ma
        |  FROM orders),
        |b AS (
        |  SELECT c_custkey AS k, c_nationkey AS nat,
        |    CAST(CASE WHEN c_custkey % 10 = 0 THEN 0 ELSE 1 END AS BIGINT) AS mb
        |  FROM customer)
        |SELECT a.k, a.a_id, b.nat, a.ma * b.mb AS mult
        |FROM a JOIN b ON a.k = b.k
        |WHERE a.ma * b.mb <> 0
        |ORDER BY a.k, a.a_id""".stripMargin,

    // q121: weight each fact by its net multiplicity (insert +1, the two
    // %5 retraction waves −1), aggregate once; sums ride DECIMAL(18,2) so
    // a retraction cancels its insert exactly, like the engine's state
    "q121_rollup_retract" ->
      """WITH f AS (
        |  SELECT l_returnflag, l_linestatus, l_quantity, l_extendedprice,
        |    CAST(1 - CASE WHEN l_orderkey % 3 IN (0, 1) AND l_orderkey % 5 = 0
        |             THEN 1 ELSE 0 END AS BIGINT) AS w
        |  FROM lineitem)
        |SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(w) AS BIGINT) AS rows_net,
        |  CAST(SUM(CAST(l_quantity * w AS DECIMAL(18,2))) AS DOUBLE) AS sum_l_quantity,
        |  CAST(SUM(CASE WHEN l_quantity IS NOT NULL THEN w ELSE 0 END) AS BIGINT) AS cnt_l_quantity,
        |  CAST(SUM(CAST(l_extendedprice * w AS DECIMAL(18,2))) AS DOUBLE) AS sum_l_extendedprice,
        |  CAST(SUM(CASE WHEN l_extendedprice IS NOT NULL THEN w ELSE 0 END) AS BIGINT) AS cnt_l_extendedprice,
        |  ROUND(CAST(SUM(CAST(l_quantity * w AS DECIMAL(18,2))) AS DOUBLE)
        |    / NULLIF(CAST(SUM(CASE WHEN l_quantity IS NOT NULL THEN w ELSE 0 END) AS DOUBLE), 0), 6) AS avg_l_quantity,
        |  ROUND(CAST(SUM(CAST(l_extendedprice * w AS DECIMAL(18,2))) AS DOUBLE)
        |    / NULLIF(CAST(SUM(CASE WHEN l_extendedprice IS NOT NULL THEN w ELSE 0 END) AS DOUBLE), 0), 6) AS avg_l_extendedprice
        |FROM f GROUP BY l_returnflag, l_linestatus
        |HAVING NOT (SUM(w) = 0
        |  AND SUM(CASE WHEN l_quantity IS NOT NULL THEN w ELSE 0 END) = 0
        |  AND SUM(CASE WHEN l_extendedprice IS NOT NULL THEN w ELSE 0 END) = 0)
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    // q122: the sketches stay in their sparse-exact regime at these
    // cardinalities, so exact COUNT(DISTINCT) is the oracle
    "q122_rollup_distinct" ->
      """SELECT l_returnflag,
        |  CAST(COUNT(DISTINCT l_suppkey % 2000) AS BIGINT) AS nd_supp_bucket,
        |  CAST(COUNT(DISTINCT l_orderkey % 5000) AS BIGINT) AS nd_okey_bucket
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    // q123: the snapshot holds exactly the orders rows, so the oracle
    // aggregates the source table directly
    "q123_snapshot_relation" ->
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_totalprice > 150000.0
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // q124: the same bins, cumulative walk, and upper-edge readout in SQL —
    // the fold is invisible (bin counts add), so one-shot binning oracles it
    "q124_hist_quantiles" ->
      """WITH h AS (
        |  SELECT l_returnflag, CAST(FLOOR(l_extendedprice / 1000.0) AS BIGINT) AS bin,
        |         CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL
        |  GROUP BY l_returnflag, bin),
        |c AS (
        |  SELECT l_returnflag, bin, cnt,
        |    SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum,
        |    SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
        |  FROM h)
        |SELECT l_returnflag,
        |  MIN(CASE WHEN cum >= CEIL(0.5 * n) THEN (bin + 1) * 1000.0 END) AS med,
        |  MIN(CASE WHEN cum >= CEIL(0.95 * n) THEN (bin + 1) * 1000.0 END) AS p95
        |FROM c GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // q125: VERSION AS OF pins the pre-append snapshot, so the truth is the
    // base orders projection — identical shape to q105's rollback truth
    "q125_sql_version_as_of" ->
      """SELECT o_orderkey, o_orderdate AS dt, o_totalprice FROM orders
        |ORDER BY o_orderkey, dt""".stripMargin,

    // q135: TIMESTAMP AS OF at v1's commit stamp pins the pre-append
    // snapshot — same truth as q125, reached through the wall clock
    "q135_sql_timestamp_as_of" ->
      """SELECT o_orderkey, o_orderdate AS dt, o_totalprice FROM orders
        |ORDER BY o_orderkey, dt""".stripMargin,

    // q136: widening is invisible in the result — the truth is simply the
    // whole table read at the WIDE types (int line numbers upcast exactly;
    // decimal 5,2 -> 18,2 re-scales nothing at fixed scale)
    "q136_widen_mixed_read" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS ln,
        |  CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS qty
        |FROM lineitem ORDER BY l_orderkey, ln""".stripMargin,

    // q137: deletion vectors are invisible in the result — the truth is
    // the surviving rows (SQL DELETE semantics: NULL-predicate rows
    // survive; l_returnflag is never NULL in TPC-H data)
    "q137_mor_delete" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS ln,
        |  CAST(l_quantity AS DOUBLE) AS qty, l_returnflag
        |FROM lineitem WHERE l_returnflag <> 'R'
        |ORDER BY l_orderkey, ln""".stripMargin,

    // q138: the storage-partitioned join is pure plan shape — the rows are
    // the plain nation-key equi-join
    "q138_spj_join" ->
      """SELECT c_nationkey AS nk, c_custkey, s_suppkey
        |FROM customer JOIN supplier ON c_nationkey = s_nationkey
        |WHERE c_custkey % 50 = 0
        |ORDER BY nk, c_custkey, s_suppkey""".stripMargin,

    // q139: the manifest answer must equal the scan-everything answer
    "q139_manifest_agg" ->
      """SELECT count(*) AS cnt,
        |  count(CASE WHEN o_orderkey % 7 <> 0 THEN o_custkey END) AS cntck,
        |  min(o_orderkey) AS mn, max(o_orderkey) AS mx,
        |  min(CAST(o_orderdate AS DATE)) AS mind,
        |  max(CAST(o_orderdate AS DATE)) AS maxd
        |FROM orders""".stripMargin,

    "q140_manifest_agg_grouped" ->
      """SELECT o_orderkey % 8 AS g, count(*) AS cnt,
        |  min(o_orderkey) AS mn, max(o_orderkey) AS mx
        |FROM orders GROUP BY 1 ORDER BY g""".stripMargin,

    // q141: runtime pruning only drops files that cannot match — the
    // result is the plain filtered star join
    "q141_runtime_prune_join" ->
      """SELECT c_nationkey AS nk, count(*) AS cnt,
        |  min(c_custkey) AS mn, max(c_custkey) AS mx
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE n_regionkey = 1
        |GROUP BY 1 ORDER BY nk""".stripMargin,

    // q142: the bucket layout is pure plan shape — the rows are the plain
    // customer-key equi-join over the %20 order slice
    "q142_bucket_spj" ->
      """SELECT o_orderkey, o_custkey, c_nationkey, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey % 20 = 0
        |ORDER BY o_orderkey""".stripMargin,

    // q143: bucket pruning must lose no surviving row
    "q143_bucket_pointlookup" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS ln, l_partkey,
        |  CAST(l_quantity AS DOUBLE) AS qty
        |FROM lineitem WHERE l_partkey IN (1, 500, 999)
        |ORDER BY l_orderkey, ln""".stripMargin,

    // q144: months(l_shipdate) pruning must lose no row of the raw-column
    // range — the truth is the same aggregate over the unpartitioned scan
    "q144_temporal_hidden" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(CAST(l_quantity AS DOUBLE)), 2) AS sum_qty,
        |  round(sum(CAST(l_extendedprice AS DOUBLE)), 2) AS sum_price
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) >= DATE '1995-01-01'
        |  AND CAST(l_shipdate AS DATE) < DATE '1996-01-01'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // q145: truncate-band pruning must lose no row of the key range
    "q145_truncate_range" ->
      """SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS price
        |FROM orders WHERE o_custkey BETWEEN 300 AND 700
        |ORDER BY o_orderkey""".stripMargin,

    // q147: the z-ordered rewrite is a pure reordering — the filtered
    // read must equal the raw-table truth
    "q147_zorder_compact" ->
      """SELECT l_orderkey, l_partkey, l_suppkey,
        |  CAST(l_quantity AS DOUBLE) AS qty
        |FROM lineitem
        |WHERE l_partkey BETWEEN 100 AND 120 AND l_suppkey BETWEEN 10 AND 60
        |ORDER BY l_orderkey, l_partkey, l_suppkey, qty""".stripMargin,

    // q148: the %2 write generations cover the full orders table; the
    // dropped junk column never influences the aggregate
    "q148_drop_column" ->
      """SELECT o_custkey, count(*) AS n,
        |  round(sum(CAST(o_totalprice AS DOUBLE)), 2) AS sum_price
        |FROM orders WHERE o_custkey BETWEEN 1 AND 200
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    // q149: the %2 write generations cover the full orders table; the
    // rename is metadata-only, so filtering/aggregating the renamed
    // column equals doing it on the original
    "q149_rename_column" ->
      """SELECT o_custkey, count(*) AS n,
        |  round(sum(CAST(o_totalprice AS DOUBLE)), 2) AS sum_price
        |FROM orders
        |WHERE CAST(o_totalprice AS DOUBLE) > 50000 AND o_custkey BETWEEN 1 AND 400
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    // q146: the two write generations partition the full orders table
    // (%3 split), so the mixed-layout read must equal the plain aggregate
    "q146_partition_evolution" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  round(sum(CAST(o_totalprice AS DOUBLE)), 2) AS sum_price
        |FROM orders
        |WHERE CAST(o_orderdate AS DATE) >= DATE '1994-01-01'
        |  AND CAST(o_orderdate AS DATE) < DATE '1995-01-01'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // q126: the CDC truth is derivable from the base table alone — every
    // %7 key yields an update pre image (old price) + post image (negated),
    // every %11 key a fresh insert under the offset key; carried rows are
    // silent so nothing else appears
    "q126_row_changes" ->
      """WITH base AS (SELECT o_orderkey, o_orderdate AS dt, o_totalprice FROM orders),
        |upd AS (SELECT * FROM base WHERE o_orderkey % 7 = 0),
        |ins AS (SELECT o_orderkey + 40000000 AS o_orderkey, dt, o_totalprice
        |        FROM base WHERE o_orderkey % 11 = 0)
        |SELECT o_orderkey, dt, o_totalprice,
        |       'update_preimage' AS _change_type, CAST(2 AS BIGINT) AS _commit_version FROM upd
        |UNION ALL
        |SELECT o_orderkey, dt, -o_totalprice, 'update_postimage', CAST(2 AS BIGINT) FROM upd
        |UNION ALL
        |SELECT o_orderkey, dt, o_totalprice, 'insert', CAST(2 AS BIGINT) FROM ins
        |ORDER BY o_orderkey, dt, _change_type""".stripMargin,
    "q01_kpi_topk_spend" ->
      """WITH anchor AS (SELECT CAST(MAX(CAST(ts AS DATE)) - INTERVAL 13 DAY AS DATE) AS lo FROM events)
        |SELECT user_id, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
        |FROM events, anchor WHERE CAST(ts AS DATE) >= lo
        |GROUP BY user_id ORDER BY total_spend DESC, user_id LIMIT 10""".stripMargin,

    "q02_kpi_derive" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS dt, COUNT(*) AS impressions,
        |         CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS clicks,
        |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS spend,
        |         CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS conversions
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, dt, impressions, clicks, spend, conversions,
        |  CASE WHEN impressions = 0 THEN 0 ELSE CAST(clicks AS DOUBLE) / impressions END AS ctr,
        |  CASE WHEN impressions = 0 THEN 0 ELSE CAST(spend AS DOUBLE) / impressions END * 1000 AS cpm,
        |  CASE WHEN clicks = 0 THEN 0 ELSE CAST(spend AS DOUBLE) / clicks END AS cpc,
        |  CASE WHEN conversions = 0 THEN 0 ELSE CAST(spend AS DOUBLE) / conversions END AS cpa
        |FROM daily ORDER BY user_id, dt""".stripMargin,

    "q03_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey
        |    AND CAST(o_orderdate AS DATE) >=
        |        (SELECT CAST(CAST(MAX(o_orderdate) AS DATE) - INTERVAL 180 DAY AS DATE) FROM orders))
        |ORDER BY c_custkey""".stripMargin,

    "q04_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,

    "q05_cross_gen" ->
      """SELECT c.campaign_id, a.adset_id, r.creative_id,
        |  CAST((c.campaign_id * 31 + a.adset_id * 7 + r.creative_id) % 97 AS BIGINT) AS metric
        |FROM generate_series(1, 10) c(campaign_id)
        |CROSS JOIN generate_series(1, 5) a(adset_id)
        |CROSS JOIN generate_series(1, 3) r(creative_id)
        |ORDER BY 1, 2, 3""".stripMargin,

    "q06_filter_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) >= DATE '1998-01-01'
        |  AND CAST(l_shipdate AS DATE) < DATE '1999-01-01' AND l_quantity > 45
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q07_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue, COUNT(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q08_daily_avg" ->
      """SELECT CAST(o_orderdate AS DATE) AS dt, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price, COUNT(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q09_scorecard" ->
      """SELECT event_type, COUNT(*) AS impressions, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY 1 ORDER BY impressions DESC, event_type LIMIT 10""".stripMargin,

    "q10_counts" ->
      """SELECT (SELECT COUNT(*) FROM lineitem) AS n_lineitem,
        |       (SELECT COUNT(*) FROM orders) AS n_orders,
        |       (SELECT COUNT(*) FROM customer) AS n_customer""".stripMargin,

    "q11_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "q12_project_rename" ->
      """SELECT o_orderkey AS order_key, CAST(o_orderdate AS DATE) AS dt, o_orderpriority AS priority
        |FROM orders ORDER BY order_key""".stripMargin,

    "q13_date_format" ->
      """SELECT o_orderkey, STRFTIME(o_orderdate, '%Y-%m-%d') AS dt_str,
        |  CAST(YEAR(o_orderdate) AS INT) AS yr, CAST(MONTH(o_orderdate) AS INT) AS mth
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q14_nullsafe_div" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_tax = 0 OR l_tax IS NULL THEN 0 ELSE l_discount / l_tax END AS disc_tax_ratio
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q15_union" ->
      """SELECT DISTINCT user_id FROM (
        |  SELECT user_id FROM events WHERE event_type = 'click'
        |  UNION ALL SELECT user_id FROM events WHERE event_type = 'view')
        |ORDER BY user_id""".stripMargin,

    "q16_intersect" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
        |INTERSECT SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id""".stripMargin,

    "q17_except" ->
      """SELECT user_id, CAST(ts AS DATE) AS dt FROM events WHERE event_type = 'signup'
        |EXCEPT SELECT user_id, CAST(ts AS DATE) AS dt FROM events WHERE event_type = 'error'
        |ORDER BY user_id, dt""".stripMargin,

    // CAST(ts AS TIMESTAMP) truncates the fixture's nanos to micros so both
    // engines order at Spark's native precision — without it two same-user
    // events differing only in sub-micro nanos would tie on the Spark side
    // (event_id breaks the tie) but order by nanos in DuckDB.
    "q18_window_running" ->
      """SELECT user_id, event_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        |FROM events ORDER BY user_id, event_id""".stripMargin,

    "q19_window_rank" ->
      """SELECT dt, o_orderkey, rnk FROM (
        |  SELECT CAST(o_orderdate AS DATE) AS dt, o_orderkey,
        |    ROW_NUMBER() OVER (PARTITION BY CAST(o_orderdate AS DATE)
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders) WHERE rnk <= 3 ORDER BY dt, rnk""".stripMargin,

    "q20_window_movavg" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS dt, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1)
        |SELECT dt, CAST(SUM(CAST(rev AS DECIMAL(18,2))) OVER (ORDER BY dt ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |  / COUNT(*) OVER (ORDER BY dt ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS movavg7
        |FROM daily ORDER BY dt""".stripMargin,

    "q54_pivot" ->
      """SELECT user_id,
        |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
        |  COUNT(*) FILTER (WHERE event_type = 'error') AS error,
        |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  COUNT(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q55_unpivot" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS dt, COUNT(*) AS impressions,
        |         CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS clicks,
        |         CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS conversions
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, dt, metric, v FROM (
        |  SELECT user_id, dt, 'impressions' AS metric, impressions AS v FROM daily
        |  UNION ALL SELECT user_id, dt, 'clicks', clicks FROM daily
        |  UNION ALL SELECT user_id, dt, 'conversions', conversions FROM daily)
        |ORDER BY user_id, dt, metric""".stripMargin,

    "q21_rollup" ->
      """SELECT l_returnflag, l_linestatus, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q22_join_agg" ->
      """SELECT c_mktsegment, CAST(YEAR(o_orderdate) AS INT) AS yr,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue, COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q23_join_three" ->
      """SELECT r_name, n_name, COUNT(*) AS n_cust, CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q24_incremental_delta" ->
      """SELECT COUNT(*) AS n_new, MIN(event_id) AS mn, MAX(event_id) AS mx
        |FROM events WHERE event_id NOT IN (SELECT event_id FROM events WHERE event_id % 2 = 0)""".stripMargin,

    "q25_string_pred" ->
      """SELECT p_partkey, p_name, p_brand, p_type FROM part
        |WHERE p_type LIKE 'ECO%' AND p_brand LIKE '%#5' AND p_name LIKE '%a%'
        |ORDER BY p_partkey""".stripMargin,

    "q26_promo_share" ->
      """WITH j AS (
        |  SELECT CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS rev, p_type
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |t AS (
        |  SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS promo_rev,
        |         CAST(SUM(rev) AS DOUBLE) AS total_rev
        |  FROM j)
        |SELECT promo_rev, total_rev, promo_rev / total_rev AS promo_share FROM t""".stripMargin,

    "q27_json_extract" ->
      """SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1 ORDER BY k""".stripMargin,

    "q28_date_series" ->
      """SELECT CAST(d AS DATE) AS d, CAST(MONTH(d) AS INT) AS m, CAST(DAY(d) AS INT) AS dd
        |FROM (SELECT UNNEST(generate_series(DATE '2026-01-01', DATE '2026-01-31', INTERVAL 1 DAY)) AS d)
        |ORDER BY d""".stripMargin,

    "q29_distinct_agg" ->
      """SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q37_sql_entry" ->
      """SELECT l_returnflag, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q51_ship_priority" ->
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND CAST(l_shipdate AS DATE) > DATE '1996-03-15'
        |  AND CAST(o_orderdate AS DATE) < DATE '1996-03-15'
        |GROUP BY 1, 2, 3 ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q52_region_volume" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin,

    "q56_min_cost_supplier" ->
      """WITH parts AS (SELECT p_partkey, p_brand FROM part WHERE p_type = 'PROMO' AND p_size <= 10),
        |supply AS (
        |  SELECT p.p_partkey, p.p_brand, l_suppkey, l_extendedprice
        |  FROM lineitem JOIN parts p ON l_partkey = p.p_partkey),
        |minp AS (SELECT p_partkey, MIN(l_extendedprice) AS min_price FROM supply GROUP BY 1),
        |win AS (
        |  SELECT DISTINCT s.p_partkey, s.p_brand, s.l_suppkey, m.min_price
        |  FROM supply s JOIN minp m ON s.p_partkey = m.p_partkey AND s.l_extendedprice = m.min_price)
        |SELECT n_name, s_name, p_partkey, p_brand, min_price
        |FROM win JOIN supplier ON l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY min_price, p_partkey, s_name LIMIT 20""".stripMargin,

    "q57_nation_trade" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  YEAR(CAST(l_shipdate AS DATE)) AS l_year,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q58_market_share" ->
      """SELECT YEAR(CAST(o_orderdate AS DATE)) AS o_year,
        |  CAST(SUM(CASE WHEN n1.n_name = 'NATION_3'
        |           THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
        |           ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        |    / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS mkt_share,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total_vol
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |JOIN region ON n2.n_regionkey = r_regionkey
        |WHERE p_type = 'STANDARD' AND r_name = 'EUROPE'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q49_embed_neardup" ->
      """WITH base AS (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 100),
        |pert AS (
        |  SELECT id + 1000000 AS id,
        |         list_transform(v, (x, i) -> CASE WHEN i = 1 THEN x + 0.01 ELSE x END) AS v
        |  FROM base),
        |allv AS (SELECT * FROM base UNION ALL SELECT * FROM pert)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos
        |FROM allv a JOIN allv b ON a.id < b.id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.99
        |ORDER BY id_a, id_b""".stripMargin,

    // q153: SemDeDup truth — same deterministic centroids (every 50th
    // vector, cid = rank), spherical argmax assignment with the same
    // (score DESC, cid DESC) tie-break as assignEmbeddings' max-struct,
    // within-cluster cosine pairs, transitive closure, min-id rep.
    "q153_semantic_dedup" -> SemanticDedupOracleSql,

    // q160: the SAME truth gates the streaming-shaped generator — the
    // cell-state pair emitter must reproduce the batch edge set exactly,
    // so the identical recursive-CTE oracle applies.
    "q160_streaming_semdedup" -> SemanticDedupOracleSql,

    // q163: cross-semantic truth — both sides assign through the shared
    // every-50th centroids (same argmax + tie-break as q153's oracle), and
    // the CROSS pairs are exhaustively enumerated per cell: every
    // (fresh twin, reference) pair in one cell with cosine >= 0.99.
    "q163_cross_semantic" -> CrossSemanticOracleSql,

    // q165: the SAME truth gates the TABLE-BACKED prepared cells — the
    // sweep over the durable bucketed layout must emit identical pairs.
    "q165_cross_semantic_table" -> CrossSemanticOracleSql,


    // q158: chunking truth — 1-based list slices at starts 1, 1+stride, …;
    // tokens split on whitespace with NO lowercasing (chunk text must be
    // the original tokens).
    "q158_chunk_tokens" ->
      s"""WITH t AS (SELECT doc_id, $ToksCte AS toks FROM documents),
        |nz AS (SELECT doc_id, toks, LEN(toks) AS n FROM t WHERE LEN(toks) > 0),
        |st AS (SELECT * FROM (
        |         SELECT doc_id, toks, n, UNNEST(generate_series(1, n, 24)) AS s FROM nz)
        |       WHERE s = 1 OR s - 1 < n - (32 - 24))
        |SELECT doc_id,
        |  CAST((s - 1) / 24 AS INT) AS chunk_id,
        |  CAST(s - 1 AS INT) AS start_tok,
        |  CAST(LEN(toks[s:LEAST(s + 31, n)]) AS BIGINT) AS n_chunk_tokens,
        |  array_to_string(toks[s:LEAST(s + 31, n)], ' ') AS chunk_text
        |FROM st ORDER BY doc_id, chunk_id""".stripMargin,

    // q157: quality-aware rep truth — q59's transitive closure over the
    // twin-augmented corpus, every doc defaulting to rep=self, re-keyed to
    // the member with the q32 quality score's argmax (ties to min doc_id).
    "q157_quality_aware_dedup" ->
      s"""WITH RECURSIVE $ShingleCommonCtes,
        |pairs AS (
        |  SELECT id_a, id_b
        |  FROM common JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |reach AS (
        |  SELECT id, id AS lab FROM nodes
        |  UNION
        |  SELECT e.src AS id, r.lab FROM edges e JOIN reach r ON r.id = e.dst),
        |reps AS (SELECT id AS doc_id, MIN(lab) AS rep0 FROM reach GROUP BY 1),
        |fa AS (SELECT b.doc_id, COALESCE(r.rep0, b.doc_id) AS rep0
        |       FROM base b LEFT JOIN reps r USING (doc_id)),
        |qt AS (SELECT doc_id, text, $ToksCte AS toks FROM base),
        |qs AS (SELECT doc_id, LEN(toks) AS n,
        |  LEN(list_filter(list_transform(toks, x -> LOWER(x)),
        |      x -> x IN ('the','and','of','to','a','in','is','it','that','for'))) AS n_stop,
        |  CASE WHEN LENGTH(text) = 0 THEN 0.0
        |       ELSE CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[.,!?;:''"()\\[\\]{}-]', '', 'g')) AS DOUBLE) / LENGTH(text) END AS praw
        |  FROM qt),
        |sc AS (SELECT doc_id,
        |  ROUND((LEAST(CAST(n AS DOUBLE) / 100.0, 1.0)
        |       + LEAST(CASE WHEN n = 0 THEN 0.0 ELSE CAST(n_stop AS DOUBLE) / n END * 5.0, 1.0)
        |       + GREATEST(1.0 - praw * 10.0, 0.0)) / 3.0, 6) AS score
        |  FROM qs),
        |m AS (SELECT fa.doc_id, fa.rep0, sc.score FROM fa JOIN sc USING (doc_id)),
        |best AS (SELECT rep0, doc_id AS best_doc, score AS best_score FROM (
        |  SELECT rep0, doc_id, score,
        |    ROW_NUMBER() OVER (PARTITION BY rep0 ORDER BY score DESC, doc_id) AS rn
        |  FROM m) WHERE rn = 1)
        |SELECT m.doc_id, best.best_doc AS rep_id, best.best_score,
        |  m.doc_id = best.best_doc AS keep
        |FROM m JOIN best USING (rep0) ORDER BY m.doc_id""".stripMargin,

    // q156: excision truth — gram start positions over token STRINGS,
    // every token in a matching [p, p+7] window removed, ordered
    // reassembly; benchmark-member docs come back empty.
    "q156_excise_contaminated" ->
      s"""WITH toks AS (SELECT doc_id, $ToksCte AS t
        |              FROM (SELECT doc_id, LOWER(text) AS text FROM documents)),
        |pos AS (SELECT doc_id, generate_subscripts(t, 1) - 1 AS i, unnest(t) AS w FROM toks),
        |g AS (
        |  SELECT doc_id, i - 1 AS p,
        |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
        |    t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7] AS s
        |  FROM (SELECT doc_id, t,
        |          UNNEST(generate_series(1, GREATEST(LEN(t) - 7, 0))) AS i
        |        FROM toks)),
        |bench AS (SELECT DISTINCT s FROM g WHERE doc_id % 17 = 0),
        |hits AS (SELECT DISTINCT g.doc_id, g.p FROM g JOIN bench USING (s)),
        |removed AS (
        |  SELECT DISTINCT pos.doc_id, pos.i FROM pos
        |  JOIN hits ON hits.doc_id = pos.doc_id
        |           AND pos.i >= hits.p AND pos.i < hits.p + 8),
        |kept AS (SELECT pos.doc_id, pos.i, pos.w FROM pos
        |         ANTI JOIN removed USING (doc_id, i)),
        |outp AS (SELECT doc_id, COUNT(*) AS n_kept,
        |           string_agg(w, ' ' ORDER BY i) AS clean_text
        |         FROM kept GROUP BY 1)
        |SELECT tk.doc_id, COALESCE(outp.clean_text, '') AS clean_text,
        |  CAST(LEN(tk.t) AS BIGINT) AS n_tokens,
        |  CAST(LEN(tk.t) - COALESCE(outp.n_kept, 0) AS BIGINT) AS n_removed
        |FROM toks tk LEFT JOIN outp USING (doc_id) ORDER BY tk.doc_id""".stripMargin,

    // q154: exact-substring span dedup truth over 8-gram STRINGS (Spark
    // groups xxhash64 hashes — identical ownership modulo collisions):
    // min doc per span, count a doc's distinct spans owned by earlier docs.
    "q154_exact_span_dedup" ->
      s"""WITH d AS (
        |  SELECT a.doc_id, a.text || ' ' || b.text AS text
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id % 100),
        |toks AS (SELECT doc_id, $ToksCte AS t
        |         FROM (SELECT doc_id, LOWER(text) AS text FROM d)),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    UNNEST(list_transform(generate_series(1, GREATEST(LEN(t) - 7, 0)),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
        |           t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7])) AS s
        |  FROM toks),
        |own AS (SELECT s, MIN(doc_id) AS owner FROM sh GROUP BY 1),
        |flag AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN owner < doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
        |  FROM sh JOIN own USING (s) GROUP BY 1)
        |SELECT d.doc_id, COALESCE(f.n_dup, 0) AS n_dup_spans,
        |  COALESCE(f.n_dup, 0) > 0 AS dup_of_earlier
        |FROM d LEFT JOIN flag f USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    // q155: DSIR truth — bigram models over strings (target = lang 'en',
    // a subset of raw, so the union vocabulary is raw's), add-0.5
    // smoothing, mean per-occurrence log-likelihood ratio rounded at 6.
    "q155_dsir_scores" -> DsirOracleSql,

    "q161_dsir_prepared" -> DsirOracleSql,

    // q159: hashed-feature DSIR truth — identical recipe to q155 but the
    // feature is substr(md5(bigram), 1, 2) (256 buckets; md5 hex agrees
    // across engines) and the smoothing vocabulary is the FIXED bucket
    // count 256, not the observed distinct features.
    "q159_dsir_hashed" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |t2 AS (SELECT doc_id, lang, toks FROM t WHERE LEN(toks) >= 2),
        |p AS (SELECT doc_id, lang, generate_subscripts(toks, 1) AS i, unnest(toks) AS w FROM t2),
        |g AS (SELECT a.doc_id, a.lang, substr(md5(a.w || ' ' || b.w), 1, 2) AS f
        |      FROM p a JOIN p b ON b.doc_id = a.doc_id AND b.i = a.i + 1),
        |cr AS (SELECT f, COUNT(*) AS c_r FROM g GROUP BY 1),
        |ct AS (SELECT f, COUNT(*) AS c_t FROM g WHERE lang = 'en' GROUP BY 1),
        |nr AS (SELECT COUNT(*) AS n_r FROM g),
        |nt AS (SELECT COUNT(*) AS n_t FROM g WHERE lang = 'en'),
        |sc AS (
        |  SELECT doc_id, COUNT(*) AS n_bigrams,
        |    ROUND(AVG(LN((COALESCE(c_t, 0) + 0.5) / (n_t + 0.5 * 256))
        |            - LN((c_r + 0.5) / (n_r + 0.5 * 256))), 6) AS dsir_score
        |  FROM g JOIN cr USING (f) LEFT JOIN ct USING (f)
        |  CROSS JOIN nr CROSS JOIN nt
        |  GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(sc.n_bigrams, 0) AS n_bigrams,
        |  COALESCE(sc.dsir_score, 0) AS dsir_score
        |FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    "q50_bpe_tokens" ->
      """SELECT doc_id,
        |  CAST(LEN(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+')) AS INT) AS n_bpe,
        |  regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+')[1] AS t1
        |FROM documents ORDER BY doc_id""".stripMargin,

    // micros-truncated ts on both asof sides: the inclusive <= boundary must
    // be evaluated at the engine's (micros) precision, not the fixture's nanos
    "q47_asof_join" ->
      """WITH p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events WHERE event_type = 'purchase')
        |SELECT l.event_id, l.user_id, p.value AS last_purchase_value
        |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events) l
        |ASOF LEFT JOIN p ON l.user_id = p.user_id AND l.ts >= p.ts
        |ORDER BY l.event_id""".stripMargin,

    "q48_range_join" ->
      """WITH w AS (SELECT UNNEST(generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-29', INTERVAL 7 DAY)) AS w_start)
        |SELECT e.event_id, CAST(w.w_start AS DATE) AS w_start
        |FROM events e JOIN w ON CAST(e.ts AS TIMESTAMP) >= w.w_start AND CAST(e.ts AS TIMESTAMP) < w.w_start + INTERVAL 14 DAY
        |ORDER BY e.event_id, w_start""".stripMargin,

    "q45_frame_sample" ->
      """SELECT doc_id AS id, OCTET_LENGTH(ENCODE(text)) AS n_bytes,
        |  CAST(LEN(generate_series(0, OCTET_LENGTH(ENCODE(text)) - 1, 100)) AS INT) AS n_frames
        |FROM documents ORDER BY id""".stripMargin,

    "q30_dedup_exact" ->
      """SELECT MD5(TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g'))) AS content_key,
        |  MIN(doc_id) AS rep_id, COUNT(*) AS n_dups
        |FROM documents GROUP BY 1 ORDER BY content_key""".stripMargin,

    "q31_ngram_jaccard" ->
      s"""WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text || ' zz' FROM documents),
        |sub AS (SELECT * FROM base WHERE doc_id % 1000000 < 200),
        |toks AS (SELECT doc_id, $ToksCte AS t FROM (SELECT doc_id, LOWER(text) AS text FROM sub)),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    UNNEST(list_transform(generate_series(1, GREATEST(LEN(t) - 2, 0)),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        |  FROM toks),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
        |FROM common JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    "q32_text_stats" ->
      s"""WITH t AS (SELECT doc_id, text, $ToksCte AS toks FROM documents),
        |s AS (SELECT doc_id, text, toks, LEN(toks) AS n,
        |  LEN(list_filter(list_transform(toks, x -> LOWER(x)),
        |      x -> x IN ('the','and','of','to','a','in','is','it','that','for'))) AS n_stop,
        |  CASE WHEN LENGTH(text) = 0 THEN 0.0
        |       ELSE CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[.,!?;:''"()\\[\\]{}-]', '', 'g')) AS DOUBLE) / LENGTH(text) END AS praw
        |  FROM t)
        |SELECT doc_id, CAST(n AS INT) AS n_tokens,
        |  CASE WHEN n = 0 THEN 0.0 ELSE CAST(list_sum(list_transform(toks, x -> LENGTH(x))) AS DOUBLE) / n END AS avg_token_len,
        |  praw AS punct_ratio,
        |  CASE WHEN n = 0 THEN 0.0 ELSE CAST(n_stop AS DOUBLE) / n END AS stopword_ratio,
        |  ROUND((LEAST(CAST(n AS DOUBLE) / 100.0, 1.0)
        |       + LEAST(CASE WHEN n = 0 THEN 0.0 ELSE CAST(n_stop AS DOUBLE) / n END * 5.0, 1.0)
        |       + GREATEST(1.0 - praw * 10.0, 0.0)) / 3.0, 6) AS quality
        |FROM s ORDER BY doc_id""".stripMargin,

    "q33_langid" ->
      s"""WITH t AS (SELECT doc_id, list_transform($ToksCte, x -> LOWER(x)) AS toks FROM documents),
        |c AS (SELECT doc_id,
        |  LEN(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is','it','that','for'))) AS en,
        |  LEN(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein','mit','auf','von'))) AS de,
        |  LEN(list_filter(toks, x -> x IN ('el','la','de','que','y','en','un','es','por','con'))) AS es,
        |  LEN(list_filter(toks, x -> x IN ('le','la','et','les','des','est','un','une','dans','que'))) AS fr
        |  FROM t)
        |SELECT doc_id,
        |  CASE WHEN GREATEST(en, de, es, fr) = 0 THEN 'und'
        |       WHEN en = GREATEST(en, de, es, fr) THEN 'en'
        |       WHEN de = GREATEST(en, de, es, fr) THEN 'de'
        |       WHEN es = GREATEST(en, de, es, fr) THEN 'es'
        |       ELSE 'fr' END AS lang_pred
        |FROM c ORDER BY doc_id""".stripMargin,

    "q53_langid_ngram" -> {
      // generated from TextFunctions.NgramProfiles so Spark and oracle can't drift
      def score(lang: String): String =
        TextFunctions.NgramProfiles(lang)
          .map(g => s"(LENGTH(t) - LENGTH(REGEXP_REPLACE(t, '$g', '', 'g'))) / ${g.length}")
          .mkString(" + ")
      s"""WITH c AS (SELECT doc_id, ${score("en")} AS en, ${score("de")} AS de,
        |  ${score("es")} AS es, ${score("fr")} AS fr
        |  FROM (SELECT doc_id, LOWER(text) AS t FROM documents))
        |SELECT doc_id,
        |  CASE WHEN GREATEST(en, de, es, fr) = 0 THEN 'und'
        |       WHEN en = GREATEST(en, de, es, fr) THEN 'en'
        |       WHEN de = GREATEST(en, de, es, fr) THEN 'de'
        |       WHEN es = GREATEST(en, de, es, fr) THEN 'es'
        |       ELSE 'fr' END AS lang_pred
        |FROM c ORDER BY doc_id""".stripMargin
    },

    "q34_fingerprint" ->
      s"""SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform($ToksCte, x -> CAST(LENGTH(x) + 1 AS BIGINT))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q35_ann_brute" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id <= 2),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    ROUND(list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 6) AS score
        |  FROM q, embeddings e WHERE e.vec_id <> q.query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, score,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS rank
        |  FROM scored)
        |SELECT query_id, rank, neighbor_id, score FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q36_embed_norms" ->
      """SELECT vec_id, label,
        |  ROUND(SQRT(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    // q40: the Spark side finds pairs via banded MinHash-LSH + exact-Jaccard
    // verification; the oracle recomputes the EXHAUSTIVE all-pairs truth —
    // equality proves the LSH candidate generation has full recall on every
    // true pair (jaccard >= 0.5) at this scale.
    //
    // FIXTURE-DEPENDENCE (here and q41): candidate recall is probabilistic
    // in general — banded 16x4 MinHash catches a jaccard-0.5 pair with only
    // ~64% probability, and SimHash probing guarantees hamming <= 11 while
    // cos >= 0.95 only concentrates near hamming ~6.5. Oracle equality
    // holds because on the CURRENT fixtures + seeds every true pair sits
    // comfortably inside the candidate region; DedupSpec's two "gate
    // canary" tests assert exactly that (full MinHash recall; SimHash
    // true-pair hamming <= 9, margin 2 under the bound) so a fixture/seed
    // regen fails there with a clear message, not as a driver hash
    // mismatch.
    "q40_minhash_neardups" ->
      s"""WITH $ShingleCommonCtes
        |SELECT id_a, id_b,
        |  CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
        |FROM common JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    // q162: cross-corpus sweep under the same exhaustive truth — every
    // CROSS-side pair (original id_a < 1000000 as reference, twin id_b ≥
    // 1000000 as the fresh dump) above the Jaccard cut, and nothing
    // within-side. The q40 recall argument carries over unchanged: band
    // collisions are pure functions of each doc's signature, so the cross
    // join finds exactly q40's pairs restricted to the split.
    "q162_cross_dedup" -> CrossDedupOracleSql,

    // q164: the SAME truth gates the TABLE-BACKED prepared reference —
    // sweeping against the durable bucketed signature tables must emit
    // identical pairs to the cache-pinned prepare.
    "q164_cross_dedup_table" -> CrossDedupOracleSql,

    // q166: composed two-tier truth — the kept set is fresh minus the
    // UNION of the exhaustive verbatim-Jaccard flag set (cross-side pairs
    // over the docs⋈embeddings corpus + both twin groups) and the
    // cell-scoped cosine flag set (same every-50th centroids and argmax
    // tie-break as q163's oracle). Flags are per-doc independent, so
    // survivors-only semantic sweeping equals subtracting the union.
    "q166_cross_all" ->
      s"""WITH b AS (
        |  SELECT d.doc_id, d.text, CAST(e.embedding AS DOUBLE[]) AS vec
        |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
        |fresh AS (
        |  SELECT doc_id + 1000000 AS doc_id, text || ' zz' AS text,
        |    list_transform(vec, (x, i) -> CASE WHEN i = 1 THEN x + 0.5 ELSE x END) AS vec
        |  FROM b
        |  UNION ALL
        |  SELECT doc_id + 2000000, reverse(text),
        |    list_transform(vec, (x, i) -> CASE WHEN i = 1 THEN x + 0.01 ELSE x END)
        |  FROM b WHERE doc_id < 50
        |  UNION ALL
        |  SELECT doc_id + 3000000, reverse(text), list_transform(vec, x -> -x)
        |  FROM b WHERE doc_id >= 50 AND doc_id < 100),
        |alldocs AS (SELECT doc_id, text FROM b UNION ALL SELECT doc_id, text FROM fresh),
        |toks AS (SELECT doc_id, $ToksCte AS t
        |         FROM (SELECT doc_id, LOWER(text) AS text FROM alldocs)),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    UNNEST(list_transform(generate_series(1, GREATEST(LEN(t) - 2, 0)),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        |  FROM toks),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |common AS (
        |  SELECT a.doc_id AS id_a, b2.doc_id AS id_b, COUNT(*) AS n_common
        |  FROM sh a JOIN sh b2 ON a.s = b2.s AND a.doc_id < b2.doc_id GROUP BY 1, 2),
        |vflag AS (
        |  SELECT DISTINCT id_b AS doc_id
        |  FROM common JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE id_a < 1000000 AND id_b >= 1000000
        |    AND CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5),
        |cent AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS INT) AS cid,
        |                vec AS cvec
        |         FROM b WHERE doc_id % 50 = 0),
        |assr AS (SELECT doc_id, cid AS cluster FROM (
        |  SELECT c.doc_id, ct.cid,
        |    ROW_NUMBER() OVER (PARTITION BY c.doc_id
        |      ORDER BY list_cosine_similarity(c.vec, ct.cvec) DESC, ct.cid DESC) AS rn
        |  FROM b c CROSS JOIN cent ct) WHERE rn = 1),
        |assf AS (SELECT doc_id, cid AS cluster FROM (
        |  SELECT c.doc_id, ct.cid,
        |    ROW_NUMBER() OVER (PARTITION BY c.doc_id
        |      ORDER BY list_cosine_similarity(c.vec, ct.cvec) DESC, ct.cid DESC) AS rn
        |  FROM fresh c CROSS JOIN cent ct) WHERE rn = 1),
        |sflag AS (
        |  SELECT DISTINCT f.doc_id
        |  FROM assf f JOIN assr r ON f.cluster = r.cluster
        |  JOIN fresh fv ON fv.doc_id = f.doc_id JOIN b rv ON rv.doc_id = r.doc_id
        |  WHERE list_cosine_similarity(fv.vec, rv.vec) >= 0.99)
        |SELECT doc_id, text FROM fresh
        |WHERE doc_id NOT IN (SELECT doc_id FROM vflag)
        |  AND doc_id NOT IN (SELECT doc_id FROM sflag)
        |ORDER BY doc_id""".stripMargin,

    // q150: the streaming dedup operator's batch mode must reproduce q40's
    // exact result — same exhaustive-truth oracle (candidate generation
    // differs: stateful per-bucket ingest vs the banded batch join).
    "q150_streaming_dedup" ->
      s"""WITH $ShingleCommonCtes
        |SELECT id_a, id_b,
        |  CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
        |FROM common JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    // q152: decontamination truth over n-gram STRINGS (Spark matches
    // xxhash64 hashes — identical counts modulo collisions, same argument
    // as q40): per-doc distinct 8-grams shared with the benchmark slice.
    "q152_decontaminate" ->
      s"""WITH toks AS (SELECT doc_id, $ToksCte AS t
        |             FROM (SELECT doc_id, LOWER(text) AS text FROM documents)),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    UNNEST(list_transform(generate_series(1, GREATEST(LEN(t) - 7, 0)),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
        |           t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7])) AS s
        |  FROM toks),
        |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 17 = 0),
        |hits AS (
        |  SELECT doc_id, COUNT(*) AS n_hit
        |  FROM (SELECT DISTINCT doc_id, s FROM sh JOIN bench USING (s)) GROUP BY 1)
        |SELECT d.doc_id, COALESCE(h.n_hit, 0) AS n_hit,
        |  COALESCE(h.n_hit, 0) >= 1 AS contaminated
        |FROM documents d LEFT JOIN hits h USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    // q151: the incrementally-folded cluster assignment must equal the
    // one-shot transitive closure — q59's exhaustive oracle verbatim.
    "q151_incremental_clusters" ->
      s"""WITH RECURSIVE $ShingleCommonCtes,
        |pairs AS (
        |  SELECT id_a, id_b
        |  FROM common JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |reach AS (
        |  SELECT id, id AS lab FROM nodes
        |  UNION
        |  SELECT e.src AS id, r.lab FROM edges e JOIN reach r ON r.id = e.dst)
        |SELECT id AS doc_id, MIN(lab) AS rep_id FROM reach GROUP BY 1 ORDER BY 1""".stripMargin,

    // q41: Spark finds pairs via multi-probe pigeonhole SimHash + exact
    // token-frequency-cosine verification; the oracle is the exhaustive
    // token-cosine truth over the same >=50-token doc set.
    "q41_simhash_neardups" ->
      s"""WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text || ' zz' FROM documents),
        |toks AS (SELECT doc_id, $ToksCte AS t FROM (SELECT doc_id, LOWER(text) AS text FROM base)),
        |lng AS (SELECT doc_id, t FROM toks WHERE LEN(t) >= 50),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS c
        |       FROM (SELECT doc_id, UNNEST(t) AS tok FROM lng) GROUP BY 1, 2),
        |norms AS (SELECT doc_id, SQRT(CAST(SUM(c*c) AS DOUBLE)) AS nrm FROM tf GROUP BY 1),
        |dots AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(SUM(a.c*b.c) AS DOUBLE) AS dot
        |         FROM tf a JOIN tf b ON a.tok = b.tok AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b, dot / (na.nrm * nb.nrm) AS cos
        |FROM dots JOIN norms na ON na.doc_id = id_a JOIN norms nb ON nb.doc_id = id_b
        |WHERE dot / (na.nrm * nb.nrm) >= 0.95
        |ORDER BY id_a, id_b""".stripMargin,

    // q42/q46: exact top-5 over the twin-planted corpus (see
    // annQueriesAndTwinCorpus) — the approximate index must recover the
    // planted near-duplicates exactly.
    "q42_ann_lsh" -> AnnTwinOracle,
    "q46_ann_ivf" -> AnnTwinOracle,

    // q59: exact connected components over the exact near-dup edge set —
    // the recursive CTE computes the transitive closure's min label, which
    // must equal Spark's label-propagation fixpoint.
    "q59_dedup_clusters" ->
      s"""WITH RECURSIVE $ShingleCommonCtes,
        |pairs AS (
        |  SELECT id_a, id_b
        |  FROM common JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |reach AS (
        |  SELECT id, id AS lab FROM nodes
        |  UNION
        |  SELECT e.src AS id, r.lab FROM edges e JOIN reach r ON r.id = e.dst)
        |SELECT id AS doc_id, MIN(lab) AS rep_id FROM reach GROUP BY 1 ORDER BY 1""".stripMargin,

    "q60_tfidf_topterms" ->
      s"""WITH toks AS (SELECT doc_id, $ToksCte AS t FROM (SELECT doc_id, LOWER(text) AS text FROM documents)),
        |tf AS (SELECT doc_id, tok AS term, COUNT(*) AS tf
        |       FROM (SELECT doc_id, UNNEST(t) AS tok FROM toks) GROUP BY 1, 2),
        |dfr AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |scored AS (SELECT doc_id, term, tf * LN((n.n + 1.0) / (dfr.df + 1.0)) AS score
        |           FROM tf JOIN dfr USING (term) CROSS JOIN n),
        |ranked AS (SELECT doc_id, term, score,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS INT) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, term, ROUND(score, 6) AS score
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "q61_repetition" ->
      s"""WITH toks AS (SELECT doc_id, $ToksCte AS t FROM (SELECT doc_id, LOWER(text) AS text FROM documents)),
        |sh AS (
        |  SELECT doc_id,
        |    UNNEST(list_transform(generate_series(1, GREATEST(LEN(t) - 2, 0)),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        |  FROM toks),
        |agg AS (SELECT doc_id, COUNT(*) AS n_shingles, COUNT(DISTINCT s) AS n_unique
        |        FROM sh GROUP BY 1)
        |SELECT doc_id, n_shingles, n_unique,
        |  1.0 - CAST(n_unique AS DOUBLE) / n_shingles AS rep_score
        |FROM agg WHERE n_shingles > 0 ORDER BY doc_id""".stripMargin,

    "q66_cube" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, COUNT(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus) ORDER BY 1, 2""".stripMargin,

    "q69_grouping_sets" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, COUNT(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY 1, 2""".stripMargin,

    "q78_zorder" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(list_sum(list_transform(range(31), i ->
        |    (((l_partkey >> i) & 1) << (2*i)) + (((l_suppkey >> i) & 1) << (2*i + 1))))
        |    AS BIGINT) AS z
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // q128: the WITH-TIES retention is exactly SQL rank() <= 2 — DuckDB
    // evaluates the genuine window, the engine the heap operator
    "q128_rank_topk" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity FROM (
        |  SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
        |         RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity DESC) AS r
        |  FROM lineitem)
        |WHERE r <= 2 ORDER BY l_orderkey, l_linenumber, l_returnflag""".stripMargin,

    // q127: the 3-column interleave replayed as list arithmetic — bit i of
    // column j at output bit 3i+j, 21 bits per column
    "q127_zorder3" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(list_sum(list_transform(range(21), i ->
        |    (((l_partkey >> i) & 1) << (3*i)) + (((l_suppkey >> i) & 1) << (3*i + 1))
        |      + (((l_linenumber >> i) & 1) << (3*i + 2))))
        |    AS BIGINT) AS z
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // q129: CTAS ∪ appended subset, minus the deleted rows — pure set
    // algebra on the base table (no NULLs in o_totalprice, so NOT(>) is <=)
    "q129_sql_insert_delete" ->
      """WITH base AS (SELECT o_orderkey, o_orderdate AS dt, o_totalprice FROM orders),
        |allr AS (SELECT * FROM base
        |         UNION ALL
        |         SELECT o_orderkey + 30000000, dt, o_totalprice
        |         FROM base WHERE o_orderkey % 9 = 0)
        |SELECT o_orderkey, dt, o_totalprice FROM allr
        |WHERE o_totalprice <= 300000.0
        |ORDER BY o_orderkey, dt""".stripMargin,

    // q130: UPDATE replayed as a CASE projection over the base table
    "q130_sql_update" ->
      """SELECT o_orderkey, o_orderdate AS dt,
        |  CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 0.5
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders ORDER BY o_orderkey, dt""".stripMargin,

    // q131: MERGE replayed as set algebra — survivors of the target (kept
    // or updated, minus matched-and-deleted) plus source-only inserts.
    // Double arithmetic (*1.1, the >200000 cut) is identical IEEE in both
    // engines, so the branch decisions agree bit-for-bit
    "q131_sql_merge" ->
      """WITH base AS (SELECT o_orderkey, o_orderdate AS dt, o_totalprice FROM orders),
        |src AS (
        |  SELECT o_orderkey, dt, o_totalprice * 1.1 AS p FROM base WHERE o_orderkey % 6 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 50000000, dt, o_totalprice AS p FROM base WHERE o_orderkey % 11 = 0)
        |SELECT t.o_orderkey, t.dt,
        |  CASE WHEN s.o_orderkey IS NOT NULL THEN s.p ELSE t.o_totalprice END AS o_totalprice
        |FROM base t LEFT JOIN src s ON t.o_orderkey = s.o_orderkey
        |WHERE s.o_orderkey IS NULL OR s.p <= 200000.0
        |UNION ALL
        |SELECT s.o_orderkey, s.dt, s.p AS o_totalprice
        |FROM src s LEFT JOIN base t ON t.o_orderkey = s.o_orderkey
        |WHERE t.o_orderkey IS NULL
        |ORDER BY o_orderkey, dt""".stripMargin,

    // q132: ALTER ADD COLUMNS replayed as a NULL-extended projection of the
    // base plus the evolved-schema inserts
    "q132_sql_alter" ->
      """WITH base AS (SELECT o_orderkey, o_orderdate AS dt, o_totalprice FROM orders)
        |SELECT o_orderkey, dt, o_totalprice, CAST(NULL AS VARCHAR) AS priority FROM base
        |UNION ALL
        |SELECT o_orderkey + 70000000, dt, o_totalprice, 'late' AS priority
        |FROM base WHERE o_orderkey % 10 = 0
        |ORDER BY o_orderkey, dt""".stripMargin,

    // q133: compaction + vacuum preserve the row multiset by contract, so
    // the truth is simply the base projection
    "q133_sql_maintenance" ->
      """SELECT o_orderkey, o_orderdate AS dt, o_totalprice FROM orders
        |ORDER BY o_orderkey, dt""".stripMargin,

    // q134: the canonical triangle truth — u<v<w ordered three-way join
    // over the deduped undirected edge set (orientation-free, so it checks
    // the degree-oriented algorithm's result, not its method)
    "q134_triangles" ->
      """WITH raw AS (SELECT o_custkey AS a, o_orderkey % 15000 AS b FROM orders),
        |e AS (SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v FROM raw WHERE a <> b)
        |SELECT COUNT(*) AS n_triangles
        |FROM e e1
        |JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
        |JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v""".stripMargin,

    // q76: the bloom is invisible in the result — the oracle is the plain
    // semi join.
    "q76_bloom_semijoin" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 5000)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q75_topk_per_key" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3
        |ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey""".stripMargin,

    // q73: DuckDB regexp_replace needs the 'g' flag for replace-all (Java's
    // replaces all by default); counts via LEN(regexp_extract_all).
    "q73_pii_redact" ->
      """WITH d AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id || '@example.com now' ELSE '' END ||
        |  CASE WHEN doc_id % 4 = 0 THEN ' see https://example.org/doc/' || doc_id || ' today' ELSE '' END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(LEN(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        |  CAST(LEN(regexp_extract_all(text, 'https?://[^ \t\n]+')) AS INT) AS n_urls,
        |  md5(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    'https?://[^ \t\n]+', '<URL>', 'g')) AS redacted_md5
        |FROM d ORDER BY doc_id""".stripMargin,

    "q74_decontamination" ->
      s"""WITH toks AS (SELECT doc_id, $ToksCte AS t FROM (SELECT doc_id, LOWER(text) AS text FROM documents)),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    UNNEST(list_transform(generate_series(1, GREATEST(LEN(t) - 2, 0)),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        |  FROM toks),
        |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0),
        |shared AS (SELECT doc_id, COUNT(*) AS n_shared FROM sh JOIN bench USING (s) GROUP BY 1)
        |SELECT d.doc_id, COALESCE(shared.n_shared, 0) AS n_shared,
        |  COALESCE(shared.n_shared, 0) >= 5 AS contaminated
        |FROM documents d LEFT JOIN shared ON shared.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q72_exists_subquery" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders o
        |WHERE EXISTS (
        |    SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey AND l.l_discount >= 0.08)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey AND l.l_tax = 0)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // q67: identical SQL text modulo view names — both engines must
    // decorrelate (or correlate) to the same values; the 0.2x-average
    // threshold is decimal-exact until one final double cast.
    "q67_small_qty_revenue" ->
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
        |  COUNT(*) AS n_small
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand = 'Brand#1'
        |  AND l.l_quantity < (
        |    SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
        |    FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)""".stripMargin,

    "q68_pack_sharded" ->
      s"""WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
        |    CAST(LEN($ToksCte) AS BIGINT) AS n_tokens FROM documents),
        |c AS (SELECT doc_id, shard, n_tokens,
        |  COALESCE(CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS tok_before
        |  FROM t)
        |SELECT doc_id, shard, n_tokens,
        |  shard * 1000000000 + tok_before // 2048 AS bin_id, tok_before % 2048 AS bin_offset
        |FROM c ORDER BY doc_id""".stripMargin,

    "q64_pack_sequences" ->
      s"""WITH t AS (SELECT doc_id, CAST(LEN($ToksCte) AS BIGINT) AS n_tokens FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |  COALESCE(CAST(SUM(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS tok_before
        |  FROM t)
        |SELECT doc_id, n_tokens, tok_before // 2048 AS bin_id, tok_before % 2048 AS bin_offset
        |FROM c ORDER BY doc_id""".stripMargin,

    // q79: keep probability is pure modular arithmetic of doc_id, so both
    // engines select the identical sample. Same reduced form as weightedMix
    // ((id mod M)·(A mod M) mod M ≡ (id·A) mod M) so neither side can
    // overflow a 64-bit product for large ids.
    "q79_source_mixing" ->
      """SELECT doc_id, source FROM documents
        |WHERE CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
        |                  WHEN 'src2' THEN 0.25 WHEN 'src3' THEN 0.1 END IS NOT NULL
        |  AND ((doc_id % 1000000007) * 654435747) % 1000000007 <
        |      (CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
        |                   WHEN 'src2' THEN 0.25 WHEN 'src3' THEN 0.1 END) * 1000000007
        |ORDER BY doc_id""".stripMargin,

    // q80: the gate's signals reuse q32/q33's oracle formulas verbatim;
    // the quality threshold applies to the 6dp-rounded score on both sides
    // (qualityScore rounds internally).
    "q80_quality_gate" ->
      s"""WITH t AS (SELECT doc_id, text, $ToksCte AS toks FROM documents),
        |s AS (SELECT doc_id, toks, LEN(toks) AS n,
        |  list_transform(toks, x -> LOWER(x)) AS lt,
        |  CASE WHEN LENGTH(text) = 0 THEN 0.0
        |       ELSE CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[.,!?;:''"()\\[\\]{}-]', '', 'g')) AS DOUBLE) / LENGTH(text) END AS praw
        |  FROM t),
        |c AS (SELECT doc_id, n, praw,
        |  LEN(list_filter(lt, x -> x IN ('the','and','of','to','a','in','is','it','that','for'))) AS en,
        |  LEN(list_filter(lt, x -> x IN ('der','die','das','und','ist','nicht','ein','mit','auf','von'))) AS de,
        |  LEN(list_filter(lt, x -> x IN ('el','la','de','que','y','en','un','es','por','con'))) AS es,
        |  LEN(list_filter(lt, x -> x IN ('le','la','et','les','des','est','un','une','dans','que'))) AS fr
        |  FROM s),
        |g AS (SELECT doc_id, CAST(n AS INT) AS n_tokens,
        |  ROUND((LEAST(CAST(n AS DOUBLE) / 100.0, 1.0)
        |       + LEAST(CASE WHEN n = 0 THEN 0.0 ELSE CAST(en AS DOUBLE) / n END * 5.0, 1.0)
        |       + GREATEST(1.0 - praw * 10.0, 0.0)) / 3.0, 6) AS quality,
        |  CASE WHEN GREATEST(en, de, es, fr) = 0 THEN 'und'
        |       WHEN en = GREATEST(en, de, es, fr) THEN 'en'
        |       WHEN de = GREATEST(en, de, es, fr) THEN 'de'
        |       WHEN es = GREATEST(en, de, es, fr) THEN 'es'
        |       ELSE 'fr' END AS lang_pred
        |  FROM c)
        |SELECT doc_id, n_tokens, quality, lang_pred FROM g
        |WHERE quality >= 0.5 AND n_tokens BETWEEN 20 AND 100000
        |  AND lang_pred IN ('en', 'de')
        |ORDER BY doc_id""".stripMargin,

    "q65_stratified_sample" ->
      """SELECT doc_id, source, lang FROM (
        |  SELECT doc_id, source, lang,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rnk
        |  FROM documents)
        |WHERE rnk % 10 = 1 ORDER BY doc_id""".stripMargin,

    // q70: the stream-stream interval join's batch twin — plain SQL join
    // with the same time-window predicate.
    "q70_click_attribution" ->
      """WITH e AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events)
        |SELECT c.user_id, c.event_id AS click_id, c.ts AS click_ts,
        |       v.event_id AS view_id, v.ts AS view_ts
        |FROM (SELECT * FROM e WHERE event_type = 'click') c
        |JOIN (SELECT * FROM e WHERE event_type = 'view') v
        |  ON v.user_id = c.user_id
        | AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 30 MINUTE
        |ORDER BY c.user_id, click_id, view_id""".stripMargin,

    "q62_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |g AS (SELECT user_id, event_id, ts,
        |  CASE WHEN LAG(ts) OVER w IS NULL
        |         OR date_diff('second', LAG(ts) OVER w, ts) > 1800 THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts,
        |  CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM g)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  MIN(ts) AS start_ts, MAX(ts) AS end_ts
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q63_funnel" ->
      """WITH f AS (
        |  SELECT user_id,
        |    MIN(CAST(ts AS TIMESTAMP)) FILTER (WHERE event_type = 'view') AS v,
        |    MIN(CAST(ts AS TIMESTAMP)) FILTER (WHERE event_type = 'click') AS c,
        |    MIN(CAST(ts AS TIMESTAMP)) FILTER (WHERE event_type = 'purchase') AS p
        |  FROM events GROUP BY 1)
        |SELECT COUNT(v) AS n_view,
        |  COUNT(*) FILTER (WHERE c > v) AS n_view_then_click,
        |  COUNT(*) FILTER (WHERE c > v AND p > c) AS n_full_funnel
        |FROM f""".stripMargin,

    // q43: decodeStub's rolling checksum (h*31 + byte, wrapping 64-bit)
    // reproduced over the UTF-8 bytes with HUGEINT modular arithmetic
    // (fixtures are pure ASCII, so per-char ord == byte).
    "q43_multimodal" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |    list_transform(range(1, length(text) + 1), i -> ord(text[i])::HUGEINT) AS bytes
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, n_bytes,
        |    list_reduce(list_prepend(0::HUGEINT, bytes),
        |      (acc, x) -> (acc * 31 + x) % 18446744073709551616::HUGEINT) AS h
        |  FROM b),
        |s AS (
        |  SELECT doc_id, n_bytes,
        |    CASE WHEN h >= 9223372036854775808::HUGEINT
        |         THEN (h - 18446744073709551616::HUGEINT)::BIGINT
        |         ELSE h::BIGINT END AS checksum
        |  FROM f)
        |SELECT doc_id AS id, 'text/plain' AS media_type, n_bytes,
        |  CAST(64 + abs(checksum) % 1024 AS INT) AS width,
        |  CAST(64 + abs(checksum // 1024) % 1024 AS INT) AS height,
        |  checksum
        |FROM s ORDER BY id""".stripMargin,

    // q71: the decoded properties of the synthesized PNGs are pure
    // arithmetic of doc_id — equality proves the REAL encode/decode
    // roundtrip (JDK ImageIO), not a checksum stub.
    "q71_image_roundtrip" ->
      """SELECT doc_id,
        |  CAST(16 + doc_id % 32 AS INT) AS width,
        |  CAST(8 + doc_id % 16 AS INT) AS height,
        |  CAST((16 + doc_id % 32) * (8 + doc_id % 16) AS BIGINT) AS n_pixels,
        |  ROUND(CAST(doc_id % 256 AS DOUBLE), 4) AS mean_luma,
        |  TRUE AS format_ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    // q77: exact heavy-hitter counts hash-match; booleans assert the CMS
    // estimates landed inside the sketch's guarantee.
    "q77_cms_heavy_hitters" ->
      """SELECT l_suppkey, COUNT(*) AS n_exact, TRUE AS cms_ok
        |FROM lineitem GROUP BY 1
        |ORDER BY n_exact DESC, l_suppkey LIMIT 10""".stripMargin,

    // q44: exact count-distinct and exact percentiles hash-match; the
    // booleans assert each sketch landed within tolerance of exact.
    "q44_sketches" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS n_parts,
        |  TRUE AS hll_ok,
        |  ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50, TRUE AS p50_ok,
        |  ROUND(quantile_cont(l_extendedprice, 0.99), 6) AS p99, TRUE AS p99_ok
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    // q38: same two-stage frequency aggregation; HUGEINT sums cast down,
    // entropy rounded 6dp on both sides (double-sum order differences sit
    // ~1e-10, far inside the rounding).
    "q38_token_entropy" ->
      """WITH t AS (SELECT doc_id,
        |  unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
        |  FROM documents),
        |f AS (SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
        |  ROUND(LN(CAST(SUM(c) AS DOUBLE)) - SUM(c * LN(c)) / SUM(c), 6) AS entropy
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q39: ROW_NUMBER()=1 over (ts DESC, event_id) is the oracle for the
    // bounded-heap top-1; DuckDB orders the nanos timestamp directly.
    "q39_latest_per_key" ->
      """SELECT user_id, event_id, event_type, value FROM (
        |  SELECT user_id, event_id, event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin,

    // q82: every decoded WAV header field is arithmetic of doc_id; duration
    // = frames / rate in double on both sides, rounded 6dp.
    "q82_audio_roundtrip" ->
      """SELECT doc_id,
        |  CAST(8000 + (doc_id % 8) * 1000 AS INT) AS sample_rate,
        |  CAST(1 + doc_id % 2 AS INT) AS channels,
        |  CAST(100 + doc_id % 400 AS BIGINT) AS n_frames,
        |  ROUND(CAST(100 + doc_id % 400 AS DOUBLE) / (8000 + (doc_id % 8) * 1000), 6) AS duration_sec,
        |  TRUE AS format_ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    // q93: frame f is solid gray (gray0 + 37f) mod 256 under a lossless
    // per-frame codec, so first/last-frame luma are exact arithmetic.
    "q93_video_roundtrip" ->
      """SELECT doc_id,
        |  CAST(16 + doc_id % 16 AS INT) AS width,
        |  CAST(8 + doc_id % 8 AS INT) AS height,
        |  CAST(2 + doc_id % 4 AS BIGINT) AS n_frames,
        |  ROUND(CAST(doc_id % 200 AS DOUBLE), 4) AS first_luma,
        |  ROUND(CAST((doc_id % 200 + 37 * (1 + doc_id % 4)) % 256 AS DOUBLE), 4) AS last_luma,
        |  TRUE AS format_ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    // q81: MERGE semantics spelled out relationally — updated rows replace,
    // re-keyed rows insert, everything else survives.
    "q81_merge_upsert" ->
      """WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus FROM orders),
        |upd AS (
        |  SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus FROM base WHERE o_orderkey % 100 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, o_orderstatus FROM base WHERE o_orderkey % 500 = 0)
        |SELECT * FROM (
        |  SELECT * FROM upd
        |  UNION ALL
        |  SELECT b.* FROM base b
        |  WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.o_orderkey = b.o_orderkey))
        |ORDER BY o_orderkey""".stripMargin,

    // q84: same multiplicative-hash rank (reduced-mod, overflow-free) and
    // ROW_NUMBER quota on both sides.
    "q84_group_sample_topk" ->
      """WITH h AS (SELECT source, doc_id,
        |  ((doc_id % 1000000007) * 654435747) % 1000000007 AS hkey FROM documents)
        |SELECT source, doc_id, hkey FROM (
        |  SELECT source, doc_id, hkey,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY hkey, doc_id) AS rn FROM h)
        |WHERE rn <= 5 ORDER BY source, hkey, doc_id""".stripMargin,

    // q85: the SCD2 state machine spelled out — changed keys contribute a
    // closed old row + an open new row; unchanged and no-op keys keep their
    // open row.
    "q85_scd2_apply" ->
      """WITH t AS (SELECT c_custkey AS k, c_mktsegment AS v,
        |  DATE '2020-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to FROM customer),
        |b AS (SELECT c_custkey AS k, 'NEW' AS v FROM customer WHERE c_custkey % 3 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment FROM customer
        |  WHERE c_custkey % 3 <> 0 AND c_custkey % 5 = 0),
        |chg AS (SELECT t.k, t.v AS old_v, b.v AS new_v, t.valid_from
        |        FROM t JOIN b ON t.k = b.k AND t.v IS DISTINCT FROM b.v)
        |SELECT k, v, valid_from, COALESCE(valid_to, DATE '9999-12-31') AS valid_to FROM (
        |  SELECT k, v, valid_from, valid_to FROM t WHERE k NOT IN (SELECT k FROM chg)
        |  UNION ALL
        |  SELECT k, old_v, valid_from, DATE '2024-06-01' FROM chg
        |  UNION ALL
        |  SELECT k, new_v, DATE '2024-06-01', CAST(NULL AS DATE) FROM chg)
        |ORDER BY k, valid_from""".stripMargin,

    // q86: FLOOR-of-double binning is bit-identical across engines; totals
    // sum through DECIMAL(18,2).
    "q86_histogram" ->
      """SELECT CAST(FLOOR(l_extendedprice / 5000) AS BIGINT) AS bin, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q88_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM orders
        |JOIN lineitem ON o_orderkey = l_orderkey AND l_returnflag = 'R'
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(o_orderdate AS DATE) < DATE '1996-07-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q89_forecast_revenue" ->
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    "q90_parts_suppliers" ->
      """SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_size BETWEEN 10 AND 40
        |GROUP BY 1, 2
        |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin,

    // q91: same floor-half-up quantization arithmetic in list lambdas;
    // HUGEINT list sums cast down.
    "q91_embed_quantize" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (SELECT vec_id, v,
        |  COALESCE(list_max(list_transform(v, x -> ABS(x))), 0.0) AS mx FROM v),
        |q AS (SELECT vec_id, mx,
        |  list_transform(v, x -> CASE WHEN mx = 0 THEN CAST(0 AS BIGINT)
        |    ELSE CAST(FLOOR(x * 127.0 / mx + 0.5) AS BIGINT) END) AS qv FROM m)
        |SELECT vec_id, ROUND(mx / 127.0, 9) AS qscale,
        |  CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |  CAST(list_sum(list_transform(qv, x -> ABS(x))) AS BIGINT) AS q_abs_sum,
        |  CAST(list_max(list_transform(qv, x -> ABS(x))) AS BIGINT) AS q_max_abs
        |FROM q ORDER BY vec_id""".stripMargin,

    // q92: quantile_cont is the same type-7 interpolation as exactQuantilesSpread
    // (pinned by q44/QuantilesSpec); winsorized values sum through
    // DECIMAL(18,4).
    "q92_winsorized" ->
      """WITH b AS (SELECT l_returnflag,
        |  quantile_cont(l_extendedprice, 0.01) AS lo,
        |  quantile_cont(l_extendedprice, 0.99) AS hi
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(GREATEST(b.lo, LEAST(b.hi, l.l_extendedprice)) AS DECIMAL(18,4))) AS DOUBLE) AS total_w
        |FROM lineitem l JOIN b USING (l_returnflag)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q94: the oracle is the EXHAUSTIVE all-pairs truth — equality proves
    // the length-blocking recalls every qualifying pair.
    "q94_fuzzy_pairs" ->
      """WITH n AS (SELECT c_custkey AS id, c_name AS name FROM customer
        |           WHERE c_custkey % 30 = 0)
        |SELECT a.id AS id_a, b.id AS id_b, levenshtein(a.name, b.name) AS dist
        |FROM n a JOIN n b ON a.id < b.id
        |WHERE levenshtein(a.name, b.name) <= 2
        |ORDER BY id_a, id_b""".stripMargin,

    "q95_dod_change" ->
      """WITH d AS (SELECT CAST(o_orderdate AS DATE) AS dt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1)
        |SELECT dt, rev, rev - LAG(rev) OVER (ORDER BY dt) AS delta
        |FROM d ORDER BY dt""".stripMargin,

    "q96_ntile" ->
      """SELECT o_orderkey,
        |  NTILE(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    // q97: the oracle is the UNSALTED aggregate — equality proves the
    // two-stage salted merge is exact.
    "q97_skew_salted_agg" ->
      """SELECT l_returnflag, CAST(SUM(l_partkey) AS BIGINT) AS sum_l_partkey,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q98_key_histogram" ->
      """WITH c AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1)
        |SELECT event_type, n,
        |  ROUND(CAST(n AS DOUBLE) / (SELECT SUM(n) FROM c), 6) AS share
        |FROM c ORDER BY n DESC, event_type""".stripMargin,

    "q99_except_all" ->
      """SELECT o_custkey FROM orders
        |EXCEPT ALL
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_custkey""".stripMargin,

    // q100: quantile_cont twice — same type-7 interpolation as
    // exactQuantilesSpread on both passes.
    "q100_mad" ->
      """WITH m AS (SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
        |           FROM lineitem GROUP BY 1),
        |d AS (SELECT l.l_returnflag, ABS(l.l_extendedprice - m.med) AS adev
        |      FROM lineitem l JOIN m USING (l_returnflag))
        |SELECT l_returnflag, ROUND(quantile_cont(adev, 0.5), 6) AS mad
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,

    // q87: the ROW_NUMBER formulation IS the oracle — the rewrite must be
    // row-invisible.
    "q87_window_topk_rewrite" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3
        |ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey""".stripMargin,

    // q83: IS NOT DISTINCT FROM is SQL's null-safe <=> — the NULL bucket
    // rows must be treated as matched (removed), not re-surfaced.
    "q83_antijoin_nullsafe" ->
      """SELECT o.o_orderkey, NULLIF(o.o_orderkey % 10, 5) AS bucket
        |FROM orders o
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM (VALUES (2), (4), (6), (8), (NULL)) e(b)
        |  WHERE e.b IS NOT DISTINCT FROM NULLIF(o.o_orderkey % 10, 5))
        |ORDER BY o.o_orderkey""".stripMargin,

    // q101: the snapshot-committed MERGE must be row-identical to the plain
    // relational upsert — the manifest layer is visibility, not semantics.
    "q101_snapshot_merge" ->
      """WITH base AS (SELECT o_orderkey, o_orderdate AS dt, o_orderstatus FROM orders),
        |upd AS (
        |  SELECT o_orderkey, dt, 'X' AS o_orderstatus FROM base WHERE o_orderkey % 100 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, dt, o_orderstatus FROM base WHERE o_orderkey % 500 = 0)
        |SELECT * FROM (
        |  SELECT * FROM upd
        |  UNION ALL
        |  SELECT b.* FROM base b
        |  WHERE NOT EXISTS (SELECT 1 FROM upd u
        |                    WHERE u.o_orderkey = b.o_orderkey AND u.dt = b.dt))
        |ORDER BY o_orderkey, dt""".stripMargin,

    // q102: append + compact is pure layout — the read-back multiset IS the
    // source table.
    "q102_snapshot_compact" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // q103: the incrementally-folded rollup state must equal one full
    // aggregation (sums through DECIMAL for engine-exactness, avg finalized
    // at 6dp from the state columns).
    "q103_incremental_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_l_quantity,
        |  COUNT(l_quantity) AS cnt_l_quantity,
        |  MIN(l_quantity) AS min_l_quantity,
        |  MAX(l_quantity) AS max_l_quantity,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_l_extendedprice,
        |  COUNT(l_extendedprice) AS cnt_l_extendedprice,
        |  MIN(l_extendedprice) AS min_l_extendedprice,
        |  MAX(l_extendedprice) AS max_l_extendedprice,
        |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    / COUNT(l_quantity), 6) AS avg_l_quantity,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    / COUNT(l_extendedprice), 6) AS avg_l_extendedprice
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q104: identical truth to q103 — the incremental path (snapshot
    // appends + changesBetween windows) must be invisible to the result.
    "q104_rollup_from_changes" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_l_quantity,
        |  COUNT(l_quantity) AS cnt_l_quantity,
        |  MIN(l_quantity) AS min_l_quantity,
        |  MAX(l_quantity) AS max_l_quantity,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_l_extendedprice,
        |  COUNT(l_extendedprice) AS cnt_l_extendedprice,
        |  MIN(l_extendedprice) AS min_l_extendedprice,
        |  MAX(l_extendedprice) AS max_l_extendedprice,
        |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    / COUNT(l_quantity), 6) AS avg_l_quantity,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    / COUNT(l_extendedprice), 6) AS avg_l_extendedprice
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q105: rollback restores version 1 exactly — the junk append/delete
    // must be invisible, so the truth is the plain base projection.
    "q105_snapshot_rollback" ->
      """SELECT o_orderkey, o_orderdate AS dt, o_totalprice FROM orders
        |ORDER BY o_orderkey, dt""".stripMargin,

    // q106: the deterministic-shard contract IS this SQL — global
    // ROW_NUMBER in md5(id || '-' || seed) order, cut into 64-row shards.
    // The engine must reproduce every placement without the single-task
    // window the oracle is allowed to use.
    "q106_shuffle_shard" ->
      """WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || '-42') AS hx
        |           FROM documents),
        |r AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY hx, doc_id) - 1 AS g FROM h)
        |SELECT doc_id, g // 64 AS shard, g % 64 AS pos FROM r ORDER BY doc_id""".stripMargin,

    // q107: paragraph dedup over the repeat-planted fixture; first
    // occurrence by (doc_id, pos), docs reassembled in paragraph order.
    // The oracle keys on the paragraph STRING where the engine keys on its
    // xxhash64 digest — a collision would surface here.
    "q107_paragraph_dedup" ->
      """WITH d AS (
        |  SELECT a.doc_id, a.text || chr(10) || chr(10) || b.text AS text
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id % 100),
        |p AS (
        |  SELECT doc_id, generate_subscripts(ps, 1) - 1 AS pos, unnest(ps) AS para
        |  FROM (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS ps FROM d)),
        |k AS (
        |  SELECT doc_id, pos, para,
        |    ROW_NUMBER() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
        |  FROM p),
        |r AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(para, chr(10) || chr(10) ORDER BY pos) AS clean_text
        |  FROM k WHERE rn = 1 GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(r.clean_text, '') AS clean_text,
        |  LEN(string_split(d.text, chr(10) || chr(10))) AS n_paras,
        |  COALESCE(r.n_kept, 0) AS n_kept
        |FROM d LEFT JOIN r USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    // q108: add-0.5-smoothed bigram NLL; contexts and vocabulary are
    // defined over the same >= 2-token documents on both sides, and the
    // average rounds at 6dp to absorb summation-order float noise.
    "q108_bigram_surprisal" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |t2 AS (SELECT doc_id, toks FROM t WHERE LEN(toks) >= 2),
        |p AS (SELECT doc_id, generate_subscripts(toks, 1) AS i, unnest(toks) AS w FROM t2),
        |g AS (
        |  SELECT a.doc_id, a.w || ' ' || b.w AS bg, a.w AS w1
        |  FROM p a JOIN p b ON b.doc_id = a.doc_id AND b.i = a.i + 1),
        |v AS (SELECT COUNT(DISTINCT w) AS v FROM (SELECT unnest(toks) AS w FROM t2)),
        |c2 AS (SELECT bg, COUNT(*) AS c2 FROM g GROUP BY bg),
        |c1 AS (SELECT w1, COUNT(*) AS c1 FROM g GROUP BY w1)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  ROUND(AVG(-LN((c2 + 0.5) / (c1 + 0.5 * v))), 6) AS surprisal
        |FROM g JOIN c2 USING (bg) JOIN c1 USING (w1) CROSS JOIN v
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q109_flatten_tokens" ->
      s"""WITH toks AS (
        |  SELECT UNNEST($ToksCte) AS token
        |  FROM (SELECT LOWER(text) AS text FROM documents))
        |SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token
        |ORDER BY cnt DESC, token LIMIT 20""".stripMargin,

    "q110_gap_fill" ->
      """WITH daily AS (
        |  SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS obs
        |  FROM orders GROUP BY 1, 2),
        |bounds AS (SELECT MIN(CAST(o_orderdate AS DATE)) AS lo,
        |                  MAX(CAST(o_orderdate AS DATE)) AS hi FROM orders),
        |spine AS (SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
        |          FROM bounds),
        |keys AS (SELECT DISTINCT o_orderpriority AS priority FROM orders)
        |SELECT k.priority AS priority, s.day AS day,
        |  last_value(d.obs IGNORE NULLS) OVER (
        |    PARTITION BY k.priority ORDER BY s.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS revenue_ffill
        |FROM keys k CROSS JOIN spine s
        |LEFT JOIN daily d ON d.priority = k.priority AND d.day = s.day
        |ORDER BY 1, 2""".stripMargin,

    "q111_hash_split" ->
      """WITH assigned AS (
        |  SELECT CASE WHEN SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 4) < '0ccc' THEN 'test'
        |              WHEN SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 4) < '1999' THEN 'val'
        |              ELSE 'train' END AS split, n_chars
        |  FROM documents)
        |SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM assigned GROUP BY split ORDER BY split""".stripMargin,

    "q112_profile" ->
      """SELECT col_name, null_count, distinct_count, min_value, max_value FROM (
        |  SELECT 'c_custkey' AS col_name, COUNT(*) - COUNT(c_custkey) AS null_count,
        |    COUNT(DISTINCT c_custkey) AS distinct_count,
        |    CAST(CAST(MIN(c_custkey) AS DECIMAL(38,6)) AS VARCHAR) AS min_value,
        |    CAST(CAST(MAX(c_custkey) AS DECIMAL(38,6)) AS VARCHAR) AS max_value FROM customer
        |  UNION ALL
        |  SELECT 'c_name', COUNT(*) - COUNT(c_name), COUNT(DISTINCT c_name),
        |    CAST(MIN(c_name) AS VARCHAR), CAST(MAX(c_name) AS VARCHAR) FROM customer
        |  UNION ALL
        |  SELECT 'c_nationkey', COUNT(*) - COUNT(c_nationkey), COUNT(DISTINCT c_nationkey),
        |    CAST(CAST(MIN(c_nationkey) AS DECIMAL(38,6)) AS VARCHAR),
        |    CAST(CAST(MAX(c_nationkey) AS DECIMAL(38,6)) AS VARCHAR) FROM customer
        |  UNION ALL
        |  SELECT 'c_acctbal', COUNT(*) - COUNT(c_acctbal), COUNT(DISTINCT c_acctbal),
        |    CAST(CAST(MIN(c_acctbal) AS DECIMAL(38,6)) AS VARCHAR),
        |    CAST(CAST(MAX(c_acctbal) AS DECIMAL(38,6)) AS VARCHAR) FROM customer
        |  UNION ALL
        |  SELECT 'c_mktsegment', COUNT(*) - COUNT(c_mktsegment), COUNT(DISTINCT c_mktsegment),
        |    CAST(MIN(c_mktsegment) AS VARCHAR), CAST(MAX(c_mktsegment) AS VARCHAR) FROM customer
        |) ORDER BY col_name""".stripMargin,

    "q113_pmi_collocations" ->
      s"""WITH t AS (
        |  SELECT doc_id, $ToksCte AS toks
        |  FROM (SELECT doc_id, LOWER(text) AS text FROM documents)),
        |t2 AS (SELECT doc_id, toks FROM t WHERE LEN(toks) >= 2),
        |p AS (SELECT doc_id, generate_subscripts(toks, 1) AS i, UNNEST(toks) AS w FROM t2),
        |g AS (
        |  SELECT a.w || ' ' || b.w AS bg, a.w AS w1, b.w AS w2
        |  FROM p a JOIN p b ON b.doc_id = a.doc_id AND b.i = a.i + 1),
        |cbg AS (SELECT bg, MIN(w1) AS w1, MIN(w2) AS w2, COUNT(*) AS cnt
        |        FROM g GROUP BY bg HAVING COUNT(*) >= 5),
        |nbg AS (SELECT COUNT(*) AS nbg FROM g),
        |uni AS (SELECT w, COUNT(*) AS c FROM (SELECT UNNEST(toks) AS w FROM t2) GROUP BY w),
        |ntok AS (SELECT COUNT(*) AS ntok FROM (SELECT UNNEST(toks) AS w FROM t2))
        |SELECT bg, cnt,
        |  ROUND(LN((CAST(cnt AS DOUBLE) * ntok.ntok * ntok.ntok)
        |    / (CAST(nbg.nbg AS DOUBLE) * u1.c * u2.c)), 6) AS pmi
        |FROM cbg JOIN uni u1 ON u1.w = cbg.w1 JOIN uni u2 ON u2.w = cbg.w2
        |CROSS JOIN nbg CROSS JOIN ntok
        |ORDER BY pmi DESC, bg LIMIT 30""".stripMargin
  )
}
