package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops.TopK

/** The custom TopKPerKey operator must produce EXACTLY the window
  * formulation's rows (row_number <= k under the same total order) and
  * plan as partial-heaps → hash exchange on keys → final-heaps.
  */
class TopKSpec extends SparkSpec {
  import spark.implicits._

  private def windowTopK(k: Int) = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  /** Evaluate `f` with RowNumberTopKRewrite excluded — the window
    * formulation is this suite's REFERENCE, so it must not itself be
    * rewritten into the operator under test (the shared session is built
    * with the extension, and `GraftExtensions.register` adds the rule
    * again; the exclusion covers both).
    */
  private def withoutRewrite[T](f: => T): T =
    withConf("spark.sql.optimizer.excludedRules" -> graft.plans.RowNumberTopKRewrite.ruleName)(f)

  test("topKPerKey equals the window row_number formulation exactly") {
    for (k <- Seq(1, 3, 10)) {
      val custom = TopK.topKPerKey(Tables.orders(spark, sfDir),
        keys = Seq("o_orderpriority"),
        order = Seq(("o_totalprice", false), ("o_orderkey", true)), k = k)
        .orderBy("o_orderkey").collect().toSeq
      val ref = withoutRewrite(windowTopK(k).orderBy("o_orderkey").collect().toSeq)
      assert(custom == ref, s"k=$k")
    }
  }

  test("RowNumberTopKRewrite: plain window syntax plans as the bounded-heap operator") {
    graft.extensions.GraftExtensions.register(spark)
    val df = windowTopK(3) // filter rn<=3 then drop rn — rewrite-eligible
    val got = df.orderBy("o_orderkey").collect().toSeq
    val plan = df.queryExecution.executedPlan.toString
    assert("TopKPerKey \\[".r.findAllIn(plan).size >= 2, plan)
    // neither the window exec nor Spark's own sort-based WindowGroupLimit
    // (which InferWindowGroupLimit inserts for this shape) may survive —
    // the heaps subsume both, with no Sort at all
    assert(!plan.contains("Window [") && !plan.contains("WindowGroupLimit") &&
      !plan.contains("Sort "), plan)
    withoutRewrite {
      val ref = windowTopK(3)
      val want = ref.orderBy("o_orderkey").collect().toSeq
      assert(ref.queryExecution.executedPlan.toString.contains("Window"),
        "control must remain a genuine window plan")
      assert(got == want)
    }
    // keeping the rank column in the output must BLOCK the rewrite
    val keeps = Tables.orders(spark, sfDir)
      .withColumn("rn", row_number().over(Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))))
      .filter(col("rn") <= 3)
    keeps.collect()
    assert(keeps.queryExecution.executedPlan.toString.contains("Window"),
      "rank-observing query must not be rewritten")
  }

  test("topKPerKey plans as partial/final heap pair around one hash exchange, no sort") {
    val df = TopK.topKPerKey(Tables.orders(spark, sfDir),
      keys = Seq("o_orderpriority"), order = Seq(("o_totalprice", false), ("o_orderkey", true)), k = 2)
    df.collect() // force planning through AQE
    val plan = df.queryExecution.executedPlan.toString
    assert("TopKPerKey \\[".r.findAllIn(plan).size >= 2, plan) // physical node renders without 'Exec'
    assert(plan.contains("Exchange hashpartitioning"), plan)
    assert(!plan.contains("SortExec") && !plan.contains("Window"), plan)
  }

  test("rank()/dense_rank() <= k plan as the heap operator with zero Sort nodes, rows exact under heavy ties") {
    graft.extensions.GraftExtensions.register(spark)
    // l_quantity is a small-integer domain — every (flag, quantity) cell
    // holds many tied rows, so WITH-TIES vs k-distinct-values vs
    // row_number genuinely differ and sloppy tie handling cannot pass
    def rankTopK(fn: org.apache.spark.sql.Column) = {
      val w = Window.partitionBy(col("l_returnflag")).orderBy(col("l_quantity").desc)
      Tables.lineitem(spark, sfDir)
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
        .withColumn("r", fn.over(w))
        .filter(col("r") <= 2)
        .drop("r")
    }
    for ((fn, name) <- Seq((rank(), "rank"), (dense_rank(), "dense_rank"))) {
      val df = rankTopK(fn)
      val got = df.orderBy("l_orderkey", "l_linenumber").collect().toSeq
      val plan = df.queryExecution.executedPlan.toString
      assert("TopKPerKey \\[".r.findAllIn(plan).size >= 2, s"$name:\n$plan")
      assert(!plan.contains("Window [") && !plan.contains("WindowGroupLimit") &&
        !plan.contains("Sort "), s"$name:\n$plan")
      val want = withoutRewrite {
        val ref = rankTopK(fn)
        assert(ref.queryExecution.executedPlan.toString.contains("Window"),
          s"$name control must remain a genuine window plan")
        ref.orderBy("l_orderkey", "l_linenumber").collect().toSeq
      }
      assert(got == want, s"$name rows diverge from the window formulation")
      assert(got.nonEmpty, name)
    }
    // the three modes genuinely differ on this tied data: rank <= 2 keeps
    // at least as many rows as row_number <= 2, dense_rank <= 2 at least
    // as many as rank <= 2 (two full quantity cells per flag)
    val nRowNum = withoutRewrite(Tables.lineitem(spark, sfDir)
      .withColumn("r", row_number().over(
        Window.partitionBy(col("l_returnflag")).orderBy(col("l_quantity").desc)))
      .filter(col("r") <= 2).count())
    val nRank = rankTopK(rank()).count()
    val nDense = rankTopK(dense_rank()).count()
    assert(nRowNum < nRank && nRank <= nDense,
      s"tie structure not exercised: row_number=$nRowNum rank=$nRank dense=$nDense")
  }

  test("topKPerKey handles more keys than k, empty input, and k >= group size") {
    val tiny = Seq(("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 3L, 3.0))
      .toDF("g", "id", "v")
    val out = TopK.topKPerKey(tiny, Seq("g"), Seq(("v", false), ("id", true)), k = 5)
    assert(out.count() == 3) // k larger than any group: everything survives
    val empty = TopK.topKPerKey(tiny.filter(lit(false)), Seq("g"), Seq(("v", false)), k = 2)
    assert(empty.count() == 0)
    assertThrows[IllegalArgumentException](
      TopK.topKPerKey(tiny, Seq("nope"), Seq(("v", false)), k = 1))
  }
}
