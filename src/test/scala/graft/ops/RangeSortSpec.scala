package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pins the shared range-sort primitive through both consumers: exact
  * quantiles equal `percentile()` bit for bit, and global row numbers equal
  * `row_number()` and `ntile()`, whatever the partition count and whether
  * AQE re-plans the sort. Also pins how many Spark jobs one call submits,
  * so a regression in the primitive's shape fails here, not only in the
  * benchmark.
  */
class RangeSortSpec extends graft.SparkSpec {
  import spark.implicits._

  private val probs = Seq(0.0, 0.01, 0.25, 0.5, 0.9, 0.99, 1.0)
  private val names = probs.indices.map(i => s"q$i")

  /** (g, v) frames, each a degenerate case the range sort must survive. */
  private def quantileCases: Seq[(String, DataFrame)] = {
    val rnd = new scala.util.Random(17L)
    Seq(
      "empty" -> Seq.empty[(Option[String], Option[Double])].toDF("g", "v"),
      "single row" -> Seq((Option("a"), Option(7.5))).toDF("g", "v"),
      "heavy ties" -> (0 until 600).map(i =>
        (Option(s"g${i % 3}"), Option((rnd.nextInt(3) + 1).toDouble))).toDF("g", "v"),
      "NULL values" -> (0 until 200).map(i =>
        (Option(s"g${i % 2}"), if (i % 5 == 0) None else Some(rnd.nextDouble() * 100)))
        .toDF("g", "v"),
      "NULL group key" -> (0 until 200).map(i =>
        (if (i % 4 == 0) None else Some(s"g${i % 3}"), Option(rnd.nextGaussian())))
        .toDF("g", "v"),
      "all-NULL group" -> (Seq((Option("a"), Option(2.0)), (Option("a"), Option(5.0))) ++
        Seq.fill(30)((Option("b"), Option.empty[Double]))).toDF("g", "v"))
  }

  /** One comparable row per group: the key, then each quantile's bits. */
  private def bits(df: DataFrame): Seq[(Option[String], Seq[Option[Long]])] =
    df.collect().toSeq.map { r =>
      (Option(r.getString(0)), (1 until r.length).map(i =>
        if (r.isNullAt(i)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(i)))))
    }.sortBy(_._1.getOrElse(""))

  private val layouts = for (parts <- Seq("1", "3", "8"); aqe <- Seq("true", "false"))
    yield Seq("spark.sql.shuffle.partitions" -> parts, "spark.sql.adaptive.enabled" -> aqe)

  test("quantiles equal percentile() bit for bit at every partition count, AQE on and off") {
    for (conf <- layouts; (name, df) <- quantileCases) withConf(conf: _*) {
      val ref = df.groupBy(col("g")).agg(
        expr(s"percentile(v, ${probs.head}D)").as(names.head),
        probs.zip(names).tail.map { case (p, n) => expr(s"percentile(v, ${p}D)").as(n) }: _*)
      val got = Quantiles.exactQuantilesSpread(df, "v", Seq("g"), probs, names)
      assert(got.columns.toSeq == "g" +: names)
      assert(bits(got) == bits(ref), s"$name under $conf")
    }
  }

  test("a global quantile over no rows is one NULL row, as percentile() gives") {
    val empty = Seq.empty[Double].toDF("v")
    val got = Quantiles.exactQuantilesSpread(empty, "v", Nil, Seq(0.5), Seq("med")).collect()
    val want = empty.agg(expr("percentile(v, 0.5D)")).collect()
    assert(got.toSeq == Seq(Row(null)) && want.toSeq == Seq(Row(null)))
  }

  /** (id, v) frames under the total order (v, id); v has ties and NULLs. */
  private def rankCases: Seq[(String, DataFrame)] = Seq(
    "empty" -> Seq.empty[(Long, Option[Double])].toDF("id", "v"),
    "single row" -> Seq((1L, Option(3.0))).toDF("id", "v"),
    "heavy ties" -> (1 to 300).map(i => (i.toLong, Option((i % 3).toDouble))).toDF("id", "v")
      .repartition(5),
    "NULL values" -> (1 to 97).map(i =>
      (i.toLong, if (i % 7 == 0) None else Some((i * 31 % 13).toDouble))).toDF("id", "v"))

  test("global row numbers equal row_number() and ntile() at every partition count, AQE on and off") {
    val order = Seq(col("v"), col("id"))
    for (conf <- layouts; (name, df) <- rankCases) withConf(conf: _*) {
      val ranked = Ranks.withGlobalRowNumber(df, order, nName = Some("__n"))
      val ks = Seq(1, 3, 4, 7)
      val got = ranked.select((col("id") +: col("__rn") +:
        ks.map(k => Ranks.ntileFromRank(k, col("__rn"), col("__n")).as(s"t$k"))): _*)
      val want = df.select((col("id") +:
        row_number().over(Window.orderBy(order: _*)).cast("long").as("__rn") +:
        ks.map(k => ntile(k).over(Window.orderBy(order: _*)).as(s"t$k"))): _*)
      def rows(d: DataFrame) = d.collect().toSeq.map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      assert(rows(got) == rows(want), s"$name under $conf")
      assert(ranked.select("__n").distinct().collect().toSeq.map(_.getLong(0))
        .forall(_ == df.count()), s"$name under $conf")
    }
  }

  test("offsets and groups place every row: counts from the one counting job") {
    val df = (0 until 90).map(i => (s"g${i % 2}", i.toDouble)).toDF("g", "v")
    for (aqe <- Seq("true", "false"); (g, keys) <- Seq(col("g") -> Seq("g0", "g1"), col("g").desc -> Seq("g1", "g0")))
      withConf("spark.sql.shuffle.partitions" -> "3", "spark.sql.adaptive.enabled" -> aqe) {
        val sorted = RangeSort(df, Seq(g, col("v")), keyCount = 1, validOrdinal = 1)
        assert(sorted.total == 90 && sorted.offsets.head == 0 &&
          sorted.offsets.sorted.sameElements(sorted.offsets))
        assert(sorted.groups.map(g => (g.key.getUTF8String(0).toString, g.start, g.valid)) ==
          Seq((keys(0), 0L, 45L), (keys(1), 45L, 45L)), s"AQE $aqe, $g")
        // a group's i-th row is its i-th smallest value
        val v = sorted.doublesAt(Seq(0L, 44L, 45L, 89L), 1)
        val first = keys.map(_.last - '0')
        assert(Seq(0L, 44L, 45L, 89L).map(v) ==
          Seq(first(0), 88 + first(0), first(1), 88 + first(1)).map(_.toDouble), s"AQE $aqe, $g")
      }
  }

  test("the counting job reads the exchange output before the sort, same rows per partition") {
    val df = (0 until 200).map(i => (i % 7, (i * 13 % 37).toDouble)).toDF("g", "v")
    for (aqe <- Seq("true", "false"))
      withConf("spark.sql.shuffle.partitions" -> "4", "spark.sql.adaptive.enabled" -> aqe) {
        val qe = df.repartitionByRange(col("g"), col("v")).sortWithinPartitions(col("g"), col("v"))
          .queryExecution
        val rows = (r: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]) =>
          r.mapPartitions(it => Iterator(it.map(x => (x.getInt(0), x.getDouble(1))).toVector)).collect()
        val unsorted = RangeSort.unsorted(qe)
        assert(unsorted.isDefined, s"no sort input found with AQE $aqe")
        assert(rows(unsorted.get).map(_.sorted).toSeq == rows(qe.toRdd).toSeq, s"AQE $aqe")
      }
  }

  /** Spark jobs `body` submits. */
  private def jobsOf(body: => Unit): Int = graft.obs.Recorder.measure(spark)(body)._2.jobs.size

  test("job count: a quantile call runs 4 jobs with AQE (3 without), ranks 3 (2)") {
    // quantiles: range-boundary sample, sort map stage (AQE submits it on
    // its own), per-partition run counts, bracket values; ranks stop after
    // the counts, and the caller's action on the ranked frame is its own
    val df = (0 until 400).map(i => (s"g${i % 3}", (i * 7 % 101).toDouble, i.toLong))
      .toDF("g", "v", "id")
    for ((aqe, quantileJobs, rankJobs) <- Seq(("true", 4, 3), ("false", 3, 2)))
      withConf("spark.sql.shuffle.partitions" -> "4", "spark.sql.adaptive.enabled" -> aqe) {
        val q = jobsOf(Quantiles.exactQuantilesSpread(df, "v", Seq("g"), Seq(0.1, 0.5), Seq("a", "b")))
        assert(q == quantileJobs, s"quantile jobs with AQE $aqe")
        val r = jobsOf(Ranks.withGlobalRowNumber(df, Seq(col("v"), col("id"))))
        assert(r == rankJobs, s"rank jobs with AQE $aqe")
      }
  }
}
