package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pins the range-partitioned global-rank machinery (graft.ops.Ranks) to the
  * window semantics it replaces: q96's NTILE and q95's LAG rewrites are only
  * legal because these hold row-for-row.
  */
class RanksSpec extends SparkSpec {
  import spark.implicits._

  test("withGlobalRowNumber equals row_number() over the global order") {
    val df = (1 to 257).map(i => (i.toLong, (i * 37 % 101).toDouble)).toDF("id", "v")
      .repartition(7)
    val got = graft.ops.Ranks
      .withGlobalRowNumber(df, Seq(col("v"), col("id")), nName = Some("__n"))
    val want = df.withColumn("__rn",
      row_number().over(Window.orderBy(col("v"), col("id"))))
    assert(got.select($"id", $"__rn").except(want.select($"id", $"__rn")).isEmpty &&
      want.select($"id", $"__rn").except(got.select($"id", $"__rn")).isEmpty)
    assert(got.select($"__n").distinct().as[Long].collect().toSeq == Seq(257L))
  }

  test("withGlobalRowNumber on an empty frame yields an empty frame") {
    val df = Seq.empty[(Long, Double)].toDF("id", "v")
    assert(graft.ops.Ranks.withGlobalRowNumber(df, Seq(col("v"))).isEmpty)
  }

  test("withGlobalRowNumber refuses output names that are already input columns") {
    val df = Seq((1L, 2.0, 3L)).toDF("id", "__rn", "n")
    val rn = intercept[IllegalArgumentException](
      graft.ops.Ranks.withGlobalRowNumber(df, Seq(col("id"))))
    assert(rn.getMessage.contains("'__rn'"), rn.getMessage)
    // the count column too, compared as Spark resolves names (case-insensitively)
    val n = intercept[IllegalArgumentException](
      graft.ops.Ranks.withGlobalRowNumber(df, Seq(col("id")), rnName = "r", nName = Some("N")))
    assert(n.getMessage.contains("'N'"), n.getMessage)
    intercept[IllegalArgumentException](
      graft.ops.Ranks.withGlobalRowNumber(df, Seq(col("id")), rnName = "r", nName = Some("r")))
  }

  test("ntileFromRank equals ntile() for every n in 1..40 and k in 1..7") {
    // covers n < k (every bucket 1 row), n % k = 0, and every remainder class
    for (k <- 1 to 7) {
      val n = 40
      val df = (1 to n).map(i => (i.toLong, (i * 13 % 97).toDouble)).toDF("id", "v")
      val want = df.select($"id",
        ntile(k).over(Window.orderBy($"v", $"id")).as("t"))
      val ranked = graft.ops.Ranks
        .withGlobalRowNumber(df, Seq(col("v"), col("id")), nName = Some("__n"))
      val got = ranked.select($"id",
        graft.ops.Ranks.ntileFromRank(k, col("__rn"), col("__n")).as("t"))
      assert(got.except(want).isEmpty && want.except(got).isEmpty,
        s"ntile mismatch at k=$k")
    }
    for (n <- 1 to 12; k <- Seq(1, 3, 4, 5)) {
      val df = (1 to n).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
      val want = df.select($"id", ntile(k).over(Window.orderBy($"v", $"id")).as("t"))
        .as[(Long, Int)].collect().sortBy(_._1).toSeq
      val ranked = graft.ops.Ranks
        .withGlobalRowNumber(df, Seq(col("v"), col("id")), nName = Some("__n"))
      val got = ranked.select($"id",
        graft.ops.Ranks.ntileFromRank(k, col("__rn"), col("__n")).as("t"))
        .as[(Long, Int)].collect().sortBy(_._1).toSeq
      assert(got == want, s"ntile mismatch at n=$n k=$k")
    }
  }

  test("rank−1 self-join reproduces LAG over the global order (q95 shape)") {
    val daily = Seq((1L, 10.0), (3L, 20.0), (4L, 15.0), (9L, 40.0)).toDF("dt", "rev")
    val want = daily
      .withColumn("delta", $"rev" - lag($"rev", 1).over(Window.orderBy($"dt")))
      .as[(Long, Double, Option[Double])].collect().sortBy(_._1).toSeq
    val ranked = graft.ops.Ranks.withGlobalRowNumber(daily, Seq(col("dt")))
    val prev = ranked.select(($"__rn" + 1).as("__rn"), $"rev".as("__prev"))
    val got = ranked.join(prev, Seq("__rn"), "left")
      .select($"dt", $"rev", ($"rev" - $"__prev").as("delta"))
      .as[(Long, Double, Option[Double])].collect().sortBy(_._1).toSeq
    assert(got == want)
  }
}
