package graft

import java.io.File

import scala.util.Try

import graft.obs.Recorder

/** `Tables.load` reads each fixture's schema from one footer on the
  * driver: it must run no Spark job and give exactly the schema Spark's
  * own inference gives, under the conf `Tables.events` sets too.
  */
class TablesSpec extends SparkSpec {

  /** (directory, table) for every fixture file present. */
  private lazy val fixtures: Seq[(String, String)] =
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1",
      "perfbench/fixtures/sf0.01", "perfbench/fixtures/sf0.1").flatMap { d =>
      Option(new File(d).listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet")).map(f => (d, f.getName.stripSuffix(".parquet")))
    }.sorted

  test("every fixture loads without a Spark job, with the schema Spark infers") {
    assert(fixtures.map(_._1).distinct.size >= 2, fixtures)
    fixtures.foreach { case (dir, name) =>
      val (schema, rec) = Recorder.measure(spark)(Tables.load(spark, dir, name).schema)
      assert(rec.jobs.isEmpty, s"$dir/$name: ${rec.jobs}")
      assert(schema == spark.read.parquet(s"$dir/$name.parquet").schema, s"$dir/$name")
    }
  }

  test("events matches Spark's inference under both nanos and NTZ settings") {
    val events = fixtures.filter(_._2 == "events")
    assert(events.nonEmpty)
    for {
      nanos <- Seq("true", "false")
      ntz <- Seq("true", "false")
      (dir, _) <- events
    } withConf("spark.sql.legacy.parquet.nanosAsLong" -> nanos,
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> ntz) {
      val ours = Try(Tables.load(spark, dir, "events").schema)
      val spark0 = Try(spark.read.parquet(s"$dir/events.parquet").schema)
      assert(ours.toOption == spark0.toOption && ours.isSuccess == spark0.isSuccess,
        s"$dir nanosAsLong=$nanos inferNTZ=$ntz: $ours vs $spark0")
    }
  }

  test("a Spark-written directory reads the schema Spark stored in its footer") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-tables").toString
    spark.range(0, 30, 1, 3)
      .select(col("id"), col("id").cast("string").as("s"),
        struct(col("id").as("a"), lit(1.5).as("b")).as("nested"),
        array(col("id").cast("int")).as("arr"), current_timestamp().as("ts"))
      .write.parquet(s"$dir/t.parquet")
    val (schema, rec) = Recorder.measure(spark)(Tables.load(spark, dir, "t").schema)
    assert(rec.jobs.isEmpty, rec.jobs)
    assert(schema == spark.read.parquet(s"$dir/t.parquet").schema)
  }

  test("a missing fixture fails with Spark's own error") {
    val e = intercept[org.apache.spark.sql.AnalysisException](
      Tables.load(spark, sfDir, "no_such_table"))
    assert(e.getMessage.contains("no_such_table"), e.getMessage)
  }
}
