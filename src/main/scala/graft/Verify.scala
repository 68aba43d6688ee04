package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length == 2,
      s"usage: graft.Verify <sfDir> <outDir> — filter queries via the " +
        s"SPARK_GRAFT_QUERIES env var, not extra args (got: ${args.mkString(" ")})")
    val Array(sfDir, outDir) = args
    val spark = Sessions.local(Sessions.coresFromEnv, appName = "graft-verify")
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated filter for local iteration (same contract as
    // Bench's SPARK_GRAFT_QUERIES); unknown names fail fast. The driver
    // leaves it unset and dumps everything.
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown queries in SPARK_GRAFT_QUERIES: ${unknown.mkString(", ")}")
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val res = fn(spark, sfDir)
        // dump LTZ timestamps as NTZ: the session is UTC, so values are
        // identical, but the INT64-micros writer (Sessions pins it for
        // footer stats) annotates LTZ columns isAdjustedToUTC=true and
        // DuckDB would read them as TIMESTAMPTZ ('+00:00' suffix) while
        // the oracle SQL yields naive timestamps — a representation skew,
        // not a value difference
        val dump = res.schema.fields.collect {
          case f if f.dataType == org.apache.spark.sql.types.TimestampType => f.name
        }.foldLeft(res)((d, c) =>
          d.withColumn(c, org.apache.spark.sql.functions.col(s"`$c`").cast("timestamp_ntz")))
        dump.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // operators persist shared projections internally (signatures, term
      // vectors, training corpora); drop them between queries so a 60+-query
      // session doesn't accumulate pinned blocks
      spark.catalog.clearCache()
    }
    // release the checkpoint-backed memo frames clearCache can't see
    SparkEntry.clearMemos()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
