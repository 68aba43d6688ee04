package graft


/** Dev tool: print formatted physical plans for selected queries —
  * `runMain graft.Explain q06_filter_pushdown q40_minhash_neardups ...`
  * (all queries when no args). Used to audit pushdown/pruning/broadcast/
  * exchange-reuse per SURVEY.md §4.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Sessions.local(Sessions.coresFromEnv, appName = "graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
