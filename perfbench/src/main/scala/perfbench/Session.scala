package perfbench

import org.apache.spark.sql.SparkSession

/** The read side of the engine in one session: the analyst's query mix
  * ([[BiWorkload]]) followed by the curator's cleaning pass
  * ([[CorpusWorkload]]). Neither touches the catalog; the ETL workload is
  * the one that bypasses both.
  */
final class ReadAndCurate(work: String, fixtures: String, seed: Long) extends Workload {
  private val bi = new BiWorkload(work, s"$fixtures/sf0.01", seed)
  private val corpus = new CorpusWorkload(work, s"$fixtures/sf0.1", seed)

  def generate(spark: SparkSession): Unit = {
    bi.generate(spark)
    corpus.generate(spark)
  }

  def inputInfo: Map[String, Any] = {
    val (b, c) = (bi.inputInfo, corpus.inputInfo)
    Map("rows" -> (b("rows").asInstanceOf[Long] + c("rows").asInstanceOf[Long]),
      "bytes" -> (b("bytes").asInstanceOf[Long] + c("bytes").asInstanceOf[Long]),
      "queries" -> b, "corpus" -> c)
  }

  /** Both warm-ups at once: the query mix leaves most cores idle. Caches
    * and memos are cleared only when both are done.
    */
  def warm(ctx: PassCtx): Unit = {
    val curation = new Thread(() => corpus.warm(ctx))
    curation.start()
    bi.warm(ctx)
    curation.join()
    ctx.spark.catalog.clearCache()
    graft.SparkEntry.clearMemos()
  }

  def pass(ctx: PassCtx, p: Int): Map[String, Double] = {
    bi.pass(ctx, p)
    corpus.pass(ctx, p)
  }

  def checks(ctx: PassCtx): Seq[Check] = bi.checks(ctx) ++ corpus.checks(ctx)
  override def checkValues: Map[String, Double] = corpus.checkValues
  override def traceExtras(spark: SparkSession): Map[String, Double] = corpus.traceExtras(spark)
}
