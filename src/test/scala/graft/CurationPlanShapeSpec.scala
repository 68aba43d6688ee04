package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.{Decontaminate, Dedup, SemDeDup}
import graft.text.TextPipelines

/** Pins the EXECUTED plan shapes of the r15 curation operators — the scale
  * arguments in their scaladoc ("benchmark side broadcasts", "ownership is
  * a partial-aggregated groupBy, not a window") as assertions, so a
  * refactor that silently degrades the 100 TB shape fails here, not in
  * production.
  */
class CurationPlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val nested = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => allNodes(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => allNodes(r.child)
      case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        allNodes(c.relation.cachedPlan) // a persisted operator's real plan
      case _ => Seq.empty
    }
    (p +: p.children.flatMap(allNodes)) ++ nested
  }

  private def executedNodes(df: DataFrame): Seq[String] = {
    df.collect()
    allNodes(df.queryExecution.executedPlan).map(_.nodeName)
  }

  /** Node names across EVERY query execution `run` triggers — operators
    * that materialize-and-release internally (semanticDedup, dsirScores)
    * return a checkpoint scan, so their real plans are only visible
    * through the query executions the run recorded.
    */
  private def executedNodesDuring(run: => Unit): Seq[String] =
    graft.obs.Recorder.measure(spark)(run)._2.executions
      .flatMap(qe => allNodes(qe.executedPlan)).map(_.nodeName)

  private lazy val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")

  test("exciseContaminated: benchmark side broadcasts; no sort-merge joins, no windows") {
    val bench = docs.filter(pmod($"doc_id", lit(17)) === 0).select($"text")
    val nodes = executedNodes(Decontaminate.exciseContaminated(docs, bench, n = 8))
    assert(nodes.exists(_.contains("BroadcastHashJoin")), nodes.distinct.mkString(", "))
    assert(!nodes.exists(_.contains("SortMergeJoin")), nodes.distinct.mkString(", "))
    assert(!nodes.exists(_.contains("Window")), nodes.distinct.mkString(", "))
    assert(!nodes.exists(_.contains("CartesianProduct")), nodes.distinct.mkString(", "))
  }

  test("exactSpanDedupFlags: ownership is partial-aggregated hash groupBy, never a window") {
    val nodes = executedNodes(Dedup.exactSpanDedupFlags(docs, k = 8))
    assert(nodes.count(_.contains("HashAggregate")) >= 2, // partial + final
      nodes.distinct.mkString(", "))
    assert(!nodes.exists(_.contains("Window")), nodes.distinct.mkString(", "))
    assert(!nodes.exists(_.contains("CartesianProduct")), nodes.distinct.mkString(", "))
  }

  test("dsirScores: model scalars ride as broadcasts; no windows, no cartesian blowup") {
    // ONE 1-row frame carries all three scalars (N_raw, N_target, |V|) and
    // broadcast-nested-loops onto the scoring frame; the bigram joins stay keyed
    val nodes = executedNodesDuring {
      TextPipelines.dsirScores(docs, docs.limit(50)).collect(); ()
    }
    assert(nodes.count(_.contains("BroadcastNestedLoopJoin")) >= 1,
      nodes.distinct.mkString(", "))
    assert(!nodes.exists(_.contains("Window")), nodes.distinct.mkString(", "))
  }

  test("dsirScoresHashed: fixed feature space drops the vocabulary aggregate; no windows") {
    // the hashed variant broadcasts ONE 1-row frame carrying the two total
    // scalars (|V| is a literal — one less corpus-wide aggregate than the
    // exact path) and keeps the feature joins keyed
    val nodes = executedNodesDuring {
      TextPipelines.dsirScoresHashed(docs, docs.limit(50)).collect(); ()
    }
    assert(nodes.count(_.contains("BroadcastNestedLoopJoin")) >= 1,
      nodes.distinct.mkString(", "))
    assert(!nodes.exists(_.contains("Window")), nodes.distinct.mkString(", "))
    assert(!nodes.exists(_.contains("CartesianProduct")), nodes.distinct.mkString(", "))
  }

  test("semanticDedup: centroid scoring is ONE broadcast nested loop; cell join is keyed") {
    val corpus = Tables.embeddings(spark, sfDir)
      .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("vec"))
    val centroids = corpus.filter(pmod($"id", lit(50)) === 0).orderBy($"id")
      .collect().map(_.getSeq[Double](1).toIndexedSeq: Seq[Double]).toIndexedSeq
    val nodes = executedNodesDuring {
      SemDeDup.semanticDedup(corpus, centroids, threshold = 0.99).collect(); ()
    }
    assert(nodes.exists(_.contains("BroadcastNestedLoopJoin")), // k x dim centroid frame
      nodes.distinct.mkString(", "))
    assert(!nodes.exists(_.contains("CartesianProduct")), nodes.distinct.mkString(", "))
    assert(!nodes.exists(_.contains("Window")), nodes.distinct.mkString(", "))
  }
}
