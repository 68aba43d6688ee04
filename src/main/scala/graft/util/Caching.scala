package graft.util

import scala.concurrent.{Await, ExecutionContext, Future, TimeoutException}
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame

/** Cache-lifecycle discipline for operators that persist shared intermediate
  * frames (signatures, term vectors, training corpora). A library call must
  * not leak pinned blocks into the caller's long-lived session: at 100 TB an
  * unreleased cache is an eviction storm for every query that follows.
  */
object Caching {

  /** Dev-only plan capture: operators that end in [[materialize]] hide their
    * real physical plan behind the checkpoint scan, so `graft.Explain` on the
    * returned frame shows a bare `Scan ExistingRDD`. With
    * SPARK_GRAFT_EXPLAIN_MATERIALIZE=1 the pre-checkpoint plan prints here
    * (formatted) before materialization — the r21 plan-evidence hook. Off by
    * default; the flag is read once so the timed path pays one cached
    * boolean test.
    */
  private val explainMaterialize: Boolean =
    sys.env.get("SPARK_GRAFT_EXPLAIN_MATERIALIZE").contains("1")

  /** Eagerly materialize the (small, output-linear) `result`, then release
    * every intermediate cache.
    *
    * `localCheckpoint` truncates the lineage to the materialized RDD, so the
    * released intermediates can never be silently recomputed by a downstream
    * action — unpersisting a lazily-returned plan instead would just move
    * the recompute to the caller's first action. The checkpointed blocks
    * themselves are reclaimed by the ContextCleaner once the returned frame
    * is unreferenced. On a real cluster (where executor loss would kill
    * local checkpoint blocks), swap in reliable `checkpoint()` or a table
    * write — same contract.
    */
  def materialize(result: DataFrame, cached: DataFrame*): DataFrame =
    try {
      if (explainMaterialize) result.explain("formatted")
      result.localCheckpoint(eager = true)
    } finally cached.foreach(_.unpersist(blocking = false))

  /** Bound on a driver wait for an [[overlapped]] build: far above any build
    * the engine runs, so only a wedged one reaches it and fails the call.
    */
  val OverlapBound: FiniteDuration = 30.minutes

  /** Run two independent eager builds at once — `a` on a second driver
    * thread, `b` on this one. If either fails, the other is awaited and
    * released before the first failure is rethrown, so a failed call pins
    * no cache. A wait past [[OverlapBound]] fails naming `op`, and the
    * still-running build is released when it finishes.
    */
  def overlapped[A, B](op: String)(a: => A, b: => B)(
      releaseA: A => Unit, releaseB: B => Unit): (A, B) = {
    val fa = Future(a)(ExecutionContext.global)
    def awaitA(): A =
      try Await.result(fa, OverlapBound)
      catch {
        case e: TimeoutException =>
          fa.foreach(releaseA)(ExecutionContext.global)
          throw new IllegalStateException(s"$op: overlapped build still running after $OverlapBound", e)
      }
    val vb = try b catch {
      case t: Throwable =>
        try releaseA(awaitA()) catch { case s: Throwable => t.addSuppressed(s) }
        throw t
    }
    val va = try awaitA() catch { case t: Throwable => releaseB(vb); throw t }
    (va, vb)
  }

  /** localCheckpoint a frame AND capture the id of the RDD it pinned, so an
    * iterative operator can release a superseded round's blocks explicitly.
    * `Dataset.unpersist` can NOT do this — the pinned RDD is internal to
    * the Dataset, so unpersist on the frame is a no-op and every round
    * would leak one checkpointed copy. The pinned RDD is identified
    * DIRECTLY off the checkpointed Dataset's plan (its `LogicalRDD` wraps
    * exactly the persisted RDD) — not by diffing the context-global
    * persistent-RDD registry, which under concurrent driver threads (two
    * iterative loops at once, a mode the OCC layer supports) captures the
    * OTHER loop's ids and lets releaseTracked unpersist a checkpointed RDD
    * whose truncated lineage makes it unrecomputable.
    */
  def checkpointTracked(df: DataFrame): (DataFrame, Set[Int]) = {
    val out = df.localCheckpoint()
    val ids = org.apache.spark.sql.graftbridge.Bridge.checkpointedRddId(out).toSet
    // a miss means the plan shape changed under us: fail loudly rather than
    // silently leak one pinned copy per loop round
    require(ids.nonEmpty, "checkpointTracked: checkpointed plan exposed no LogicalRDD")
    (out, ids)
  }

  /** Release blocks captured by [[checkpointTracked]] once no frame reads
    * them anymore.
    */
  def releaseTracked(df: DataFrame, ids: Set[Int]): Unit = {
    val sc = df.sparkSession.sparkContext
    ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
  }
}
