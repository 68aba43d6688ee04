package graft.tools

import graft.obs.Recorder

/** Generic per-query profiling driver (dev tool, not library surface):
  * runs named queries from [[graft.SparkEntry.queries]] through the bench's
  * noop-sink methodology and prints, per run, the JOB decomposition — job
  * count, time covered by jobs, summed executor task time — plus the
  * driver-side gap (wall − covered), which is Catalyst planning +
  * scheduling + driver-side work (manifest IO, collects). The r21
  * optimization round's first question for every slow query is "jobs,
  * tasks, or driver?", and this answers it mechanically. The last run's
  * job list follows, one line per job with its wall and description.
  *
  * Usage: `runMain graft.tools.ProfileQuery q151_incremental_clusters ...`
  * (env SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in Bench; 3 runs each).
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "name at least one query")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local(graft.Sessions.coresFromEnv, appName = "graft-profile")
    val unknown = args.toSet -- graft.SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    // warm FS metadata / codegen outside the measured runs (Bench's shape)
    Seq("lineitem", "documents", "embeddings")
      .foreach(t => graft.Tables.load(spark, sfDir, t).limit(1).count())
    graft.Tables.events(spark, sfDir).limit(1).count()

    args.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val last = (1 to 3).map { run =>
        val (_, r) = Recorder.measure(spark)(
          fn(spark, sfDir).write.mode("overwrite").format("noop").save())
        spark.catalog.clearCache()
        graft.SparkEntry.clearMemos()
        System.err.println(f"[prof] $name%-28s run$run wall ${r.wallSec}%7.3f s | " +
          f"jobs ${r.jobs.size}%3d covered ${r.coveredSec}%7.3f s | " +
          f"task-time ${r.taskSec}%7.3f s | driver-gap ${r.driverGapSec}%7.3f s")
        r
      }.last
      last.jobs.foreach(j => System.err.println(
        f"[prof]   job ${j.id}%4d ${j.sec}%7.3f s  ${j.description.take(110)}"))
    }
    spark.stop()
  }
}
