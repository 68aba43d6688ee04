package graft.tools


/** Generic per-query profiling driver (dev tool, not library surface):
  * runs named queries from [[graft.SparkEntry.queries]] through the bench's
  * noop-sink methodology and prints, per run, the JOB decomposition — job
  * count, per-job wall, summed executor task time — plus the driver-side
  * gap (wall − sum(job wall)), which is Catalyst planning + scheduling +
  * driver-side work (manifest IO, collects). The r21 optimization round's
  * first question for every slow query is "jobs, tasks, or driver?", and
  * this answers it mechanically.
  *
  * Usage: `runMain graft.tools.ProfileQuery q151_incremental_clusters ...`
  * (env SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in Bench; 3 runs each,
  * trace on the last).
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "name at least one query")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local(graft.Sessions.coresFromEnv, appName = "graft-profile")
    val unknown = args.toSet -- graft.SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val jobNanos = new java.util.concurrent.atomic.LongAdder
    val taskNanos = new java.util.concurrent.atomic.LongAdder
    val jobCount = new java.util.concurrent.atomic.LongAdder
    val events = new java.util.concurrent.atomic.LongAdder
    @volatile var trace = false
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(js.stageInfos.headOption.map(_.name)).getOrElse("?")
        jobStarts.put(js.jobId, (System.nanoTime(), desc)); events.increment()
      }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val s = jobStarts.remove(je.jobId)
        if (s != null) {
          val d = System.nanoTime() - s._1
          jobNanos.add(d); jobCount.increment()
          if (trace) System.err.println(
            f"[prof]   job ${je.jobId}%4d ${d / 1e9}%7.3f s  ${s._2.take(110)}")
        }
        events.increment()
      }
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        if (te.taskMetrics != null)
          taskNanos.add(te.taskMetrics.executorRunTime * 1000000L)
        events.increment()
      }
    })
    def settle(): Unit = {
      var last = -1L; var stable = 0
      while (stable < 3) {
        Thread.sleep(60)
        val n = events.sum()
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
    }

    // warm FS metadata / codegen outside the measured runs (Bench's shape)
    Seq("lineitem", "documents", "embeddings")
      .foreach(t => graft.Tables.load(spark, sfDir, t).limit(1).count())
    graft.Tables.events(spark, sfDir).limit(1).count()
    settle()

    args.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      (1 to 3).foreach { run =>
        trace = run == 3 && sys.env.contains("SPARK_GRAFT_PROFILE_TRACE")
        jobNanos.reset(); taskNanos.reset(); jobCount.reset()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        val wall = (System.nanoTime() - t0) / 1e9
        settle()
        spark.catalog.clearCache()
        graft.SparkEntry.clearMemos()
        System.err.println(f"[prof] $name%-28s run$run wall ${wall}%7.3f s | " +
          f"jobs ${jobCount.sum()}%3d sum ${jobNanos.sum() / 1e9}%7.3f s | " +
          f"task-time ${taskNanos.sum() / 1e9}%7.3f s | " +
          f"driver-gap ${wall - jobNanos.sum() / 1e9}%7.3f s")
      }
    }
    spark.stop()
  }
}
