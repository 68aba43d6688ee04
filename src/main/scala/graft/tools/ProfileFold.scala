package graft.tools

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.obs.Recorder
import graft.streaming.IncrementalClusters

/** Profiling driver for the q151 fold path (dev tool, not library
  * surface): times pair generation and each fold over two rounds (cold +
  * JIT-warm), with the per-job list of every second-round fold — the
  * harness used to find and verify the r17 per-fold overhead cuts
  * (driver union-find contraction, footprint-collect reuse, byte-targeted
  * rewrite coalesce, manifest-reuse commit hint).
  *
  * Usage: `runMain graft.tools.ProfileFold [sfDir]` (env SPARK_GRAFT_CPUS
  * as in Bench).
  */
object ProfileFold {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.local(graft.Sessions.coresFromEnv, appName = "profile-fold")
    val docs = graft.Tables.documents(spark, sf)
    val (pairs, pr) = Recorder.measure(spark) {
      val p = Dedup.minHashVerifiedNearDups(docs, threshold = 0.5)
        .select(col("id_a"), col("id_b")).localCheckpoint()
      System.err.println(s"[prof]   pairs=${p.count()}")
      p
    }
    System.err.println(f"[prof] ${"pairs (minhash+verify)"}%-28s ${pr.wallSec}%.3f s")
    // per-fold cost attribution: wall = time covered by jobs + driver-side
    // gap; the manifest layer's share (listing + parse + publish) comes from
    // the ManifestMetrics counters — the "is the fold floor manifest IO?"
    // question the r19 verdict asked, answered by measurement
    val mm = graft.catalog.SnapshotTable.ManifestMetrics
    (1 to 2).foreach { round =>
      val tbl = java.nio.file.Files.createTempDirectory(s"graft-prof$round").toString
      (0 until 3).foreach { c =>
        mm.reset()
        val (_, r) = Recorder.measure(spark)(IncrementalClusters.foldPairs(spark, tbl,
          pairs.filter(pmod(col("id_a") + col("id_b"), lit(3)) === c)))
        System.err.println(f"[prof] ${s"r$round fold$c"}%-28s ${r.wallSec}%.3f s")
        if (round == 2) r.jobs.foreach(j => System.err.println(
          f"[prof]     job ${j.id}%4d ${j.sec}%.3f s  ${j.description.take(90)}"))
        System.err.println(f"[prof]   jobs ${r.coveredSec}%.3f s | manifest " +
          f"listings=${mm.listings.sum()} ${mm.listingNanos.sum() / 1e9}%.3f s, " +
          f"parses=${mm.parses.sum()} ${mm.parseNanos.sum() / 1e9}%.3f s, " +
          f"publishes=${mm.publishes.sum()} ${mm.publishNanos.sum() / 1e9}%.3f s")
      }
    }
    spark.stop()
  }
}
