package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** One timed operation: a landing batch, a query, or a curation pass. A
  * failed operation keeps its error and gives no latency sample.
  */
final case class Op(pass: Int, name: String, seconds: Option[Double], error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

final case class Check(name: String, ok: Boolean, detail: String)

/** Runs operations, timing each one and counting exceptions as failures. */
final class Recorder {
  val ops = mutable.ArrayBuffer.empty[Op]
  var pass: Int = -1

  def failed(name: String, e: Throwable): Unit = synchronized {
    System.err.println(s"[perfbench] $name failed: $e")
    ops += Op(pass, name, None, Some(e.toString))
  }

  def op(name: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try {
      body
      val s = (System.nanoTime() - t0) / 1e9
      synchronized { ops += Op(pass, name, Some(s), None) }
    } catch {
      case e: Throwable => failed(name, e)
    }
  }
}

/** Everything a pass needs from the run: the session, the recorder and
  * the tracer.
  */
final class PassCtx(val spark: SparkSession, val rec: Recorder, val tr: Tracer) {
  private val held = mutable.ArrayBuffer.empty[DataFrame]

  /** Traced runs only: materialize a lazy layer output at its boundary, so
    * its cost lands in its own span instead of the consumer's.
    */
  def boundary(df: DataFrame): DataFrame =
    if (!tr.enabled) df
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      held += p
      p
    }

  def release(): Unit = {
    held.foreach(_.unpersist(blocking = true))
    held.clear()
  }
}

trait Workload {
  /** Writes the seeded inputs under the work directory. */
  def generate(spark: SparkSession): Unit
  /** Input size, reported with the run's context. */
  def inputInfo: Map[String, Any]
  /** Untimed warm-up before the timed loop; where the checks need outputs
    * of their own, this is the pass that produces them.
    */
  def warm(ctx: PassCtx): Unit
  /** One unit of repeated work. Returns per-pass layer values. */
  def pass(ctx: PassCtx, p: Int): Map[String, Double]
  /** Output checks, run after the timed loop. */
  def checks(ctx: PassCtx): Seq[Check]
  /** Values from the checks that do not need timing. */
  def checkValues: Map[String, Double] = Map.empty
  /** Counters only the traced run may add actions for. */
  def traceExtras(spark: SparkSession): Map[String, Double] = Map.empty
}

object Main {
  /** Set-ups per run; the reported set-up time is their median. */
  val SetupReps = 3

  private def loadavg(): Seq[Double] =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8")
      .split(" ").take(3).map(_.toDouble).toSeq
    catch { case _: Throwable => Seq.empty }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val result = run(args)
    Files.writeString(Paths.get(args("out")),
      org.json4s.jackson.Serialization.write(result)(org.json4s.DefaultFormats))
  }

  def run(args: Map[String, String]): Map[String, Any] = {
    val workloadName = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val work = args("work")
    val fixtures = args("fixtures")
    val cores = args("cores").toInt
    Files.createDirectories(Paths.get(work))

    val loadStart = loadavg()
    val t00 = System.nanoTime()
    def phase(name: String): Unit =
      System.err.println(f"[perfbench] $name done at ${(System.nanoTime() - t00) / 1e9}%.1f s")
    val wl: Workload = workloadName match {
      case "etl_daily_batches" => new EtlWorkload(work, seed)
      case "read_and_curate" => new ReadAndCurate(work, fixtures, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: session start, input generation and a light warm-up, repeated
    // so the reported figure is a median; the last session is kept
    val setupSamples = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until SetupReps) {
      val t0 = System.nanoTime()
      spark = graft.Sessions.local(cores, appName = "perfbench",
        warehouseDir = Some(s"$work/warehouse"))
      wl.generate(spark)
      setupSamples += (System.nanoTime() - t0) / 1e9
      if (i < SetupReps - 1) spark.stop()
    }

    phase("setup")
    val rec = new Recorder
    val off = new Tracer(spark.sparkContext, enabled = false)

    rec.pass = -1
    val warmCtx = new PassCtx(spark, rec, off)
    try wl.warm(warmCtx) catch { case e: Throwable => rec.failed("warm-up", e) }
    warmCtx.release()
    phase("warm-up")

    def loop(tr: Tracer, budget: Double, firstPass: Int): (Seq[Double], Seq[Map[String, Double]], Double) = {
      val passTimes = mutable.ArrayBuffer.empty[Double]
      val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
      val t0 = System.nanoTime()
      var p = firstPass
      while (passTimes.isEmpty || (System.nanoTime() - t0) / 1e9 < budget) {
        rec.pass = p
        tr.pass = p
        val ctx = new PassCtx(spark, rec, tr)
        val s0 = System.nanoTime()
        layers += tr.span("pass")(wl.pass(ctx, p))
        passTimes += (System.nanoTime() - s0) / 1e9
        ctx.release()
        p += 1
      }
      (passTimes.toSeq, layers.toSeq, (System.nanoTime() - t0) / 1e9)
    }

    val result = mutable.LinkedHashMap.empty[String, Any]
    if (!trace) {
      val (passTimes, layers, wall) = loop(off, seconds, 0)
      result ++= Seq("pass_s" -> passTimes, "loop_s" -> wall, "layers" -> layers,
        "timed_ops" -> rec.ops.filter(_.pass >= 0).map(opJson))
    } else {
      // untraced passes before and after the traced ones; the overhead is
      // taken against the later ones, which warm-up no longer slows
      val (plainBefore, _, _) = loop(off, seconds / 3, 0)
      org.apache.spark.perfbenchbridge.Bus.drain(spark.sparkContext)
      val probe = new Probe
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(probe)
      val tr = new Tracer(spark.sparkContext, enabled = true)
      val (tracedPasses, layers, wall) = loop(tr, seconds / 3, plainBefore.size)
      org.apache.spark.perfbenchbridge.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(probe)
      spark.listenerManager.unregister(probe)
      val (plainAfter, _, _) = loop(off, seconds / 3, plainBefore.size + tracedPasses.size)
      val extras = try wl.traceExtras(spark) catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] trace extras failed: $e")
          Map.empty[String, Double]
      }
      val traced = plainBefore.size until plainBefore.size + tracedPasses.size
      result ++= Seq("untraced_before_s" -> plainBefore, "untraced_pass_s" -> plainAfter,
        "pass_s" -> tracedPasses,
        "loop_s" -> wall, "layers" -> layers, "extras" -> extras,
        "spans" -> tr.toJson, "probe" -> probe.toJson,
        "timed_ops" -> rec.ops.filter(o => traced.contains(o.pass)).map(opJson))
    }
    phase("timed loop")
    rec.pass = -1
    val checks = try wl.checks(new PassCtx(spark, rec, off)) catch {
      case e: Throwable => Seq(Check("checks", ok = false, e.toString))
    }

    phase("checks")
    val failedOps = rec.ops.filterNot(_.ok)
    result ++= Seq(
      "workload" -> workloadName, "seed" -> seed, "trace" -> trace,
      "setup_s" -> setupSamples.toSeq,
      "check_values" -> wl.checkValues,
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "attempted" -> rec.ops.size, "failed" -> failedOps.size,
      "failures" -> failedOps.map(opJson),
      "context" -> Map(
        "nproc" -> cores,
        "loadavg_start" -> loadStart, "loadavg_end" -> loadavg(),
        "jvm_max_heap_bytes" -> Runtime.getRuntime.maxMemory,
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "jdk" -> System.getProperty("java.version"),
        "seed" -> seed,
        "input" -> wl.inputInfo))
    spark.stop()
    result.toMap
  }

  private def opJson(o: Op): Map[String, Any] =
    Map("pass" -> o.pass, "name" -> o.name, "s" -> o.seconds, "ok" -> o.ok, "error" -> o.error)
}
