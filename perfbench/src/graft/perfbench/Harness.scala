package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What one run measured and checked. End-to-end metrics are the
  * user-visible numbers; layer metrics come from the traced run; detail
  * holds the workload-specific breakdown (sweeps, per-query walls,
  * distributed-build phase laps) that has no counterpart on the other
  * workloads. */
final class Outcome {
  val e2e: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  val layer: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap()
  val detail: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap()
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer()
  var attempted = 0
  var failed = 0

  /** Count one output check; a failed check is a failed operation. */
  def check(name: String, ok: Boolean, why: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += s"$name: $why" }
  }

  /** Count one operation of the program; a NonFatal throw is a failure
    * and yields None. Fatal errors propagate and abort the run. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body) catch {
      case NonFatal(e) =>
        failed += 1
        failures += s"$name threw ${e.getClass.getName}: ${e.getMessage}"
        System.err.println(s"[perfbench] $name failed: $e")
        None
    }
  }
}

/** Everything a workload needs for one run. */
final class Ctx(val spark: SparkSession, val probe: Probe, val seed: Long,
                val seconds: Double, val scratch: String, val benchDir: String,
                val out: Outcome) {
  /** Repeat `unit` until `seconds` of timed work have passed, at least once.
    * Returns how many units ran. */
  def repeatFor(unit: => Unit): Int = {
    val t0 = System.nanoTime()
    var n = 0
    do { unit; n += 1 } while ((System.nanoTime() - t0) / 1e9 < seconds)
    n
  }
}

/** A benchmark workload: inputs made from the seed, set-up, timed work,
  * output checks. */
trait Workload {
  def name: String
  /** Input sizes and fixed parameters, recorded in every result. */
  def sizes: Seq[(String, Any)]
  /** Make and cache the inputs; called several times, the last call's
    * inputs are the ones used. */
  def prepare(ctx: Ctx): Unit
  /** A fixed warm-up pass: primes JIT and codegen, outside timing. */
  def warmUp(ctx: Ctx): Unit
  /** The timed work; fills e2e metrics and the workload's detail. */
  def run(ctx: Ctx): Unit
  /** Output checks against oracles, after the timed window. */
  def verify(ctx: Ctx): Unit
  /** Write the run's outputs as the committed expectations, where the
    * workload checks against committed expectations. */
  def record(path: String): Unit =
    sys.error(s"$name checks against oracles, not recorded expectations")
  /** Drop everything the run wrote (tables, temp dirs). */
  def cleanup(ctx: Ctx): Unit = ()
}

/** Entry point: one workload, one seed, one JVM.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1
  *          --scratch DIR --bench-dir DIR --result FILE [--spans FILE]
  *
  * Writes its result as one JSON object to FILE; stdout carries only the
  * engine's own log lines. */
object Harness {
  val SetupReps = 3
  /** Phases every workload runs; their counters are the per-layer
    * metrics. Other phases (the bucketed write, recall evaluation, heap
    * checkpoints) are reported in the workload's detail. */
  val SharedPhases = Seq("knn", "build", "serve")

  def workloads: Map[String, () => Workload] = Map(
    "ann_inmem_ood" -> (() => new AnnInMem),
    "query_suite" -> (() => new QuerySuite))

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val wl = workloads.getOrElse(arg("workload"),
      sys.error(s"unknown workload ${arg("workload")}; one of ${workloads.keys.toSeq.sorted.mkString(", ")}"))()
    val traced = arg("trace") == "1"
    val scratch = arg("scratch")
    val cores = 4

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${wl.name}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.checkpoint.dir", s"$scratch/checkpoints")
      .config("spark.hadoop.hadoop.tmp.dir", s"$scratch/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    def mark(what: String): Unit = System.err.println(
      f"[perfbench] ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s: $what")
    mark("session ready")
    val probe = new Probe(spark, traced)
    val out = new Outcome
    val ctx = new Ctx(spark, probe, arg("seed").toLong, arg("seconds").toDouble,
      scratch, arg("bench-dir"), out)
    try {
      val prepS = (1 to SetupReps).map { _ =>
        val t0 = System.nanoTime(); wl.prepare(ctx); (System.nanoTime() - t0) / 1e9
      }
      val tw = System.nanoTime()
      wl.warmUp(ctx)
      val warmS = (System.nanoTime() - tw) / 1e9
      probe.heapCheckpoint()
      val gc0 = probe.gcSeconds
      mark("set-up done")

      probe.startWindow()
      wl.run(ctx)
      probe.endWindow()
      val gcS = probe.gcSeconds - gc0

      mark("timed work done")
      wl.verify(ctx)
      args.get("record").foreach(wl.record)
      mark("checks done")

      out.e2e("setup_s") = sessionS + Stats.median(prepS) + warmS
      out.e2e("peak_heap_mb") = probe.peakHeapMb
      out.detail("setup") = mutable.LinkedHashMap(
        "session_s" -> sessionS, "prepare_s" -> prepS, "warm_up_s" -> warmS)
      out.detail("timed_s") = probe.windowS
      out.detail("gc_s") = gcS
      if (traced) {
        SharedPhases.foreach(p => probe.phaseMetrics(p).foreach {
          case (k, v, u) => out.layer(k) = (v, u)
        })
        out.detail("other_phases") = probe.phases.map(_.name).distinct
          .filterNot(SharedPhases.contains).flatMap(probe.phaseMetrics)
          .map { case (k, v, _) => k -> v }.toMap
        out.layer("span.run_self_s") = (probe.runSelfS, "s")
        out.layer("trace.timed_s") = (probe.windowS, "s")
        out.layer("jvm.gc_s") = (gcS, "s")
        args.get("spans").foreach(p => write(p, probe.spansJson(wl.name).mkString("", "\n", "\n")))
      }
    } finally {
      try wl.cleanup(ctx) finally spark.stop()
      mark("session stopped")
    }

    val cpus = Runtime.getRuntime.availableProcessors()
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> wl.name,
      "seed" -> ctx.seed,
      "traced" -> traced,
      "run_id" -> probe.runId,
      "fingerprint" -> mutable.LinkedHashMap(
        "cpus" -> cpus,
        "spark_cores" -> cores,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
        "spark" -> spark.version,
        "sizes" -> mutable.LinkedHashMap(wl.sizes: _*)),
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "failures" -> out.failures,
      "e2e" -> out.e2e,
      "layer" -> out.layer.map { case (k, (v, u)) => k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) },
      "detail" -> out.detail)
    write(arg("result"), Json(result))
  }

  private def write(path: String, s: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
  }
}
