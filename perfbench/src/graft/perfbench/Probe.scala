package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed phase of a workload run, with the Spark work it caused. */
final case class PhaseRecord(name: String, seq: Int, startNs: Long, endNs: Long,
                             jobs: Long, tasks: Long, taskCpuNs: Long,
                             taskTimeMs: Long, shuffleBytes: Long,
                             planningMs: Long, jobSpans: Seq[(Long, Long)]) {
  def wallS: Double = (endNs - startNs) / 1e9
  /** Time of the phase covered by no Spark job: planning, collecting
    * results and other work outside the executors. */
  def selfS: Double = {
    val iv = jobSpans.map { case (s, e) => (s max startNs, e min endNs) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    (endNs - startNs - covered) / 1e9
  }
}

/** The harness's measurement layer: phase timing, old-gen heap
  * checkpoints and, when traced, Spark runtime counters and spans.
  *
  * Phases run one at a time from the main thread. Each phase sets a
  * job group; every job that starts while the phase is open is charged to
  * it, also jobs submitted from pool threads that do not inherit the
  * group. Events are drained from the listener bus at each phase end, so
  * a phase's counters are complete before the next phase begins.
  *
  * Span hierarchy: the run (the timed window) -> phase -> Spark job; all
  * spans carry the run id and are written out once, after the run. */
final class Probe(spark: SparkSession, val traced: Boolean) {
  val runId: String = java.util.UUID.randomUUID().toString
  val cores: Int = spark.sparkContext.defaultParallelism
  private val sc = spark.sparkContext

  // epoch alignment: listener times are epoch ms, phase times nanoTime
  private val nanoBase = System.nanoTime()
  private val epochNsBase = System.currentTimeMillis() * 1000000L
  private def epochMsToNano(ms: Long): Long = ms * 1000000L - epochNsBase + nanoBase

  private final class Acc {
    var jobs, tasks, cpuNs, taskMs, shuffle, planMs = 0L
    val jobStart = mutable.Map[Int, Long]()
    val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
  }
  @volatile private var current: Acc = new Acc // work outside any phase
  private val stageAcc = new java.util.concurrent.ConcurrentHashMap[Int, Acc]()
  private val jobAcc = new java.util.concurrent.ConcurrentHashMap[Int, Acc]()

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val a = current
      a.synchronized { a.jobs += 1; a.jobStart(e.jobId) = epochMsToNano(e.time) }
      jobAcc.put(e.jobId, a)
      e.stageIds.foreach(stageAcc.put(_, a))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobAcc.remove(e.jobId)).foreach { a =>
        a.synchronized {
          a.jobStart.remove(e.jobId).foreach(s => a.jobSpans += ((s, epochMsToNano(e.time))))
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = Option(stageAcc.get(e.stageId)).getOrElse(current)
      a.synchronized {
        a.tasks += 1
        a.taskMs += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          a.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
          a.shuffle += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }

  private object PlanListener extends QueryExecutionListener {
    private def charge(qe: QueryExecution): Unit = {
      val a = current
      a.synchronized { a.planMs += qe.tracker.phases.values.map(_.durationMs).sum }
    }
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = charge(qe)
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = charge(qe)
  }

  if (traced) {
    sc.addSparkListener(Listener)
    spark.listenerManager.register(PlanListener)
  }

  val phases: mutable.ArrayBuffer[PhaseRecord] = mutable.ArrayBuffer()
  private var seq = 0
  private var windowStart = 0L
  private var windowEnd = 0L
  private var peakOldGenBytes = 0L

  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.toArray(
    Array.empty[java.lang.management.MemoryPoolMXBean])
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  /** Full GC, then the old generation's usage: the heap the run holds.
    * Called between phases, outside every timed interval. The pause
    * between two collections lets Spark's ContextCleaner drop the
    * broadcasts and blocks the first one released, so the reading does
    * not depend on when the cleaner thread last ran. */
  def heapCheckpoint(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    val used = oldGen.map(_.getUsage.getUsed)
      .getOrElse(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    peakOldGenBytes = math.max(peakOldGenBytes, used)
  }
  def peakHeapMb: Double = peakOldGenBytes / 1048576.0

  def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans.toArray(
    Array.empty[java.lang.management.GarbageCollectorMXBean])
    .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  /** Open the timed window: everything after this is measured work. */
  def startWindow(): Unit = { windowStart = System.nanoTime() }
  def endWindow(): Unit = { windowEnd = System.nanoTime() }
  def windowS: Double = (windowEnd - windowStart) / 1e9

  /** Run `body` as phase `name`; returns its value and wall seconds. */
  def phase[T](name: String)(body: => T): (T, Double) = {
    seq += 1
    val acc = new Acc
    if (traced) { PerfbenchBus.drain(sc); current = acc }
    sc.setJobGroup(s"$name#$seq", name)
    val t0 = System.nanoTime()
    val out = try body finally sc.clearJobGroup()
    val t1 = System.nanoTime()
    if (traced) { PerfbenchBus.drain(sc); current = new Acc }
    acc.synchronized {
      phases += PhaseRecord(name, seq, t0, t1, acc.jobs, acc.tasks, acc.cpuNs,
        acc.taskMs, acc.shuffle, acc.planMs, acc.jobSpans.toList)
    }
    (out, (t1 - t0) / 1e9)
  }

  /** A heap checkpoint inside the timed window, as its own phase so the
    * spans still account for the window. */
  def heapPhase(): Unit = phase("heap")(heapCheckpoint())

  /** Per-layer metrics derived from the phase records of one phase name:
    * counters from its last occurrence (they repeat exactly per plan),
    * times as the median over occurrences. */
  def phaseMetrics(name: String): Seq[(String, Double, String)] = {
    val rs = phases.filter(_.name == name).toSeq
    require(rs.nonEmpty, s"no phase named $name was run")
    val last = rs.last
    val idle = rs.map(r => r.wallS * cores - r.taskTimeMs / 1e3)
    Seq(
      (s"spark.$name.jobs", last.jobs.toDouble, "count"),
      (s"spark.$name.tasks", last.tasks.toDouble, "count"),
      (s"spark.$name.shuffle_bytes", last.shuffleBytes.toDouble, "bytes"),
      (s"spark.$name.task_cpu_s", Stats.median(rs.map(_.taskCpuNs / 1e9)), "s"),
      (s"spark.$name.idle_core_s", Stats.median(idle), "s"),
      (s"spark.$name.planning_s", Stats.median(rs.map(_.planningMs / 1e3)), "s"),
      (s"span.$name.wall_s", Stats.median(rs.map(_.wallS)), "s"),
      (s"span.$name.self_s", Stats.median(rs.map(_.selfS)), "s"))
  }

  /** The run's own self time: timed window not covered by any phase. */
  def runSelfS: Double = windowS - phases
    .filter(p => p.startNs >= windowStart && p.endNs <= windowEnd)
    .map(_.wallS).sum

  /** All spans of the run as JSON lines: run -> phase -> Spark job. */
  def spansJson(workload: String): Seq[String] = {
    def line(id: String, parent: String, name: String, s: Long, e: Long) =
      s"""{"run_id":"$runId","workload":"$workload","id":"$id","parent":$parent,""" +
        s""""name":"$name","start_ns":${s - nanoBase},"end_ns":${e - nanoBase}}"""
    val run = line("run", "null", "run", windowStart, windowEnd)
    run +: phases.toSeq.flatMap { p =>
      val pid = s"phase-${p.seq}"
      line(pid, "\"run\"", p.name, p.startNs, p.endNs) +:
        p.jobSpans.zipWithIndex.map { case ((s, e), i) =>
          line(s"$pid-job-$i", s"\"$pid\"", "spark_job", s, e)
        }
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
