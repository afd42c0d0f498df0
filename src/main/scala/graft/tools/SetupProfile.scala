package graft.tools

import graft.core.{Metric, Tables}
import graft.ops.{KnnJoin, Quantize}
import org.apache.spark.sql.functions._

/** Break the bench's shared_setup_sec into its sub-steps — the PQ chain
  * (rotate/permute/train/encode), the exact ground truth, and the
  * distributed graph build (which prints its own phase laps) — so the
  * optimization loop targets the measured dominator instead of the whole
  * opaque 30-40 s block:
  *
  * {{{ runMain graft.tools.SetupProfile [sfDir] }}}
  */
object SetupProfile {

  /** Noise-free structural counters per lap (job/stage/task counts and
    * shuffle bytes are deterministic for a fixed plan, unlike wall time
    * on a shared box): structural wins show as counter drops even when
    * the wall numbers are swamped by neighbor load. */
  private final class Counters extends org.apache.spark.scheduler.SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val shuffleRead = new java.util.concurrent.atomic.AtomicLong
    val shuffleWrite = new java.util.concurrent.atomic.AtomicLong
    private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      jobStarts.put(e.jobId, System.nanoTime())
    }
    override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
      val t0 = jobStarts.remove(e.jobId)
      if (t0 != 0L) {
        val sec = (System.nanoTime() - t0) / 1e9
        if (sec >= 0.5)
          println(f"[setup-profile]   job ${e.jobId} $sec%.2f s")
      }
    }
    override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    def snapshot: (Long, Long, Long, Long, Long) =
      (jobs.get, stages.get, tasks.get, shuffleRead.get, shuffleWrite.get)
  }
  private val counters = new Counters

  private def lap[T](name: String)(f: => T): T = {
    val before = counters.snapshot
    val t0 = System.nanoTime()
    val r = f
    val sec = (System.nanoTime() - t0) / 1e9
    val a = counters.snapshot
    println(f"[setup-profile] $name $sec%.2f s | jobs ${a._1 - before._1} " +
      f"stages ${a._2 - before._2} tasks ${a._3 - before._3} " +
      f"shufRd ${(a._4 - before._4) / 1024}%d KiB shufWr ${(a._5 - before._5) / 1024}%d KiB")
    r
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Tools.session()
    spark.sparkContext.addSparkListener(counters)
    spark.range(100000).selectExpr("sum(id)").collect()

    val emb = Tables.vectors(spark, sfDir)
    val qSide = emb.filter(col("id") < 20)
    val bSide = emb.filter(col("id") >= 20)

    // mirrors QueriesAnn.pqArtifacts step by step (same constants)
    val PqDim = 64; val PqM = 16; val PqK = 256; val PqTrainCap = 2048
    val train = lap("pq: trainSet cut") {
      graft.ops.graph.PlanUtil.cutDF(
        bSide.orderBy("id").limit(PqTrainCap))
    }
    val rotTrain = Quantize.opqRotate(train, PqDim)
    val perm = lap("pq: opqPermutation") {
      Quantize.opqPermutation(rotTrain, PqDim, PqM)
    }
    val trainP = Quantize.permute(rotTrain, perm).cache()
    val bP = Quantize.permute(Quantize.opqRotate(bSide, PqDim), perm).cache()
    val qP = Quantize.permute(Quantize.opqRotate(qSide, PqDim), perm).cache()
    lap("pq: trainP+bP materialize") { trainP.count(); bP.count() }
    val cb = lap("pq: pqTrain") {
      val c = Quantize.pqTrain(trainP, PqM, PqK, 1).cache(); c.count(); c
    }
    val codes = lap("pq: pqEncodeKernel") {
      val c = Quantize.pqEncodeKernel(bP, cb, PqM).cache(); c.count(); c
    }
    lap("pq: qP materialize") { qP.count() }

    lap("exactGt: KnnJoin q vs b") {
      KnnJoin(qSide, bSide, 10, Metric.L2)
        .select(col("query_id"), transform(col("knn"), _("id")).as("ids"))
        .count()
    }

    lap("graph: dist build (phase laps above)") {
      graft.queries.QueriesGraph.materializeShared(spark, sfDir)
    }

    // mirror of the bench's bsp_search scale variant (same inputs/knobs)
    locally {
      import graft.core.{BuildParams, SearchParams}
      val nq = math.max(20, (emb.count() / 10).toInt)
      val queries = emb.filter(col("id") < nq).cache()
      val base = emb.filter(col("id") >= nq).cache()
      val params = BuildParams(mSq = 40, mPjbp = 16, lPjpq = 100,
        metric = Metric.L2)
      val index = graft.build.RoarGraphBuilder.build(base, queries, params)
      val adjDf = graft.ops.graph.GraphIO.toDF(index)(spark)
      implicit val sp: org.apache.spark.sql.SparkSession = spark
      val distView = graft.build.DistIndex(adjDf, index.ids(index.ep), Metric.L2)
      lap("bsp: bucketed save") {
        graft.ops.graph.GraphIO.saveDistBucketed(distView, base,
          "graft_profile_idx", buckets = spark.sparkContext.defaultParallelism)
      }
      val (bIdx, bVecs) = graft.ops.graph.GraphIO.loadDistBucketed("graft_profile_idx")
      lap("bsp: search l=60 fw=8") {
        graft.ops.graph.BspBeamSearch.search(bIdx.adj, bVecs, queries,
          k = 10, l = 60, ep = bIdx.ep, Metric.L2, frontierWidth = 8)
          .select(col("query_id"), col("ids")).count()
      }
    }
    spark.stop()
  }
}
