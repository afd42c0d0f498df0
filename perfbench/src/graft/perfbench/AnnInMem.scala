package graft.perfbench

import scala.collection.mutable

import graft.build.{DistIndex, GraphIndex, RoarGraphBuilder}
import graft.core.{BuildParams, Metric, SearchParams}
import graft.eval.Eval
import graft.ops.KnnJoin
import graft.ops.graph.GraphIO
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The in-memory RoarGraph tier on generated out-of-distribution data:
  * RoarGraphBuilder.build, the bucketed at-rest write of the index
  * (GraphIO, reported on its own), exact ground truth by the kNN join, and
  * broadcast beam search at three beam widths. The kernels (exact top-k,
  * occlusion prune, beam search) dominate; Spark job overhead is a small
  * share. */
final class AnnInMem extends Workload {
  val name = "ann_inmem_ood"
  val metric: Metric = Metric.InnerProduct
  val k = 10
  val nBase = 3000
  val nTrain = 600
  val nEval = 20000
  /** Eval queries whose exact top-k is the recall ground truth. */
  val nGt = 1000
  /** Ground-truth rows compared with the brute-force oracle. */
  val nOracle = 16
  val params = BuildParams(mSq = 100, mPjbp = 35, lPjpq = 200, metric = metric)
  /** Beam widths searched; the served one is the operating point. At
    * 3,000 base vectors L_pq = 20 reads about a fifth of the base; L_pq =
    * 100 would read half of it. */
  val beams = Seq(10, 20, 40)
  val servedBeam = 20
  /** Builds and ground-truth joins per rep, and searches at the served
    * beam width per rep; each metric is the median of its repeats. */
  val buildRepeats = 3
  val knnRepeats = 3
  val serveRepeats = 5
  val recallFloor = 0.9
  /** Input partitions: three tasks per core, so a core that stalls does
    * not hold up a whole stage. */
  val partitions = 12
  val buckets = 4
  private val db = "perfbench_idx"

  def sizes: Seq[(String, Any)] = Seq("n_base" -> nBase, "n_train" -> nTrain,
    "n_eval" -> nEval, "n_gt" -> nGt, "dim" -> Gen.Dim, "metric" -> "ip",
    "m_sq" -> params.mSq, "m_pjbp" -> params.mPjbp, "l_pjpq" -> params.lPjpq,
    "l_pq" -> beams, "served_l_pq" -> servedBeam, "buckets" -> buckets)

  private var base: DataFrame = _
  private var train: DataFrame = _
  private var eval: DataFrame = _
  private var lastGt: DataFrame = _

  def prepare(ctx: Ctx): Unit = {
    Seq(base, train, eval).filter(_ != null).foreach(_.unpersist(blocking = true))
    def make(kind: Gen.Kind, n: Int) = {
      val df = Gen.frame(ctx.spark, ctx.seed, kind, n, partitions)
        .persist(StorageLevel.MEMORY_ONLY)
      df.count()
      df
    }
    base = make(Gen.Base, nBase)
    train = make(Gen.Train, nTrain)
    eval = make(Gen.Eval, nEval)
  }

  /** One untimed pass of the timed work at full size (build, kNN join,
    * search), so that the timed repeats run JIT-compiled kernels. */
  def warmUp(ctx: Ctx): Unit = {
    val idx = RoarGraphBuilder.build(base, train, params)
    groundTruth(eval.filter(col("id") < nGt), base).count()
    RoarGraphBuilder.searchBatch(idx, eval, SearchParams(k, servedBeam, metric)).count()
  }

  /** Exact top-k: [query_id, ids]. */
  private def groundTruth(queries: DataFrame, b: DataFrame): DataFrame =
    KnnJoin(queries, b, k, metric)
      .select(col("query_id"), transform(col("knn"), _("id")).as("ids"))

  private def search(idx: GraphIndex, l: Int): DataFrame = {
    val r = RoarGraphBuilder.searchBatch(idx, eval, SearchParams(k, l, metric)).cache()
    r.count()
    r
  }

  /** Write the index as the bucketed serving layout and read it back;
    * returns the edge count of what was read. */
  private def saveBucketed(idx: GraphIndex)(implicit spark: SparkSession): Long = {
    val di = DistIndex(GraphIO.toDF(idx), idx.ids(idx.ep), metric, Some(params.degreeCap))
    GraphIO.saveDistBucketed(di, base, db, buckets)
    val (loaded, _) = GraphIO.loadDistBucketed(db)
    loaded.adj.select(sum(size(col("nbrs")))).head().getLong(0)
  }

  private def tableBytes(ctx: Ctx): Long = {
    def size(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(size).sum).getOrElse(0L) else f.length
    size(new java.io.File(s"${ctx.scratch}/warehouse/$db.db"))
  }

  private def dropDb(ctx: Ctx): Unit = ctx.spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")

  def run(ctx: Ctx): Unit = {
    implicit val spark: SparkSession = ctx.spark
    val p = ctx.probe
    val buildS, saveS, knnS = mutable.ArrayBuffer[Double]()
    val searchS = beams.map(_ -> mutable.ArrayBuffer[Double]()).toMap
    val recalls, cmps = mutable.LinkedHashMap[Int, Double]()
    var degree = (Double.NaN, 0, 0)
    var bytes = 0L
    /** Run `body` `n` times as phase `name`; the last value and the walls. */
    def repeated[T >: Null](name: String, n: Int)(body: => T): (T, Seq[Double]) = {
      val runs = (1 to n).map(_ => p.phase(name)(ctx.out.op(name)(body).orNull))
      (runs.last._1, runs.map(_._2))
    }
    val reps = ctx.repeatFor {
      val (idx, tb) = repeated[GraphIndex]("build", buildRepeats)(RoarGraphBuilder.build(base, train, params))
      buildS ++= tb
      if (idx != null) {
        degree = idx.degreeStats
        val (edges, ts) = p.phase("save") {
          val e = ctx.out.op("save_bucketed")(saveBucketed(idx))
          bytes = tableBytes(ctx)
          dropDb(ctx)
          e
        }
        saveS += ts
        val savedEdges = edges.getOrElse(-1L)
        val indexEdges = idx.adj.map(_.length.toLong).sum
        ctx.out.check("save_bucketed.edges", savedEdges == indexEdges,
          s"read back $savedEdges edges, index has $indexEdges")
      }
      val (gt, tk) = repeated[DataFrame]("knn", knnRepeats) {
        if (lastGt != null) lastGt.unpersist()
        lastGt = groundTruth(eval.filter(col("id") < nGt), base).cache()
        lastGt.count()
        lastGt
      }
      knnS ++= tk
      if (idx != null && gt != null) {
        val results = beams.map { l =>
          val runs = if (l == servedBeam) serveRepeats else 1
          val timed = (1 to runs).map { i =>
            val (res, ts) = p.phase("serve")(ctx.out.op("serve")(search(idx, l)).orNull)
            if (i < runs && res != null) res.unpersist()
            (res, ts)
          }
          searchS(l) += Stats.median(timed.map(_._2))
          l -> timed.last._1
        }
        p.heapPhase()
        p.phase("eval") {
          results.foreach { case (l, res) =>
            if (res != null) {
              recalls(l) = Eval.recallAtK(res.select(col("query_id"), col("ids")), gt, k)
                .collect().head.getAs[Double]("recall_at_k")
              cmps(l) = res.agg(avg("cmps")).collect().head.getDouble(0)
              res.unpersist()
            }
          }
        }
      }
    }
    val o = ctx.out
    val build = Stats.median(buildS.toSeq)
    val save = if (saveS.isEmpty) Double.NaN else Stats.median(saveS.toSeq)
    o.e2e("build_s") = build
    o.e2e("serve_qps") = nEval / Stats.median(searchS(servedBeam).toSeq)
    o.e2e("knn_qps") = nGt / Stats.median(knnS.toSeq)
    o.e2e("recall_at_10") = recalls.getOrElse(servedBeam, Double.NaN)
    o.detail("reps") = reps
    o.detail("layers") = mutable.LinkedHashMap[String, Any](
      "ops.knn_exact_s" -> Stats.median(knnS.toSeq),
      "build.inmem_s" -> build,
      "build.inmem.avg_degree" -> degree._1,
      "build.inmem.max_degree" -> degree._2,
      "io.save_bucketed_s" -> save,
      "io.bytes_written" -> bytes) ++
      beams.map(l => s"search.inmem.l${l}_s" -> Stats.median(searchS(l).toSeq)) ++
      beams.map(l => s"search.inmem.l${l}_recall" -> recalls.getOrElse(l, Double.NaN)) ++
      beams.map(l => s"search.inmem.l${l}_avg_cmps" -> cmps.getOrElse(l, Double.NaN))
  }

  /** The kNN join's ground truth against a plain-Scala brute force over
    * the regenerated vectors, and the recall floor. Ids must agree in
    * (dist, id) order; a swap is accepted only between neighbours whose
    * oracle distances tie within 1e-9 relative. */
  def verify(ctx: Ctx): Unit = {
    if (lastGt != null) {
      val model = new Gen.Model(ctx.seed)
      val baseVecs = Array.tabulate(nBase)(i => model.vector(Gen.Base, i.toLong))
      // every (nGt / nOracle)-th ground-truth query
      val step = nGt / nOracle
      val rows = lastGt.filter(col("query_id") % step === 0).orderBy("query_id")
        .limit(nOracle).collect()
      ctx.out.check("knn.oracle_rows", rows.length == nOracle,
        s"${rows.length} rows to check, want $nOracle")
      rows.foreach { r =>
        val qid = r.getLong(0)
        val got = r.getSeq[Long](1).toArray
        val want = Gen.bruteForce(model.vector(Gen.Eval, qid), baseVecs, k, metric)
        def tied(i: Int): Boolean = want.exists(w => w._2 == got(i) &&
          math.abs(w._1 - want(i)._1) <= 1e-9 * math.max(1.0, math.abs(want(i)._1)))
        val ok = got.length == want.length &&
          got.indices.forall(i => got(i) == want(i)._2 || tied(i))
        ctx.out.check(s"knn.oracle.q$qid", ok,
          s"ids ${got.mkString(",")} vs oracle ${want.map(_._2).mkString(",")}")
      }
    }
    val r = ctx.out.e2e.getOrElse("recall_at_10", Double.NaN)
    ctx.out.check("recall_floor", r >= recallFloor,
      s"recall@10 at L_pq=$servedBeam is $r, floor $recallFloor")
  }

  override def cleanup(ctx: Ctx): Unit = dropDb(ctx)
}
