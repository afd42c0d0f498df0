package graft

import graft.build.RoarGraphBuilder
import graft.core.{BuildParams, Metric, SearchParams, Tables}
import graft.ops.KnnJoin
import graft.ops.graph.{BspBeamSearch, GraphIO}
import org.apache.spark.sql.functions._

/** The BSP (no-broadcast) search must reach the same recall regime as the
  * broadcast kernel over the same RoarGraph index, and the distributed
  * build's batched searches must equal their per-step forms (`BspOracle`). */
class BspBeamSearchSpec extends SparkSpec {

  test("BSP frontier search recall@10 >= 0.9 on the sf0.001 RoarGraph") {
    implicit val s = spark
    val emb = Tables.vectors(spark, sf0001)
    val queriesDf = emb.filter(col("id") < 100)
    val baseDf = emb.filter(col("id") >= 100)
    val index = RoarGraphBuilder.build(baseDf, queriesDf,
      BuildParams(mSq = 40, mPjbp = 12, lPjpq = 60, metric = Metric.L2))

    val adjDf = GraphIO.toDF(index)
    val scope = new graft.ops.graph.CpScope
    val res = BspBeamSearch.search(adjDf, baseDf, queriesDf,
      k = 10, l = 60, ep = index.ids(index.ep), Metric.L2, scope = scope)
      .select(col("query_id"), col("ids"))
    val gt = KnnJoin(queriesDf, baseDf, 10, Metric.L2)
      .select(col("query_id"), transform(col("knn"), _("id")).as("ids"))
    val recall = graft.eval.Eval.recallAtK(res, gt, 10)
      .collect().head.getAs[Double]("recall_at_k")
    scope.releaseAll()
    assert(recall >= 0.9, s"BSP recall@10 = $recall")

    // and it should be close to the broadcast kernel at the same beam width
    val bcRes = RoarGraphBuilder.searchBatch(index, queriesDf,
      SearchParams(10, 60, Metric.L2)).select(col("query_id"), col("ids"))
    val bcRecall = graft.eval.Eval.recallAtK(bcRes, gt, 10)
      .collect().head.getAs[Double]("recall_at_k")
    assert(math.abs(recall - bcRecall) <= 0.1,
      s"BSP $recall vs broadcast $bcRecall")
  }

  test("rounds batched per job == the per-round loop, ids and dist bits") {
    implicit val s = spark
    import spark.implicits._
    val emb = Tables.vectors(spark, sf0001)
    val queriesDf = emb.filter(col("id") < 100)
    val baseDf = emb.filter(col("id") >= 100)
    val index = RoarGraphBuilder.build(baseDf, queriesDf,
      BuildParams(mSq = 40, mPjbp = 12, lPjpq = 60, metric = Metric.L2))
    val adjDf = GraphIO.toDF(index)
    val ep = index.ids(index.ep)
    val seeds = BspBeamSearch.pickSeeds(adjDf, 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Array[Long], Array[Double])].collect().sortBy(_._1).toSeq
        .map { case (q, ids, ds) =>
          (q, ids.toSeq, ds.toSeq.map(java.lang.Double.doubleToLongBits)) }
    // (frontierWidth, maxRounds, excludeSelf, extraSeeds): converging runs,
    // and maxRounds falling inside the first and the second batch. The
    // graph's pin is one partition (its rounds run in one task, up to 8
    // per job); a 3-partition pin runs the exchanging rounds, one per job.
    val spreadPin = BspOracle.spreadPin(adjDf, baseDf, 3)
    Seq((4, 64, false, Nil), (1, 3, false, Nil), (1, 11, true, Nil),
        (2, 64, true, seeds)).foreach { case (fw, mr, ex, xs) =>
      val queries = if (ex) baseDf.filter(col("id") < 160) else queriesDf
      var oracle: Seq[(Long, Seq[Long], Seq[Long])] = Nil
      val (jobsOracle, _) = jobsAndShuffle {
        oracle = rows(BspOracle.search(adjDf, baseDf, queries, k = 10, l = 40,
          ep, Metric.L2, frontierWidth = fw, maxRounds = mr, excludeSelf = ex,
          extraSeeds = xs))
      }
      assert(oracle.nonEmpty)
      // the search's own one-partition pin, and the caller-owned spread
      // pin through the RDD entry point
      def onePartition(scope: graft.ops.graph.CpScope) =
        rows(BspBeamSearch.search(adjDf, baseDf, queries, k = 10, l = 40, ep,
          Metric.L2, frontierWidth = fw, maxRounds = mr, excludeSelf = ex,
          extraSeeds = xs, scope = scope))
      def spread(scope: graft.ops.graph.CpScope) =
        BspBeamSearch.searchPinned(spreadPin,
            queries.select(col("id").cast("long"), col("vec"))
              .as[(Long, Array[Float])].rdd,
            k = 10, l = 40, ep, Metric.L2, frontierWidth = fw, maxRounds = mr,
            excludeSelf = ex, extraSeeds = xs, scope = scope)
          .collect().sortBy(_._1).toSeq.map { case (q, ids, ds) =>
            (q, ids.toSeq, ds.toSeq.map(java.lang.Double.doubleToLongBits)) }
      Seq("one partition" -> onePartition _, "3 partitions" -> spread _).foreach {
        case (layout, run) =>
          var batched: Seq[(Long, Seq[Long], Seq[Long])] = Nil
          val scope = new graft.ops.graph.CpScope
          val (jobsBatched, _) = jobsAndShuffle { batched = run(scope) }
          scope.releaseAll()
          assert(batched == oracle, s"$layout, fw=$fw maxRounds=$mr")
          if (layout == "one partition" && mr > 8) assert(jobsBatched < jobsOracle,
            s"$layout, fw=$fw maxRounds=$mr: $jobsBatched jobs batched vs " +
              s"$jobsOracle per round")
      }
    }
    spreadPin.release()
  }

  test("block-local BFS reaches what the hop-by-hop BFS reaches") {
    import spark.implicits._
    def h(i: Long): Long = (i * 0x9E3779B97F4A7C15L) >>> 40
    // a 60-node chain from ep, a random region hanging off it, dangling
    // neighbor ids with no adjacency row, and an island with no in-edge
    val chain = (0L until 60L).map(i => (1000L + i, Seq(1000L + i + 1)))
    val region = (60L until 300L).map(i =>
      (1000L + i, (0 until 3).map(j => 1000L + 30 + h(i * 7 + j) % 270) :+ (9000L + i % 5)))
    val island = (300L until 400L).map(i => (1000L + i, Seq(1000L + 300 + (i + 1) % 100)))
    val adj = (chain ++ region ++ island ++ Seq((1020L, Seq(1100L))))
      .groupBy(_._1).toSeq.map { case (src, ls) => (src, ls.flatMap(_._2).distinct) }
      .toDF("src", "nbrs")
    // the BFS reads only the adjacency half of its pin
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("id", "vec")
    def bfs(ep: Long, parts: Int): Set[Long] = {
      val pin = BspOracle.spreadPin(adj, noVecs, parts)
      val scope = new graft.ops.graph.CpScope
      try graft.build.DistRoarGraphBuilder.bfsReached(pin, ep, scope)(spark)
        .flatMap(_.iterator).collect().toSet
      finally { scope.releaseAll(); pin.release() }
    }
    val oracle = BspOracle.bfsReached(adj, 1000L, 3).as[Long].collect().toSet
    assert(oracle.size > 200 && !oracle.contains(1350L) && oracle.contains(9003L))
    Seq(1, 3, 7).foreach(parts => assert(bfs(1000L, parts) == oracle, s"partitions $parts"))
    assert(bfs(7777L, 3) == Set(7777L))
  }
}
