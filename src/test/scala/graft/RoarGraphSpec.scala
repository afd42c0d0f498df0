package graft

import graft.build.{BipartiteBuilder, RoarGraphBuilder}
import graft.core.{BuildParams, Metric, SearchParams, Tables}
import graft.ops.KnnJoin
import graft.ops.graph.GraphIO
import org.apache.spark.sql.functions._

/** End-to-end RoarGraph gates on sf0.001 embeddings (SURVEY.md §5.3):
  * build on the base side, search the training queries, assert recall@10
  * against the exact kNN operator, plus structural invariants. */
class RoarGraphSpec extends SparkSpec {

  private lazy val emb = Tables.vectors(spark, sf0001)
  private lazy val queriesDf = emb.filter(col("id") < 100)
  private lazy val baseDf = emb.filter(col("id") >= 100)
  private lazy val params = BuildParams(mSq = 40, mPjbp = 12, lPjpq = 60,
    metric = Metric.L2)
  private lazy val index = RoarGraphBuilder.build(baseDf, queriesDf, params)

  test("degree caps respected: forward ≤ m + 2m novel supply edges") {
    // cap holds for the un-repaired build (reachability repair may append
    // one extra in-edge per initially-unreachable node)
    val raw = RoarGraphBuilder.build(baseDf, queriesDf,
      params.copy(repairReachability = false))
    val cap = 3 * params.mPjbp
    val (avg, mx, mn) = raw.degreeStats
    assert(mx <= cap, s"max degree $mx > $cap")
    assert(avg > 0 && mn >= 0)
  }

  test("adjacency has no self-loops and valid dense ids") {
    index.adj.zipWithIndex.foreach { case (nbrs, i) =>
      assert(!nbrs.contains(i), s"self-loop at $i")
      assert(nbrs.forall(n => n >= 0 && n < index.n))
      assert(nbrs.distinct.length == nbrs.length, s"dup edge at $i")
    }
  }

  test("connectivity enhancement makes every node reachable from ep") {
    assert(index.reachableFromEp == index.n,
      s"${index.n - index.reachableFromEp} of ${index.n} nodes unreachable")
  }

  test("build is deterministic") {
    val again = RoarGraphBuilder.build(baseDf, queriesDf, params)
    assert(again.ep == index.ep)
    assert(again.adj.zip(index.adj).forall { case (a, b) => a.sameElements(b) })
  }

  test("one build runs each phase's kernel once: 3 jobs, 6 stages, 23 tasks") {
    // 3 base and 6 query partitions on local[4] (default parallelism 4):
    // the base collect (3 tasks); phase 1 (query kNN + proposals on the
    // queries narrowed to 4, pivot merge, reverse merge: 4 + 4 + 4); and
    // phase 2 (self-search, reverse merge: 4 + 4). Before the one-shuffle
    // merges the same build ran 4 jobs, 10 stages and 150 tasks: the
    // self-search stage twice (it fed both sides of a cogroup), a 32-task
    // all-node leftOuterJoin whose 32 partitions every later merge stage
    // inherited, and a separate job for the Dataset pivot merge's shuffle
    // map stage.
    val base = spread(vecRows(baseDf), 3)(_ % 3)
    val queries = spread(vecRows(queriesDf), 6)(_ % 6)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val built = try RoarGraphBuilder.build(base, queries, params)
      finally { org.apache.spark.ListenerBusDrain(sc); sc.removeSparkListener(listener) }
    assert(built.adj.zip(index.adj).forall { case (a, b) => a.sameElements(b) })
    assert((jobs.get, stages.get, tasks.get) == ((3, 6, 23)),
      s"(jobs, stages, tasks) = (${jobs.get}, ${stages.get}, ${tasks.get})")
  }

  test("adjacency does not depend on how base and queries are partitioned " +
       "(L2, IP, cosine)") {
    // the reverse merges take their records in shuffle order; the
    // adjacency must not see it
    val (b, q) = (vecRows(baseDf), vecRows(queriesDf))
    for (metric <- Seq(Metric.L2, Metric.InnerProduct, Metric.Cosine)) {
      val p = params.copy(metric = metric)
      val Seq(one, three, twelve) = Seq(1, 3, 12).map(k =>
        RoarGraphBuilder.build(spread(b, k)(_ % k), spread(q, k)(_ % k), p))
      for ((g, k) <- Seq((three, 3), (twelve, 12))) {
        assert(g.ep == one.ep, s"$metric: entry point differs at $k partitions")
        g.adj.indices.foreach { i =>
          assert(g.adj(i).sameElements(one.adj(i)),
            s"$metric: node $i differs at $k partitions vs 1")
        }
      }
    }
  }

  test("search recall@10 >= 0.95 vs exact kNN at generous beam") {
    val res = RoarGraphBuilder.searchBatch(index, queriesDf,
      SearchParams(k = 10, lPq = 100, metric = Metric.L2))
      .select(col("query_id"), col("ids"))
    val gt = KnnJoin(queriesDf, baseDf, 10, Metric.L2)
      .select(col("query_id"), transform(col("knn"), _("id")).as("ids"))
    val recall = graft.eval.Eval.recallAtK(res, gt, 10)
      .collect().head.getAs[Double]("recall_at_k")
    assert(recall >= 0.95, s"recall@10 = $recall")
  }

  test("inner-product metric (the reference's primary) also clears the recall gate") {
    val ipParams = params.copy(metric = Metric.InnerProduct)
    val ipIndex = RoarGraphBuilder.build(baseDf, queriesDf, ipParams)
    val res = RoarGraphBuilder.searchBatch(ipIndex, queriesDf,
      SearchParams(k = 10, lPq = 100, metric = Metric.InnerProduct))
      .select(col("query_id"), col("ids"))
    val gt = KnnJoin(queriesDf, baseDf, 10, Metric.InnerProduct)
      .select(col("query_id"), transform(col("knn"), _("id")).as("ids"))
    val recall = graft.eval.Eval.recallAtK(res, gt, 10)
      .collect().head.getAs[Double]("recall_at_k")
    assert(recall >= 0.9, s"IP recall@10 = $recall")
  }

  test("deterministic multi-seeding rescues recall on an ep-disconnected graph") {
    import spark.implicits._
    import graft.build.GraphIndex
    import graft.ops.graph.VecStore
    // two clusters with no cross edges; ep sits in cluster A, the query is
    // in cluster B — ep-only search can never leave A (recall here is
    // bounded by reachability), hash-derived seeding must escape
    val rows = ((0 until 10).map(i => Array(i * 0.01f, 0f, 0f, 0f)) ++
      (0 until 10).map(i => Array(100f + i * 0.01f, 0f, 0f, 0f))).toArray
    val vs = VecStore(rows, Metric.L2)
    val adj = Array.tabulate(20) { i =>
      if (i < 10) Array((i + 1) % 10) else Array(10 + (i + 1 - 10) % 10)
    }
    val disconnected = GraphIndex(adj, ep = 0,
      ids = Array.tabulate(20)(_.toLong), vs)
    val queries = Seq((0L, Array(100f, 0f, 0f, 0f))).toDF("id", "vec")
    def topIds(numSeeds: Int): Seq[Long] =
      RoarGraphBuilder.searchBatch(disconnected, queries,
        SearchParams(k = 5, lPq = 10, metric = Metric.L2, numSeeds = numSeeds))
        .select("ids").as[Seq[Long]].head()
    val epOnly = topIds(0)
    assert(epOnly.forall(_ < 10), s"ep-only search escaped cluster A: $epOnly")
    val seeded = topIds(16)
    assert(seeded.forall(_ >= 10),
      s"multi-seeded search should find the true (cluster-B) neighbors: $seeded")
    // and seeding is reproducible
    assert(topIds(16) == seeded)
  }

  test("graph search and build fail by name on a query of the wrong dimension") {
    // one check per query, before any pair is scored: a shorter query used
    // to die inside a task with a bare ArrayIndexOutOfBoundsException and
    // a longer one to score its first 64 floats silently
    for (dim <- Seq(63, 65)) {
      val q = queriesDf.select(col("id"),
        slice(concat(col("vec"), col("vec")), 1, dim).as("vec"))
      val msg = s"graph search: vector dimension mismatch ($dim vs 64)"
      assert(namedError(RoarGraphBuilder.searchBatch(index, q,
        SearchParams(k = 10, lPq = 20, metric = Metric.L2)).collect()) == msg)
      assert(namedError(RoarGraphBuilder.build(baseDf, q, params)) == msg)
    }
  }

  test("graph save/load round-trips") {
    implicit val s = spark
    val dir = java.nio.file.Files.createTempDirectory("graft-graph").toString
    GraphIO.save(index, dir)
    val loaded = GraphIO.load(dir)
    assert(loaded.ep == index.ep)
    assert(loaded.ids.sameElements(index.ids))
    assert(loaded.adj.zip(index.adj).forall { case (a, b) => a.sameElements(b) })
  }

  test("bipartite graph (G13): query nodes carry kNN tail, pivot gets reverse edge") {
    import spark.implicits._
    val knnDf = KnnJoin(queriesDf, baseDf, 10, Metric.L2)
      .select(col("query_id"), transform(col("knn"), _("id")).as("knn"))
    val nd = 1000L
    val adj = BipartiteBuilder.build(knnDf, nd, m = 8)
    val byId = adj.as[(Long, Array[Long])].collect().toMap
    val knnRows = knnDf.as[(Long, Array[Long])].collect()
    knnRows.foreach { case (qid, knn) =>
      val t = knn.take(8)
      assert(byId(qid + nd).sameElements(t.filter(_ != t.head)))
      assert(byId(t.head).contains(qid + nd))
    }
  }
}
