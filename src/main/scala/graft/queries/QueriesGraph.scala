package graft.queries

import graft.build.{BipartiteBuilder, RoarGraphBuilder}
import graft.core.{BuildParams, Metric, SearchParams, Tables}
import graft.eval.Eval
import graft.ops.KnnJoin
import graft.ops.graph.GraphSearch
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph-index queries (SURVEY.md §2.4/2.5): bipartite construction (G13,
  * SQL-expressible → DuckDB oracle) and the RoarGraph build+search pipeline
  * (iterative/graph-traversal semantics → rows-only driver check; the
  * ScalaTest recall gate in RoarGraphSpec is the correctness authority).
  *
  * Session-shared artifacts ([[materializeShared]] builds all three; a
  * query that runs first builds the one it needs):
  *  - the in-memory RoarGraph index ([[memIndex]]): read by
  *    roargraph_build_stats, roargraph_search_recall and QueriesAnn's
  *    ann_pq_beam_topk;
  *  - the bipartite 2-hop index ([[bipartiteIndex]]): read by
  *    bipartite_search_recall;
  *  - the distributed build with its broadcast search view
  *    ([[distBuilt]]): read by roargraph_dist_recall.
  * graph_bipartite and graph_bipartite_2hop are relational plans over the
  * session's exact ground truth (QueriesAnn.exactGt) and build no index.
  *
  * Conventions: embeddings ids < 20 = sampled queries, >= 20 = base;
  * query node offset Nd = 1,000,000; k = 10.
  */
object QueriesGraph {

  // query-node offset must clear the base id range at EVERY scale factor
  // (sf0.1 embeddings reach id 1999; 1e6 is safely disjoint)
  private val Nd = 1000000L
  private val M = 8

  private def emb(s: SparkSession, dir: String) = Tables.vectors(s, dir)
  private def qSide(s: SparkSession, dir: String) =
    emb(s, dir).filter(col("id") < 20)
  private def bSide(s: SparkSession, dir: String) =
    emb(s, dir).filter(col("id") >= 20)

  // ---- bipartite build (G13) ---------------------------------------------

  private def bipartiteQuery(s: SparkSession, dir: String): DataFrame = {
    // session-shared exact GT (QueriesAnn.exactKnn): same (q, b, k=10, L2)
    // join this builder consumed via its own plan before
    val knn = QueriesAnn.exactGt(s, dir)
      .select(col("query_id"), col("ids").as("knn"))
    BipartiteBuilder.build(knn, Nd, M)
      .select(col("src"), posexplode(col("nbrs")).as(Seq("pos0", "nbr")))
      .select(col("src"), (col("pos0") + 1).cast("int").as("pos"), col("nbr"))
      .orderBy("src", "pos")
  }

  private val l2SqlDist =
    "list_sum(list_transform(list_zip(qe, be), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"

  private val bipartiteOracle =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 20),
       |b AS (SELECT vec_id AS bid, embedding AS be FROM embeddings WHERE vec_id >= 20),
       |knn AS (SELECT qid, bid,
       |          row_number() OVER (PARTITION BY qid ORDER BY $l2SqlDist, bid) AS rnk
       |        FROM q, b QUALIFY rnk <= $M),
       |qs AS (SELECT qid + $Nd AS src, rnk - 1 AS pos, bid AS nbr FROM knn WHERE rnk >= 2),
       |bs AS (SELECT src, row_number() OVER (PARTITION BY src ORDER BY nbr) AS pos, nbr
       |       FROM (SELECT bid AS src, qid + $Nd AS nbr FROM knn WHERE rnk = 1))
       |SELECT src, CAST(pos AS INT) AS pos, nbr
       |FROM (SELECT * FROM qs UNION ALL SELECT * FROM bs)
       |ORDER BY src, pos""".stripMargin

  // ---- bipartite 2-hop projection (Q2's expansion, SQL-expressible) ------

  private def bipartite2HopQuery(s: SparkSession, dir: String): DataFrame = {
    val knn = QueriesAnn.exactGt(s, dir)
      .select(col("query_id"), col("ids").as("knn"))
    val adj = BipartiteBuilder.build(knn, Nd, M)
    BipartiteBuilder.projectTwoHop(adj, Nd)
      .select(col("src"), posexplode(col("nbrs")).as(Seq("pos0", "nbr")))
      .select(col("src"), (col("pos0") + 1).cast("int").as("pos"), col("nbr"))
      .orderBy("src", "pos")
  }

  private val bipartite2HopOracle =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 20),
       |b AS (SELECT vec_id AS bid, embedding AS be FROM embeddings WHERE vec_id >= 20),
       |knn AS (SELECT qid, bid,
       |          row_number() OVER (PARTITION BY qid ORDER BY $l2SqlDist, bid) AS rnk
       |        FROM q, b QUALIFY rnk <= $M),
       |b2q AS (SELECT bid AS src, qid + $Nd AS qnode FROM knn WHERE rnk = 1),
       |q2b AS (SELECT qid + $Nd AS qnode, bid AS dst FROM knn WHERE rnk >= 2),
       |hop AS (SELECT DISTINCT src, dst FROM b2q JOIN q2b USING (qnode) WHERE dst != src),
       |r AS (SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY dst) AS pos FROM hop)
       |SELECT src, CAST(pos AS INT) AS pos, dst AS nbr FROM r ORDER BY src, pos""".stripMargin

  // ---- bipartite search (Q2): beam over the 2-hop projection — rows-only --

  /** The bipartite 2-hop index, built ONCE per (session, sfDir) like
    * memMemo below: every warm pass of the recall query, GraphGoldenSpec
    * and Verify search the same deterministic graph. The factory reads
    * only Tables (a leaf, see SessionMemo's lock-ordering note). */
  private val bipartiteMemo = new SessionMemo[graft.build.GraphIndex]
  private[graft] def bipartiteIndex(s: SparkSession, dir: String): graft.build.GraphIndex =
    bipartiteMemo.getOrElseUpdate(s, dir) {
      // the bipartite baseline needs |sampled queries| ≈ |base| for its 2-hop
      // graph to be connected (the reference trains on 10M queries for 10M
      // base, prepare_data.sh:27) — use the whole collection as the sample
      val train = emb(s, dir)
      val b = bSide(s, dir)
      // work-derived base spread (guide §2.6 idle capacity): this train-side
      // kNN scores |corpus|×|base| pairs inside KnnJoin's per-base-partition
      // heap kernel, and the sf-scale parquet scan is ONE partition — the
      // whole sweep ran as a single task while 31 cores idled. Target ~800k
      // scored pairs per task (≈50M mul-adds at 64-d — well above task
      // overhead), capped at the conf: at corpus scale the scan already has
      // ≥ conf partitions and the spread is a no-op. Result-identical: the
      // partial/final top-k merge is partition-count-independent (exact
      // distances, (dist, id) ties).
      val pairsPerTask = 800000L
      // one footer-metadata count: |train| = the whole table, |base| =
      // n - 20 by the fixed id convention (ids < 20 are the query side)
      val n = train.count()
      val workParts = math.max(1L, math.min(
        s.conf.get("spark.sql.shuffle.partitions").toLong,
        n * math.max(0L, n - 20L) / pairsPerTask)).toInt
      val bSpread =
        if (b.rdd.getNumPartitions < workParts) b.repartition(workParts) else b
      val knnTrain = KnnJoin(train, bSpread, 10, Metric.L2)
        .select(col("query_id"), transform(col("knn"), _("id")).as("knn"))
      val adj = BipartiteBuilder.build(knnTrain, Nd, M)
      val twoHop = BipartiteBuilder.projectTwoHop(adj, Nd)
      GraphSearch.indexFromDF(twoHop, b, Metric.L2)
    }

  /** Search-result ids of the bipartite 2-hop beam path — shared by the
    * recall query and the golden-pin spec (GraphGoldenSpec hashes these
    * ids at sf0.01 so a traversal-order regression is caught even though
    * beam search has no SQL oracle). */
  private[graft] def bipartiteSearchIds(s: SparkSession, dir: String): DataFrame =
    RoarGraphBuilder
      .searchBatch(bipartiteIndex(s, dir), qSide(s, dir), SearchParams(10, 100, Metric.L2))
      .select(col("query_id"), col("ids"))

  private def bipartiteSearchRecall(s: SparkSession, dir: String): DataFrame = {
    val res = bipartiteSearchIds(s, dir)
    // same (q, b) split and k as QueriesAnn's memoized exact GT — reuse it
    val gt = QueriesAnn.exactGt(s, dir)
    Eval.recallAtK(res, gt, 10)
      .select(round(col("recall_at_k"), 6).as("recall_at_k"), col("n_queries"))
  }

  // ---- RoarGraph build + search (G1-G12, Q1) — rows-only -----------------

  private def buildParams = BuildParams(mSq = 40, mPjbp = 12, lPjpq = 60,
    metric = Metric.L2)

  /** The in-memory index, built ONCE per (session, sfDir): stats, search
    * results, and QueriesAnn's PQ-beam query all consume the same
    * deterministic graph (same rationale as distMemo below). */
  private val memMemo = new SessionMemo[graft.build.GraphIndex]
  private[graft] def memIndex(s: SparkSession, dir: String): graft.build.GraphIndex =
    memMemo.getOrElseUpdate(s, dir) {
      RoarGraphBuilder.build(bSide(s, dir), qSide(s, dir), buildParams)
    }

  private def roargraphStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val idx = memIndex(s, dir)
    val (avg, mx, mn) = idx.degreeStats
    Seq((idx.ids(idx.ep), idx.n.toLong, math.rint(avg * 1e6) / 1e6, mx, mn,
      idx.reachableFromEp.toLong))
      .toDF("entry_point", "n_nodes", "avg_degree", "max_degree",
        "min_degree", "n_reachable")
  }

  /** In-memory build + search results (ids + dists) — shared by the
    * recall query and GraphGoldenSpec's sf0.01 id-hash pin. */
  private[graft] def roargraphSearchResults(s: SparkSession, dir: String): DataFrame = {
    RoarGraphBuilder
      .searchBatch(memIndex(s, dir), qSide(s, dir), SearchParams(10, 100, Metric.L2))
  }

  private def roargraphRecall(s: SparkSession, dir: String): DataFrame = {
    // the recall and the distance-error sides both read the 20 result
    // rows: search once per call and hold them as a local table (a
    // `.cache()` would pin one cache entry per call for the session)
    val found = roargraphSearchResults(s, dir)
    val res = s.createDataFrame(found.collectAsList(), found.schema)
    val gtKnn = QueriesAnn.exactKnn(s, dir)
    val gtIds = gtKnn
      .select(col("query_id"), transform(col("knn"), _("id")).as("ids"))
    val recall = Eval.recallAtK(res.select(col("query_id"), col("ids")), gtIds, 10)
    val rderr = Eval.relativeDistError(
      res.select(col("query_id"), col("dists")),
      gtKnn.select(col("query_id"), transform(col("knn"), _("dist")).as("dists")),
      10, Metric.L2)
    recall.crossJoin(rderr)
      .select(round(col("recall_at_k"), 6).as("recall_at_k"),
        col("n_queries"), round(col("mean_rderr"), 6).as("mean_rderr"))
  }

  // ---- fully distributed build (no driver materialization) — rows-only ---

  /** A distributed build and its broadcast search view, in ONE memo
    * entry: the view is collected right after the build, under the same
    * lock, so no nested memo (and no lock edge) is added. */
  private[graft] final case class DistBuilt(index: graft.build.DistIndex,
                                            view: graft.build.GraphIndex)

  /** Build the index with [[graft.build.DistRoarGraphBuilder]] — vectors
    * and adjacency never touch the driver or a broadcast during the build
    * (the beyond-broadcast-size path) — then search and report recall
    * beside the in-memory builder's number. Phase-2 beam kept narrow: the
    * BSP self-search pays per-round join latency, so its width is the
    * build-cost knob at small scale.
    *
    * Built ONCE per (session, sfDir), with its search view — the build
    * (incl. the default-ON reachability repair) is the expensive,
    * deterministic part, and every consumer in a session (bench query,
    * golden spec, verify) wants the same graph; rebuilding it inside each
    * query made roargraph_dist_recall the bench's slowest entry (VERDICT
    * r5 #2), and re-collecting the view cost each call two collects. */
  private val distMemo = new SessionMemo[DistBuilt]
  private[graft] def distBuilt(s: SparkSession, dir: String): DistBuilt =
    distMemo.getOrElseUpdate(s, dir) {
      val di = graft.build.DistRoarGraphBuilder.build(
        bSide(s, dir), qSide(s, dir), buildParams, frontierWidth = 16)
      val index = di.copy(adj = di.adj.cache())
      DistBuilt(index, GraphSearch.indexFromDist(index, bSide(s, dir)))
    }

  /** Distributed build + search ids — shared by the recall query and
    * GraphGoldenSpec's sf0.01 id-hash pin. */
  private[graft] def roargraphDistSearchIds(s: SparkSession, dir: String): DataFrame =
    RoarGraphBuilder
      .searchBatch(distBuilt(s, dir).view, qSide(s, dir),
        SearchParams(10, 100, Metric.L2, numSeeds = 4))
      .select(col("query_id"), col("ids"))

  /** Bench hook (same contract as QueriesAnn.materializeShared): build
    * the family's three session-shared indexes, so each query's wall
    * measures search + recall and the one-time build cost lands in the
    * timed shared-setup field instead. Correctness consumers (Verify,
    * GraphGoldenSpec) are unaffected: the memos hand them the same graphs.
    *
    * The builds are independent (separate memo instances, disjoint
    * outputs, leaf-only factories), so they overlap: the distributed
    * build, which is job-latency-bound, runs on this thread, and the
    * in-memory build (driver-CPU-heavy) and the bipartite build (one kNN
    * join and two collects) back-fill its gaps. */
  private[graft] def materializeShared(s: SparkSession, dir: String): Unit =
    Concurrently(distBuilt(s, dir))(
      () => memIndex(s, dir), () => bipartiteIndex(s, dir))

  private def roargraphDistRecall(s: SparkSession, dir: String): DataFrame = {
    val res = roargraphDistSearchIds(s, dir)
    val gt = QueriesAnn.exactGt(s, dir)
    Eval.recallAtK(res, gt, 10)
      .select(round(col("recall_at_k"), 6).as("recall_at_k"), col("n_queries"))
  }

  // ---- registry -----------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_bipartite" -> (bipartiteQuery _),
    "graph_bipartite_2hop" -> (bipartite2HopQuery _),
    "bipartite_search_recall" -> (bipartiteSearchRecall _),
    "roargraph_build_stats" -> (roargraphStats _),
    "roargraph_search_recall" -> (roargraphRecall _),
    "roargraph_dist_recall" -> (roargraphDistRecall _),
  )

  val oracles: Map[String, String] = Map(
    "graph_bipartite" -> bipartiteOracle,
    "graph_bipartite_2hop" -> bipartite2HopOracle,
  )
}
