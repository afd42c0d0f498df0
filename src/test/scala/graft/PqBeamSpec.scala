package graft

import graft.build.RoarGraphBuilder
import graft.core.{BuildParams, Metric, Tables}
import graft.ops.{KnnJoin, Quantize}
import graft.ops.graph.PqGraphSearch
import org.apache.spark.sql.functions._

/** Gates for the PQ-guided beam tier (PqGraphSearch — the DiskANN-style
  * serving shape): the LUT-scored beam is pinned TRANSITIVELY to the
  * DuckDB oracle by exhaustive-beam == Quantize.adcTopK equality (adcTopK
  * is oracle-green as `ann_pq_adc_topk`; an l >= n beam over a fully
  * reachable graph must reproduce its exact ranking, doubles included),
  * and the refine stage restores exact-kNN quality from byte codes. */
class PqBeamSpec extends SparkSpec {

  private lazy val emb = Tables.vectors(spark, sf0001)
  private lazy val queriesDf = emb.filter(col("id") < 100).cache()
  private lazy val baseDf = emb.filter(col("id") >= 100).cache()
  private val M = 16 // 64d -> 16 x 4d subspaces
  private val KCodes = 64
  private lazy val graphIdx = RoarGraphBuilder.build(baseDf, queriesDf,
    BuildParams(mSq = 40, mPjbp = 12, lPjpq = 60, metric = Metric.L2))
  // external-id adjacency DataFrame (the persisted-layout shape)
  private lazy val adjDf = {
    import spark.implicits._
    graphIdx.adj.zipWithIndex.toSeq
      .map { case (nbrs, i) => (graphIdx.ids(i), nbrs.map(graphIdx.ids(_))) }
      .toDF("src", "nbrs")
  }
  private lazy val pqIdx = PqGraphSearch.fromDF(adjDf, baseDf,
    ep = graphIdx.ids(graphIdx.ep), metric = Metric.L2,
    m = M, kCodes = KCodes, iters = 2, trainCap = 1 << 20)

  private def explodeKnn(df: org.apache.spark.sql.DataFrame) =
    df.select(col("query_id"), posexplode(col("knn")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("col")("id").as("base_id"), round(col("col")("dist"), 6).as("dist"))

  test("exhaustive beam (l >= n) equals the oracle-green ADC scan exactly") {
    // fully reachable graph (repair ON) + l = n => the beam expands every
    // node, so its top-k by (LUT dist, id) must match adcTopK's scan —
    // same Double association, same tie order. This transitively pins the
    // beam's LUT math to the ann_pq_adc_topk DuckDB oracle.
    assert(graphIdx.reachableFromEp == graphIdx.n)
    val cbDf = PqOracle.codebooksDf(pqIdx.book, spark)
    val codesDf = Quantize.pqEncodeKernel(baseDf, cbDf, M)
    val adc = KnnJoin.explodeRanks(Quantize.adcTopK(queriesDf, codesDf, cbDf, 10))
      .select(col("query_id"), col("rank"), col("base_id"),
        round(col("dist"), 6).as("dist"))
    val beam = explodeKnn(
      PqGraphSearch.searchApprox(pqIdx, queriesDf, refineK = 10, l = pqIdx.n))
    assert(beam.count() == 100 * 10L)
    assert(beam.exceptAll(adc).count() == 0 && adc.exceptAll(beam).count() == 0)
  }

  test("PQ-guided beam + exact refine restores exact-kNN quality") {
    val res = PqGraphSearch.searchRefined(pqIdx, queriesDf, baseDf,
      k = 10, l = 100, refineK = 80)
      .select(col("query_id"), transform(col("knn"), _("id")).as("ids"))
    val gt = KnnJoin(queriesDf, baseDf, 10, Metric.L2)
      .select(col("query_id"), transform(col("knn"), _("id")).as("ids"))
    val recall = graft.eval.Eval.recallAtK(res, gt, 10)
      .collect().head.getAs[Double]("recall_at_k")
    assert(recall >= 0.85, s"refined recall@10 = $recall")
    // and the refine must beat the raw PQ ranking it refines
    val raw = PqGraphSearch.searchApprox(pqIdx, queriesDf, refineK = 10, l = 64)
      .select(col("query_id"), transform(col("knn"), _("id")).as("ids"))
    val rawRecall = graft.eval.Eval.recallAtK(raw, gt, 10)
      .collect().head.getAs[Double]("recall_at_k")
    assert(recall >= rawRecall, s"refine degraded recall: $recall < $rawRecall")
  }

  test("search is deterministic across query partitioning") {
    val a = explodeKnn(PqGraphSearch.searchApprox(pqIdx, queriesDf, 10, 64,
      numSeeds = 4)).collect().toSet
    val b = explodeKnn(PqGraphSearch.searchApprox(pqIdx,
      queriesDf.repartition(7), 10, 64, numSeeds = 4)).collect().toSet
    assert(a == b)
  }

  test("inner-product LUT matches a reference fold over codes + books") {
    // adcTopK is L2-only, so the IP path gets a direct pin: exhaustive
    // beam dists must equal a test-side recomputation of the negated-dot
    // LUT fold (same Double association: per-subspace partials in
    // ascending dim order, summed in subspace order)
    val ipIdx = PqGraphSearch.fromDF(adjDf, baseDf,
      ep = graphIdx.ids(graphIdx.ep), metric = Metric.InnerProduct,
      m = M, kCodes = KCodes, iters = 2, trainCap = 1 << 20)
    val res = PqGraphSearch.searchApprox(ipIdx, queriesDf, refineK = 10,
      l = ipIdx.n)
      .select(col("query_id"), col("knn")).collect()
      .map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(e => (e.getLong(0), e.getDouble(1))).toArray).toMap
    val qVecs = queriesDf.select(col("id").cast("long"), col("vec"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val codeOf = ipIdx.ids.zipWithIndex.toMap
    for ((qid, knn) <- res; (bid, dist) <- knn) {
      val q = qVecs(qid)
      val dense = codeOf(bid)
      var expected = 0.0
      for (s <- 0 until ipIdx.book.m) {
        val cent = ipIdx.book.books(s)(ipIdx.codes(dense * ipIdx.book.m + s) & 0xFF)
        var part = 0.0
        for (t <- 0 until ipIdx.book.subDim)
          part -= q(s * ipIdx.book.subDim + t).toDouble * cent(t)
        expected += part
      }
      assert(dist == expected, s"q=$qid b=$bid: $dist != $expected")
    }
  }

  test("beam search fails by name on a query of the wrong dimension") {
    for (dim <- Seq(63, 65)) {
      val q = queriesDf.select(col("id"),
        slice(concat(col("vec"), col("vec")), 1, dim).as("vec"))
      assert(namedError(PqGraphSearch.searchApprox(pqIdx, q, 10, 64).collect()) ==
        s"PQ: vector dimension mismatch ($dim vs 64)")
    }
  }

  test("fromPrecomputed names a codebook hole and subspace ids past the code width") {
    import spark.implicits._
    val codes = Seq((100L, Array(0, 1)), (101L, Array(1, 0))).toDF("id", "codes")
    val adj = Seq((100L, Array(101L)), (101L, Array(100L))).toDF("src", "nbrs")
    def books(cells: (Int, Int)*) = cells.map { case (s, c) =>
      (s, c, Array(s.toFloat, c.toFloat)) }.toDF("subspace", "centroid_id", "vec")
    def load(cb: org.apache.spark.sql.DataFrame) =
      PqGraphSearch.fromPrecomputed(adj, codes, cb, 100L, Metric.L2)
    assert(load(books((0, 0), (0, 1), (1, 0), (1, 1))).n == 2)
    // (1, 0) twice and (1, 1) missing: as many rows as a dense 2 x 2 grid
    assert(namedError(load(books((0, 0), (0, 1), (1, 0), (1, 0)))).contains(
      "codebook missing (subspace=1, centroid_id=1)"))
    assert(namedError(load(books((0, 0), (0, 1), (1, 0), (1, 1), (2, 0), (2, 1))))
      .contains("codebook has 3 subspaces, expected 2"))
  }

  test("PQ payload is an order of magnitude smaller than raw vectors") {
    // 64d x 4B = 256 B/node raw vs m = 16 code bytes: 16x
    assert(pqIdx.codeBytes * 10 <= pqIdx.rawBytes,
      s"codes ${pqIdx.codeBytes} B vs raw ${pqIdx.rawBytes} B")
    assert(pqIdx.n == 400 && pqIdx.book.subDim == 4)
  }
}
