package graft

import graft.core.{Metric, Tables}
import graft.ops.{AnnSearch, KnnJoin, Quantize}
import org.apache.spark.sql.functions._

/** IVF+PQ composite (coarse probe → byte-domain ADC over probed lists →
  * exact refine): semantics, and the quality claim that coarse pruning
  * costs little recall once the refine stage re-ranks with exact
  * distances. */
class IvfPqSpec extends SparkSpec {

  private val K = 10
  private val NProbe = 2
  private val M = 16
  private val Dim = 64

  private lazy val fixture = {
    val emb = Tables.vectors(spark, sf0001)
    val q = emb.filter(col("id") < 20).cache()
    val b = emb.filter(col("id") >= 20).cache()
    val cents = b.filter(col("id").between(20, 27))
      .select(col("id").cast("int").as("centroid_id"), col("vec"))
    val perm = Quantize.opqPermutation(Quantize.opqRotate(b, Dim), Dim, M)
    val bP = Quantize.permute(Quantize.opqRotate(b, Dim), perm).cache()
    val qP = Quantize.permute(Quantize.opqRotate(q, Dim), perm).cache()
    val cb = Quantize.pqTrain(bP, M, 64, iters = 1).cache()
    val codes = PqOracle.pqEncode(bP, cb, M)
    val assignedCodes = AnnSearch.assignToCentroids(
        b.select(col("id"), col("vec")), cents)
      .select(col("centroid_id"), col("id"))
      .join(codes, "id").cache()
    val probes = AnnSearch.probeCentroids(q, cents, NProbe).cache()
    (q, b, qP, cb, assignedCodes, probes)
  }

  test("ivfAdcTopK is deterministic and scans only the probed lists") {
    val (_, _, qP, cb, assignedCodes, probes) = fixture
    val r1 = PqOracle.ivfAdcTopK(probes, qP, assignedCodes, cb, K)
    val r2 = PqOracle.ivfAdcTopK(probes, qP, assignedCodes, cb, K)
    val e1 = KnnJoin.explodeRanks(r1).cache()
    val e2 = KnnJoin.explodeRanks(r2)
    assert(e1.exceptAll(e2).isEmpty && e2.exceptAll(e1).isEmpty,
      "nondeterministic IVF+PQ ADC scan")
    // every returned candidate must come from a probed list
    val offList = e1.join(assignedCodes.select(col("id").as("base_id"),
        col("centroid_id")), "base_id")
      .join(probes.select(col("query_id"), col("centroid_id")),
        Seq("query_id", "centroid_id"), "left_anti")
    assert(offList.isEmpty, "candidate outside the query's probed lists")
  }

  test("kernel IVF-ADC == relational ivfAdcTopK (same candidates, dists, ties)") {
    // ivfAdcTopKKernel is the corpus-scale serving form (broadcast
    // codebook tables + probe bitsets + bounded heaps); the relational
    // form stays the oracle-checkable one. Same probe sets, same
    // double-fold lookup-table distances, same ascending-id ties — the
    // exploded rank tables must be identical.
    val (_, _, qP, cb, assignedCodes, probes) = fixture
    val rel = KnnJoin.explodeRanks(
      PqOracle.ivfAdcTopK(probes, qP, assignedCodes, cb, K))
    val ker = KnnJoin.explodeRanks(
      Quantize.ivfAdcTopKKernel(probes, qP, assignedCodes, cb, K))
    assert(ker.exceptAll(rel).isEmpty && rel.exceptAll(ker).isEmpty,
      "kernel IVF-ADC diverges from the relational composite")
  }

  test("kernel centroid assign == literal-fold assign (ids, dists, ties)") {
    val (_, b, _, _, _, _) = fixture
    val cents = b.filter(col("id").between(20, 27))
      .select(col("id").cast("int").as("centroid_id"), col("vec"))
    val rel = IvfOracle.assign(b.select(col("id"), col("vec")), cents)
      .select(col("id").cast("long").as("id"), col("cdist"), col("centroid_id"))
    val ker = AnnSearch.assignToCentroids(b.select(col("id"), col("vec")), cents)
      .select(col("id"), col("cdist"), col("centroid_id"))
    assert(ker.exceptAll(rel).isEmpty && rel.exceptAll(ker).isEmpty,
      "kernel centroid assignment diverges from the literal fold")
  }

  test("refined IVF+PQ matches exact kNN restricted to the probed lists") {
    val (q, b, qP, cb, assignedCodes, probes) = fixture
    val cand = Quantize.ivfAdcTopKKernel(probes, qP, assignedCodes, cb, 10 * K)
    val refined = Quantize.refineTopK(cand, q, b, K)
      .select(col("query_id"), transform(col("knn"), _("id")).as("ids"))
    // ground truth: exact kNN over the raw vectors of the probed lists
    val gtScan = probes.select(col("query_id"), col("qvec"), col("centroid_id"))
      .join(assignedCodes.select(col("centroid_id"), col("id")), "centroid_id")
      .join(b.select(col("id"), col("vec")), "id")
      .select(col("query_id"), col("id").cast("long").as("id"),
        graft.functions.VectorFunctions.l2Sq(col("vec"), col("qvec")).as("dist"))
    val topK = graft.functions.TopKAggregator.topK(K)
    val gt = gtScan.groupBy("query_id")
      .agg(topK(col("id"), col("dist")).as("knn"))
      .select(col("query_id"), transform(col("knn"), _("id")).as("ids"))
    val recall = graft.eval.Eval.recallAtK(refined, gt, K)
      .head().getAs[Double]("recall_at_k")
    // the byte-domain scan feeds 10k candidates to the exact re-rank; on
    // this fixture that recovers the probed-list ground truth almost
    // exactly (PQ error only matters below the 10k candidate boundary)
    assert(recall >= 0.95, s"refined IVF+PQ recall $recall < 0.95")
  }
}
