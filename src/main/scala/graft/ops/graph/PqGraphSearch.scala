package graft.ops.graph

import graft.core.Metric
import graft.ops.{PqCodebook, Quantize}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PQ-guided beam search — the DiskANN-style serving tier for corpora
  * whose RAW vectors exceed executor memory but whose graph + PQ codes
  * do not (Subramanya et al., "DiskANN: Fast Accurate Billion-point
  * Nearest Neighbor Search on a Single Node", NeurIPS 2019 — the
  * public-literature shape; the reference serves its 10M×200d regime,
  * prepare_data.sh:22-28, from raw vectors in RAM).
  *
  * The beam kernel (Q1 SearchRoarGraph semantics,
  * src/index_bipartite.cpp:2311-2420) runs unchanged, but candidate
  * scoring uses asymmetric PQ distances: each query builds m×kCodes
  * lookup tables once (partial distances between its sub-vectors and
  * every codebook centroid), then every candidate costs m byte-indexed
  * table adds instead of a dim-float scan. Memory per node drops from
  * dim×4 B to m B (25.6× at 200d/m=25); the exact top-k is restored by a
  * bounded refine stage — one distributed join fetching the true vectors
  * of the ≤refineK survivors per query ([[Quantize.refineTopK]], the
  * IndexRefineFlat shape).
  *
  * At 100 TB scale this is the tier where the index outgrows raw-vector
  * broadcast: a 10M×200d corpus is an 8 GB broadcast raw but ~250 MB as
  * codes+graph, and the refine join reads r raw rows per query from the
  * bucketed at-rest layout instead of holding any of them resident.
  *
  * Correctness contract (PqBeamSpec): the lookup tables and code sums
  * are [[PqCodebook]]'s, the ones the oracle-checked [[Quantize.adcTopK]]
  * runs — so an exhaustive beam (l ≥ n over a fully reachable graph)
  * reproduces the ADC scan's ranking exactly, which transitively pins
  * the LUT math to the DuckDB oracle.
  */
object PqGraphSearch {

  /** In-RAM PQ graph index: adjacency + flat byte codes, never raw
    * vectors. `codes` is row-major n×m (code of node i, subspace s at
    * i*m+s, unsigned byte) over the codebook `book`. Dense node ids are
    * positions in `ids` (ascending external id). */
  final case class PqGraphIndex(
      adj: Array[Array[Int]], ids: Array[Long], ep: Int, codes: Array[Byte],
      book: PqCodebook, metric: Metric) {
    def n: Int = ids.length
    /** In-RAM bytes of the PQ payload vs the raw vectors it replaces. */
    def codeBytes: Long = codes.length.toLong
    def rawBytes: Long = ids.length.toLong * book.dim * 4L
  }

  /** Assemble the PQ tier from any (adjacency, vectors) pair: train
    * per-subspace codebooks on a deterministic sample (every step-th id,
    * capped at `trainCap` rows — k-means over the full corpus would pay
    * `iters` extra full scans for centroids a sample already pins),
    * encode ALL vectors with the corpus-scale kernel encoder, and
    * collect codes + adjacency to driver arrays. Raw vectors are never
    * collected — the driver/executor resident set is the point.
    *
    * `dim` must divide into `m` equal subspaces ([[Quantize.pqTrain]]'s
    * contract); pad/rotate upstream for other dims (Quantize.opqRotate).
    */
  def fromDF(adj: DataFrame, vectors: DataFrame, ep: Long, metric: Metric,
             m: Int, kCodes: Int = 256, iters: Int = 4,
             trainCap: Int = 65536): PqGraphIndex = {
    require(kCodes <= 256, s"byte-wide codes need kCodes <= 256: $kCodes")
    val spark = vectors.sparkSession
    import spark.implicits._

    val nRows = vectors.count()
    val step = math.max(1L, nRows / trainCap)
    // hash-sampled, not strided: a stride aliases with periodic id
    // structure (measured on KnnJoin.ivfApprox — the 2M soak corpus's
    // id-mod-16 clusters aliased a step-30 stride to even clusters only,
    // costing 13 points of routing agreement); the hash sample is
    // deterministic and structure-free
    val trainDf =
      if (step == 1L) vectors
      else vectors.filter(pmod(xxhash64(col("id").cast("long")), lit(step)) === 0L)
    val cb = Quantize.pqTrain(trainDf, m, kCodes, iters).cache()
    val idx = fromPrecomputed(adj, Quantize.pqEncodeKernel(vectors, cb, m),
      cb, ep, metric)
    cb.unpersist()
    idx
  }

  /** Assemble the tier from ALREADY-trained artifacts — `codes` (id,
    * codes array&lt;int&gt;) and `codebooks` (subspace, centroid_id, vec) in
    * whatever space the caller encoded (e.g. OPQ-rotated); queries passed
    * to [[searchApprox]] must live in the same space. */
  def fromPrecomputed(adj: DataFrame, codes: DataFrame, codebooks: DataFrame,
                      ep: Long, metric: Metric): PqGraphIndex = {
    val spark = codes.sparkSession
    import spark.implicits._
    val codeRows = codes
      .select(col("id").cast("long"), col("codes"))
      .as[(Long, Array[Int])].collect().sortBy(_._1)
    val m = codeRows.head._2.length
    val book = PqCodebook.load(codebooks, m)
    require(book.kCodes <= 256, s"byte-wide codes need kCodes <= 256: ${book.kCodes}")

    val ids = codeRows.map(_._1)
    val n = ids.length
    val flat = new Array[Byte](n * m)
    var i = 0
    while (i < n) {
      val cs = codeRows(i)._2
      book.requireCodes(cs)
      var s = 0
      while (s < m) { flat(i * m + s) = (cs(s) & 0xFF).toByte; s += 1 }
      i += 1
    }

    // dense adjacency via binary search over the sorted external ids —
    // a boxed Map at 4M+ nodes costs more heap than the codes themselves
    val adjArr = Array.fill(n)(Array.empty[Int])
    adj.select(col("src").cast("long"), col("nbrs"))
      .as[(Long, Array[Long])].collect()
      .foreach { case (src, nbrs) =>
        val d = java.util.Arrays.binarySearch(ids, src)
        if (d >= 0)
          adjArr(d) = nbrs.flatMap { nb =>
            val j = java.util.Arrays.binarySearch(ids, nb)
            if (j >= 0) Some(j) else None
          }
      }
    val epDense = {
      val d = java.util.Arrays.binarySearch(ids, ep)
      require(d >= 0, s"entry point $ep not present in vectors")
      d
    }
    PqGraphIndex(adjArr, ids, epDense, flat, book, metric)
  }

  /** Approximate top-`refineK` per query: [[BeamSearch.search]] over the
    * graph, scoring candidates through the per-query LUT. Output
    * (query_id, knn: array&lt;struct&lt;id, dist&gt;&gt;, cmps, hops) with
    * PQ-domain dists — feed to [[searchRefined]] (or
    * [[Quantize.refineTopK]]) for exact final ranking. */
  def searchApprox(idx: PqGraphIndex, queries: DataFrame, refineK: Int,
                   l: Int, numSeeds: Int = 0): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    require(l >= refineK || l >= idx.n,
      s"beam width l=$l keeps fewer than refineK=$refineK candidates")
    val bc = spark.sparkContext.broadcast(idx)
    queries.select(col("id").cast("long"), col("vec"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val x = bc.value
        val visited = new BeamSearch.Visited(x.n)
        val book = x.book
        it.map { case (qid, q) =>
          val lut = book.lut(q, x.metric)
          val adc: BeamSearch.Scorer = (ids, n, out) => {
            var j = 0
            while (j < n) { out(j) = book.adc(lut, x.codes, ids(j) * book.m); j += 1 }
          }
          val r = BeamSearch.search(x.adj, adc, refineK, l, x.ep, visited,
            seeds = graft.build.RoarGraphBuilder.seedsFor(qid, numSeeds, x.n))
          (qid, r.ids.zip(r.dists).map { case (i, d) => (x.ids(i), d) },
            r.cmps, r.hops)
        }
      }.toDF("query_id", "knn", "cmps", "hops")
      .withColumn("knn", expr(
        "transform(knn, e -> named_struct('id', e._1, 'dist', e._2))"))
  }

  /** PQ-guided beam + exact refine: the end-to-end serving call. The beam
    * never touches a raw vector; the refine joins the ≤refineK survivors
    * per query against `vectors` (the bucketed at-rest table) and
    * re-ranks with exact distances. Returns (query_id,
    * knn: array&lt;struct&lt;id, dist&gt;&gt;) — final exact top-k.
    *
    * Eager: the beam candidates feed BOTH the refine join and the
    * work-counter join, so they are checkpointed once, consumed, and
    * their blocks RELEASED before return (a `.cache()` here leaked one
    * candidate set per serving call for the session lifetime — ADVICE
    * r8). The returned frame is itself a cut of only k rows per query. */
  def searchRefined(idx: PqGraphIndex, queries: DataFrame,
                    vectors: DataFrame, k: Int, l: Int, refineK: Int,
                    numSeeds: Int = 0): DataFrame = {
    val (cand, releaseCand) = PlanUtil.cutDFReleasable(
      searchApprox(idx, queries, refineK, l, numSeeds))
    val out = PlanUtil.cutDF(
      Quantize.refineTopK(cand, queries, vectors, k)
        .join(cand.select(col("query_id"), col("cmps"), col("hops")),
          "query_id"))
    releaseCand()
    out
  }
}
