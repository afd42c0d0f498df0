package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scalar quantization (SQ8) for embedding storage: per-dimension min/max
  * affine mapping onto 0..255 — the standard 4× memory/IO cut for vector
  * search at corpus scale (the reference's PQ enum is vestigial; SQ8 is
  * the simplest member of the same compression family, and the one that
  * keeps distances computable with plain arithmetic).
  *
  * SQ8 is relational and deterministic (bounds are a per-dimension
  * aggregate, the round trip one column pass); the PQ kernels below run
  * over [[PqCodebook]], and the specs pin them to relational oracles.
  * The PQ trainer runs each Lloyd iteration as one driver-merged job:
  * each partition reduces its rows to driver-small per-cell partials,
  * and the driver merges them in partition order. */
object Quantize {

  /** Per-dimension (pos, lo, hi) bounds over a vector column. */
  def sq8Bounds(vectors: DataFrame): DataFrame =
    vectors.select(posexplode(col("vec")).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(min(col("x").cast("double")).as("lo"),
        max(col("x").cast("double")).as("hi"))

  /** Fused encode→decode round trip: the quantization error surface
    * (id, vec: array<float> of decoded values) in ONE pass over the
    * exploded vectors. Float-identical to the staged
    * `decode(encode(v, bounds)) cast float` (Sq8Oracle in the tests) —
    * per element the same op chain (round(255·(x−lo)/(hi−lo)) cast int, then
    * lo + (code/255)·(hi−lo), cast float; constant dims → lo) — but the
    * staged form paid a groupBy-exchange to assemble the codes array, a
    * one-row bounds collect + crossJoin broadcast, and a zip_with decode
    * only to re-explode conceptually per element. Guide §1.2
    * (don't-recompute / fewer passes): one explode, one broadcast join,
    * one assembly aggregate. */
  def sq8EncodeDecode(vectors: DataFrame, bounds: DataFrame): DataFrame = {
    val ex = vectors.select(col("id"), posexplode(col("vec")).as(Seq("pos", "x")))
    ex.join(broadcast(bounds), "pos")
      .select(col("id"), col("pos"),
        when(col("hi") > col("lo"),
          col("lo") + (round(lit(255.0) * (col("x").cast("double") - col("lo"))
            / (col("hi") - col("lo"))).cast("int").cast("double") / 255.0)
            * (col("hi") - col("lo")))
          .otherwise(col("lo")).as("dx"))
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("pos"), col("dx")))).as("ds"))
      .select(col("id"),
        transform(col("ds"), d => d("dx").cast("float")).as("vec"))
  }

  // ---- Product quantization (PQ) -----------------------------------------
  // The reference declares a PQ metric but never implements it
  // (include/efanna2e/distance.h:15, vestigial); completed here from the
  // engine's own primitives: per-subspace k-means codebooks, nearest-code
  // encoding, reconstruction for asymmetric distance computation.

  /** Train per-subspace codebooks: split `dim` into `m` contiguous
    * subspaces and run deterministic k-means in each; all subspaces
    * advance together. Seeds are the k smallest ids' subvectors (one job,
    * which also fills the persisted row cache). Each Lloyd iteration is
    * ONE [[AnnSearch.lloydSums]] job: a row's codes come from
    * [[PqCodebook.encode]] over the current codebook (double L2, lowest
    * code id on ties) and its subvectors are summed per (subspace, code)
    * cell; the new centroid is the double mean cast to float, and an empty
    * cell keeps its previous centroid. Every row must be `dim` long. The
    * relational trainer (broadcast join, per-row min, per-cell mean
    * aggregate) is the spec oracle `PqOracle.pqTrain`, equal bit for bit.
    * Returns (subspace, centroid_id, vec: array<float> of dim/m), a local
    * table. */
  def pqTrain(vectors: DataFrame, m: Int, k: Int, iters: Int): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val rows = AnnSearch.persistedRows(vectors)
    try {
      val seeds = rows.takeOrdered(k)(Ordering.by[(Long, Array[Float]), Long](_._1))
      require(seeds.nonEmpty, "PQ: empty training set")
      val dim = seeds.head._2.length
      require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
      val subDim = dim / m
      val kc = seeds.length
      var books = Array.tabulate(m, kc)((s, c) =>
        seeds(c)._2.slice(s * subDim, (s + 1) * subDim))
      var it = 0
      while (it < iters) {
        val bc = spark.sparkContext.broadcast(PqCodebook.of(books))
        val sums = AnnSearch.lloydSums(rows, m * kc, subDim) { (part, acc) =>
          val book = bc.value
          part.foreach { v =>
            val codes = book.encode(v)
            var s = 0
            while (s < m) { acc.add(s * kc + codes(s), v, s * subDim); s += 1 }
          }
        }
        bc.destroy()
        books = Array.tabulate(m, kc)((s, c) => sums.meanOr(s * kc + c, books(s)(c)))
        it += 1
      }
      (for (s <- 0 until m; c <- 0 until kc) yield (s, c, books(s)(c)))
        .toDF("subspace", "centroid_id", "vec")
    } finally rows.unpersist(blocking = false)
  }

  /** Encode: per subspace, the nearest codebook entry
    * ([[PqCodebook.encode]]: double L2, lowest code id on ties). The dense
    * m×k×subDim grid is broadcast once and each row's codes come out of a
    * single mapPartitions pass — zero shuffle, n output rows. The
    * relational form (broadcast join + per-(subspace, id) min) instead
    * materializes and SHUFFLES n×m×k scored rows (16.4 B rows at
    * 4M×16×256 — measured pathological already at 30k×200d); it stays in
    * the specs as the oracle this kernel equals exactly. Every row must be
    * m×subDim long. Output (id: long, codes: array<int>). */
  def pqEncodeKernel(vectors: DataFrame, codebooks: DataFrame, m: Int): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(PqCodebook.load(codebooks, m))
    vectors.select(col("id").cast("long"), col("vec"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val book = bc.value
        it.map { case (id, v) => (id, book.encode(v)) }
      }.toDF("id", "codes")
  }

  /** Asymmetric distance computation (ADC) top-k over PQ codes — the
    * byte-domain search that makes PQ useful at scale: each query
    * precomputes per-subspace lookup tables `table[s][j] = l2sq(q_s,
    * codebook[s][j])`, and a coded vector's distance is `m` array lookups
    * summed — the scan touches `m` code bytes per vector instead of `dim`
    * floats (16 B vs 256 B at the 16×4-d layout). Identical result set to
    * exact kNN over PQ-reconstructed vectors (ADC distance ≡ distance
    * to the reconstruction, summed per subspace).
    *
    * Physical shape mirrors [[KnnJoin]]: lazy query blocks broadcast one
    * at a time (tables built executor-side per partition — m×k×subDim
    * mults per query, trivial), per-partition bounded heaps over the
    * codes table, partial/final top-k merge; codes never shuffle. Ties by
    * ascending id. Output (query_id, knn: array<struct<dist, id>>).
    *
    * `queryBlockRows` sizes the PER-TASK table footprint — block × m ×
    * kCodes doubles (≈32 KB per query at 16×256) — so the default stays
    * in the tens of MB; raise it only with executor memory to spare. */
  def adcTopK(queries: DataFrame, codes: DataFrame, codebooks: DataFrame,
              k: Int, queryBlockRows: Int = 1024): DataFrame =
    adcDrain(queries, codes.withColumn("centroid_id", lit(0)),
      PqCodebook.load(codebooks), None, k, queryBlockRows, "ADC top-k")

  /** The blocked ADC scan behind [[adcTopK]] and [[ivfAdcTopKKernel]]:
    * each query block's lookup tables are built once per partition, then
    * every (centroid_id, id, codes) row is scored against each query
    * whose probe set holds its list (every query when `probes` is None)
    * into per-query bounded heaps. With `probes`, every query gets a row:
    * one with no probe row, or whose probed lists hold no codes, gets an
    * empty `knn`. */
  private def adcDrain(queries: DataFrame, codes: DataFrame, book: PqCodebook,
                       probes: Option[Map[Long, Array[Int]]], k: Int,
                       queryBlockRows: Int, what: String): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val bcCb = spark.sparkContext.broadcast(book)
    val bcProbes = probes.map(spark.sparkContext.broadcast(_))
    val codesDs = codes.select(col("centroid_id").cast("int"),
      col("id").cast("long"), col("codes")).as[(Int, Long, Array[Int])]
    val qDs = queries.select(col("id").cast("long"), col("vec"))
      .as[(Long, Array[Float])]
    // the shared blocked drain (KnnJoin.blockedTopK) runs every scoring
    // job before it returns, so every task that read the broadcasts has
    // run — they can then be destroyed too
    val out = KnnJoin.blockedTopK(qDs, identity[(Long, Array[Float])],
        (q: (Long, Array[Float])) => q._1, queryBlockRows, k,
        s"$what: empty query set", cover = probes.isDefined) { bc =>
      codesDs.rdd.mapPartitions { it =>
        val qs = bc.value
        val cb = bcCb.value
        val tables = qs.map(q => cb.lut(q._2, graft.core.Metric.L2))
        val probeSets: Array[Array[Int]] = bcProbes.map(b =>
          qs.map(q => b.value.getOrElse(q._1, Array.empty[Int]))).orNull
        val heaps = Array.fill(qs.length)(new KnnJoin.BoundedTopK(k))
        it.foreach { case (cid, bid, cs) =>
          cb.requireCodes(cs)
          var qi = 0
          while (qi < qs.length) {
            if (probeSets == null ||
                java.util.Arrays.binarySearch(probeSets(qi), cid) >= 0)
              heaps(qi).push(cb.adc(tables(qi), cs), bid)
            qi += 1
          }
        }
        Iterator.single(KnnJoin.Partials.of(heaps))
      }
    }
    bcCb.destroy()
    bcProbes.foreach(_.destroy())
    out
  }

  // ---- OPQ-style deterministic rotation ---------------------------------
  // Product quantization assumes subspaces carry balanced, independent
  // energy; OPQ learns an orthogonal rotation making that true. The
  // PCA-free deterministic variant here composes (a) a sign-flipped
  // Hadamard transform — orthogonal, data-independent, spreads energy
  // evenly across dimensions — with (b) a variance-balancing snake
  // permutation computed from the training set, the greedy
  // dimension-allocation member of the OPQ family. Both pieces are exact
  // column expressions (left-fold association), so the full rotated
  // pipeline stays DuckDB-oracle-checkable float-for-float.

  /** Next power of two >= dim — the Hadamard size a `dim`-d input is
    * zero-padded to by [[opqRotate]]. */
  def hadamardDim(dim: Int): Int =
    if ((dim & (dim - 1)) == 0) dim else Integer.highestOneBit(dim) << 1

  /** Sign-flipped Hadamard rotation: y_i = (1/sqrt(D)) * sum_j H_ij * s_j
    * * x_j with H_ij = (-1)^popcount(i AND j) and the deterministic
    * pre-flip s_j = (-1)^popcount((j * 2654435761) AND 0xffff). The inner
    * sum is a left fold in j order (aggregate HOF, codegen'd), scaled
    * once, cast to float — the exact association a SQL
    * `list_sum(list_transform(...)) * scale` reproduces.
    *
    * Non-power-of-two dims (e.g. the reference's 200-d T2I embeddings,
    * prepare_data.sh:22-28) are zero-padded to D = [[hadamardDim]](dim)
    * before the transform: the rotation is orthogonal on the padded
    * space, padding contributes zero energy, and pairwise distances of
    * the padded vectors equal those of the originals — so the whole PQ
    * chain downstream (permutation, training, ADC, refine over ORIGINAL
    * vectors) is unchanged except that it operates on D-length rotated
    * vectors. Power-of-two inputs take the exact pre-existing codepath
    * (identical expressions, hash-stable). */
  def opqRotate(vectors: DataFrame, dim: Int): DataFrame =
    opqRotatePermuted(vectors, dim, Array.range(0, hadamardDim(dim)))

  /** The sign-flipped Hadamard matrix of [[opqRotate]], flattened
    * row-major, with output row i taken from Hadamard row perm(i). */
  private def hadamardMat(dim: Int, perm: Array[Int]): Array[Double] = {
    require(perm.length == dim, s"perm has ${perm.length} entries, expected padDim=$dim")
    val m = new Array[Double](dim * dim)
    var i = 0
    while (i < dim) {
      var j = 0
      while (j < dim) {
        val h = if (java.lang.Integer.bitCount(perm(i) & j) % 2 == 0) 1.0 else -1.0
        val s = if (java.lang.Long.bitCount((j.toLong * 2654435761L) & 0xffffL) % 2 == 0) 1.0 else -1.0
        m(i * dim + j) = h * s
        j += 1
      }
      i += 1
    }
    m
  }

  /** Variance-balancing snake permutation over a (rotated) training set:
    * rank dimensions by round(sample variance, 6) descending (pos breaks
    * ties), deal rank r to subspace `r%m` on even deals and `m-1-r%m` on
    * odd — every subspace receives one dimension per deal, so per-subspace
    * energy is balanced. Returns newPos -> oldPos (driver-small: dim
    * ints, like the codebooks). Rounding makes the rank order robust to
    * last-ulp aggregation differences between engines. */
  def opqPermutation(train: DataFrame, dim: Int, m: Int): Array[Int] = {
    val subDim = dim / m
    val vars = train.select(posexplode(col("vec")).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(round(variance(col("x").cast("double")), 6).as("v"))
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
    val ranked = vars.sortBy { case (pos, v) => (-v, pos) }.map(_._1)
    val perm = Array.ofDim[Int](dim)
    ranked.zipWithIndex.foreach { case (oldPos, r) =>
      val deal = r / m
      val s = if (deal % 2 == 0) r % m else m - 1 - (r % m)
      perm(s * subDim + deal) = oldPos
    }
    perm
  }

  /** Apply a newPos -> oldPos permutation (exact reorder, no float ops). */
  def permute(vectors: DataFrame, perm: Array[Int]): DataFrame =
    vectors.select(col("id"),
      array(perm.toIndexedSeq.map(p => col("vec").getItem(p)): _*).as("vec"))

  /** Fused `permute(opqRotate(v, dim), perm)` — bit-identical by
    * construction: output position i of the staged form reads rotated
    * position perm(i), i.e. the fold over row perm(i) of the Hadamard
    * matrix; building the MATRIX ROWS in that order on the driver and
    * running ONE MatVecRotate computes the exact same fold (same term
    * order, same scale multiply, same float cast). The staged form's
    * plan is the problem it replaces: Catalyst collapses the padDim-element
    * permute projection into the rotate projection, leaving padDim copies
    * of the MatVecRotate expression (each carrying the padDim² matrix) in
    * one Project — every driver-side tree walk (analysis, canonicalization,
    * subexpression elimination, AQE re-planning) then compares/hashes
    * 65k-element matrices hundreds of times (measured: 2.1 s driver time
    * to materialize a 256-ROW table at 256-d). Equivalence is spec-gated
    * (SamplingQuantizeSpec). */
  def opqRotatePermuted(vectors: DataFrame, dim: Int,
                        perm: Array[Int]): DataFrame = {
    val padDim = hadamardDim(dim)
    val padded =
      if (padDim != dim)
        vectors.select(col("id"),
          concat(col("vec"), array_repeat(lit(0.0f), padDim - dim)).as("vec"))
      else vectors
    val scale = 1.0 / math.sqrt(padDim.toDouble)
    // the ±1 matrix entries are data-independent — bake them into a
    // codegen'd mat-vec expression (one fused nested loop per row). The
    // HOF formulation (transform/aggregate/zip_with over a matrix
    // literal) is CodegenFallback: d interpreted lambda trees and d
    // intermediate arrays PER ROW, which dominated the 256-d padded
    // chain. Float results are identical (term M_ij*x_j, left-fold sum,
    // scale, cast — see MatVecRotate's scaladoc).
    padded.select(col("id"),
      graft.functions.MatVecRotate.rotate(col("vec"),
        scala.collection.immutable.ArraySeq.unsafeWrapArray(hadamardMat(padDim, perm)),
        padDim, scale).as("vec"))
  }

  /** Refine stage (the production PQ serving shape): re-rank each query's
    * ADC candidate list with exact distances over the ORIGINAL vectors and
    * keep the top k. At scale this touches `r` base rows per query —
    * bounded random IO beside the byte-domain scan — and the ranking is a
    * bounded partial/final top-k aggregation, never a window over scored
    * rows. `cands` = adcTopK output [query_id, knn]; output
    * [query_id, knn: array<struct<id, dist>>] sorted by (dist, id). */
  def refineTopK(cands: DataFrame, queries: DataFrame, base: DataFrame,
                 k: Int): DataFrame = {
    val topK = graft.functions.TopKAggregator.topK(k)
    cands.select(col("query_id"), explode(col("knn")("id")).as("id"))
      .join(base.select(col("id"), col("vec")), "id")
      .join(queries.select(col("id").cast("long").as("query_id"),
        col("vec").as("qvec")), "query_id")
      .select(col("query_id"), col("id").cast("long").as("id"),
        graft.functions.VectorFunctions.l2Sq(col("vec"), col("qvec"))
          .as("dist"))
      .groupBy("query_id")
      .agg(topK(col("id"), col("dist")).as("knn"))
  }

  // ---- IVF+PQ composite (the FAISS IndexIVFPQ serving shape) ------------
  // Coarse quantization prunes the corpus to each query's nprobe inverted
  // lists; the byte-domain ADC scan ranks only those lists; the refine
  // stage re-ranks a bounded candidate set with exact distances over the
  // original vectors. The scan reads nprobe/|C| of the corpus × 16 code
  // bytes per row, then r raw rows per query.

  /** ADC top-r restricted to each query's probed inverted lists.
    * `probes` = (query_id, centroid_id) from [[AnnSearch.probeCentroids]]
    * (coarse quantization in the RAW space — the rotation is orthogonal,
    * so raw-space probe sets select exactly the right lists for
    * rotated-space codes; driver-small, |queries| × nprobe);
    * `queriesRot` = (id, vec) queries in the SAME rotated+permuted space
    * as the codes; `assignedCodes` = (centroid_id, id, codes).
    *
    * The scan is [[adcTopK]]'s — same lookup tables, same subspace-order
    * sums, ties by ascending id — with each row scored only for the
    * queries that probe its list: no join, no codebook literal, so the
    * plan stays small at any m×k. The specs pin it equal to a relational
    * composite (a join plus a column-expression ADC fold) that mirrors
    * the DuckDB oracle. Every query of `queriesRot` gets a row: one with
    * no probe row, or whose probed lists hold no codes, gets an empty
    * `knn`. */
  def ivfAdcTopKKernel(probes: DataFrame, queriesRot: DataFrame,
                       assignedCodes: DataFrame, codebooks: DataFrame,
                       r: Int, queryBlockRows: Int = 1024): DataFrame = {
    val spark = assignedCodes.sparkSession
    import spark.implicits._
    val probeMap: Map[Long, Array[Int]] = probes
      .select(col("query_id").cast("long"), col("centroid_id").cast("int"))
      .as[(Long, Int)].collect()
      .groupBy(_._1).map { case (q, a) => q -> a.map(_._2).sorted }
    adcDrain(queriesRot, assignedCodes, PqCodebook.load(codebooks),
      Some(probeMap), r, queryBlockRows, "IVF-ADC top-k")
  }
}
