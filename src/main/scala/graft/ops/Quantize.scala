package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar quantization (SQ8) for embedding storage: per-dimension min/max
  * affine mapping onto 0..255 — the standard 4× memory/IO cut for vector
  * search at corpus scale (the reference's PQ enum is vestigial; SQ8 is
  * the simplest member of the same compression family, and the one that
  * keeps distances computable with plain arithmetic).
  *
  * Everything is relational and deterministic: bounds are a per-dimension
  * aggregate, encode/decode are column expressions, so the quantized
  * search path is DuckDB-oracle-checkable end to end. */
object Quantize {

  /** Per-dimension (pos, lo, hi) bounds over a vector column. */
  def sq8Bounds(vectors: DataFrame): DataFrame =
    vectors.select(posexplode(col("vec")).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(min(col("x").cast("double")).as("lo"),
        max(col("x").cast("double")).as("hi"))

  /** Encode: code_d = round(255 * (x_d - lo_d) / (hi_d - lo_d)), constant
    * dims → 0. Output (id, codes: array<int> 0..255). Bounds are joined in
    * exploded form and re-assembled — one broadcastable join, no UDF. */
  def sq8Encode(vectors: DataFrame, bounds: DataFrame): DataFrame = {
    val ex = vectors.select(col("id"), posexplode(col("vec")).as(Seq("pos", "x")))
    ex.join(broadcast(bounds), "pos")
      .select(col("id"), col("pos"),
        when(col("hi") > col("lo"),
          round(lit(255.0) * (col("x").cast("double") - col("lo"))
            / (col("hi") - col("lo"))).cast("int"))
          .otherwise(lit(0)).as("code"))
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("pos"), col("code")))).as("cs"))
      .select(col("id"), transform(col("cs"), _("code")).as("codes"))
  }

  /** Decode a codes column back to doubles given aligned lo/hi arrays. */
  def sq8Decode(codes: Column, lo: Column, hi: Column): Column =
    zip_with(codes, zip_with(lo, hi, (l, h) => struct(l.as("l"), h.as("h"))),
      (c, b) => b("l") + (c.cast("double") / 255.0) * (b("h") - b("l")))

  /** Fused encode→decode round trip: the quantization error surface
    * (id, vec: array<float> of decoded values) in ONE pass over the
    * exploded vectors. Float-identical to
    * `sq8Decode(sq8Encode(v, bounds)) cast float` — per element the same
    * op chain (round(255·(x−lo)/(hi−lo)) cast int, then
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
    * subspaces, run deterministic k-means in each — all subspaces advance
    * TOGETHER, one Spark job per Lloyd's iteration regardless of `m`
    * (the m-separate-trainers formulation costs m× the scheduling).
    * Semantics identical to per-subspace `AnnSearch.kMeans`: seeds = the k
    * smallest ids' subvectors, double-avg → float centroids, empty
    * clusters keep their previous centroid. Returns
    * (subspace, centroid_id, vec: array<float> of dim/m). */
  def pqTrain(vectors: DataFrame, m: Int, k: Int, iters: Int): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    // one driver job fetches the k smallest ids WITH their vectors; dim
    // and the per-subspace seed centroids derive from those rows on the
    // driver (the previous dim-probe + id-collect + seed-filter trio cost
    // three jobs for the same driver-small data)
    val seedRows = vectors.select(col("id").cast("long"), col("vec"))
      .orderBy("id").limit(k).as[(Long, Array[Float])].collect()
    val dim = seedRows.head._2.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    val sv = subspaceRows(vectors, m, subDim).cache()

    var cents: Map[(Int, Int), Array[Float]] = seedRows.zipWithIndex.flatMap {
      case ((_, v), c) =>
        (0 until m).map(s => ((s, c), v.slice(s * subDim, (s + 1) * subDim)))
    }.toMap

    var it = 0
    while (it < iters) {
      val cdf = cents.toSeq.map { case ((s, c), v) => (s, c, v) }
        .toDF("subspace", "centroid_id", "cvec")
      // assignment = partial-aggregating min over struct(cdist, cid) — the
      // n×k scored rows never reach an exchange (map-side min); ties by
      // centroid_id via struct ordering. Update = one array-mean aggregate
      // per cluster. No window, no sort, two keyed exchanges per iteration.
      val updated = sv.join(broadcast(cdf), "subspace")
        .withColumn("cdist",
          graft.functions.VectorFunctions.l2Sq(col("vec"), col("cvec")))
        .groupBy("subspace", "id")
        .agg(min(struct(col("cdist"), col("centroid_id"))).as("best"),
          first(col("vec")).as("vec"))
        .select(col("subspace"), col("best")("centroid_id").as("centroid_id"),
          col("vec"))
        .groupBy("subspace", "centroid_id")
        .agg(graft.functions.VecMeanAggregator.meanVec(
          graft.functions.VectorFunctions.toDouble(col("vec"))).as("mv"))
        .select(col("subspace"), col("centroid_id").cast("int"),
          transform(col("mv"), _.cast("float")).as("cvec"))
        .as[(Int, Int, Array[Float])].collect()
        .map { case (s, c, v) => ((s, c), v) }.toMap
      cents = cents.map { case (key, old) => (key, updated.getOrElse(key, old)) }
      it += 1
    }
    sv.unpersist()
    cents.toSeq.map { case ((s, c), v) => (s, c, v) }
      .toDF("subspace", "centroid_id", "vec")
  }

  /** Encode: per subspace, the nearest codebook entry (ties by code id).
    * Output (id, codes: array<int> of length m). One broadcast join of
    * the codebook table + a partial-aggregating min per (subspace, id) —
    * the n×m×k scored rows never reach an exchange, and (unlike a
    * per-subspace literal-fold) the plan size is independent of m×k.
    * `dim` (when > 0) skips the one-row dimension-probe job — callers on
    * the bench path know the (padded) dimension statically. */
  def pqEncode(vectors: DataFrame, codebooks: DataFrame, m: Int,
               dim: Int = -1): DataFrame = {
    val d = if (dim > 0) dim
            else vectors.select(size(col("vec"))).head().getInt(0)
    val subDim = d / m
    val sv = subspaceRows(vectors, m, subDim)
    sv.join(broadcast(codebooks.select(col("subspace"),
        col("centroid_id"), col("vec").as("cvec"))), "subspace")
      .withColumn("cdist",
        graft.functions.VectorFunctions.l2Sq(col("vec"), col("cvec")))
      .groupBy("subspace", "id")
      .agg(min(struct(col("cdist"), col("centroid_id"))).as("best"))
      .select(col("id"), col("subspace"),
        col("best")("centroid_id").as("code"))
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("subspace"), col("code"))))
        .as("cs"))
      .select(col("id"), transform(col("cs"), _("code")).as("codes"))
  }

  /** (subspace, id, subvector) rows — one row per (input row, subspace).
    * A single posexplode over the m slices, NOT an m-way union: the union
    * compiled m near-identical whole-stage-codegen classes (one per
    * branch, each with the slice offsets constant-folded in), and janino
    * compile time — paid once per plan shape per session — dominated
    * pqTrain/pqEncode wall at bench scale (measured: 7.5 s first run vs
    * 2.2 s re-run of the identical dataflow). Row values are identical;
    * only the physical layout changes (a row's m subspaces now share its
    * partition instead of living in m union branches). */
  private def subspaceRows(vectors: DataFrame, m: Int, subDim: Int): DataFrame =
    vectors.select(col("id").cast("long"),
        posexplode(array((0 until m).map(s =>
          slice(col("vec"), s * subDim + 1, subDim)): _*))
          .as(Seq("subspace", "vec")))
      .select(col("subspace"), col("id"), col("vec"))

  /** Kernel encode — result-identical to [[pqEncode]] (same double-
    * accumulated per-subspace L2 as the native l2Sq expression, same
    * lowest-centroid-id tie-break), but shaped for corpus scale: the
    * relational form materializes and SHUFFLES n×m×k scored rows (16.4 B
    * rows at 4M×16×256 — measured pathological already at 30k×200d),
    * while this one broadcasts the dense m×k×subDim codebook grid once
    * and computes each row's argmin codes in a single mapPartitions pass
    * — zero shuffle, n output rows, m×k×subDim fused multiply-adds per
    * row. pqEncode remains the DuckDB-oracle-checkable form the sf-small
    * correctness gate runs; this is the at-scale encode the soak uses
    * (equivalence spec-gated). Output (id: long, codes: array<int>). */
  def pqEncodeKernel(vectors: DataFrame, codebooks: DataFrame, m: Int): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val cbRows = codebooks.select(col("subspace").cast("int"),
      col("centroid_id").cast("int"), col("vec"))
      .as[(Int, Int, Array[Float])].collect()
    val mm = cbRows.iterator.map(_._1).max + 1
    require(mm == m, s"codebook has $mm subspaces, expected $m")
    val kCodes = cbRows.iterator.map(_._2).max + 1
    val bc = spark.sparkContext.broadcast(denseCodebook(cbRows, m, kCodes))
    vectors.select(col("id").cast("long"), col("vec"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val books = bc.value
        it.map { case (id, v) =>
          val subDim = v.length / books.length
          val codes = new Array[Int](books.length)
          var s = 0
          while (s < books.length) {
            val off = s * subDim
            val book = books(s)
            var best = Double.PositiveInfinity
            var bj = 0
            var j = 0
            while (j < book.length) {
              val c = book(j)
              var d = 0.0
              var t = 0
              while (t < subDim) {
                val x = v(off + t).toDouble - c(t); d += x * x; t += 1
              }
              if (d < best) { best = d; bj = j }
              j += 1
            }
            codes(s) = bj
            s += 1
          }
          (id, codes)
        }
      }.toDF("id", "codes")
  }

  /** Collected codebook rows → dense [subspace][centroid_id] grid, with a
    * named failure when the grid has a hole (pqTrain's coalesce-keeps-
    * previous-centroid invariant guarantees density; a foreign codebook
    * with a gap would otherwise surface as a driver NPE deep inside the
    * literal construction). */
  private def denseCodebook(cbRows: Array[(Int, Int, Array[Float])],
                            m: Int, kCodes: Int): Array[Array[Array[Float]]] = {
    require(cbRows.length == m * kCodes,
      s"codebook grid not dense: ${cbRows.length} rows for $m subspaces x " +
        s"$kCodes codes — every (subspace, centroid_id) up to the max must exist")
    val cb = Array.ofDim[Array[Float]](m, kCodes)
    cbRows.foreach { case (s, c, v) => cb(s)(c) = v }
    (0 until m).foreach { s =>
      (0 until kCodes).foreach { c =>
        require(cb(s)(c) != null, s"codebook missing (subspace=$s, centroid_id=$c)")
      }
    }
    cb
  }

  /** Asymmetric distance computation (ADC) top-k over PQ codes — the
    * byte-domain search that makes PQ useful at scale: each query
    * precomputes per-subspace lookup tables `table[s][j] = l2sq(q_s,
    * codebook[s][j])`, and a coded vector's distance is `m` array lookups
    * summed — the scan touches `m` code bytes per vector instead of `dim`
    * floats (16 B vs 256 B at the 16×4-d layout). Identical result set to
    * exact kNN over [[pqReconstruct]]ed vectors (ADC distance ≡ distance
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
              k: Int, queryBlockRows: Int = 1024): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    // codebooks are driver-small by construction (m × kcodes × subDim)
    val cbRows = codebooks.select(col("subspace").cast("int"),
      col("centroid_id").cast("int"), col("vec"))
      .as[(Int, Int, Array[Float])].collect()
    val m = cbRows.iterator.map(_._1).max + 1
    val kCodes = cbRows.iterator.map(_._2).max + 1
    val cb = denseCodebook(cbRows, m, kCodes)
    val bcCb = spark.sparkContext.broadcast(cb)

    val codesDs = codes.select(col("id").cast("long"), col("codes"))
      .as[(Long, Array[Int])]
    val qDs = queries.select(col("id").cast("long"), col("vec"))
      .as[(Long, Array[Float])]

    // the shared blocked drain (KnnJoin.blockedTopK) materializes each
    // block's partials eagerly, so by the time it returns every task that
    // read bcCb has run — the codebook broadcast can then be destroyed too
    val out = KnnJoin.blockedTopK(qDs, identity[(Long, Array[Float])],
        queryBlockRows, k, "ADC top-k: empty query set") { bc =>
      codesDs.mapPartitions { it =>
        val qs = bc.value
        val books = bcCb.value
        val mm = books.length
        // per-query per-subspace distance tables, built once per partition
        val tables: Array[Array[Array[Double]]] = qs.map { case (_, qv) =>
          val subDim = qv.length / mm
          Array.tabulate(mm) { s =>
            Array.tabulate(books(s).length) { j =>
              val c = books(s)(j)
              var d = 0.0
              var t = 0
              while (t < subDim) {
                val x = qv(s * subDim + t).toDouble - c(t); d += x * x; t += 1
              }
              d
            }
          }
        }
        val heaps = Array.fill(qs.length)(new KnnJoin.BoundedTopK(k))
        it.foreach { case (bid, cs) =>
          var qi = 0
          while (qi < qs.length) {
            val tab = tables(qi)
            var s = 0; var d = 0.0
            while (s < mm) { d += tab(s)(cs(s)); s += 1 }
            heaps(qi).push(d, bid)
            qi += 1
          }
        }
        Iterator.range(0, qs.length).flatMap { qi =>
          val r = heaps(qi).result()
          if (r.isEmpty) None else Some((qs(qi)._1, r))
        }
      }.toDF("query_id", "partial")
    }
    bcCb.destroy()
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
  def opqRotate(vectors: DataFrame, dim: Int): DataFrame = {
    val padDim = hadamardDim(dim)
    if (padDim != dim) {
      val padded = vectors.select(col("id"),
        concat(col("vec"),
          array_repeat(lit(0.0f), padDim - dim)).as("vec"))
      return opqRotate(padded, padDim)
    }
    val scale = 1.0 / math.sqrt(dim.toDouble)
    // the ±1 matrix entries are data-independent — bake them into a
    // codegen'd mat-vec expression (one fused nested loop per row). The
    // HOF formulation (transform/aggregate/zip_with over a matrix
    // literal) is CodegenFallback: d interpreted lambda trees and d
    // intermediate arrays PER ROW, which dominated the 256-d padded
    // chain. Float results are identical (term M_ij*x_j, left-fold sum,
    // scale, cast — see MatVecRotate's scaladoc).
    vectors.select(col("id"),
      graft.functions.MatVecRotate.rotate(col("vec"),
        scala.collection.immutable.ArraySeq.unsafeWrapArray(hadamardMat(dim)),
        dim, scale).as("vec"))
  }

  /** The sign-flipped Hadamard matrix of [[opqRotate]], flattened
    * row-major — shared by the expression path and the fused encode
    * kernel so the two can never drift. */
  private def hadamardMat(dim: Int): Array[Double] = {
    val m = new Array[Double](dim * dim)
    var i = 0
    while (i < dim) {
      var j = 0
      while (j < dim) {
        val h = if (java.lang.Integer.bitCount(i & j) % 2 == 0) 1.0 else -1.0
        val s = if (java.lang.Long.bitCount((j.toLong * 2654435761L) & 0xffffL) % 2 == 0) 1.0 else -1.0
        m(i * dim + j) = h * s
        j += 1
      }
      i += 1
    }
    m
  }

  /** Fused pad→rotate→permute→encode kernel — the corpus-scale form of
    * `pqEncode(permute(opqRotate(v), perm), cb, m)`, bit-identical by
    * construction: the rotation replays MatVecRotate's exact per-output
    * left fold (double accumulation over ALL padDim terms including the
    * padding zeros, one multiply by scale, cast to float), the
    * permutation is an index indirection, and the argmin matches
    * [[pqEncodeKernel]]'s (same double L2, lowest-centroid-id ties).
    *
    * Why fused: the staged column pipeline collapses under Catalyst's
    * project merging — the 256-element permute projection inlines the
    * 65k-term MatVecRotate into EVERY element when the consumer is a
    * Dataset boundary (no CSE across it), re-evaluating the rotation
    * 256× per row (measured: 244 s for 30k×200d rows vs 0.5 s for the
    * collapsed column-only plan). One mapPartitions pass does the whole
    * chain in padDim² + m·k·subDim fused multiply-adds per row with
    * zero intermediate materialization. Equivalence is spec-gated.
    * Output (id: long, codes: array<int>). */
  def opqEncodeKernel(vectors: DataFrame, codebooks: DataFrame, m: Int,
                      dim: Int, perm: Array[Int]): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val padDim = hadamardDim(dim)
    require(perm.length == padDim,
      s"perm has ${perm.length} entries, expected padDim=$padDim")
    val scale = 1.0 / math.sqrt(padDim.toDouble)
    val cbRows = codebooks.select(col("subspace").cast("int"),
      col("centroid_id").cast("int"), col("vec"))
      .as[(Int, Int, Array[Float])].collect()
    val mm = cbRows.iterator.map(_._1).max + 1
    require(mm == m, s"codebook has $mm subspaces, expected $m")
    val kCodes = cbRows.iterator.map(_._2).max + 1
    val bcBooks = spark.sparkContext.broadcast(denseCodebook(cbRows, m, kCodes))
    val bcMat = spark.sparkContext.broadcast(hadamardMat(padDim))
    val bcPerm = spark.sparkContext.broadcast(perm)
    vectors.select(col("id").cast("long"), col("vec"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val mat = bcMat.value
        val p = bcPerm.value
        val books = bcBooks.value
        val pd = p.length
        val subDim = pd / books.length
        it.map { case (id, v) =>
          // pad + rotate — the identical op sequence MatVecRotate runs
          // over the zero-padded input (padding terms included so even
          // sign-of-zero corner cases cannot diverge)
          val y = new Array[Float](pd)
          var i = 0
          while (i < pd) {
            var s = 0.0
            val off = i * pd
            var j = 0
            while (j < v.length) { s += mat(off + j) * v(j).toDouble; j += 1 }
            while (j < pd) { s += mat(off + j) * 0.0; j += 1 }
            y(i) = (s * scale).toFloat
            i += 1
          }
          // permute (read through the indirection) + per-subspace argmin
          val codes = new Array[Int](books.length)
          var sp = 0
          while (sp < books.length) {
            val off = sp * subDim
            val book = books(sp)
            var best = Double.PositiveInfinity
            var bj = 0
            var j = 0
            while (j < book.length) {
              val c = book(j)
              var d = 0.0
              var t = 0
              while (t < subDim) {
                val x = y(p(off + t)).toDouble - c(t); d += x * x; t += 1
              }
              if (d < best) { best = d; bj = j }
              j += 1
            }
            codes(sp) = bj
            sp += 1
          }
          (id, codes)
        }
      }.toDF("id", "codes")
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
    * matrix; reordering the MATRIX ROWS on the driver and running ONE
    * MatVecRotate computes the exact same fold (same term order, same
    * scale multiply, same float cast). The staged form's plan is the
    * problem it replaces: Catalyst collapses the padDim-element permute
    * projection into the rotate projection, leaving padDim copies of the
    * MatVecRotate expression (each carrying the padDim² matrix) in one
    * Project — every driver-side tree walk (analysis, canonicalization,
    * subexpression elimination, AQE re-planning) then compares/hashes
    * 65k-element matrices hundreds of times (measured: 2.1 s driver time
    * to materialize a 256-ROW table at 256-d). Equivalence is spec-gated
    * (SamplingQuantizeSpec). */
  def opqRotatePermuted(vectors: DataFrame, dim: Int,
                        perm: Array[Int]): DataFrame = {
    val padDim = hadamardDim(dim)
    require(perm.length == padDim,
      s"perm has ${perm.length} entries, expected padDim=$padDim")
    val padded =
      if (padDim != dim)
        vectors.select(col("id"),
          concat(col("vec"), array_repeat(lit(0.0f), padDim - dim)).as("vec"))
      else vectors
    val base = hadamardMat(padDim)
    val m = new Array[Double](padDim * padDim)
    var i = 0
    while (i < padDim) {
      System.arraycopy(base, perm(i) * padDim, m, i * padDim, padDim)
      i += 1
    }
    val scale = 1.0 / math.sqrt(padDim.toDouble)
    padded.select(col("id"),
      graft.functions.MatVecRotate.rotate(col("vec"),
        scala.collection.immutable.ArraySeq.unsafeWrapArray(m),
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
  // original vectors. At 100 TB this is the layout that makes vector
  // search IO-shaped: partition pruning (nprobe/|C| of the corpus) ×
  // 16 code bytes per row scanned × r random raw-row reads per query.

  /** ADC top-r restricted to each query's probed inverted lists.
    * `probes` = (query_id, centroid_id) from [[AnnSearch.probeCentroids]]
    * (coarse quantization in the RAW space — the rotation is orthogonal,
    * so raw-space probe sets select exactly the right lists for
    * rotated-space codes); `queriesRot` = (id, vec) queries in the SAME
    * rotated+permuted space as the codes; `assignedCodes` =
    * (centroid_id, id, codes).
    *
    * The ADC distance is a pure column expression — per candidate row, m
    * codebook-literal lookups and m×(dim/m) multiply-adds, left-folded in
    * subspace order (the association the oracle's summed list_sum terms
    * reproduce) — so unlike the kernel-side [[adcTopK]] the whole
    * composite stays DuckDB-hash-checkable. Ranking is the bounded
    * TopKAggregator: partial top-r per partition, scored rows never reach
    * a window or a full sort. Ties by ascending id. */
  def ivfAdcTopK(probes: DataFrame, queriesRot: DataFrame,
                 assignedCodes: DataFrame, codebooks: DataFrame,
                 r: Int): DataFrame = {
    val spark = assignedCodes.sparkSession
    import spark.implicits._
    val cbRows = codebooks.select(col("subspace").cast("int"),
      col("centroid_id").cast("int"), col("vec"))
      .as[(Int, Int, Array[Float])].collect()
    val m = cbRows.iterator.map(_._1).max + 1
    val kCodes = cbRows.iterator.map(_._2).max + 1
    val subDim = cbRows.head._3.length
    val cb = denseCodebook(cbRows, m, kCodes)
    val cbLit = typedLit(cb.map(_.map(_.toSeq).toSeq).toSeq)
    // dist = fold over subspaces s of l2sq(q[s*sub..], codebook[s][code_s]);
    // outer and inner folds are both left-associated double sums — the
    // exact association of adcTopK's lookup tables and the oracle SQL
    val dist = aggregate(
      zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
        (c, s) => struct(c.as("c"), s.as("s"))),
      lit(0.0),
      (acc, t) => acc + aggregate(
        zip_with(
          slice(col("qvec"), t("s") * lit(subDim) + lit(1), lit(subDim)),
          element_at(element_at(cbLit, t("s") + 1), t("c") + 1),
          (x, y) => (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double"))),
        lit(0.0), (a, d) => a + d))
    val topR = graft.functions.TopKAggregator.topK(r)
    probes.select(col("query_id"), col("centroid_id"))
      .join(queriesRot.select(col("id").as("query_id"), col("vec").as("qvec")),
        "query_id")
      .join(assignedCodes.select(col("centroid_id"), col("id"), col("codes")),
        "centroid_id")
      .select(col("query_id"), col("id").cast("long").as("id"), dist.as("dist"))
      .groupBy("query_id")
      .agg(topR(col("id"), col("dist")).as("knn"))
  }

  /** Persist the IVF+PQ serving layout: PQ codes partitioned by coarse
    * centroid (16 B of codes per row at the 16×256 layout — a 16× smaller
    * scan than the raw lists of [[AnnSearch.saveIvf]]), plus the
    * codebooks. `assignedCodes` = (centroid_id, id, codes). */
  /** Kernel form of [[ivfAdcTopK]] — result-identical (same per-subspace
    * lookup tables in the same double-fold order, same probe sets, ties
    * by ascending id), shaped like [[adcTopK]]: codebook grid + per-query
    * probe sets broadcast once, blocked query broadcast, per-partition
    * bounded heaps over the lists table — no join, no interpreted
    * codebook literals. The relational [[ivfAdcTopK]] stays the
    * DuckDB-hash-checkable form the sf-small gate runs; this is the
    * serving path at corpus scale, where the relational form's
    * m-literal-lookup column expression leaves codegen at wide dims.
    * `assignedCodes` must expose (centroid_id, id, codes); probes are
    * driver-small (|queries| × nprobe). Equivalence is spec-gated. */
  def ivfAdcTopKKernel(probes: DataFrame, queriesRot: DataFrame,
                       assignedCodes: DataFrame, codebooks: DataFrame,
                       r: Int, queryBlockRows: Int = 1024): DataFrame = {
    val spark = assignedCodes.sparkSession
    import spark.implicits._
    val cbRows = codebooks.select(col("subspace").cast("int"),
      col("centroid_id").cast("int"), col("vec"))
      .as[(Int, Int, Array[Float])].collect()
    val m = cbRows.iterator.map(_._1).max + 1
    val kCodes = cbRows.iterator.map(_._2).max + 1
    val bcCb = spark.sparkContext.broadcast(denseCodebook(cbRows, m, kCodes))
    val probeMap: Map[Long, Array[Int]] = probes
      .select(col("query_id").cast("long"), col("centroid_id").cast("int"))
      .as[(Long, Int)].collect()
      .groupBy(_._1).map { case (q, a) => q -> a.map(_._2).sorted }
    val bcProbes = spark.sparkContext.broadcast(probeMap)
    val codesDs = assignedCodes.select(col("centroid_id").cast("int"),
      col("id").cast("long"), col("codes")).as[(Int, Long, Array[Int])]
    val qDs = queriesRot.select(col("id").cast("long"), col("vec"))
      .as[(Long, Array[Float])]
    val out = KnnJoin.blockedTopK(qDs, identity[(Long, Array[Float])],
        queryBlockRows, r, "IVF-ADC top-k: empty query set") { bc =>
      codesDs.mapPartitions { it =>
        val qs = bc.value
        val books = bcCb.value
        val pm = bcProbes.value
        val mm = books.length
        val tables: Array[Array[Array[Double]]] = qs.map { case (_, qv) =>
          val subDim = qv.length / mm
          Array.tabulate(mm) { s =>
            Array.tabulate(books(s).length) { j =>
              val c = books(s)(j)
              var d = 0.0
              var t = 0
              while (t < subDim) {
                val x = qv(s * subDim + t).toDouble - c(t); d += x * x; t += 1
              }
              d
            }
          }
        }
        val probeSets: Array[Array[Int]] =
          qs.map(q => pm.getOrElse(q._1, Array.empty[Int]))
        val heaps = Array.fill(qs.length)(new KnnJoin.BoundedTopK(r))
        it.foreach { case (cid, bid, cs) =>
          var qi = 0
          while (qi < qs.length) {
            if (java.util.Arrays.binarySearch(probeSets(qi), cid) >= 0) {
              val tab = tables(qi)
              var s = 0; var d = 0.0
              while (s < mm) { d += tab(s)(cs(s)); s += 1 }
              heaps(qi).push(d, bid)
            }
            qi += 1
          }
        }
        Iterator.range(0, qs.length).flatMap { qi =>
          val r0 = heaps(qi).result()
          if (r0.isEmpty) None else Some((qs(qi)._1, r0))
        }
      }.toDF("query_id", "partial")
    }
    bcCb.destroy()
    bcProbes.destroy()
    out
  }

  def saveIvfPq(assignedCodes: DataFrame, codebooks: DataFrame,
                path: String): Unit = {
    assignedCodes.select(col("id"), col("codes"), col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$path/codes")
    codebooks.select(col("subspace"), col("centroid_id"), col("vec"))
      .write.mode("overwrite").parquet(s"$path/codebooks")
  }

  /** IVF+PQ top-r over the persisted layout: the probe set becomes a
    * static partition filter on the codes table (partition pruning — the
    * scan reads only the probed lists from disk), then the same ADC
    * ranking as [[ivfAdcTopK]]. Feed the result to [[refineTopK]]. */
  def ivfPqTopKTable(spark: org.apache.spark.sql.SparkSession, path: String,
                     probes: DataFrame, queriesRot: DataFrame,
                     r: Int, kernel: Boolean = false): DataFrame = {
    val p = graft.ops.graph.PlanUtil.cutDF(
      probes.select(col("query_id"), col("centroid_id")))
    val probedIds = p.select("centroid_id").distinct()
      .collect().map(_.getInt(0)).sorted
    val lists = spark.read.parquet(s"$path/codes")
      .filter(col("centroid_id").isin(probedIds.map(_.asInstanceOf[Any]): _*))
    val cb = spark.read.parquet(s"$path/codebooks")
    if (kernel) ivfAdcTopKKernel(p, queriesRot, lists, cb, r)
    else ivfAdcTopK(p, queriesRot, lists, cb, r)
  }

  /** Reconstruct full vectors from PQ codes (the table form of asymmetric
    * distance: exact kNN over reconstructions ≡ ADC). Output (id, vec). */
  def pqReconstruct(codes: DataFrame, codebooks: DataFrame): DataFrame =
    codes.select(col("id"), posexplode(col("codes")).as(Seq("subspace", "code")))
      .join(broadcast(codebooks
        .select(col("subspace"), col("centroid_id").as("code"), col("vec"))),
        Seq("subspace", "code"))
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("subspace"), col("vec"))))
        .as("svs"))
      .select(col("id"), flatten(transform(col("svs"), _("vec"))).as("vec"))
}
