package graft

import graft.ops.{PqCodebook, Quantize}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relational reference forms of the PQ kernels in `graft.ops.Quantize`.
  * They mirror the DuckDB oracle SQL step by step, so the specs pin each
  * kernel to them: `pqTrain` must give [[pqTrain]]'s codebook bits,
  * `pqEncodeKernel` must give [[pqEncode]]'s codes,
  * `adcTopK` the ranking of exact kNN over [[pqReconstruct]], and
  * `ivfAdcTopKKernel` [[ivfAdcTopK]]'s rankings, doubles included. The specs compare exploded
  * ranks: the kernel also emits an empty `knn` row for a query with no
  * candidate, where [[ivfAdcTopK]] has no row. */
object PqOracle {

  /** Encode: per subspace, the nearest codebook entry (ties by code id).
    * Output (id, codes: array<int> of length m). One broadcast join of
    * the codebook table + a partial-aggregating min per (subspace, id). */
  def pqEncode(vectors: DataFrame, codebooks: DataFrame, m: Int): DataFrame = {
    val subDim = vectors.select(size(col("vec"))).head().getInt(0) / m
    subspaceRows(vectors, m, subDim)
      .join(broadcast(codebooks.select(col("subspace"),
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

  /** (subspace, id, subvector) rows — one row per (input row, subspace),
    * from a single posexplode over the m slices. */
  def subspaceRows(vectors: DataFrame, m: Int, subDim: Int): DataFrame =
    vectors.select(col("id").cast("long"),
        posexplode(array((0 until m).map(s =>
          slice(col("vec"), s * subDim + 1, subDim)): _*))
          .as(Seq("subspace", "vec")))
      .select(col("subspace"), col("id"), col("vec"))

  /** The relational PQ trainer: seeds = the k smallest ids' subvectors;
    * per Lloyd iteration a broadcast join of the codebook, a partial-
    * aggregating `min(struct(cdist, centroid_id))` per (subspace, id) and
    * one element-wise double mean per (subspace, centroid_id), cast to
    * float; an empty cluster keeps its previous centroid. Returns
    * (subspace, centroid_id, vec). */
  def pqTrain(vectors: DataFrame, m: Int, k: Int, iters: Int): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val seedRows = vectors.select(col("id").cast("long"), col("vec"))
      .orderBy("id").limit(k).as[(Long, Array[Float])].collect()
    val subDim = seedRows.head._2.length / m
    val sv = subspaceRows(vectors, m, subDim).cache()
    var cents: Map[(Int, Int), Array[Float]] = seedRows.zipWithIndex.flatMap {
      case ((_, v), c) =>
        (0 until m).map(s => ((s, c), v.slice(s * subDim, (s + 1) * subDim)))
    }.toMap
    (0 until iters).foreach { _ =>
      val cdf = cents.toSeq.map { case ((s, c), v) => (s, c, v) }
        .toDF("subspace", "centroid_id", "cvec")
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
        .select(col("subspace").cast("int"), col("centroid_id").cast("int"),
          transform(col("mv"), _.cast("float")).as("vec"))
        .as[(Int, Int, Array[Float])].collect()
        .map { case (s, c, v) => ((s, c), v) }.toMap
      cents = cents.map { case (key, old) => (key, updated.getOrElse(key, old)) }
    }
    sv.unpersist()
    cents.toSeq.map { case ((s, c), v) => (s, c, v) }
      .toDF("subspace", "centroid_id", "vec")
  }

  /** ADC top-r restricted to each query's probed inverted lists, as a
    * pure column expression: per candidate row, m codebook-literal lookups
    * and m×subDim multiply-adds, left-folded in subspace order (the
    * association the oracle's summed list_sum terms reproduce), ranked by
    * the bounded TopKAggregator. Ties by ascending id. Same inputs as
    * `Quantize.ivfAdcTopKKernel`. */
  def ivfAdcTopK(probes: DataFrame, queriesRot: DataFrame,
                 assignedCodes: DataFrame, codebooks: DataFrame,
                 r: Int): DataFrame = {
    val book = PqCodebook.load(codebooks)
    val cbLit = typedLit(book.books.map(_.map(_.toSeq).toSeq).toSeq)
    // dist = fold over subspaces s of l2sq(q[s*sub..], codebook[s][code_s]);
    // outer and inner folds are both left-associated double sums
    val dist = aggregate(
      zip_with(col("codes"), sequence(lit(0), lit(book.m - 1)),
        (c, s) => struct(c.as("c"), s.as("s"))),
      lit(0.0),
      (acc, t) => acc + aggregate(
        zip_with(
          slice(col("qvec"), t("s") * lit(book.subDim) + lit(1), lit(book.subDim)),
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

  /** A loaded codebook back in table form (subspace, centroid_id, vec). */
  def codebooksDf(book: PqCodebook, spark: SparkSession): DataFrame = {
    import spark.implicits._
    book.books.iterator.zipWithIndex.flatMap { case (cents, s) =>
      cents.iterator.zipWithIndex.map { case (c, j) => (s, j, c) }
    }.toSeq.toDF("subspace", "centroid_id", "vec")
  }
}
