package graft.ops

import graft.core.Metric
import graft.functions.{TopKAggregator, VecMeanAggregator, VectorFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate nearest-neighbor search over an embedding column — the
  * scale path beside the exact kNN join (SURVEY.md A1) and the RoarGraph
  * index (Q1). Two bucketed variants, both pure relational dataflow:
  *
  *   - LSH: deterministic difference-hyperplane sign bits → one bucket per
  *     vector → per-bucket top-k. One shuffle keyed by bucket; the cross
  *     product shrinks by ~2^bits.
  *   - IVF: assign every vector to its nearest centroid (inverted file);
  *     queries probe the `nprobe` nearest centroids' lists only. The
  *     centroid set is an input (k-means is a separate concern); probing
  *     cost scales with nprobe/|centroids|.
  *
  * Both are deterministic and expressible in ANSI SQL (DuckDB-oracle-
  * checkable), unlike random-hyperplane LSH. Recall vs the exact operator
  * is itself a query (Eval.recallAtK) so the quality/cost trade is measured,
  * not guessed.
  *
  * Scale shapes (no windowed ranking anywhere):
  *   - centroid argmin/top-nprobe: the centroid set is driver-small by
  *     construction, so it is broadcast once and one map pass runs the one
  *     centroid kernel ([[nearestCentroids]]) per vector — zero exchange,
  *     and the plan does not grow with the number of centroids;
  *   - per-query top-k: bounded partial/final aggregation (TopKAggregator)
  *     — only `numPartitions × k` rows per query reach the exchange, never
  *     the full scored candidate set (a `row_number` window would shuffle
  *     and sort every scored row).
  */
object AnnSearch {

  /** Number of difference hyperplanes (bucket bits). 2^4 = 16 buckets. */
  val LshBits = 4

  /** Deterministic LSH bucket id: bit d = sign(vec[2d] - vec[2d+1]), the
    * fixed hyperplane family e_{2d} - e_{2d+1} (data-independent, so the
    * same expression works on any engine; 0-indexed dims). */
  def lshBucket(vec: Column, bits: Int = LshBits): Column =
    (0 until bits).map { d =>
      when(vec(2 * d).cast("double") - vec(2 * d + 1).cast("double") >= 0,
        lit(1L << d)).otherwise(lit(0L))
    }.reduceLeft(_ + _)

  /** Per-query bounded top-k of scored candidate rows via partial/final
    * aggregation, exploded back to (query_id, rank, base_id, dist). */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val topk = TopKAggregator.topK(k)
    scored
      .groupBy("query_id")
      .agg(topk(col("base_id").cast("long"), col("dist")).as("knn"))
      .select(col("query_id"), posexplode(col("knn")).as(Seq("pos", "n")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("n.id").as("base_id"), col("n.dist").as("dist"))
  }

  /** Bucketed top-k with multi-probe: each query competes against its own
    * bucket plus every bucket at Hamming distance 1 (flip one hyperplane
    * bit) — the standard multi-probe LSH recall lift, still one bucket-
    * keyed shuffle scanning (1+bits)/2^bits of the base per query.
    * Output (query_id, rank, base_id, dist). */
  def lshTopK(queries: DataFrame, base: DataFrame, k: Int, metric: Metric,
              bits: Int = LshBits): DataFrame = {
    val qb = lshBucket(col("vec"), bits)
    val probeList = array(qb +: (0 until bits).map(j => qb.bitwiseXOR(lit(1L << j))): _*)
    val q = queries.select(col("id").as("query_id"), col("vec").as("qvec"),
      explode(probeList).as("bucket"))
    val b = base.select(col("id").as("base_id"), col("vec").as("bvec"),
      lshBucket(col("vec"), bits).as("bucket"))
    val scored = q.join(b, "bucket")
      .withColumn("dist",
        VectorFunctions.distByMetric(metric)(col("qvec"), col("bvec")))
    topKPerQuery(scored, k)
  }

  private[graft] def collectCentroids(centroids: DataFrame): Array[(Int, Array[Float])] =
    centroids.select(col("centroid_id").cast("int"), col("vec"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)

  /** The IVF coarse quantizer, the one centroid kernel of the engine: the
    * `n` nearest of `cents` (centroid_id, vec) to `v` as (cdist, centroid_id)
    * in the [[graft.core.Neighbor]] order. Each centroid's squared L2
    * ([[Metric.L2]]`.dist`: float widened to double, one serial sum, the
    * arithmetic of `L2SqDistance` and the DuckDB oracles) goes into one
    * [[KnnJoin.BoundedTopK]], so ties break by ascending centroid id and a
    * NaN distance ranks after every number. A vector of another length
    * than the grid fails with `Metric`'s named error. */
  private[graft] def nearestCentroids(v: Array[Float],
                                      cents: Array[(Int, Array[Float])],
                                      n: Int): Array[(Double, Long)] = {
    val heap = new KnnJoin.BoundedTopK(n)
    var c = 0
    while (c < cents.length) {
      heap.push(Metric.L2.dist(v, cents(c)._2), cents(c)._1); c += 1
    }
    heap.result()
  }

  /** One row per (vector, one of its `n` nearest centroids) of (id, vec)
    * rows: (id, vec, cdist, centroid_id), nearest first. The centroid grid
    * is broadcast once and one map pass scores it: no join, no exchange. */
  private[graft] def nearestLists(vectors: DataFrame,
                                  cents: Array[(Int, Array[Float])],
                                  n: Int): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cents)
    vectors.select(col("id").cast("long"), col("vec"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        it.flatMap { case (id, v) =>
          nearestCentroids(v, cs, n).iterator.map(p => (id, v, p._1, p._2.toInt))
        }
      }.toDF("id", "vec", "cdist", "centroid_id")
  }

  /** Assign each vector to its nearest centroid (L2, ties by centroid id):
    * the IVF inverted list. `centroids` must expose (centroid_id, vec);
    * input (id, vec), output (id: long, vec, cdist, centroid_id). */
  def assignToCentroids(vectors: DataFrame, centroids: DataFrame): DataFrame =
    nearestLists(vectors, collectCentroids(centroids), 1)

  /** Per-query probe set: the `nprobe` nearest centroids (L2, ties by
    * centroid id) as (query_id, qvec, centroid_id) — the coarse-quantizer
    * front half of IVF, exposed for composites that scan a different
    * payload than the raw vectors (e.g. the IVF+PQ byte-domain scan,
    * [[Quantize.ivfAdcTopKKernel]]). */
  def probeCentroids(queries: DataFrame, centroids: DataFrame,
                     nprobe: Int): DataFrame =
    nearestLists(queries, collectCentroids(centroids), nprobe)
      .select(col("id").as("query_id"), col("vec").as("qvec"), col("centroid_id"))

  /** Deterministic Lloyd's k-means over the vector table — the IVF
    * centroid trainer. Per iteration: assignment is the shuffle-free
    * centroid kernel ([[nearestCentroids]]); the centroid update is one
    * array-summing partial/final aggregate per cluster (shuffles
    * `numPartitions × k` array rows, not `n × dim` exploded scalars).
    * Seeding is deterministic (the k vectors with smallest ids), so
    * results are reproducible. Empty clusters keep their previous
    * centroid. Returns
    * (centroid_id, vec: array<float>). */
  def kMeans(vectors: DataFrame, k: Int, iters: Int = 10): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val v = vectors.select(col("id").cast("long"), col("vec")).cache()
    var centroids = v.orderBy("id").limit(k)
      .orderBy("id").collect()
      .zipWithIndex.map { case (r, i) => (i, r.getSeq[Float](1).toArray) }
    var it = 0
    while (it < iters) {
      val assigned = nearestLists(v, centroids, 1)
        .groupBy("centroid_id")
        .agg(VecMeanAggregator.meanVec(
          VectorFunctions.toDouble(col("vec"))).as("m"))
        .select(col("centroid_id").cast("int"),
          transform(col("m"), _.cast("float")).as("vec"))
        .as[(Int, Array[Float])].collect().toMap
      centroids = centroids.map { case (cid, old) =>
        (cid, assigned.getOrElse(cid, old))
      }
      it += 1
    }
    v.unpersist()
    centroids.toSeq.toDF("centroid_id", "vec")
  }

  /** The inverted-lists table [[ivfTopKOnLists]] scans: each base row
    * tagged with its nearest centroid. Exposed so a suite computing several
    * IVF-family queries over the SAME (base, centroids) pair can build the
    * assignment once and share it. */
  def invertedLists(base: DataFrame, centroids: DataFrame): DataFrame =
    assignToCentroids(base, centroids)
      .select(col("centroid_id"), col("id").as("base_id"), col("vec").as("bvec"))

  /** IVF top-k over a pre-built (possibly cached) [[invertedLists]] table:
    * each query probes its `nprobe` nearest centroids' lists only. Output
    * (query_id, rank, base_id, dist). */
  def ivfTopKOnLists(queries: DataFrame, lists: DataFrame,
                     centroids: DataFrame, k: Int, nprobe: Int,
                     metric: Metric): DataFrame = {
    // search only the probed lists; bounded per-query top-k
    val scored = probeCentroids(queries, centroids, nprobe)
      .join(lists, "centroid_id")
      .withColumn("dist",
        VectorFunctions.distByMetric(metric)(col("qvec"), col("bvec")))
    topKPerQuery(scored, k)
  }
}
