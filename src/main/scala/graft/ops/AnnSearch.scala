package graft.ops

import graft.core.Metric
import graft.functions.{TopKAggregator, VectorFunctions}
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
  *     and sort every scored row);
  *   - k-means (and the PQ trainer in [[Quantize]]): one job per Lloyd
  *     iteration ([[lloydSums]]) — each partition returns per-cell sums,
  *     merged on the driver in partition order; no join, no shuffle.
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
    * centroid trainer. Seeding is deterministic (the k vectors with
    * smallest ids, centroid ids 0..k-1 in id order), so results are
    * reproducible; the rows are persisted once and the seed fetch fills
    * that cache. Each iteration is ONE [[lloydSums]] job: every row goes
    * to its nearest centroid through the one centroid kernel
    * ([[nearestCentroids]]) and each partition sums its rows per cell; the
    * new centroid is the double mean cast to float, and an empty cluster
    * keeps its previous centroid. Returns (centroid_id, vec: array<float>). */
  def kMeans(vectors: DataFrame, k: Int, iters: Int = 10): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val rows = persistedRows(vectors)
    try {
      var centroids = rows.takeOrdered(k)(Ordering.by[(Long, Array[Float]), Long](_._1))
        .zipWithIndex.map { case ((_, v), i) => (i, v) }
      val dim = centroids.headOption.fold(0)(_._2.length)
      var it = 0
      while (it < iters && centroids.nonEmpty) {
        val bc = spark.sparkContext.broadcast(centroids)
        val sums = lloydSums(rows, centroids.length, dim) { (part, acc) =>
          val cs = bc.value
          part.foreach { v => acc.add(nearestCentroids(v, cs, 1)(0)._2.toInt, v, 0) }
        }
        bc.destroy()
        centroids = centroids.map { case (cid, old) => (cid, sums.meanOr(cid, old)) }
        it += 1
      }
      centroids.toSeq.toDF("centroid_id", "vec")
    } finally rows.unpersist(blocking = false)
  }

  /** `(id, vec)` rows of `vectors` as a persisted RDD, for a trainer that
    * scans them once per iteration; the caller unpersists it. */
  private[ops] def persistedRows(vectors: DataFrame)
      : org.apache.spark.rdd.RDD[(Long, Array[Float])] = {
    import vectors.sparkSession.implicits._
    vectors.select(col("id").cast("long"), col("vec"))
      .as[(Long, Array[Float])].rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Per-cell running sums of `width`-float slices, the update of one
    * Lloyd iteration. A cell's first slice is copied and later ones are
    * added, and two partial sums add element-wise: the arithmetic of the
    * element-wise mean aggregate (`VecMeanAggregator`), so a mean is the
    * same double whichever form computed it. */
  private[ops] final class CellSums(cells: Int, width: Int) extends Serializable {
    private val n = new Array[Long](cells)
    private val sum = new Array[Double](cells * width)

    /** Add `v(from until from + width)` to cell `c`. */
    def add(c: Int, v: Array[Float], from: Int): Unit = {
      val o = c * width
      var i = 0
      if (n(c) == 0L) while (i < width) { sum(o + i) = v(from + i).toDouble; i += 1 }
      else while (i < width) { sum(o + i) += v(from + i).toDouble; i += 1 }
      n(c) += 1
    }

    def merge(p: CellSums): Unit = {
      var c = 0
      while (c < cells) {
        if (p.n(c) > 0L) {
          val o = c * width
          if (n(c) == 0L) System.arraycopy(p.sum, o, sum, o, width)
          else { var i = 0; while (i < width) { sum(o + i) += p.sum(o + i); i += 1 } }
          n(c) += p.n(c)
        }
        c += 1
      }
    }

    /** Cell `c`'s mean, each element's double mean cast to float; `old`
      * when no row fell in the cell. */
    def meanOr(c: Int, old: Array[Float]): Array[Float] =
      if (n(c) == 0L) old
      else Array.tabulate(width)(i => (sum(c * width + i) / n(c)).toFloat)
  }

  /** One Lloyd update in ONE job: `fold` adds each row of a partition to
    * the partition's [[CellSums]], and the driver merges the partials in
    * partition order (`runJob` returns them so), so a merge of doubles
    * does not depend on which task finished first. No join and no
    * shuffle. */
  private[ops] def lloydSums(rows: org.apache.spark.rdd.RDD[(Long, Array[Float])],
                             cells: Int, width: Int)(
      fold: (Iterator[Array[Float]], CellSums) => Unit): CellSums = {
    val total = new CellSums(cells, width)
    rows.sparkContext.runJob(rows, (it: Iterator[(Long, Array[Float])]) => {
      val acc = new CellSums(cells, width)
      fold(it.map(_._2), acc)
      acc
    }).foreach(total.merge)
    total
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
