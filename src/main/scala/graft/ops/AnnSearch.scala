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
  *     construction, so both fold over a literal centroid array inside one
  *     projection — zero exchange, stays in whole-stage codegen;
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

  /** Per-row array of struct(cdist, centroid_id) vs every centroid — the
    * literal-fold scoring block shared by argmin assignment and top-nprobe
    * probing. Centroid sets are driver-small by construction (they are
    * k-means output); the fold is one codegen'd projection, no join, no
    * exchange. */
  private def centroidScores(vec: Column,
                             cents: Array[(Int, Array[Float])]): Column =
    array(cents.map { case (cid, cv) =>
      struct(
        VectorFunctions.l2Sq(vec, typedLit(cv.toSeq)).as("cdist"),
        lit(cid).as("centroid_id"))
    }: _*)

  private def collectCentroids(centroids: DataFrame): Array[(Int, Array[Float])] =
    centroids.select(col("centroid_id").cast("int"), col("vec"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)

  /** Assign each vector to its nearest centroid (L2, ties by centroid id):
    * the IVF inverted list. `centroids` must expose (centroid_id, vec).
    * Shuffle-free: argmin = `array_min` over the literal centroid scores
    * (struct ordering is lexicographic (cdist, centroid_id) — exactly the
    * tie-break). */
  def assignToCentroids(vectors: DataFrame, centroids: DataFrame): DataFrame =
    assignLocal(vectors, collectCentroids(centroids))

  /** Kernel form of [[assignToCentroids]] — result-identical (the same
    * double-accumulated L2 the native l2Sq expression computes, the same
    * smallest-centroid-id tie-break via an ascending-id scan with strict
    * `<`), shaped for corpus scale: the literal-fold centroidScores is
    * codegen'd and fast at the bench's 64-d regime, but at 200d × 512
    * centroids the expression outgrows whole-stage codegen and falls
    * back to interpreted eval with k struct allocations PER ROW
    * (measured ~1.1 ms/row vs ~10 µs compiled). Here the centroid grid
    * broadcasts once and one mapPartitions pass computes the argmin —
    * zero shuffle, no per-row allocation beyond the output row.
    * Input must expose (id, vec); output (id, vec, cdist, centroid_id).
    * Equivalence is spec-gated. */
  def assignToCentroidsKernel(vectors: DataFrame, centroids: DataFrame): DataFrame =
    assignKernelLocal(vectors, collectCentroids(centroids))

  private def assignKernelLocal(vectors: DataFrame,
                                cents: Array[(Int, Array[Float])]): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cents)
    vectors.select(col("id").cast("long"), col("vec"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, v) =>
          var best = Double.PositiveInfinity
          var bestCid = 0
          var ci = 0
          while (ci < cs.length) {
            val cv = cs(ci)._2
            var d = 0.0
            var t = 0
            while (t < v.length) {
              val x = v(t).toDouble - cv(t); d += x * x; t += 1
            }
            if (d < best) { best = d; bestCid = cs(ci)._1 }
            ci += 1
          }
          (id, v, best, bestCid)
        }
      }.toDF("id", "vec", "cdist", "centroid_id")
  }

  private def assignLocal(vectors: DataFrame,
                          cents: Array[(Int, Array[Float])]): DataFrame =
    vectors
      .withColumn("_best", array_min(centroidScores(col("vec"), cents)))
      .withColumn("cdist", col("_best")("cdist"))
      .withColumn("centroid_id", col("_best")("centroid_id"))
      .drop("_best")

  /** Per-query probe set: the `nprobe` nearest centroids (L2, ties by
    * centroid id) as (query_id, qvec, centroid_id) — the coarse-quantizer
    * front half of IVF, exposed for composites that scan a different
    * payload than the raw vectors (e.g. the IVF+PQ byte-domain scan,
    * [[Quantize.ivfAdcTopKKernel]]). Shuffle-free: centroid scoring is a
    * literal fold, probe selection is sort_array + slice in the same
    * projection — no join, no window. */
  def probeCentroids(queries: DataFrame, centroids: DataFrame,
                     nprobe: Int): DataFrame =
    probesLocal(queries, collectCentroids(centroids), nprobe)

  private def probesLocal(queries: DataFrame,
                          cents: Array[(Int, Array[Float])],
                          nprobe: Int): DataFrame =
    queries.select(col("id").as("query_id"), col("vec").as("qvec"))
      .withColumn("probe",
        explode(slice(sort_array(centroidScores(col("qvec"), cents)), 1, nprobe)))
      .select(col("query_id"), col("qvec"),
        col("probe")("centroid_id").as("centroid_id"))

  /** Deterministic Lloyd's k-means over the vector table — the IVF
    * centroid trainer. Per iteration: assignment is the shuffle-free
    * literal-fold argmin; the centroid update is one array-summing
    * partial/final aggregate per cluster (shuffles `numPartitions × k`
    * array rows, not `n × dim` exploded scalars). Seeding is deterministic
    * (the k vectors with smallest ids), so results are reproducible.
    * Empty clusters keep their previous centroid. Returns
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
      // kernel assign (result-identical to assignLocal, spec-gated): the
      // trainer's per-iteration argmin is the one place assignment cost
      // multiplies by `iters`, and at wide dims × large k the literal
      // fold leaves codegen
      val assigned = assignKernelLocal(v, centroids)
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

  /** Persist the IVF layout at rest: inverted lists as a parquet table
    * PARTITIONED BY centroid_id (plus the centroid table). Probing then
    * becomes partition PRUNING — a search touching `nprobe` of `|C|`
    * centroids reads exactly that fraction of the corpus from disk,
    * no join and no full scan. The serving layout for IVF at 100 TB. */
  def saveIvf(base: DataFrame, centroids: DataFrame, path: String): Unit = {
    val cents = collectCentroids(centroids)
    assignLocal(base.select(col("id"), col("vec")), cents)
      .select(col("id"), col("vec"), col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$path/lists")
    centroids.select(col("centroid_id"), col("vec"))
      .write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** IVF top-k over the persisted layout: the probe set is computed
    * driver-side from the (small) centroid table, then pushed into the
    * scan as a static partition filter — the lists table is read only for
    * the probed partitions. Output (query_id, rank, base_id, dist),
    * identical to [[ivfTopK]] over the same data. */
  def ivfTopKTable(spark: org.apache.spark.sql.SparkSession, path: String,
                   queries: DataFrame, k: Int, nprobe: Int,
                   metric: Metric): DataFrame = {
    val cents = collectCentroids(spark.read.parquet(s"$path/centroids"))
    // materialized once: both the driver-side distinct-ids collect and the
    // pruned-list join consume the scored probes
    val probes = graft.ops.graph.PlanUtil.cutDF(
      probesLocal(queries, cents, nprobe))
    // distinct probed centroid ids (≤ |C|, driver-small) → static
    // partition filter on the lists scan
    val probedIds = probes.select("centroid_id").distinct()
      .collect().map(_.getInt(0)).sorted
    val lists = spark.read.parquet(s"$path/lists")
      .filter(col("centroid_id").isin(probedIds.map(_.asInstanceOf[Any]): _*))
      .select(col("centroid_id"), col("id").as("base_id"), col("vec").as("bvec"))
    val scored = probes.join(lists, "centroid_id")
      .withColumn("dist",
        VectorFunctions.distByMetric(metric)(col("qvec"), col("bvec")))
    topKPerQuery(scored, k)
  }

  /** IVF top-k: base vectors are grouped by nearest centroid; each query
    * probes the `nprobe` nearest centroids' lists. Output
    * (query_id, rank, base_id, dist). */
  def ivfTopK(queries: DataFrame, base: DataFrame, centroids: DataFrame,
              k: Int, nprobe: Int, metric: Metric): DataFrame =
    ivfTopKOnLists(queries,
      invertedLists(base, centroids), centroids, k, nprobe, metric)

  /** The inverted-lists table [[ivfTopK]] scans: each base row tagged with
    * its nearest centroid (shuffle-free literal-fold argmin). Exposed so a
    * suite computing several IVF-family queries over the SAME (base,
    * centroids) pair can build the assignment once and share it. */
  def invertedLists(base: DataFrame, centroids: DataFrame): DataFrame =
    assignLocal(base.select(col("id"), col("vec")), collectCentroids(centroids))
      .select(col("centroid_id"), col("id").as("base_id"), col("vec").as("bvec"))

  /** [[ivfTopK]] over a pre-built (possibly cached) [[invertedLists]]
    * table — plan-identical scoring, same output. */
  def ivfTopKOnLists(queries: DataFrame, lists: DataFrame,
                     centroids: DataFrame, k: Int, nprobe: Int,
                     metric: Metric): DataFrame = {
    // query → nprobe nearest centroids: sort the literal centroid scores in
    // one projection (no join, no window), take the first nprobe
    val probes = probesLocal(queries, collectCentroids(centroids), nprobe)
    // search only the probed lists; bounded per-query top-k
    val scored = probes.join(lists, "centroid_id")
      .withColumn("dist",
        VectorFunctions.distByMetric(metric)(col("qvec"), col("bvec")))
    topKPerQuery(scored, k)
  }
}
