package graft

import graft.functions.VectorFunctions
import graft.ops.AnnSearch
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The literal-fold form of the IVF coarse quantizer: every centroid is a
  * literal in one projection, argmin is `array_min` and top-nprobe is
  * `sort_array` + `slice` over `struct(cdist, centroid_id)`, whose
  * lexicographic order is the (dist, centroid id) tie-break. It mirrors
  * the DuckDB oracle's `row_number() OVER (ORDER BY l2, cid)`, so the
  * specs hold the engine's one centroid kernel
  * (`AnnSearch.nearestCentroids`) to it: ids, `cdist` bits and ties. */
object IvfOracle {

  /** (id, vec) → (id, vec, cdist, centroid_id) of the nearest centroid. */
  def assign(vectors: DataFrame, centroids: DataFrame): DataFrame =
    assignLocal(vectors, AnnSearch.collectCentroids(centroids))

  /** (id, vec) → (query_id, qvec, centroid_id), the `nprobe` nearest
    * centroids of each query, nearest first. */
  def probes(queries: DataFrame, centroids: DataFrame, nprobe: Int): DataFrame =
    probesLocal(queries, AnnSearch.collectCentroids(centroids), nprobe)

  /** The relational k-means trainer: seeds = the k smallest ids' vectors
    * (centroid ids 0..k-1); per iteration the one centroid kernel assigns
    * each row and one element-wise double mean aggregate per centroid_id
    * updates it, cast to float; an empty cluster keeps its previous
    * centroid. Returns (centroid_id, vec). */
  def kMeans(vectors: DataFrame, k: Int, iters: Int): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val v = vectors.select(col("id").cast("long"), col("vec")).cache()
    var centroids = v.orderBy("id").limit(k).orderBy("id").collect()
      .zipWithIndex.map { case (r, i) => (i, r.getSeq[Float](1).toArray) }
    (0 until iters).foreach { _ =>
      val cdf = centroids.toSeq.toDF("centroid_id", "vec")
      val assigned = AnnSearch.assignToCentroids(v, cdf)
        .groupBy("centroid_id")
        .agg(graft.functions.VecMeanAggregator.meanVec(
          VectorFunctions.toDouble(col("vec"))).as("m"))
        .select(col("centroid_id").cast("int"),
          transform(col("m"), _.cast("float")).as("vec"))
        .as[(Int, Array[Float])].collect().toMap
      centroids = centroids.map { case (cid, old) => (cid, assigned.getOrElse(cid, old)) }
    }
    v.unpersist()
    centroids.toSeq.toDF("centroid_id", "vec")
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

  private def assignLocal(vectors: DataFrame,
                          cents: Array[(Int, Array[Float])]): DataFrame =
    vectors
      .withColumn("_best", array_min(centroidScores(col("vec"), cents)))
      .withColumn("cdist", col("_best")("cdist"))
      .withColumn("centroid_id", col("_best")("centroid_id"))
      .drop("_best")

  private def probesLocal(queries: DataFrame,
                          cents: Array[(Int, Array[Float])],
                          nprobe: Int): DataFrame =
    queries.select(col("id").as("query_id"), col("vec").as("qvec"))
      .withColumn("probe",
        explode(slice(sort_array(centroidScores(col("qvec"), cents)), 1, nprobe)))
      .select(col("query_id"), col("qvec"),
        col("probe")("centroid_id").as("centroid_id"))
}
