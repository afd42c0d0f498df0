package graft

import graft.core.Metric
import graft.functions.VectorFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The oracle-shaped plan of exact kNN: crossJoin + window
  * (row_number over (partition by query order by dist, id) <= k), the
  * form the DuckDB oracle SQL runs. O(|Q|*|B|) shuffle; the specs hold
  * `KnnJoin` and `TopKAggregator` to it. */
object KnnOracle {

  /** Output (query_id, rank, base_id, dist). */
  def crossWindow(queries: DataFrame, base: DataFrame, k: Int, metric: Metric): DataFrame = {
    val q = queries.select(col("id").as("query_id"), col("vec").as("qvec"))
    val b = base.select(col("id").as("base_id"), col("vec").as("bvec"))
    val scored = q.crossJoin(b)
      .withColumn("dist",
        VectorFunctions.distByMetric(metric)(col("qvec"), col("bvec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("base_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("base_id"), col("dist"))
  }
}
