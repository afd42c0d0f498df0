package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The relational form of the exact kNN drain's per-block merge, as
  * `KnnJoin.blockedTopK` ran it before the merge moved to the driver: one
  * `groupBy(query_id)` over the per-(query, partition) partial top-k rows,
  * then flatten + `sort_array` + slice. `KnnJoinSpec` pins
  * `KnnJoin.TopKMerge` to it, dist bits and ties included. */
object KnnMergeOracle {

  /** `partials` = [query_id: long, partial: array<struct<_1: double,
    * _2: long>>] → [query_id, knn: array<struct<dist: double, id: long>>],
    * one row per query id that has a partial row. */
  def merge(partials: DataFrame, k: Int): DataFrame =
    partials.groupBy("query_id")
      .agg(slice(sort_array(flatten(collect_list(col("partial")))), 1, k)
        .as("knn0"))
      .select(col("query_id"),
        transform(col("knn0"),
          x => struct(x("_1").as("dist"), x("_2").as("id"))).as("knn"))
}
