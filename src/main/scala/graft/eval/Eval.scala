package graft.eval

import graft.core.Metric
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Evaluation operators (SURVEY.md §2.6): recall@k (E1) and mean relative
  * distance error (E2), as plain Spark aggregations over result/ground-truth
  * tables — one broadcast-able join keyed by query id, then an avg.
  */
object Eval {

  /** recall@k = mean over queries of |result ∩ gt[0..k]| / k
    * (reference: tests/test_search_roargraph.cpp:23-36).
    * Inputs: res(query_id, ids: array<long>), gt(query_id, ids: array<long>). */
  def recallAtK(res: DataFrame, gt: DataFrame, k: Int): DataFrame = {
    val r = res.select(col("query_id"), col("ids").as("res_ids"))
    val g = gt.select(col("query_id"), slice(col("ids"), 1, k).as("gt_ids"))
    r.join(g, "query_id")
      .select((size(array_intersect(col("res_ids"), col("gt_ids")))
        .cast("double") / k).as("recall"))
      .agg(avg(col("recall")).as("recall_at_k"), count("*").as("n_queries"))
  }

  /** Mean relative distance error vs ground-truth distances, with the
    * reference's metric-specific un-negation (test_search_roargraph.cpp:38-62):
    * L2: d, IP: -d, cosine: 2*(1-(-d)). Inputs carry aligned dist arrays. */
  def relativeDistError(res: DataFrame, gt: DataFrame, k: Int,
                        metric: Metric): DataFrame = {
    def undo(c: org.apache.spark.sql.Column) = metric match {
      case Metric.L2           => c
      case Metric.InnerProduct => -c
      case Metric.Cosine       => lit(2.0) * (lit(1.0) + c)
    }
    val r = res.select(col("query_id"), slice(col("dists"), 1, k).as("rd"))
    val g = gt.select(col("query_id"), slice(col("dists"), 1, k).as("gd"))
    r.join(g, "query_id")
      .select(aggregate(
        zip_with(col("rd"), col("gd"),
          (x, y) => abs(undo(x) - undo(y)) / abs(undo(y))),
        lit(0.0), (a, x) => a + x).as("err_sum"))
      .agg((avg(col("err_sum")) / k).as("mean_rderr"))
  }
}
