package graft

import graft.core.Tables
import org.apache.spark.sql.functions._

/** Plan-shape gates: the properties SCALE.md claims must be visible in the
  * executed plans — filter/column pushdown into the parquet scan and
  * broadcast joins for dimension tables. */
class PlanQualitySpec extends SparkSpec {

  test("id filter and column pruning reach the parquet scan") {
    val df = Tables.vectors(spark, sf001)
      .filter(col("id") < 20)
      .select("id", "vec")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,20)]"),
      s"filter not pushed:\n$plan")
    assert(plan.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"),
      s"label column not pruned:\n$plan")
  }

  test("tpch_q3 joins broadcast the dimension side") {
    val df = graft.queries.QueriesRelational
      .queries("tpch_q3_top_revenue")(spark, sf001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"dimension join fell back to sort-merge:\n$plan")
  }

  test("centroid assignment is a shuffle-free projection (no Exchange, no Window)") {
    import spark.implicits._
    val vecs = Tables.vectors(spark, sf001).filter(col("id") >= 20)
      .select("id", "vec")
    val cents = Tables.vectors(spark, sf001)
      .filter(col("id").between(20, 27))
      .select(col("id").as("centroid_id"), col("vec"))
    val df = graft.ops.AnnSearch.assignToCentroids(vecs, cents)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"argmin assignment shuffled:\n$plan")
    assert(!plan.contains("Window"), s"argmin assignment used a window:\n$plan")
  }

  test("LSH/IVF top-k rank via bounded aggregation, not a window over scored rows") {
    import graft.core.Metric
    val emb = Tables.vectors(spark, sf001)
    val q = emb.filter(col("id") < 20)
    val b = emb.filter(col("id") >= 20)
    val cents = b.filter(col("id").between(20, 27))
      .select(col("id").as("centroid_id"), col("vec"))
    Seq(
      graft.ops.AnnSearch.lshTopK(q, b, 10, Metric.L2),
      graft.ops.AnnSearch.ivfTopKOnLists(q,
        graft.ops.AnnSearch.invertedLists(b, cents), cents, 10, 2, Metric.L2)
    ).foreach { df =>
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"scored rows ranked by window:\n$plan")
      assert(plan.toLowerCase.contains("partial_topkaggregator"),
        s"no partial top-k aggregation below the exchange:\n$plan")
    }
  }

  test("exact dedup shuffles hashes, not text") {
    val df = graft.ops.Dedup.exactGroups(Tables.documents(spark, sf001))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the scan must read only (doc_id, text); the exchange must carry the
    // md5 hash — i.e. partial aggregation below the shuffle
    assert(plan.contains("HashAggregate"), plan)
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning(text_hash")
    assert(exchangeIdx >= 0, s"shuffle not keyed by text_hash:\n$plan")
  }
}
