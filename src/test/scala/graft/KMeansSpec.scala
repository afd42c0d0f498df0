package graft

import graft.core.{Metric, Tables}
import graft.ops.{AnnSearch, KnnJoin}
import org.apache.spark.sql.functions._

class KMeansSpec extends SparkSpec {

  private def inertia(vectors: org.apache.spark.sql.DataFrame,
                      centroids: org.apache.spark.sql.DataFrame): Double =
    AnnSearch.assignToCentroids(vectors.select("id", "vec"), centroids)
      .agg(sum("cdist")).collect().head.getDouble(0)

  test("k-means: deterministic, and inertia improves over the seed centroids") {
    val emb = Tables.vectors(spark, sf0001)
    val c1 = AnnSearch.kMeans(emb, k = 8, iters = 5)
    val c2 = AnnSearch.kMeans(emb, k = 8, iters = 5)
    assert(c1.exceptAll(c2).isEmpty && c2.exceptAll(c1).isEmpty, "nondeterministic")

    val seed = AnnSearch.kMeans(emb, k = 8, iters = 0)
    assert(inertia(emb, c1) < inertia(emb, seed),
      "k-means did not reduce inertia")
    assert(c1.count() == 8)
  }

  test("IVF with trained centroids beats fixed-id centroids on recall") {
    val emb = Tables.vectors(spark, sf0001)
    val q = emb.filter(col("id") < 20)
    val b = emb.filter(col("id") >= 20)
    val gt = KnnJoin(q, b, 10, Metric.L2)
      .select(col("query_id"), transform(col("knn"), _("id")).as("ids"))
    def recallWith(cents: org.apache.spark.sql.DataFrame): Double = {
      val res = AnnSearch.ivfTopKOnLists(q, AnnSearch.invertedLists(b, cents),
          cents, 10, 2, Metric.L2)
        .groupBy("query_id").agg(collect_list(col("base_id")).as("ids"))
      graft.eval.Eval.recallAtK(res, gt, 10)
        .collect().head.getAs[Double]("recall_at_k")
    }
    val fixed = b.filter(col("id").between(20, 27))
      .select(col("id").as("centroid_id"), col("vec"))
    val trained = AnnSearch.kMeans(b, k = 8, iters = 5)
    val rFixed = recallWith(fixed)
    val rTrained = recallWith(trained)
    assert(rTrained >= rFixed,
      s"trained IVF recall $rTrained < fixed-centroid recall $rFixed")
  }

  test("k-means kernel == relational Lloyd update, bits, on 1 and 3 partitions") {
    val rows = vecRows(Tables.vectors(spark, sf0001))
    // a NaN row and a duplicated seed (its cluster stays empty)
    val (dupId, nanId) = (rows(1)._1, rows(300)._1)
    val hostile = rows.map { case (id, v) =>
      if (id == dupId) (id, rows(0)._2)
      else if (id == nanId) (id, v.updated(3, Float.NaN))
      else (id, v)
    }
    def bits(df: org.apache.spark.sql.DataFrame) = vecRows(
        df.select(col("centroid_id").as("id"), col("vec")))
      .map { case (c, v) => (c, v.toSeq.map(java.lang.Float.floatToIntBits)) }.toSeq
    for ((df, what) <- Seq(spread(hostile, 1)(_ => 0) -> "1 partition",
           spread(hostile, 3)(_ % 3) -> "3 partitions");
         iters <- Seq(0, 1, 3)) {
      val ker = bits(AnnSearch.kMeans(df, k = 8, iters = iters))
      val rel = bits(IvfOracle.kMeans(df, k = 8, iters = iters))
      assert(ker.length == 8, what)
      assert(ker == rel, s"$what, $iters iters: kernel and relational centroids differ")
    }
  }
}
