package graft

import graft.core.{Metric, Neighbor, Tables}
import graft.functions.TopKAggregator
import org.apache.spark.sql.functions._

class TopKAggregatorSpec extends SparkSpec {

  test("typed topK aggregate over scored pairs == crossWindow reference") {
    import spark.implicits._
    val emb = Tables.vectors(spark, sf0001)
    val q = emb.filter(col("id") < 10)
    val b = emb.filter(col("id") >= 10)
    // the same scored set without the window: cross join + dist
    val qq = q.select(col("id").as("query_id"), col("vec").as("qvec"))
    val bb = b.select(col("id").as("base_id"), col("vec").as("bvec"))
    val pairs = qq.crossJoin(bb)
      .select(col("query_id"),
        graft.functions.VectorFunctions.l2Sq(col("qvec"), col("bvec")).as("dist"),
        col("base_id").cast("long").as("id"))
      .as[(Long, Double, Long)]
    val aggRes = pairs.map { case (qid, d, id) => (qid, Neighbor(id, d)) }
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(TopKAggregator(5).toColumn)
      .collect().toMap
    val ref = KnnOracle.crossWindow(q, b, 5, Metric.L2)
      .select("query_id", "base_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    assert(aggRes.nonEmpty)
    aggRes.foreach { case (qid, knn) =>
      assert(knn.map(_.id).toSeq == ref(qid), s"mismatch for query $qid")
      assert(knn.map(_.dist).toSeq == knn.map(_.dist).sorted.toSeq)
    }
  }

  test("merge of partial top-ks equals top-k of the union") {
    val k = 4
    val a = TopKAggregator(k)
    val xs = Seq(Neighbor(1, 5.0), Neighbor(2, 1.0), Neighbor(3, 3.0))
    val ys = Seq(Neighbor(4, 0.5), Neighbor(5, 2.0), Neighbor(6, 9.0))
    val bufA = xs.foldLeft(a.zero)(a.reduce)
    val bufB = ys.foldLeft(a.zero)(a.reduce)
    val merged = a.finish(a.merge(bufA, bufB))
    val naive = (xs ++ ys).sorted(Neighbor.ordering).take(k)
    assert(merged.toSeq == naive)

    // a NaN partial, and -0.0 beside 0.0: the merge must rank exactly as
    // Spark SQL's sort_array, which merges the kernels' partials
    import spark.implicits._
    val nan = Seq(Neighbor(7, Double.NaN), Neighbor(10, -0.0), Neighbor(9, 2.0))
    val zeros = Seq(Neighbor(8, 0.0), Neighbor(11, Double.NaN), Neighbor(3, 2.0))
    val sqlIds = (nan ++ zeros).map(n => (n.dist, n.id)).toDF("dist", "id")
      .agg(sort_array(collect_list(struct(col("dist"), col("id")))).as("s"))
      .select(col("s.id")).as[Seq[Long]].head()
    for (k2 <- 1 to 6) {
      val b = TopKAggregator(k2)
      val got = b.finish(b.merge(nan.foldLeft(b.zero)(b.reduce),
        zeros.foldLeft(b.zero)(b.reduce)))
      assert(got.map(_.id).toSeq == sqlIds.take(k2), s"k=$k2")
    }
  }
}
