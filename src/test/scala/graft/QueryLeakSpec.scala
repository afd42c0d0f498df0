package graft

import graft.queries.{QueriesAnn, QueriesGraph}

/** A query call leaves no session-lifetime state behind: after the
  * session's memoized artifacts exist, repeated calls add no cache entry
  * and no persisted RDD. */
class QueryLeakSpec extends SparkSpec {

  /** (cache entries, persisted RDDs) of the context. */
  private def held(): (Int, Int) = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val f = cm.getClass.getDeclaredFields.find(_.getName.endsWith("cachedData"))
      .getOrElse(fail("CacheManager has no cachedData field"))
    f.setAccessible(true)
    (f.get(cm).asInstanceOf[scala.collection.Seq[_]].size,
      spark.sparkContext.getPersistentRDDs.size)
  }

  test("repeated roargraph_search_recall and ann_pq200_codes calls leave nothing behind") {
    Seq(QueriesGraph.queries("roargraph_search_recall"),
        QueriesAnn.queries("ann_pq200_codes")).foreach { q =>
      q(spark, sf0001).collect() // the session's memos are built here
      val first = held()
      (1 to 2).foreach { i =>
        assert(q(spark, sf0001).collect().nonEmpty)
        assert(held() == first, s"call ${i + 1}: (cache entries, persisted RDDs)")
      }
    }
    val before = held()
    QueriesAnn.queries("ann_pq200_codes")(spark, sf0001).collect()
    assert(held() == before, "ann_pq200_codes holds state after its call")
  }

  test("a BSP search holds only its final state, until its scope is released") {
    import spark.implicits._
    // a ring of 64 points on a line; two queries between ring nodes
    val vecs = (0L until 64L).map(i => (i, Array(i.toFloat, 0f))).toDF("id", "vec")
    val adj = (0L until 64L).map(i => (i, Seq((i + 1) % 64, (i + 63) % 64)))
      .toDF("src", "nbrs")
    val qs = Seq((1000L, Array(10.2f, 0f)), (1001L, Array(40.7f, 0f))).toDF("id", "vec")
    val cachedBefore = held()._1
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // ids, not counts: the context cleaner may drop an earlier suite's RDD
    def added() = spark.sparkContext.getPersistentRDDs.keySet -- before
    val scope = new graft.ops.graph.CpScope
    val top = graft.ops.graph.BspBeamSearch.search(adj, vecs, qs, k = 3, l = 8,
        ep = 0L, graft.core.Metric.L2, scope = scope)
      .select("query_id", "ids").as[(Long, Seq[Long])].collect().toMap
    assert(top == Map(1000L -> Seq(10L, 11L, 9L), 1001L -> Seq(41L, 40L, 42L)))
    assert(added().size == 1, s"after the search: ${added()} (the pins must be gone)")
    scope.releaseAll()
    assert(added().isEmpty, "the search's final state outlives its scope")
    assert(held()._1 == cachedBefore)
  }
}
