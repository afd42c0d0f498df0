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
}
