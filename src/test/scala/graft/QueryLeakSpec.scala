package graft

import graft.queries.{QueriesAnn, QueriesGraph}

/** A query call leaves no session-lifetime state behind: after the
  * session's memoized artifacts exist, repeated calls add no cache entry
  * and no persisted RDD. */
class QueryLeakSpec extends SparkSpec {

  private def cacheEntries(): Int = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val f = cm.getClass.getDeclaredFields.find(_.getName.endsWith("cachedData"))
      .getOrElse(fail("CacheManager has no cachedData field"))
    f.setAccessible(true)
    f.get(cm).asInstanceOf[scala.collection.Seq[_]].size
  }

  /** The persisted RDDs not in `before`, by id: the context cleaner may
    * drop an earlier suite's RDD between two reads, so counts can fall
    * with nothing released here. */
  private def persistedSince(before: Set[Int]): Set[Int] = persistedIds() -- before

  private def persistedIds(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("repeated roargraph_search_recall and ann_pq200_codes calls leave nothing behind") {
    Seq(QueriesGraph.queries("roargraph_search_recall"),
        QueriesAnn.queries("ann_pq200_codes")).foreach { q =>
      q(spark, sf0001).collect() // the session's memos are built here
      val (entries, rdds) = (cacheEntries(), persistedIds())
      (1 to 2).foreach { i =>
        assert(q(spark, sf0001).collect().nonEmpty)
        assert(cacheEntries() == entries, s"call ${i + 1}: cache entries")
        assert(persistedSince(rdds).isEmpty, s"call ${i + 1}: persisted RDDs")
      }
    }
    val (entries, rdds) = (cacheEntries(), persistedIds())
    QueriesAnn.queries("ann_pq200_codes")(spark, sf0001).collect()
    assert(cacheEntries() == entries && persistedSince(rdds).isEmpty,
      "ann_pq200_codes holds state after its call")
  }

  test("a BSP search holds only its final state, until its scope is released") {
    import spark.implicits._
    // a ring of 64 points on a line; two queries between ring nodes
    val vecs = (0L until 64L).map(i => (i, Array(i.toFloat, 0f))).toDF("id", "vec")
    val adj = (0L until 64L).map(i => (i, Seq((i + 1) % 64, (i + 63) % 64)))
      .toDF("src", "nbrs")
    val qs = Seq((1000L, Array(10.2f, 0f)), (1001L, Array(40.7f, 0f))).toDF("id", "vec")
    val cachedBefore = cacheEntries()
    val before = persistedIds()
    def added() = persistedSince(before)
    val scope = new graft.ops.graph.CpScope
    val top = graft.ops.graph.BspBeamSearch.search(adj, vecs, qs, k = 3, l = 8,
        ep = 0L, graft.core.Metric.L2, scope = scope)
      .select("query_id", "ids").as[(Long, Seq[Long])].collect().toMap
    assert(top == Map(1000L -> Seq(10L, 11L, 9L), 1001L -> Seq(41L, 40L, 42L)))
    assert(added().size == 1, s"after the search: ${added()} (the pins must be gone)")
    scope.releaseAll()
    assert(added().isEmpty, "the search's final state outlives its scope")
    assert(cacheEntries() == cachedBefore)
  }

  test("a distributed repair state holds only its step, until it is released") {
    import spark.implicits._
    // a ring of 64 points on a line, and four points with no in-edge
    val vecs = (0L until 68L).map(i => (i, Array(i.toFloat, 0f))).toDF("id", "vec")
    val adj = (0L until 68L).map(i =>
      (i, if (i < 64) Seq((i + 1) % 64, (i + 63) % 64) else Seq(i % 64))).toDF("src", "nbrs")
    val vp = graft.ops.graph.BspBeamSearch.pinVectors(vecs)
    val before = persistedIds()
    def added() = persistedSince(before)
    val (state, left) = graft.build.DistRoarGraphBuilder.exactBackstop(
      graft.build.DistRoarGraphBuilder.AdjState(adj, vp), 0L, graft.core.Metric.L2, 2)(spark)
    assert(left == 0 && state.adjacency.count() == 68)
    assert(added().size == 1, s"after the backstop: ${added()} (only the final step)")
    state.release()
    assert(added().isEmpty, "the final repair state outlives its release")
    vp.release()
  }
}
