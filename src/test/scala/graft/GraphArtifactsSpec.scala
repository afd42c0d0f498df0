package graft

import graft.build.GraphIndex
import graft.queries.{Concurrently, QueriesGraph}

/** The graph family's session-shared indexes: each one is built once per
  * session, the concurrent shared setup builds the same graphs as a
  * sequential one, and a failed build leaves no other build running. */
class GraphArtifactsSpec extends SparkSpec {

  private def assertSameGraph(name: String, a: GraphIndex, b: GraphIndex): Unit = {
    assert(a.ids.sameElements(b.ids), s"$name: ids differ")
    assert(a.ep == b.ep, s"$name: entry point ${a.ep} vs ${b.ep}")
    assert(a.adj.length == b.adj.length, s"$name: node count differs")
    a.adj.indices.foreach { i =>
      assert(a.adj(i).sameElements(b.adj(i)), s"$name: list of node ${a.ids(i)} differs")
    }
  }

  test("materializeShared builds each index once; its concurrent builds " +
       "equal sequential ones, list for list") {
    val shared = spark.newSession()
    QueriesGraph.materializeShared(shared, sf0001)
    val bip = QueriesGraph.bipartiteIndex(shared, sf0001)
    val dist = QueriesGraph.distBuilt(shared, sf0001)

    // a second search call reads the memoized index and starts no job:
    // the search DataFrame is lazy, and its query side is the session's
    // memoized table
    assert(jobsAndShuffle(QueriesGraph.bipartiteSearchIds(shared, sf0001))._1 == 0)
    assert(jobsAndShuffle(QueriesGraph.roargraphDistSearchIds(shared, sf0001))._1 == 0)
    assert(QueriesGraph.bipartiteIndex(shared, sf0001) eq bip)
    assert(QueriesGraph.distBuilt(shared, sf0001) eq dist)

    val alone = spark.newSession()
    assertSameGraph("in-memory", QueriesGraph.memIndex(shared, sf0001),
      QueriesGraph.memIndex(alone, sf0001))
    assertSameGraph("bipartite 2-hop", bip, QueriesGraph.bipartiteIndex(alone, sf0001))
    val distAlone = QueriesGraph.distBuilt(alone, sf0001)
    assertSameGraph("distributed view", dist.view, distAlone.view)
    assert(dist.index.ep == distAlone.index.ep)
    Seq(dist, distAlone).foreach(_.index.adj.unpersist())
  }

  /** A build that runs one job of `ms` per task on 4 slots. */
  private def slowJob(ms: Long): () => Unit =
    () => spark.sparkContext.parallelize(1 to 4, 4).foreach(_ => Thread.sleep(ms))

  /** Block until the context runs a job (so a build is mid-flight). */
  private def awaitRunningJob(): Unit = {
    val deadline = System.nanoTime() + 30e9.toLong
    while (spark.sparkContext.statusTracker.getActiveJobIds.isEmpty) {
      assert(System.nanoTime() < deadline, "the slow build never started a job")
      Thread.sleep(10)
    }
  }

  private def assertNoJobRunning(): Unit = {
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    val active = spark.sparkContext.statusTracker.getActiveJobIds
    assert(active.isEmpty, s"jobs still running: ${active.mkString(",")}")
  }

  test("a build that fails on the caller's thread is rethrown only after " +
       "the builds beside it have finished their jobs") {
    val boom = new IllegalStateException("caller build failed")
    val thrown = intercept[IllegalStateException] {
      Concurrently[Unit] { awaitRunningJob(); throw boom }(slowJob(1500))
    }
    assert(thrown eq boom)
    assertNoJobRunning()
  }

  test("a build that fails beside another is rethrown after every build " +
       "has finished, first failure in argument order") {
    val first = new IllegalStateException("first side build failed")
    val second = new IllegalStateException("second side build failed")
    val thrown = intercept[IllegalStateException] {
      Concurrently(())(
        () => { awaitRunningJob(); throw first },
        slowJob(1500),
        () => { awaitRunningJob(); throw second })
    }
    assert(thrown eq first)
    assertNoJobRunning()
  }

  // ---- source gate: index views are built inside memo factories only ----

  private val memoOpen = """getOrElseUpdate\([^)]*\)\s*\{""".r
  private val viewLoad = """\bindexFrom\w*\(""".r

  /** Offsets of the index-view loads in `src` that no memo factory block
    * (`getOrElseUpdate(...) { ... }`) encloses. */
  private def outsideMemo(src: String): Seq[Int] = {
    val blocks = memoOpen.findAllMatchIn(src).map { m =>
      var depth = 1
      var i = m.end
      while (depth > 0 && i < src.length) {
        if (src(i) == '{') depth += 1 else if (src(i) == '}') depth -= 1
        i += 1
      }
      (m.end, i)
    }.toSeq
    viewLoad.findAllMatchIn(src).map(_.start)
      .filterNot(o => blocks.exists { case (a, b) => o >= a && o < b }).toSeq
  }

  test("the memo-factory guard tells a load inside a factory from one outside") {
    val inside = "memo.getOrElseUpdate(s, dir) {\n  val x = { 1 }\n  " +
      "GraphSearch.indexFromDF(adj, b, m)\n}"
    assert(outsideMemo(inside).isEmpty)
    Seq(
      "def ids(s: S) = GraphSearch.indexFromDist(memo(s), b)",
      inside + "\ndef again = GraphSearch.indexFromDF(adj, b, m)"
    ).foreach(src => assert(outsideMemo(src).size == 1, s"guard misses: $src"))
  }

  test("graft.queries loads a graph search view only inside a memo factory") {
    val root = java.nio.file.Paths.get("src/main/scala/graft/queries")
    val files = java.nio.file.Files.walk(root).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
    val srcs = files.map(p => p -> new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
    assert(srcs.map(s => viewLoad.findAllMatchIn(s._2).size).sum >= 2,
      "source scan found no index-view load")
    val bad = srcs.filter(s => outsideMemo(s._2).nonEmpty).map(_._1)
    assert(bad.isEmpty, "build a search view once, inside a SessionMemo factory:\n" +
      bad.mkString("\n"))
  }
}
