package graft

import graft.core.Metric
import graft.ops.graph.{BeamSearch, NeighborQueue, OcclusionPrune, VecStore}
import org.scalatest.funsuite.AnyFunSuite

/** Pure-Scala kernel tests: no SparkSession needed. */
class GraphKernelSpec extends AnyFunSuite {

  private def grid2d(n: Int): VecStore = {
    // n*n unit grid; id = row*n + col
    val rows = Array.tabulate(n * n)(i => Array((i / n).toFloat, (i % n).toFloat))
    VecStore(rows, Metric.L2)
  }

  test("VecStore distances match Metric.dist semantics") {
    val vs = VecStore(Array(Array(1f, 2f), Array(3f, 5f)), Metric.L2)
    assert(vs.dist(0, 1) == 13.0) // (1-3)^2 + (2-5)^2
    val ip = VecStore(Array(Array(1f, 2f), Array(3f, 5f)), Metric.InnerProduct)
    assert(ip.dist(0, 1) == -13.0)
  }

  test("Metric.name round-trips through Metric.fromString with the persisted names") {
    val names = Seq(Metric.L2 -> "l2", Metric.InnerProduct -> "ip", Metric.Cosine -> "cosine")
    for ((m, persisted) <- names) {
      assert(m.name == persisted, s"$m")
      assert(Metric.fromString(m.name) == m, s"$m")
    }
  }

  test("Metric.dist rejects vectors of different lengths with a named error " +
       "(L2, IP, cosine; longer and shorter b)") {
    val a = Array(1f, 2f)
    for (m <- Seq(Metric.L2, Metric.InnerProduct, Metric.Cosine);
         b <- Seq(Array(1f, 2f, 3f), Array(1f))) {
      val e = intercept[IllegalArgumentException](m.dist(a, b))
      assert(e.getMessage ==
        s"distance: vector dimension mismatch (2 vs ${b.length})", s"$m")
    }
  }

  test("VecStore cosine pre-normalizes rows") {
    val vs = VecStore(Array(Array(3f, 4f), Array(0f, 2f)), Metric.Cosine)
    // normalized: (0.6, 0.8), (0, 1) → -ip = -0.8
    assert(math.abs(vs.dist(0, 1) - -0.8) < 1e-6)
  }

  test("NeighborQueue keeps sorted (dist,id), dedups, bounds at capacity") {
    val q = new NeighborQueue(3)
    q.insert(5, 2.0); q.insert(7, 1.0); q.insert(5, 2.0); q.insert(9, 1.0)
    q.insert(1, 3.0) // dropped: full and worse than last
    assert(q.size == 3)
    assert((0 until q.size).map(q.idAt) == Seq(7, 9, 5)) // (1.0,7),(1.0,9),(2.0,5)
    q.insert(2, 0.5)
    assert((0 until q.size).map(q.idAt) == Seq(2, 7, 9))
  }

  test("NeighborQueue cursor walks unexpanded in ascending order") {
    val q = new NeighborQueue(4)
    Seq((1, 4.0), (2, 1.0), (3, 3.0), (4, 2.0)).foreach { case (i, d) => q.insert(i, d) }
    assert(q.closestUnexpanded()._1 == 2)
    assert(q.closestUnexpanded()._1 == 4)
    // a closer insert rewinds the cursor (neighbor.h:178-180)
    q.insert(9, 0.5)
    assert(q.closestUnexpanded()._1 == 9)
    assert(q.closestUnexpanded()._1 == 3)
    assert(!q.hasUnexpanded)
  }

  test("OcclusionPrune: output subset, bounded, excludes target, deterministic") {
    val vs = grid2d(5)
    val target = 12 // center
    val cands = (0 until 25).filter(_ != target).map(i => (i, vs.dist(i, target))).toArray
    val p1 = OcclusionPrune.prune(cands ++ cands, target, 6, vs)
    val p2 = OcclusionPrune.prune(cands.reverse, target, 6, vs)
    assert(p1.toSeq == p2.toSeq) // order/dup independent
    assert(p1.length == 6)       // backfill reaches m
    assert(!p1.contains(target))
    assert(p1.toSet.subsetOf(cands.map(_._1).toSet))
  }

  test("OcclusionPrune occlusion invariant holds before backfill") {
    val vs = grid2d(5)
    val target = 0
    val cands = (1 until 25).map(i => (i, vs.dist(i, target))).toArray
    val kept = OcclusionPrune.prune(cands, target, 4, vs, backfill = false)
    // every kept c: no other kept k occludes it given the greedy order —
    // check pairwise: for j>i, d(kept(j), kept(i)) >= d(kept(j), target)
    for (j <- kept.indices; i <- 0 until j) {
      val dj = vs.dist(kept(j), target)
      assert(vs.dist(kept(j), kept(i)) >= dj,
        s"kept ${kept(j)} occluded by ${kept(i)}")
    }
  }

  test("BeamSearch finds exact NN on a connected grid graph") {
    val n = 8
    val vs = grid2d(n)
    // 4-neighbor lattice adjacency
    val adj = Array.tabulate(n * n) { i =>
      val (r, c) = (i / n, i % n)
      Seq((r - 1, c), (r + 1, c), (r, c - 1), (r, c + 1))
        .filter { case (a, b) => a >= 0 && a < n && b >= 0 && b < n }
        .map { case (a, b) => a * n + b }.toArray
    }
    val visited = new BeamSearch.Visited(n * n)
    val q = Array(5.2f, 3.1f) // nearest = (5,3) = 43
    val res = BeamSearch.search(adj, vs.scorer(q), 3, 20, ep = 0, visited)
    assert(res.ids.head == 43)
    assert(res.hops > 0 && res.cmps > 0)
    // dists ascending
    assert(res.dists.toSeq == res.dists.sorted.toSeq)
  }

  test("BeamSearch excludes the target during self-search and collects pool") {
    val n = 4
    val vs = grid2d(n)
    val adj = Array.tabulate(n * n) { i =>
      val (r, c) = (i / n, i % n)
      Seq((r - 1, c), (r + 1, c), (r, c - 1), (r, c + 1))
        .filter { case (a, b) => a >= 0 && a < n && b >= 0 && b < n }
        .map { case (a, b) => a * n + b }.toArray
    }
    val visited = new BeamSearch.Visited(n * n)
    val q = vs.row(5)
    val res = BeamSearch.search(adj, vs.scorer(q), 5, 16, ep = 0, visited,
      exclude = 5, collectPool = true)
    assert(!res.ids.contains(5))
    assert(res.pool.nonEmpty && !res.pool.exists(_._1 == 5))
  }
}
