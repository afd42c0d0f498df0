package graft

import graft.ops.graph.{BeamSearch, NeighborQueue}

/** Reference form of `graft.ops.graph.BeamSearch.search`: the
  * one-neighbor-at-a-time loop, scoring each unvisited neighbor as it is
  * met and inserting it before the next is looked at. The batched kernel
  * must return this loop's ids, dists, `cmps`, `hops` and pool exactly. */
object BeamOracle {

  def search(adj: Array[Array[Int]], dist: Int => Double,
             k: Int, l: Int, ep: Int, visited: BeamSearch.Visited,
             exclude: Int = -1, collectPool: Boolean = false,
             seeds: Array[Int] = Array.empty): BeamSearch.Result = {
    val queue = new NeighborQueue(l)
    visited.nextEpoch()
    var cmps = 0
    var hops = 0
    queue.insert(ep, dist(ep))
    visited.set(ep)
    var si = 0
    while (si < seeds.length) {
      val s = seeds(si)
      if (s != exclude && !visited.test(s)) {
        visited.set(s)
        queue.insert(s, dist(s))
        cmps += 1
      }
      si += 1
    }
    val pool =
      if (collectPool) new scala.collection.mutable.ArrayBuffer[(Int, Double)](l)
      else null
    while (queue.hasUnexpanded) {
      val (cur, curDist) = queue.closestUnexpanded()
      if (collectPool) pool += ((cur, curDist))
      hops += 1
      val nbrs = adj(cur)
      var j = 0
      while (j < nbrs.length) {
        val nbr = nbrs(j)
        if (nbr != exclude && !visited.test(nbr)) {
          visited.set(nbr)
          val d = dist(nbr)
          cmps += 1
          queue.insert(nbr, d)
        }
        j += 1
      }
    }
    val kk = math.min(k, queue.size)
    val ids = new Array[Int](kk)
    val ds = new Array[Double](kk)
    var i = 0
    while (i < kk) { ids(i) = queue.idAt(i); ds(i) = queue.distAt(i); i += 1 }
    BeamSearch.Result(ids, ds, cmps, hops, if (collectPool) pool.toArray else Array.empty)
  }
}
