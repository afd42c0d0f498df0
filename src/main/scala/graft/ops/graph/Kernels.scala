package graft.ops.graph

import graft.core.{Metric, Neighbor}

/** In-memory kernels for graph index build & search — the per-task compute
  * that runs inside `mapPartitions` over a broadcast index. These mirror the
  * reference's single-node primitives (SURVEY.md §2.4/2.5) but are plain,
  * deterministic Scala: no locks (bulk-synchronous merges replace them,
  * SURVEY.md §7.4 item 2) and no random seeds.
  *
  * Node ids here are DENSE Int indices `[0, n)`; the Spark layer
  * (graft.build.*) owns the mapping to external Long ids.
  */

/** Flat row-major float32 vector store with metric-aware distance.
  * Mirrors the reference's `data_bp_` layout (include/efanna2e/index.h:59-63)
  * minus SIMD padding (irrelevant on the JVM). Distances accumulate in
  * double for cross-platform determinism; SMALLER IS CLOSER for every metric
  * (IP is negated — include/efanna2e/distance.h:92-226). Cosine callers must
  * pre-normalize rows (src/index_bipartite.cpp:176-182); then cosine ≡ IP.
  */
final class VecStore(val n: Int, val dim: Int, val data: Array[Float],
                     val metric: Metric) extends Serializable {
  require(data.length == n.toLong * dim, s"bad VecStore shape: $n x $dim != ${data.length}")
  private val ip = metric != Metric.L2

  /** Distance between stored row i and an external query vector. */
  def distTo(i: Int, q: Array[Float]): Double = {
    val off = i * dim
    var s = 0.0
    var d = 0
    if (ip) {
      while (d < dim) { s += data(off + d).toDouble * q(d); d += 1 }
      -s
    } else {
      while (d < dim) {
        val x = data(off + d).toDouble - q(d); s += x * x; d += 1
      }
      s
    }
  }

  /** Distance between two stored rows. */
  def dist(i: Int, j: Int): Double = {
    val oi = i * dim; val oj = j * dim
    var s = 0.0
    var d = 0
    if (ip) {
      while (d < dim) { s += data(oi + d).toDouble * data(oj + d); d += 1 }
      -s
    } else {
      while (d < dim) {
        val x = data(oi + d).toDouble - data(oj + d); s += x * x; d += 1
      }
      s
    }
  }

  def row(i: Int): Array[Float] = {
    val out = new Array[Float](dim)
    System.arraycopy(data, i * dim, out, 0, dim)
    out
  }
}

object VecStore {
  /** Build from (denseId → vector) rows; normalizes if the metric needs it
    * (cosine → normalize-then-IP, src/index.cpp:14-21). */
  def apply(rows: Array[Array[Float]], metric: Metric): VecStore = {
    val n = rows.length
    require(n > 0, "empty VecStore")
    val dim = rows(0).length
    val data = new Array[Float](n * dim)
    var i = 0
    while (i < n) {
      val v = rows(i)
      require(v.length == dim, s"ragged vectors: row $i has ${v.length} != $dim")
      System.arraycopy(asStored(v, metric), 0, data, i * dim, dim)
      i += 1
    }
    new VecStore(n, dim, data, metric)
  }

  /** A row as the store holds it under `metric`: L2-normalized when the
    * metric needs it (float32 of v/‖v‖, the norm accumulated in double),
    * else `v` itself. A zero row is left as is. Queries go through this
    * too, so a cosine query meets rows normalized the same way. */
  def asStored(v: Array[Float], metric: Metric): Array[Float] =
    if (!metric.needNormalize) v
    else {
      var s = 0.0; var d = 0
      while (d < v.length) { s += v(d).toDouble * v(d); d += 1 }
      val nrm = math.sqrt(s)
      if (nrm == 0.0) v
      else {
        val out = new Array[Float](v.length)
        d = 0
        while (d < v.length) { out(d) = (v(d) / nrm).toFloat; d += 1 }
        out
      }
    }
}

/** Bounded best-first beam pool: fixed-capacity array sorted by the
  * [[Neighbor]] order, with a "closest unexpanded" cursor and id-dedup on
  * insert. Faithful port of the reference's NeighborPriorityQueue semantics
  * (include/efanna2e/neighbor.h:138-223): insert drops items worse than the
  * current worst once full; ties break by ascending id (neighbor.h:29-33).
  */
final class NeighborQueue(val capacity: Int) {
  private val ids = new Array[Int](capacity + 1)
  private val ds = new Array[Double](capacity + 1)
  private val expanded = new Array[Boolean](capacity + 1)
  private var _size = 0
  private var cur = 0

  @inline private def lessAt(d: Double, id: Int, i: Int): Boolean =
    Neighbor.less(d, id, ds(i), ids(i))

  def insert(id: Int, d: Double): Unit = {
    if (_size == capacity && !lessAt(d, id, _size - 1)) return
    var lo = 0; var hi = _size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (lessAt(d, id, mid)) hi = mid
      else if (ids(mid) == id) return // dedup
      else lo = mid + 1
    }
    // id may still equal a non-compared element with identical (dist,id)?
    // identical (dist,id) pairs compare equal → binary search lands on them;
    // the reference also only dedups along the probe path (neighbor.h:160).
    if (lo < capacity) {
      var i = math.min(_size, capacity - 1)
      while (i > lo) {
        ids(i) = ids(i - 1); ds(i) = ds(i - 1); expanded(i) = expanded(i - 1)
        i -= 1
      }
      ids(lo) = id; ds(lo) = d; expanded(lo) = false
      if (_size < capacity) _size += 1
      if (lo < cur) cur = lo
    }
  }

  def hasUnexpanded: Boolean = cur < _size

  /** Pop the closest unexpanded entry; advances the cursor. */
  def closestUnexpanded(): (Int, Double) = {
    expanded(cur) = true
    val pre = cur
    while (cur < _size && expanded(cur)) cur += 1
    (ids(pre), ds(pre))
  }

  def size: Int = _size
  def idAt(i: Int): Int = ids(i)
  def distAt(i: Int): Double = ds(i)
}

/** RNG/occlusion prune family (G7/G9/G10/G11 — src/index_bipartite.cpp:
  * 1612-1694, 1846-1940, 1527-1610, 1434-1525): one parameterized,
  * deterministic implementation. α=1 Vamana-style: scanning candidates in
  * ascending (dist-to-target, id), keep candidate c unless some already-kept
  * k has d(c,k) < d(c,target). The reference's "relaxed second pass" uses
  * the identical predicate (1.0*djk) and therefore admits nothing new; it is
  * omitted. G7's final backfill (fill to m from the sorted pool ignoring
  * occlusion, src/index_bipartite.cpp:1684-1690) is the `backfill` flag.
  */
object OcclusionPrune {

  /** @param cands      (denseId, distToTarget) candidate pool, any order,
    *                    may contain duplicates and the target itself
    * @param target     node whose neighbor list is being built (excluded)
    * @param m          degree cap (M_pjbp)
    * @param vs         vector store for candidate↔candidate distances
    * @param backfill   G7-style fill to m from sorted order when occlusion
    *                    leaves fewer than m
    * @return kept dense ids, in kept order (ascending dist-to-target prefix)
    */
  def prune(cands: Array[(Int, Double)], target: Int, m: Int, vs: VecStore,
            backfill: Boolean = true): Array[Int] =
    keep(sortedPool(cands.length, cands(_)._1, cands(_)._2, target),
      cands(_)._2, m, backfill)((c, k) => vs.dist(cands(c)._1, cands(k)._1))
      .map(cands(_)._1)

  /** The same prune over candidates that CARRY their vectors — the
    * distributed-build variant, where no global [[VecStore]] exists and
    * candidate↔candidate distances are computed from the group-local
    * vectors (external long ids). `cands`: (id, distToTarget, vec), may
    * contain duplicates and the target itself (`targetId` excluded). */
  def pruneVecs(cands: Array[(Long, Double, Array[Float])], targetId: Long,
                m: Int, metric: Metric,
                backfill: Boolean = true): Array[Long] =
    keep(sortedPool(cands.length, cands(_)._1, cands(_)._2, targetId),
      cands(_)._2, m, backfill)((c, k) => metric.dist(cands(c)._3, cands(k)._3))
      .map(cands(_)._1)

  /** Positions (into a candidate array of `n`) of each id's best entry,
    * the target excluded, in ascending [[Neighbor]] order. */
  private def sortedPool(n: Int, id: Int => Long, dist: Int => Double,
                         target: Long): Array[Int] = {
    val best = new java.util.HashMap[java.lang.Long, Integer]()
    var i = 0
    while (i < n) {
      val c = id(i)
      if (c != target) {
        val prev = best.get(c)
        if (prev == null || Neighbor.less(dist(i), c, dist(prev), c)) best.put(c, i)
      }
      i += 1
    }
    val pool = best.values().toArray(new Array[Integer](best.size))
    java.util.Arrays.sort(pool, Neighbor.orderingOf[Integer](dist(_), id(_)))
    pool.map(_.intValue)
  }

  /** The occlusion scan over a sorted, deduplicated `pool` of candidate
    * positions: keep p unless some already-kept k has
    * `pairDist(p, k) < dist(p)`; `backfill` then tops up to m in pool
    * order. Returns kept positions, in kept order. */
  private def keep(pool: Array[Int], dist: Int => Double, m: Int,
                   backfill: Boolean)(pairDist: (Int, Int) => Double): Array[Int] = {
    if (pool.isEmpty) return Array.empty
    val kept = new Array[Int](math.max(1, math.min(m, pool.length)))
    val taken = new Array[Boolean](pool.length)
    kept(0) = pool(0); taken(0) = true
    var nk = 1
    var s = 1
    while (nk < m && s < pool.length) {
      val p = pool(s)
      val pd = dist(p)
      var t = 0
      while (t < nk && !(pairDist(p, kept(t)) < pd)) t += 1
      if (t == nk) { kept(nk) = p; nk += 1; taken(s) = true }
      s += 1
    }
    if (backfill) {
      s = 1
      while (nk < m && s < pool.length) {
        if (!taken(s)) { kept(nk) = pool(s); nk += 1 }
        s += 1
      }
    }
    java.util.Arrays.copyOf(kept, nk)
  }
}

/** Best-first beam search over an adjacency graph (Q1 SearchRoarGraph,
  * src/index_bipartite.cpp:2311-2420, and Q4 SearchProjectionGraphInternal,
  * :1279-1350, unified). Runs inside one Spark task; the caller broadcasts
  * (adjacency, vectors or codes) and maps query partitions through
  * [[search]].
  */
object BeamSearch {

  /** @param ids  top-k dense ids (ascending (dist,id))
    * @param dists matching distances
    * @param cmps  number of distance computations (≅ reference `cmps`)
    * @param hops  number of expanded nodes (≅ reference `hops`)
    * @param pool  full visited pool in expansion completion order when
    *              `collectPool` (build-time G6 needs it; else empty)
    */
  final case class Result(ids: Array[Int], dists: Array[Double], cmps: Int,
                          hops: Int, pool: Array[(Int, Double)])

  /** Epoch-tagged visited marker, O(1) reset between queries in the same
    * task (reference VisitedListPool, include/visited_list_pool.h:20-26). */
  final class Visited(n: Int) {
    private val tags = new Array[Int](n)
    private var epoch = 0
    def nextEpoch(): Unit = epoch += 1
    @inline def test(i: Int): Boolean = tags(i) == epoch
    @inline def set(i: Int): Unit = tags(i) = epoch
  }

  /** One query, scored by `dist(i)`: node i's distance to it — a
    * [[VecStore]] row distance, or PqGraphSearch's ADC table lookup.
    * `exclude` (build-time self-search) skips that node during
    * expansion exactly like Q4's `nbr == tgt` check (:1330). `seeds` adds
    * extra entry nodes beside `ep` — the deterministic analogue of the
    * reference's random multi-seeding (src/index_bipartite.cpp:287-294),
    * which rescues recall on graphs where parts are unreachable from the
    * single entry point. */
  def search(adj: Array[Array[Int]], dist: Int => Double,
             k: Int, l: Int, ep: Int, visited: Visited,
             exclude: Int = -1, collectPool: Boolean = false,
             seeds: Array[Int] = Array.empty): Result = {
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
    Result(ids, ds, cmps, hops, if (collectPool) pool.toArray else Array.empty)
  }
}
