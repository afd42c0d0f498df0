package graft.build

import graft.core.{BuildParams, Neighbor, SearchParams}
import graft.ops.KnnJoin
import graft.ops.graph.{BeamSearch, OcclusionPrune, VecStore}
import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A built graph index over a base vector collection.
  *
  * @param adj   dense adjacency, `adj(i)` = neighbor dense ids, order
  *              meaningful (nearest-first after prune)
  * @param ep    dense entry-point id (node closest to centroid —
  *              src/index_bipartite.cpp:2018-2041)
  * @param ids   dense id → external id
  * @param vs    the base vectors (normalized already if cosine)
  */
final case class GraphIndex(adj: Array[Array[Int]], ep: Int,
                            ids: Array[Long], vs: VecStore) extends Serializable {
  def n: Int = ids.length
  def degreeStats: (Double, Int, Int) = {
    var tot = 0L; var mx = 0; var mn = Int.MaxValue
    adj.foreach { a => tot += a.length; mx = math.max(mx, a.length); mn = math.min(mn, a.length) }
    (tot.toDouble / adj.length, mx, mn)
  }

  /** Number of nodes reachable from the entry point — the connectivity
    * diagnostic for G6 (the reference's CollectPoints/dfs repair,
    * src/index_bipartite.cpp:2521-2604, exists for exactly this check).
    * A healthy index reaches every node (beam search can only find what
    * is reachable from `ep`). */
  def reachableFromEp: Int = GraphIndex.markReachable(adj, new Array[Boolean](n), ep)
}

object GraphIndex {
  /** Marks in `seen` every node reachable over `adj` from `from` (itself
    * included) through unmarked nodes, by stack DFS; returns how many it
    * newly marked. */
  private[build] def markReachable(adj: Array[Array[Int]], seen: Array[Boolean],
                                   from: Int): Int = {
    var cnt = if (seen(from)) 0 else 1
    seen(from) = true
    var stack = List(from)
    while (stack.nonEmpty) {
      val cur = stack.head
      stack = stack.tail
      adj(cur).foreach { nb =>
        if (!seen(nb)) { seen(nb) = true; cnt += 1; stack = nb :: stack }
      }
    }
    cnt
  }
}

/** RoarGraph construction (SURVEY.md §2.4 G1-G12; reference BuildRoarGraph,
  * src/index_bipartite.cpp:143-233 + LinkProjection :1043-1277), reformulated
  * bulk-synchronously for Spark:
  *
  * every OpenMP `parallel for` over nodes becomes a distributed map over a
  * node RDD, and every lock-guarded read-modify-write of an adjacency
  * list (`locks_`, include/index_bipartite.h:166) becomes a `groupByKey` +
  * deterministic merge (a reverse merge is one shuffle: [[reverseMerged]]).
  * The reference's results are thread-interleaving-dependent; ours are
  * reproducible (SURVEY.md §7.4 item 2).
  *
  * Scale model: the per-phase *compute* (kNN, prune, beam self-search) is
  * distributed over executors; the vectors and the evolving graph are
  * broadcast snapshots (the reference likewise keeps both fully in RAM —
  * 10M×200d ≈ 8 GB). Beyond broadcast size, the documented path is sharded
  * builds (partition the base, build per shard, search all shards, merge
  * top-k — standard for disk-scale ANN); the phase dataflow is unchanged.
  */
object RoarGraphBuilder {

  /** Dense-id kNN lists for the sampled queries: `query → top-mSq base`.
    * Computed with the engine's own exact kNN join operator (SURVEY A1)
    * instead of the reference's external DiskANN-era groundtruth file
    * (consumed at tests/test_build_roargraph.cpp:125). */
  private def learnBaseKnn(queries: DataFrame, bcVs: Broadcast[VecStore],
                           params: BuildParams): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val mSq = params.mSq
    queries.select(col("id").cast("long"), col("vec"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val vs = bcVs.value
        val all = Array.range(0, vs.n)
        val ds = new Array[Double](vs.n)
        it.map { case (qid, qv0) =>
          vs.distToMany(all, vs.n, vs.asQuery(qv0), ds)
          val heap = new KnnJoin.BoundedTopK(mSq)
          var i = 0
          while (i < vs.n) { heap.push(ds(i), i.toLong); i += 1 }
          (qid, heap.result().map(_._2.toInt))
        }
      }.toDF("query_id", "knn")
  }

  /** (dense id, dist) pairs in the [[Neighbor]] order. */
  private val ByDist = Neighbor.orderingOf[(Int, Double)](_._2, _._1)

  /** Entry point = argmin over base of SQUARED L2 dist(vec, centroid), ties
    * by id. The reference's CalculateProjectionep (src/index_bipartite.cpp:
    * 2004-2041) hardcodes an L2 comparator regardless of build metric —
    * using the store metric here would pick the argmax-dot (large-norm-
    * biased) node for IP builds, diverging from the reference. */
  private[graft] def entryPoint(vs: VecStore): Int = {
    val cen = new Array[Float](vs.dim)
    var i = 0
    while (i < vs.n) {
      var d = 0
      while (d < vs.dim) { cen(d) += vs.data(i * vs.dim + d); d += 1 }
      i += 1
    }
    var d = 0
    while (d < vs.dim) { cen(d) /= vs.n; d += 1 }
    var best = 0
    var bestD = Double.MaxValue
    i = 0
    while (i < vs.n) {
      val off = i * vs.dim
      var s = 0.0
      d = 0
      while (d < vs.dim) {
        val x = vs.data(off + d).toDouble - cen(d); s += x * x; d += 1
      }
      if (s < bestD) { bestD = s; best = i }
      i += 1
    }
    best
  }

  /** Deterministic bulk reverse-edge merge (G8 ProjectionAddReverse /
    * G12 SupplyAddReverse, src/index_bipartite.cpp:1391-1432 / :1352-1389):
    * append reverse candidates in ascending (dist,id) while under
    * `appendCap`; on overflow, occlusion-prune the union down to `pruneTo`.
    */
  private def mergeReverse(fwd: Array[Int], rev: Array[Int], node: Int,
                           vs: VecStore, appendCap: Int, pruneTo: Int,
                           backfill: Boolean): Array[Int] = {
    val have = fwd.toSet
    val newRev = rev.distinct.filter(r => r != node && !have.contains(r))
      .map(r => (r, vs.dist(node, r))).sorted(ByDist)
    if (fwd.length + newRev.length <= appendCap) fwd ++ newRev.map(_._1)
    else {
      val all = fwd.map(f => (f, vs.dist(node, f))) ++ newRev
      OcclusionPrune.prune(all, node, pruneTo, vs, backfill)
    }
  }

  /** One reverse-merge phase through one shuffle: every forward list
    * `src → nbrs` is sent to `src` and each of its edges to the target as
    * a reverse source, and `merge(node, forward, reverse sources)` runs
    * once per node that has either. Returns the dense adjacency; a node
    * with neither keeps an empty list. Reverse sources arrive in shuffle
    * order, so `merge` must not depend on their order ([[mergeReverse]]
    * sorts them). */
  private def reverseMerged(n: Int, forward: RDD[(Int, Array[Int])], part: Partitioner)(
      merge: (Int, Array[Int], Array[Int]) => Array[Int]): Array[Array[Int]] = {
    val merged = forward.flatMap { case (src, nbrs) =>
      Iterator[(Int, Either[Array[Int], Int])]((src, Left(nbrs))) ++
        nbrs.iterator.map(d => (d, Right(src)))
    }.groupByKey(part).map { case (node, recs) =>
      var fwd = Array.empty[Int]
      val rev = Array.newBuilder[Int]
      recs.foreach {
        case Left(f)  => fwd = f
        case Right(s) => rev += s
      }
      (node, merge(node, fwd, rev.result()))
    }.collect()
    val adj = Array.fill(n)(Array.empty[Int])
    merged.foreach { case (i, nb) => adj(i) = nb }
    adj
  }

  /** Build. `base`/`queries` expose (id: long, vec: array<float>). */
  def build(base: DataFrame, queries: DataFrame, params: BuildParams,
            precomputedKnn: Option[DataFrame] = None): GraphIndex = {
    val spark = base.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    val m = params.mPjbp

    // ---- load + dense remap (BuildRoarGraph sizes/normalize, :152-182) ----
    val baseRows = base.select(col("id").cast("long"), col("vec"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val ids = baseRows.map(_._1)
    val vs = VecStore(baseRows.map(_._2), params.metric)
    val bcVs = sc.broadcast(vs)
    val n = ids.length

    // ---- entry point (G22) ----
    val ep = entryPoint(vs)

    // ---- build input: query → base exact kNN (A1; dense ids) ----
    val knn: DataFrame = precomputedKnn match {
      case Some(df) => df // [query_id, knn: array<int> dense, sorted by dist]
      case None     => learnBaseKnn(queries, bcVs, params)
    }

    // ---- phase 1: query-side projection (G3, :1059-1097) ----
    // per query: pivot = 1-NN; occlusion-prune the rest of its kNN list as
    // pivot's forward candidates. Queries sharing a pivot are merged
    // deterministically (the reference last-writer-wins under a lock).
    // The whole phase is one RDD pipeline at the build's default
    // parallelism: the kNN input is narrowed to that many partitions
    // without a shuffle.
    val part = new HashPartitioner(sc.defaultParallelism)
    val forward = knn.select(col("knn")).as[Array[Int]].rdd
      .coalesce(part.numPartitions)
      .mapPartitions { it =>
        val v = bcVs.value
        it.flatMap { nn =>
          if (nn.isEmpty) Iterator.empty
          else {
            val pivot = nn(0)
            val cands = nn.iterator.drop(1).filter(_ != pivot)
              .map(c => (c, v.dist(pivot, c))).toArray
            if (cands.isEmpty) Iterator.empty
            else Iterator.single(
              (pivot, OcclusionPrune.prune(cands, pivot, params.mPjbp, v)))
          }
        }
      }
      .groupByKey(part)
      .map { case (pivot, lists) =>
        val v = bcVs.value
        val union = lists.flatten.toArray.distinct
          .map(c => (c, v.dist(pivot, c)))
        (pivot, OcclusionPrune.prune(union, pivot, params.mPjbp, v))
      }

    // ---- phase 1b/1c: reverse sweep + overflow re-prune (G4/G5/G8) ----
    // nothing reaches the driver until the phase-end snapshot (which the
    // reference's shared-memory model also requires in full)
    val projection = reverseMerged(n, forward, part) { (node, fwd, rev) =>
      mergeReverse(fwd, rev, node, bcVs.value,
        appendCap = m, pruneTo = m, backfill = true)
    }

    // ---- phase 2: connectivity enhancement (G6, :1183-1276) ----
    // Every base node beam-searches for itself over a frozen snapshot of the
    // supply graph (the reference mutates it concurrently — order-dependent;
    // the BSP snapshot is the deterministic translation).
    val bcSupply = sc.broadcast(projection)
    val selfSearch = sc.parallelize(0 until n, part.numPartitions).mapPartitions { it =>
      val v = bcVs.value
      val supply = bcSupply.value
      val visited = new BeamSearch.Visited(v.n)
      it.map { node =>
        val res = BeamSearch.search(supply, v.scorer(v.row(node)), params.mPjbp,
          params.lPjpq, ep, visited, exclude = node, collectPool = true)
        val pool = res.pool.filter(_._1 != node)
        // G9 prune: first kept element skips nodes already linked forward
        // (src/index_bipartite.cpp:1861-1866); strict pass only, no backfill
        val linked = supply(node).toSet
        val sorted = pool.sorted(ByDist)
        val startIdx = sorted.indexWhere(p => !linked.contains(p._1))
        val eff = if (startIdx <= 0) sorted else
          sorted(startIdx) +: (sorted.take(startIdx) ++ sorted.drop(startIdx + 1))
        (node, OcclusionPrune.prune(eff, node, params.mPjbp, v, backfill = false))
      }
    }
    val supplyArr = reverseMerged(n, selfSearch, part) { (node, fwd, rev) =>
      val v = bcVs.value
      // G12 cap 2m on append; G11 overflow prune to m (no backfill); then
      // the reference's post-pass re-prunes any node still over m (:1224-48)
      val merged = mergeReverse(fwd, rev, node, v,
        appendCap = 2 * m, pruneTo = m, backfill = false)
      if (merged.length <= m) merged
      else OcclusionPrune.prune(
        merged.map(c => (c, v.dist(node, c))), node, m, v, backfill = false)
    }

    // ---- merge supply into projection, ≤ 2m novel edges (:1251-1269) ----
    val adj = Array.tabulate(n) { i =>
      val have = projection(i).toSet
      val novel = supplyArr(i).filter(!have.contains(_)).take(2 * m)
      projection(i) ++ novel
    }
    bcSupply.destroy()
    val index = GraphIndex(adj, ep, ids, vs)
    if (params.repairReachability) repairReachability(index) else index
  }

  /** Reachability repair (revives the reference's dead CollectPoints/dfs,
    * src/index_bipartite.cpp:2521-2604): every node not reachable from the
    * entry point gets one in-edge from its nearest reachable node, in
    * ascending dense-id order; each attachment immediately reconnects the
    * node's own descendants. Deterministic; adds at most one edge per
    * initially-unreachable node. */
  private[build] def repairReachability(index: GraphIndex): GraphIndex = {
    val n = index.n
    val adj = index.adj.map(_.clone())
    val seen = new Array[Boolean](n)
    GraphIndex.markReachable(adj, seen, index.ep)
    var u = 0
    while (u < n) {
      if (!seen(u)) {
        // nearest currently-reachable node (ties by id). The scan is the
        // cost center at scale — O(n·dim) per unreachable node, measured
        // serial-loop-bound at 1M nodes — so the argmin fans out over
        // chunks; min over (dist, id) is associative, so the result is
        // bit-identical to the serial loop (GraphGoldenSpec pins it).
        val chunks = 256
        val step = (n + chunks - 1) / chunks
        val (bestD, best) = java.util.stream.IntStream.range(0, chunks)
          .parallel()
          .mapToObj[(Double, Int)] { c =>
            val lo = c * step
            val hi = math.min(lo + step, n)
            var bd = Double.MaxValue
            var b = -1
            var r = lo
            while (r < hi) {
              if (seen(r)) {
                val d = index.vs.dist(r, u)
                if (b == -1 || Neighbor.less(d, r, bd, b)) { bd = d; b = r }
              }
              r += 1
            }
            (bd, b)
          }
          .reduce((Double.MaxValue, -1),
            (a: (Double, Int), b: (Double, Int)) =>
              if (b._2 == -1) a
              else if (a._2 == -1 || Neighbor.less(b._1, b._2, a._1, a._2)) b
              else a)
        adj(best) = adj(best) :+ u
        GraphIndex.markReachable(adj, seen, u)
      }
      u += 1
    }
    index.copy(adj = adj)
  }

  /** Batch search (Q1 SearchRoarGraph, src/index_bipartite.cpp:2311-2420):
    * broadcast the index, map query partitions through the beam kernel —
    * the Spark analogue of the reference's one-OpenMP-task-per-query model
    * (tests/test_search_roargraph.cpp:203). Output ids are external.
    * Returns [query_id, ids, dists, cmps, hops]. */
  def searchBatch(index: GraphIndex, queries: DataFrame,
                  params: SearchParams): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(index)
    val (k, l, numSeeds) = (params.k, params.lPq, params.numSeeds)
    queries.select(col("id").cast("long"), col("vec"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val idx = bc.value
        val visited = new BeamSearch.Visited(idx.n)
        it.map { case (qid, qv0) =>
          val seeds = seedsFor(qid, numSeeds, idx.n)
          val r = BeamSearch.search(idx.adj, idx.vs.scorer(idx.vs.asQuery(qv0)), k, l,
            idx.ep, visited, seeds = seeds)
          (qid, r.ids.map(idx.ids(_)), r.dists, r.cmps, r.hops)
        }
      }.toDF("query_id", "ids", "dists", "cmps", "hops")
  }

  /** Per-query deterministic seed nodes: splitmix64 over (qid, i) — the
    * reproducible replacement for the reference's `std::random_device`
    * seeding (src/index_bipartite.cpp:287-294; SURVEY.md §7.4 item 3). */
  private[graft] def seedsFor(qid: Long, numSeeds: Int, n: Int): Array[Int] =
    if (numSeeds <= 0) Array.empty
    else Array.tabulate(numSeeds) { i =>
      var z = qid * 0x9E3779B97F4A7C15L + (i + 1) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^= z >>> 31
      ((z % n + n) % n).toInt
    }
}
