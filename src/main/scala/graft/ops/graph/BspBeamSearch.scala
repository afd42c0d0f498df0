package graft.ops.graph

import graft.core.{Metric, Neighbor}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** BSP (bulk-synchronous) graph search — the 100 TB-scale path for Q1 when
  * the index does NOT fit executor memory (SURVEY.md §7.4 item 1). The
  * broadcast kernel (RoarGraphBuilder.searchBatch) is the fast path; this
  * variant keeps the graph and vectors distributed and advances every
  * query's beam one synchronized hop per round.
  *
  * Round dataflow — MOVE IDS, NOT PAYLOADS (re-shaped in round 12 after
  * measuring the 10M×200d build: the original per-round plan re-shuffled
  * the full 10M-row adjacency AND vector tables every round — ~14 GB of
  * sort-merge input — and carried each candidate's 828 B vector through
  * two more exchanges, ~25 GB of spill per round, which both set the
  * ~45 s/round fixed wall and overran the box's disk):
  *
  *   once per search: adjacency and vectors are pinned to a
  *   HashPartitioner and persisted (partitioner-aware RDDs — the one
  *   place DataFrames can't express "this side never re-shuffles across
  *   an iterative loop", since a lineage cut erases outputPartitioning);
  *   the query slice's vectors are broadcast (|slice| × dim — bounded by
  *   the caller's batching contract, the same declared class as the
  *   drain's 100k-query broadcast blocks in KnnJoin.blockedTopK).
  *
  *   round = frontier (qid, node) ids, partitioned to the pinned layout →
  *           narrow join with adjacency → (nbr, qid) id pairs, one skinny
  *           shuffle → per-partition dedup → narrow zip with the pinned
  *           vector partition, scoring dist(broadcast qvec, vec) AT the
  *           vector's partition → (qid, nbr, dist) 24 B rows → per-query
  *           merge into a bounded (dist,id)-sorted pool → next frontier =
  *           best unexpanded pool entries.
  *
  * Only id/dist triples ever cross an exchange after init; vector bytes
  * move zero times per round (they moved once, at the pin). Scoring uses
  * the same `Metric.dist` on the same floats as the previous shape, and
  * the pool merge is insertion-order-deduped, so results are
  * bit-identical (golden-hash spec-gated). Policy difference vs
  * the single-node kernel: the visited set is the pool itself (entries
  * evicted past L may be revisited), which is the standard batch
  * approximation; the recall gate in BspBeamSearchSpec measures it.
  */
object BspBeamSearch {

  /** (dist, id, expanded) pool entry; pools stay sorted by the
    * [[Neighbor]] order. */
  final case class Entry(dist: Double, id: Long, expanded: Boolean)
  object Entry {
    val ordering: Ordering[Entry] = Neighbor.orderingOf(_.dist, _.id)
  }

  /** Hard cap on the per-search query-vector broadcast (rows). 1M × 200d
    * floats ≈ 850 MB on the driver + per-executor copy — the top of the
    * declared bounded-broadcast class (KnnJoin's 100k-500k query blocks
    * live well under it). Callers with more queries must slice (the
    * repair loop does, at [[graft.build.DistRoarGraphBuilder]]'s
    * RepairQueryBatch). Overridable for bigger driver heaps. */
  private val MaxBroadcastQueriesProp = "graft.bsp.maxBroadcastQueries"
  private def MaxBroadcastQueries: Int =
    sys.props.get(MaxBroadcastQueriesProp).map(_.toInt).getOrElse(1000000)

  /** An (id → vec) table pinned to one partitioner and persisted, for
    * repeated NARROW vector lookups without re-shuffling the n-row table
    * (used by search rounds and by the build's reverse-merge slices —
    * the round-12 measured fix; see object doc). Caller owns release(). */
  final class PinnedVecs private[graph] (
      private[graft] val rdd: org.apache.spark.rdd.RDD[(Long, Array[Float])],
      private[graft] val part: org.apache.spark.HashPartitioner) {
    def release(): Unit = rdd.unpersist(blocking = false)
  }

  /** Rows per pinned partition: enough that a partition's hash-map build
    * and scoring sweep dominate its task overhead, small enough that the
    * conf cap engages long before memory pressure (100k × 200d floats ≈
    * 80 MB per partition). */
  private[graft] val PinRowsPerPartition = 100000L

  /** Size-derived partition count: ceil(rows / [[PinRowsPerPartition]])
    * capped at the session's shuffle-partition conf (min 1) — shared by
    * every size-derived RDD partitioner (pinVectors, the dist builder's
    * BFS pin) so the two cannot drift (ADVICE r13). */
  private[graft] def sizedPartitions(rows: Long, confParts: Int): Int =
    math.max(1L, math.min(confParts.toLong,
      (rows + PinRowsPerPartition - 1) / PinRowsPerPartition)).toInt

  /** Pin a vector table for reuse (see [[PinnedVecs]]); eager. Partition
    * count is derived from the TABLE SIZE (one extra count job), capped at
    * the session's shuffle-partition conf — a conf-sized constant
    * scheduled conf empty tasks per round on small graphs (RDD stages get
    * no AQE coalescing), while the cap keeps cluster-scale pins at the
    * configured parallelism. */
  def pinVectors(vectors: DataFrame): PinnedVecs = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val ds = vectors.select(col("id").cast("long"), col("vec"))
      .as[(Long, Array[Float])]
    val rows = ds.count()
    val confParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val part = new org.apache.spark.HashPartitioner(
      sizedPartitions(rows, confParts))
    val vecRdd = ds.rdd
      .partitionBy(part)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    vecRdd.count()
    new PinnedVecs(vecRdd, part)
  }

  /** Narrow keyed vector lookup against a pin: routes the skinny
    * (id, payload) rows to the pin's layout (one small shuffle), then
    * hash-joins each partition against its resident vector slice — the
    * n-row table never re-shuffles. Rows whose id has no vector are
    * dropped (the inner-join semantic every caller had). */
  private[graft] def lookupVec[T](
      rdd: org.apache.spark.rdd.RDD[(Long, T)], vp: PinnedVecs)(
      implicit ct: scala.reflect.ClassTag[T])
      : org.apache.spark.rdd.RDD[(Long, T, Array[Float])] =
    rdd.partitionBy(vp.part)
      .zipPartitions(vp.rdd, preservesPartitioning = false) { (eit, vit) =>
        val vecs = new java.util.HashMap[Long, Array[Float]]()
        vit.foreach { case (id, v) => vecs.put(id, v) }
        eit.flatMap { case (k, t) =>
          val v = vecs.get(k)
          if (v == null) Iterator.empty else Iterator.single((k, t, v))
        }
      }

  /** A graph+vector pair pinned to one partitioner and persisted — build
    * it ONCE with [[pin]] when many search() calls share the same
    * (adj, vectors) (the phase-2 batch loop runs hundreds of searches
    * over one frozen snapshot; re-pinning per call re-shuffles the n-row
    * vector table every batch). The caller owns release(). */
  final class Pinned private[BspBeamSearch] (
      private[graph] val adjRdd: org.apache.spark.rdd.RDD[(Long, Array[Long])],
      private[graft] val vecs: PinnedVecs) {
    private[graph] def vecRdd = vecs.rdd
    private[graph] def part = vecs.part
    def release(): Unit = {
      adjRdd.unpersist(blocking = false)
      vecs.release()
    }
    /** Release only the adjacency half — for pins built with
      * [[pinAdjOnto]] over a LONGER-LIVED shared vector pin (the repair
      * loop's per-round pin: adjacency changes between rounds, vectors
      * never do). */
    def releaseAdj(): Unit = adjRdd.unpersist(blocking = false)
  }

  /** Pin `adj` + `vectors` for reuse across search() calls (see
    * [[Pinned]]). Materializes both eagerly so the first search pays no
    * hidden pin cost. The DataFrames passed to search() alongside this
    * handle MUST be the same tables. */
  def pin(adj: DataFrame, vectors: DataFrame): Pinned =
    pinAdjOnto(adj, pinVectors(vectors))

  /** Pin an adjacency onto an existing vector pin's layout; eager.
    * Release via [[Pinned.releaseAdj]] when `vp` outlives this pin
    * (e.g. the repair loop's shared vector pin), [[Pinned.release]]
    * when it does not. */
  def pinAdjOnto(adj: DataFrame, vp: PinnedVecs): Pinned = {
    val spark = adj.sparkSession
    import spark.implicits._
    val adjRdd = adj
      .select(col("src").cast("long"), col("nbrs").cast("array<long>"))
      .as[(Long, Array[Long])].rdd
      .partitionBy(vp.part)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    adjRdd.count()
    new Pinned(adjRdd, vp)
  }

  /** Deterministic shared entry seeds — the `s` node ids with smallest
    * (xxhash64(id), id): uniform over the id universe regardless of
    * layout or partitioning. The BSP analogue of the broadcast kernel's
    * per-query random seeds (RoarGraphBuilder.seedsFor): seed DIVERSITY is
    * what rescues navigability on clustered corpora where a single global
    * entry point strands the beam in one region; a shared set keeps the
    * driver-side state a bounded id list (the same scalar class as the
    * entry point itself). */
  def pickSeeds(nodes: DataFrame, s: Int, idCol: String = "src"): Seq[Long] =
    nodes.select(col(idCol).cast("long").as("id"))
      .orderBy(xxhash64(col("id")), col("id")).limit(s)
      .collect().map(_.getLong(0)).toSeq

  /** @param adj      [src: long, nbrs: array<long>]
    * @param vectors  [id: long, vec: array<float>]
    * @param queries  [id: long, vec: array<float>]
    * @param ep       entry-point node id (external)
    * @param frontierWidth beams expand this many pool entries per round
    * @param excludeSelf  build-time self-search mode (Q4 semantics,
    *                     src/index_bipartite.cpp:1330): a query whose id
    *                     matches a candidate node never pools itself
    * @param extraSeeds   additional entry nodes seeded into every pool
    *                     (see [[pickSeeds]]); Nil preserves single-ep
    *                     behavior
    * @return [query_id, ids: array<long>, dists: array<double>] top-k
    */
  def search(adj: DataFrame, vectors: DataFrame, queries: DataFrame,
             k: Int, l: Int, ep: Long, metric: Metric,
             frontierWidth: Int = 4, maxRounds: Int = 64,
             excludeSelf: Boolean = false,
             extraSeeds: Seq[Long] = Nil,
             scope: CpScope = null,
             pinned: Option[Pinned] = None,
             sharedVecs: Option[PinnedVecs] = None): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    require(!metric.needNormalize,
      "BSP search expects pre-normalized inputs for cosine (normalize-then-IP)")

    val qvecs = queries.select(col("id").cast("long").as("qid"), col("vec").as("qvec"))

    // Pin the big sides to one partitioner for the whole search: every
    // round's joins against them are then NARROW (zero re-shuffle of the
    // n-row tables — the round-12 measured fix; see object doc). persist
    // MEMORY_AND_DISK: at 10M×200d the vector side is ~8 GB — storage
    // overflow spills, it is never recomputed. A caller-supplied Pinned
    // handle shares one pin across many searches (phase-2 batches).
    // Ownership: a caller-supplied Pinned is released by the caller; with
    // only sharedVecs (the repair loop: adjacency CHANGES between rounds
    // but vectors never do) this call pins and releases the adj half and
    // leaves the shared vector half alone.
    val ownPin = pinned.isEmpty
    val ownVecs = pinned.isEmpty && sharedVecs.isEmpty
    val thePin = pinned.getOrElse(
      pinAdjOnto(adj, sharedVecs.getOrElse(pinVectors(vectors))))
    val part = thePin.part
    val adjRdd = thePin.adjRdd
    val vecRdd = thePin.vecRdd

    // Query vectors broadcast once: |slice| × dim, bounded by the caller
    // (phase-2 batching / eval-set size / repair's RepairQueryBatch
    // slices) — the same declared broadcast class as KnnJoin's query
    // blocks. Scoring then happens at the CANDIDATE vector's partition
    // and only (qid, nbr, dist) ships. The caller contract is ENFORCED
    // (ADVICE r12) by a require on the collected count: a forgotten
    // batch bound fails loudly instead of a mystery OOM downstream.
    // Deliberately checked AFTER one full-parallel collect, not via
    // limit(cap+1): CollectLimitExec scans partitions in serialized
    // incremental waves (1,4,16,…), and phase-2 query slices are
    // filtered scans of the full n-row base — MEASURED at the 10M
    // build, the limit form cost ~+3 min per ~2 min batch.
    val qvBc = spark.sparkContext.broadcast {
      val cap = MaxBroadcastQueries
      val rows = qvecs.as[(Long, Array[Float])].collect()
      require(rows.length <= cap,
        s"BSP search: query slice (${rows.length} rows) exceeds the " +
          s"broadcast cap ($cap; -D$MaxBroadcastQueriesProp to raise) — " +
          "batch the caller (phase-2 batching / RepairQueryBatch slicing)")
      val m = new java.util.HashMap[Long, Array[Float]]()
      rows.foreach { case (id, v) => m.put(id, v) }
      m
    }

    def mergePool(pool: Array[Entry], cands: Iterator[(Long, Double)]): Array[Entry] = {
      val seen = new java.util.HashMap[Long, Entry]()
      pool.foreach(e => seen.put(e.id, e))
      cands.foreach { case (id, d) =>
        if (!seen.containsKey(id)) seen.put(id, Entry(d, id, expanded = false))
      }
      val arr = new Array[Entry](seen.size)
      val it = seen.values().iterator()
      var i = 0
      while (it.hasNext) { arr(i) = it.next(); i += 1 }
      arr.sorted(Entry.ordering).take(l)
    }

    // ---- init: every pool = {ep} ∪ extraSeeds (seed vectors are a
    // bounded driver-side list, the same scalar class as epVec) ----
    val seedIds = (ep +: extraSeeds).distinct
    val seedVecs = vectors.filter(col("id").isin(seedIds: _*))
      .select(col("id").cast("long"), col("vec"))
      .as[(Long, Array[Float])].collect().toMap
    require(seedVecs.contains(ep), s"entry point $ep not in vectors")
    val seeds: Array[(Long, Array[Float])] =
      seedIds.flatMap(id => seedVecs.get(id).map(v => (id, v))).toArray
    // State rows are (qid, pool) ONLY — the query vector already rides
    // the broadcast, so shipping it through every round's merge was pure
    // payload on the skinny path (the same move-ids-not-payloads rule the
    // round dataflow itself follows). State is pinned to its own qid
    // partitioner once; each round's merge is then a NARROW cogroup —
    // only the (qid, nbr, dist) candidate triples shuffle per round,
    // not the pools (2 exchanges/round → 1). Partition count scales with
    // the query slice (RDD stages get no AQE coalescing, so a conf-sized
    // constant schedules empty tasks every round on small slices; ~1k
    // pools of l entries per partition is comfortably task-sized).
    val qPart = new org.apache.spark.HashPartitioner(
      math.max(1, math.min(part.numPartitions, qvBc.value.size / 1024 + 1)))
    var state: org.apache.spark.rdd.RDD[(Long, Array[Entry])] = qvecs
      .as[(Long, Array[Float])].rdd
      .map { case (qid, qv) =>
        val pool = seeds.map { case (id, v) =>
          Entry(metric.dist(qv, v), id, expanded = false)
        }.sorted(Entry.ordering).take(l)
        (qid, pool)
      }
      .partitionBy(qPart)
    // Rolling checkpoint: round N's state is the only live reader of round
    // N-1's blocks, so once N materializes N-1 is freed — heap holds ONE
    // round of state, not O(rounds). localCheckpoint (not PlanUtil.cut:
    // re-wrapping would erase the partitioner that keeps the merge narrow)
    // truncates lineage so an unpersisted prior round is never a
    // recompute dependency. The final round's release goes to `scope`
    // (the caller frees it after consuming the returned DF) or is leaked
    // session-lifetime when no scope is given.
    def materialize(s: org.apache.spark.rdd.RDD[(Long, Array[Entry])]): Unit = {
      s.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      s.localCheckpoint()
      s.count()
    }
    materialize(state)
    var releasePrev: () => Unit = { val s0 = state; () => s0.unpersist(blocking = false) }

    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      // frontier: best `frontierWidth` unexpanded entries per query —
      // skinny (node, qid) id pairs routed to the pinned adjacency layout
      val frontierRdd = state.flatMap { case (qid, pool) =>
        pool.iterator.filter(!_.expanded).take(frontierWidth)
          .map(e => (e.id, qid))
      }.partitionBy(part)

      // candidate gathering: narrow join with the pinned adjacency →
      // (nbr, qid) id pairs (ONE skinny shuffle) → per-partition dedup
      // (all copies of a (nbr, qid) pair co-locate under the nbr key; the
      // original global distinct() existed to avoid shipping duplicate
      // VECTOR rows — with id-only rows it collapses to this) → narrow
      // zip with the pinned vector partition, scoring against the
      // broadcast query vector where the candidate vector lives
      val exSelf = excludeSelf
      val mtr = metric
      val scoredRdd = frontierRdd.join(adjRdd)
        .flatMap { case (_, (qid, nbrs)) =>
          nbrs.iterator.filter(n => !exSelf || n != qid).map(n => (n, qid))
        }
        .partitionBy(part)
        .zipPartitions(vecRdd, preservesPartitioning = false) { (pit, vit) =>
          val qv = qvBc.value
          val vecs = new java.util.HashMap[Long, Array[Float]]()
          vit.foreach { case (id, v) => vecs.put(id, v) }
          val seen = new java.util.HashSet[(Long, Long)]()
          pit.flatMap { case (nbr, qid) =>
            if (!seen.add((nbr, qid))) Iterator.empty
            else {
              val v = vecs.get(nbr)
              if (v == null) Iterator.empty // dangling edge: no such node
              else Iterator.single((qid, nbr, mtr.dist(qv.get(qid), v)))
            }
          }
        }

      // per-query merge: mark this round's frontier expanded, fold in cands.
      // Both cogroup sides sit on qPart (state never left it; cands pay
      // the round's ONE qid-keyed shuffle), so the merge itself is narrow.
      // Merge order over cands is irrelevant: per-partition dedup already
      // made (qid, nbr) globally unique (all copies co-locate under the
      // nbr key), and pool entries take precedence by insertion order.
      // Convergence is observed via an accumulator populated by the SAME
      // job that materializes the round — no second driver action per
      // round. Task retries can only over-count, and the test is `== 0`,
      // so the check stays exact.
      val fw = frontierWidth
      val unexpandedAcc = spark.sparkContext.longAccumulator(s"bsp_unexpanded_r$round")
      val candsByQ = scoredRdd
        .map { case (qid, nbr, d) => (qid, (nbr, d)) }
        .partitionBy(qPart)
      val next = state.cogroup(candsByQ, qPart)
        .flatMapValues { case (sts, cs) =>
          sts.iterator.map { pool =>
            var budget = fw
            val marked = pool.map { e =>
              if (!e.expanded && budget > 0) { budget -= 1; e.copy(expanded = true) }
              else e
            }
            val merged = mergePool(marked, cs.iterator)
            if (merged.exists(!_.expanded)) unexpandedAcc.add(1)
            merged
          }
        }
      materialize(next) // then free round N-1
      state = next
      releasePrev()
      releasePrev = { val sN = next; () => sN.unpersist(blocking = false) }

      done = unexpandedAcc.value == 0
      round += 1
    }
    // the final round's state is materialized (cut is eager), so the
    // pin (the halves owned by this call) and the query broadcast are
    // dead — freed here, not at scope release (search-internal)
    if (ownPin) {
      thePin.adjRdd.unpersist(blocking = false)
      if (ownVecs) thePin.vecs.release()
    }
    qvBc.destroy()
    if (scope ne null) scope.add(releasePrev)

    spark.createDataset(state.map { case (qid, pool) =>
      val top = (if (excludeSelf) pool.filter(_.id != qid) else pool).take(k)
      (qid, top.map(_.id), top.map(_.dist))
    }).toDF("query_id", "ids", "dists")
  }
}
