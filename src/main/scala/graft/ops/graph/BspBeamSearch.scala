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
  *
  * On a one-partition pin a round runs inside the task with no exchange,
  * up to eight rounds per Spark job; over a multi-partition pin each
  * round is one job (see [[search]]). The one-job-per-round loop over
  * the exchanges is the spec oracle `BspOracle`, equal in ids and dist
  * bits.
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
    * RepairQueryBatch). */
  private val MaxBroadcastQueries = 1000000

  /** Search rounds run per Spark job on a one-partition pin (see
    * `search`): one job, and one checkpoint, per this many rounds. */
  private val RoundsPerJob = 8

  /** An (id → vec) table pinned to one partitioner and persisted, for
    * repeated NARROW vector lookups without re-shuffling the n-row table
    * (used by search rounds and by the build's reverse-merge slices —
    * the round-12 measured fix; see object doc). Caller owns release(). */
  final class PinnedVecs private[graft] (
      private[graft] val rdd: org.apache.spark.rdd.RDD[(Long, Array[Float])],
      private[graft] val part: org.apache.spark.HashPartitioner) {
    def release(): Unit = rdd.unpersist(blocking = false)
  }

  /** Rows per pinned partition: enough that a partition's hash-map build
    * and scoring sweep dominate its task overhead, small enough that the
    * conf cap engages long before memory pressure (100k × 200d floats ≈
    * 80 MB per partition). */
  private val PinRowsPerPartition = 100000L

  /** Pin a vector table for reuse (see [[PinnedVecs]]). Partition count
    * is ceil(rows / [[PinRowsPerPartition]]) (one count job, the pin's
    * only job), capped at the session's shuffle-partition conf (min 1) — a
    * conf-sized constant scheduled conf empty tasks per round on small
    * graphs (RDD stages get no AQE coalescing), while the cap keeps
    * cluster-scale pins at the configured parallelism. Lazy: the first job
    * that reads the pin shuffles the table into place and fills the
    * cache. */
  def pinVectors(vectors: DataFrame): PinnedVecs = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val ds = vectors.select(col("id").cast("long"), col("vec"))
      .as[(Long, Array[Float])]
    val confParts = spark.conf.get("spark.sql.shuffle.partitions").toLong
    val part = new org.apache.spark.HashPartitioner(math.max(1L, math.min(confParts,
      (ds.count() + PinRowsPerPartition - 1) / PinRowsPerPartition)).toInt)
    new PinnedVecs(
      ds.rdd.partitionBy(part)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      part)
  }

  /** Narrow keyed vector lookup against a pin: routes the skinny
    * (id, payload) rows to the pin's layout (one small shuffle, none when
    * `rdd` already sits on the pin's partitioner), then hash-joins each
    * partition against its resident vector slice — the n-row table never
    * re-shuffles. Rows keep their order within a partition; rows whose
    * id has no vector are dropped (the inner-join semantic every caller
    * had). The output stays on the pin's
    * partitioner, keyed by the looked-up id, so a per-id step after it
    * (`combineByKey` or `cogroup` on `vp.part`) needs no shuffle. */
  private[graft] def lookupVec[T](
      rdd: org.apache.spark.rdd.RDD[(Long, T)], vp: PinnedVecs)(
      implicit ct: scala.reflect.ClassTag[T])
      : org.apache.spark.rdd.RDD[(Long, T, Array[Float])] =
    rdd.partitionBy(vp.part)
      .zipPartitions(vp.rdd, preservesPartitioning = true) { (eit, vit) =>
        val vecs = new java.util.HashMap[Long, Array[Float]]()
        vit.foreach { case (id, v) => vecs.put(id, v) }
        eit.flatMap { case (k, t) =>
          val v = vecs.get(k)
          if (v == null) Iterator.empty else Iterator.single((k, t, v))
        }
      }

  /** A graph+vector pair on one partitioner — build it ONCE when many
    * searches share the same (adj, vectors) (the phase-2 batch loop runs
    * hundreds of [[searchPinned]] calls over one frozen snapshot;
    * re-pinning per call re-shuffles the n-row vector table every batch).
    * The caller owns the release. */
  final class Pinned private[BspBeamSearch] (
      private[graft] val adjRdd: org.apache.spark.rdd.RDD[(Long, Array[Long])],
      private[graft] val vecs: PinnedVecs,
      ownsAdj: Boolean = true) {
    private[graft] def vecRdd = vecs.rdd
    private[graft] def part = vecs.part
    /** Frees the vector pin, and the adjacency when this pin holds its
      * own copy of it. */
    def release(): Unit = {
      if (ownsAdj) adjRdd.unpersist(blocking = false)
      vecs.release()
    }
  }

  /** Pin `adj` + `vectors` (see [[Pinned]]). */
  def pin(adj: DataFrame, vectors: DataFrame): Pinned =
    pinAdjOnto(adj, pinVectors(vectors))

  /** Pin an adjacency onto an existing vector pin's layout. Lazy, like
    * the vector pin: its first reader fills the cache. [[Pinned.release]]
    * frees both. */
  def pinAdjOnto(adj: DataFrame, vp: PinnedVecs): Pinned = {
    val spark = adj.sparkSession
    import spark.implicits._
    pinAdjRddOnto(
      adj.select(col("src").cast("long"), col("nbrs").cast("array<long>"))
        .as[(Long, Array[Long])].rdd, vp)
  }

  /** [[pinAdjOnto]] for an adjacency RDD. One already on the vector pin's
    * partitioner (a persisted build step) is the pin as it is: no shuffle
    * and no second copy; its blocks stay their owner's to release, and so
    * does the vector pin, which the distributed build shares across its
    * steps. */
  private[graft] def pinAdjRddOnto(adj: org.apache.spark.rdd.RDD[(Long, Array[Long])],
                                   vp: PinnedVecs): Pinned =
    if (adj.partitioner.contains(vp.part)) new Pinned(adj, vp, ownsAdj = false)
    else new Pinned(adj.partitionBy(vp.part)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK), vp)

  /** Deterministic shared entry seeds — the `s` node ids with smallest
    * (xxhash64(id), id): uniform over the id universe regardless of
    * layout or partitioning. The BSP analogue of the broadcast kernel's
    * per-query random seeds (RoarGraphBuilder.seedsFor): seed DIVERSITY is
    * what rescues navigability on clustered corpora where a single global
    * entry point strands the beam in one region; a shared set keeps the
    * driver-side state a bounded id list (the same scalar class as the
    * entry point itself). */
  def pickSeeds(nodes: DataFrame, s: Int, idCol: String = "src"): Seq[Long] = {
    import nodes.sparkSession.implicits._
    pickSeedIds(nodes.select(col(idCol).cast("long")).as[Long].rdd, s)
  }

  /** [[pickSeeds]] over an id RDD, in one `takeOrdered` job.
    * `XXH64.hashLong(id, 42)` is Spark's `xxhash64` of a long column. */
  private[graft] def pickSeedIds(ids: org.apache.spark.rdd.RDD[Long], s: Int): Seq[Long] =
    ids.takeOrdered(s)(Ordering.by((id: Long) =>
      (org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(id, 42L), id))).toSeq

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
    * @param scope    takes the release of the final round's persisted
    *                 state; the caller releases it after consuming the
    *                 returned DataFrame
    * @return [query_id, ids: array<long>, dists: array<double>] top-k
    */
  def search(adj: DataFrame, vectors: DataFrame, queries: DataFrame,
             k: Int, l: Int, ep: Long, metric: Metric,
             frontierWidth: Int = 4, maxRounds: Int = 64,
             excludeSelf: Boolean = false,
             extraSeeds: Seq[Long] = Nil,
             scope: CpScope): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    require(!metric.needNormalize,
      "BSP search expects pre-normalized inputs for cosine (normalize-then-IP)")

    // Pin the big sides to one partitioner for the whole search: every
    // round's joins against them are then NARROW (zero re-shuffle of the
    // n-row tables — the round-12 measured fix; see object doc). persist
    // MEMORY_AND_DISK: at 10M×200d the vector side is ~8 GB — storage
    // overflow spills, it is never recomputed. This call owns its pin and
    // releases it once its final state is materialized; callers that
    // share one pin across many searches use [[searchPinned]].
    val thePin = pin(adj, vectors)
    // every pool starts as {ep} ∪ extraSeeds (seed vectors are a bounded
    // driver-side list, the same scalar class as epVec)
    val seedIds = (ep +: extraSeeds).distinct
    val seedVecs = vectors.filter(col("id").isin(seedIds: _*))
      .select(col("id").cast("long"), col("vec"))
      .as[(Long, Array[Float])].collect().toMap
    val out = rounds(thePin,
      queries.select(col("id").cast("long"), col("vec")).as[(Long, Array[Float])].rdd,
      k, l, ep, seedIds, seedVecs, metric, frontierWidth, maxRounds, excludeSelf, scope)
    // the final round's state is materialized (cut is eager), so the pin
    // is dead — freed here, not at scope release (search-internal)
    thePin.release()
    spark.createDataset(out).toDF("query_id", "ids", "dists")
  }

  /** [[search]] over a caller-owned pin, in RDD form: `queries` are
    * (id, vec) rows, the seeds' vectors come from the pin, and the result
    * is (query_id, ids, dists) rows. The final state's release goes to
    * `scope`; the pin stays the caller's. The distributed build's phase-2
    * batches and repair slices share one pin through this, with no
    * DataFrame plan between their steps. */
  private[graft] def searchPinned(pin: Pinned,
                                  queries: org.apache.spark.rdd.RDD[(Long, Array[Float])],
                                  k: Int, l: Int, ep: Long, metric: Metric,
                                  frontierWidth: Int, maxRounds: Int,
                                  excludeSelf: Boolean, extraSeeds: Seq[Long],
                                  scope: CpScope)
      : org.apache.spark.rdd.RDD[(Long, Array[Long], Array[Double])] = {
    require(!metric.needNormalize,
      "BSP search expects pre-normalized inputs for cosine (normalize-then-IP)")
    val seedIds = (ep +: extraSeeds).distinct
    val wanted = seedIds.toSet
    val seedVecs = pin.vecRdd.filter(kv => wanted.contains(kv._1)).collect().toMap
    rounds(pin, queries, k, l, ep, seedIds, seedVecs, metric, frontierWidth,
      maxRounds, excludeSelf, scope)
  }

  /** The round loop of [[search]] and [[searchPinned]]. */
  private def rounds(thePin: Pinned,
                     queries: org.apache.spark.rdd.RDD[(Long, Array[Float])],
                     k: Int, l: Int, ep: Long, seedIds: Seq[Long],
                     seedVecs: Map[Long, Array[Float]], metric: Metric,
                     frontierWidth: Int, maxRounds: Int, excludeSelf: Boolean,
                     scope: CpScope)
      : org.apache.spark.rdd.RDD[(Long, Array[Long], Array[Double])] = {
    val sc = queries.sparkContext
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
    val qvBc = sc.broadcast {
      val rows = queries.collect()
      require(rows.length <= MaxBroadcastQueries,
        s"BSP search: query slice (${rows.length} rows) exceeds the " +
          s"broadcast cap ($MaxBroadcastQueries) — " +
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
    var state: org.apache.spark.rdd.RDD[(Long, Array[Entry])] = queries
      .map { case (qid, qv) =>
        val pool = seeds.map { case (id, v) =>
          Entry(metric.dist(qv, v), id, expanded = false)
        }.sorted(Entry.ordering).take(l)
        (qid, pool)
      }
      .partitionBy(qPart)
    // Rolling checkpoint: each job ends in one state that is persisted,
    // checkpointed and counted, and it is the only live reader of the
    // previous job's state, which is then freed — heap holds two states,
    // not O(rounds). localCheckpoint (not PlanUtil.cut: re-wrapping would
    // erase the partitioner that keeps the merge narrow) truncates
    // lineage so a freed state is never a recompute dependency. The
    // initial state is persisted and materialized by the first job. Each
    // state is released exactly once; the final one's release goes to
    // `scope`, which the caller frees after consuming the returned DF.
    state.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // One round of one pool, shared by both round shapes below: its
    // frontier is the best `frontierWidth` unexpanded entries, and
    // `advance` marks exactly those expanded and merges the scored
    // neighbors in. `unexpanded` counts the pools left with an unexpanded
    // entry; task retries can only over-count it, and the test is `== 0`,
    // so the convergence check stays exact.
    val fw = frontierWidth
    val exSelf = excludeSelf
    val mtr = metric
    def frontierOf(pool: Array[Entry]): Iterator[Long] =
      pool.iterator.filter(!_.expanded).take(fw).map(_.id)
    def advance(pool: Array[Entry], cands: Iterator[(Long, Double)],
                unexpanded: org.apache.spark.util.LongAccumulator): Array[Entry] = {
      var budget = fw
      val marked = pool.map { e =>
        if (!e.expanded && budget > 0) { budget -= 1; e.copy(expanded = true) }
        else e
      }
      val merged = mergePool(marked, cands)
      if (merged.exists(!_.expanded)) unexpanded.add(1)
      merged
    }

    // A round over the distributed layout: frontier ids go to their
    // adjacency, neighbor ids to their vectors, and scored candidates to
    // their query's pool (three id-only exchanges).
    def distributedRound(state: org.apache.spark.rdd.RDD[(Long, Array[Entry])],
                         unexpanded: org.apache.spark.util.LongAccumulator)
        : org.apache.spark.rdd.RDD[(Long, Array[Entry])] = {
      // frontier: skinny (node, qid) id pairs routed to the pinned
      // adjacency layout
      val frontierRdd = state.flatMap { case (qid, pool) =>
        frontierOf(pool).map(id => (id, qid))
      }.partitionBy(part)

      // candidate gathering: narrow join with the pinned adjacency →
      // (nbr, qid) id pairs (ONE skinny shuffle) → per-partition dedup
      // (all copies of a (nbr, qid) pair co-locate under the nbr key; the
      // original global distinct() existed to avoid shipping duplicate
      // VECTOR rows — with id-only rows it collapses to this) → narrow
      // zip with the pinned vector partition, scoring against the
      // broadcast query vector where the candidate vector lives
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

      // per-query merge: both cogroup sides sit on qPart (state never
      // left it; cands pay the round's ONE qid-keyed shuffle), so the
      // merge itself is narrow. Merge order over cands is irrelevant:
      // per-partition dedup already made (qid, nbr) globally unique (all
      // copies co-locate under the nbr key), and pool entries take
      // precedence by insertion order.
      val candsByQ = scoredRdd
        .map { case (qid, nbr, d) => (qid, (nbr, d)) }
        .partitionBy(qPart)
      state.cogroup(candsByQ, qPart)
        .flatMapValues { case (sts, cs) =>
          sts.iterator.map(advance(_, cs.iterator, unexpanded))
        }
    }

    // The same round when the pin is ONE partition (so is the state):
    // the adjacency, the vectors and every pool share the task, so the
    // round runs in it with no exchange and reads its state once, and a
    // job's rounds pipeline through one task pool by pool with no state
    // stored between them. Per pool it gathers the same (nbr,
    // qid)-deduplicated candidates with the same scores, so the pools
    // are those of the distributed round.
    def localRound(state: org.apache.spark.rdd.RDD[(Long, Array[Entry])],
                   unexpanded: org.apache.spark.util.LongAccumulator)
        : org.apache.spark.rdd.RDD[(Long, Array[Entry])] =
      state.zipPartitions(adjRdd, vecRdd, preservesPartitioning = true) { (sit, ait, vit) =>
        val qv = qvBc.value
        val nbrsOf = new java.util.HashMap[Long, Array[Long]]()
        ait.foreach { case (src, nbrs) =>
          val prev = nbrsOf.get(src)
          nbrsOf.put(src, if (prev == null) nbrs else prev ++ nbrs)
        }
        val vecs = new java.util.HashMap[Long, Array[Float]]()
        vit.foreach { case (id, v) => vecs.put(id, v) }
        sit.map { case (qid, pool) =>
          val q = qv.get(qid)
          val seen = new java.util.HashSet[Long]()
          val cands = frontierOf(pool).flatMap { node =>
            val nbrs = nbrsOf.get(node)
            if (nbrs == null) Iterator.empty else nbrs.iterator
          }.filter(n => (!exSelf || n != qid) && seen.add(n)).flatMap { n =>
            val v = vecs.get(n)
            if (v == null) Iterator.empty else Iterator.single((n, mtr.dist(q, v)))
          }
          (qid, advance(pool, cands, unexpanded))
        }
      }

    // Rounds per job: a one-partition pin chains up to RoundsPerJob local
    // rounds in one task. A distributed round reads its state twice
    // (frontier and merge) and runs three exchanges, so it keeps one job
    // per round: a round run past convergence would cost three stages,
    // and a job would hold every round's state and shuffles at once.
    // A round after convergence has an empty frontier and leaves every
    // (sorted, deduplicated) pool as it is, so the rounds a job runs past
    // convergence do not change the final state; the job sizes stop at
    // maxRounds exactly.
    val local = part.numPartitions == 1
    val perJob = if (local) RoundsPerJob else 1
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      val n = math.min(perJob, maxRounds - round)
      val accs = (0 until n).map(i =>
        sc.longAccumulator(s"bsp_unexpanded_r${round + i}"))
      val next = accs.foldLeft(state) { (st, acc) =>
        if (local) localRound(st, acc) else distributedRound(st, acc)
      }
      next.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      next.localCheckpoint()
      next.count()
      state.unpersist(blocking = false)
      state = next
      val converged = accs.indexWhere(_.value == 0)
      done = converged >= 0
      round += (if (done) converged + 1 else n)
    }
    // the final round's state is materialized (cut is eager), so the
    // query broadcast is dead
    qvBc.destroy()
    val last = state
    scope.add(() => last.unpersist(blocking = false))
    state.map { case (qid, pool) =>
      val top = (if (excludeSelf) pool.filter(_.id != qid) else pool).take(k)
      (qid, top.map(_.id), top.map(_.dist))
    }
  }
}
