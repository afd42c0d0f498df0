package graft.build

import graft.core.{BuildParams, Metric, Neighbor, NeighborVec}
import graft.functions.{TopKAggregator, VectorFunctions}
import graft.ops.KnnJoin
import graft.ops.graph.{BspBeamSearch, CpScope, OcclusionPrune, PlanUtil}
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

/** A RoarGraph index in distributed (DataFrame) form — the build product
  * of [[DistRoarGraphBuilder]]: adjacency stays a table, like the
  * reference's on-disk SaveProjectionGraph output
  * (src/index_bipartite.cpp:2606-2619) rather than its in-RAM working set.
  *
  * @param adj    [src: long, nbrs: array<long>], neighbor order meaningful
  * @param ep     entry-point node id (external)
  * @param metric build metric (vectors were normalized during the build if
  *               cosine)
  * @param degreeCap the build-time out-degree bound (3·M_pjbp: m projection
  *               + ≤2m novel supply, reference's reserve sizing,
  *               src/index_bipartite.cpp:1136-1140). Carried so a serving
  *               session attaching a persisted layout can report/enforce
  *               the TRUE cap instead of recomputing one from its own
  *               (unrelated) parameters. None for ad-hoc adjacency views
  *               with no build contract.
  */
final case class DistIndex(adj: DataFrame, ep: Long, metric: Metric,
                           degreeCap: Option[Int] = None)

/** Fully distributed RoarGraph construction — the beyond-broadcast-size
  * path for SURVEY.md §2.4 G1-G12 (reference LinkProjection,
  * src/index_bipartite.cpp:1043-1277). Unlike [[RoarGraphBuilder]] (the
  * fits-in-RAM fast path, mirroring the reference's own shared-memory
  * model), NO phase here materializes vectors or adjacency on the driver
  * or in a broadcast: the only driver-side values are scalar aggregates
  * (the dim-length centroid, the entry-point id, per-round convergence
  * flags).
  *
  * One pinned layout per build (the analogue of the reference's one
  * in-RAM base store, include/efanna2e/index.h:59-63): the build pins its
  * base vectors once, lazily, to one `HashPartitioner` (`VecPin`), and
  * every step after the kNN input is an RDD pipeline on that partitioner,
  * with no DataFrame plan between steps:
  *
  *   - phase 1 (G3/G7): kNN lists → (pivot, cand) edges, deduplicated where
  *     their copies meet → the candidate's and the pivot's vectors by two
  *     narrow pin lookups → a bounded per-pivot top-capC in the
  *     [[graft.core.Neighbor]] order (`combineByKey` with the
  *     [[TopKAggregator]] fold, so a hub pivot cannot blow up its group) →
  *     occlusion prune;
  *   - phase 1b/1c (G8/G5): the reverse merge — forward lists with their
  *     neighbors' vectors, and bounded top-capRev reverse candidates scored
  *     where they land, meet the node's own vector in ONE `cogroup` on the
  *     pin's partitioner, then a deterministic merge + overflow re-prune
  *     (the keyed replacement for the reference's per-node locks,
  *     include/index_bipartite.h:166);
  *   - phase 2 (G6/G9/Q4): every base node beam-searches for itself via
  *     the BSP frontier kernel over the frozen phase-1 graph, whose
  *     adjacency pin IS the projection step (no shuffle); each node's
  *     search pool gets its vectors by a pin lookup and is pruned; the
  *     supply reverse merge is capped at 2m (G12), and one narrow `cogroup`
  *     adds ≤ 2m novel supply edges to the projection (:1251-1269).
  *
  * Each step ends in one persisted, checkpointed RDD and one count job
  * ([[Cut]]; the checkpoint is reliable under a session checkpoint dir,
  * local otherwise), like BspBeamSearch's round states, and is released
  * exactly once, after its last reader is itself cut. Candidate groups
  * carry their vectors (NeighborVec) so occlusion pruning needs no global
  * vector store. Results are deterministic (every merge is (dist,
  * id)-ordered); each step equals its relational form (`DistBuildOracle`,
  * src/test) list for list, and recall is gated by DistRoarGraphSpec.
  *
  * Reachability repair (the scalable analogue of the reference's
  * CollectPoints, src/index_bipartite.cpp:2587-2604, and of
  * [[RoarGraphBuilder.repairReachability]]) runs as a distributed
  * post-pass when `BuildParams.repairReachability` is set (the default):
  * a distributed BFS from the entry point marks the reached component;
  * every unreached node then beam-searches (BSP — beams start at ep, so
  * every candidate they pool is reached BY CONSTRUCTION) for its nearest
  * reached nodes and receives in-edges from them. Iterated: once an
  * island's boundary members attach, the next round's beams can enter the
  * island through them, so islands drain geometrically. A source normally
  * absorbs repair edges only into its free degree room (cap 3m); when a
  * round stalls because every candidate source is saturated, the next
  * round lets sources trim their ORIGINAL edge tail (never a repair edge —
  * a repair edge is some node's only in-link) to make room, and because
  * trimming can in principle orphan a node whose only in-path ran through
  * the trimmed edge, any pass that trimmed is re-verified by a fresh BFS
  * (bounded outer passes) before repair reports done. When the bounded
  * beam rounds exit with residual orphans, the exact backstop
  * ([[exactBackstop]]) attaches the residue through one EXACT blocked kNN
  * join per pass, re-verifying by BFS after every attach. Only if its own
  * pass bound is hit does repair exit unconverged — and then it says so
  * loudly (a `[dist-build] WARNING` line) instead of returning silently.
  *
  * Repair runs on the same layout: each adjacency state ([[AdjState]]) is
  * a step on the pin's partitioner and is its own adjacency pin, the
  * unreached set is the vector pin zipped with the BFS's per-partition
  * reached arrays, a round's hits merge per source in one narrow
  * `cogroup` with the state, and the attached ids leave the unreached set
  * by a zip with it. A round's queries run as ceil(|unreached| /
  * RepairQueryBatch) hash slices of the unreached set.
  *
  * Job-count bound at scale: the BFS takes each partition to a local
  * fixpoint between exchanges and chains up to eight supersteps per job,
  * so its jobs scale with cross-partition hops / 8, not with depth, and
  * a graph that fits one partition is reached in one job; attach rounds
  * are bounded by RepairMaxRounds per pass and RepairMaxPasses passes.
  * Nodes with zero in-degree — which occlusion pruning and caps
  * routinely produce, and which NO search-time seeding can find — are
  * exactly what this pass fixes; without it the distributed tier
  * compensated with 20× beams at search time (SCALE.md round-4 soak).
  */
object DistRoarGraphBuilder {

  /** (src, nbrs) rows of one adjacency step. */
  private type Adj = RDD[(Long, Array[Long])]

  /** A repair round's merged state row: (src, (nbrs, origCnt, the
    * unreached ids it picked this round — the attached ids)). */
  private[graft] type Absorbed = (Long, (Array[Long], Int, Array[Long]))

  /** The end of one build step: `rdd` persisted, checkpointed and
    * counted (`rows`) in one job — the way BspBeamSearch's round states
    * end. The checkpoint is `PlanUtil.checkpointedRdd`'s: a reliable one
    * (one more job, writing its files) when the session has a checkpoint
    * dir, so a step survives executor loss, a local one otherwise. An RDD
    * checkpoint, not a DataFrame cut: the RDD keeps its partitioner, so
    * the next step's `cogroup` or zip on the pin's layout stays narrow.
    * Released exactly once, after every reader is itself cut. */
  private[graft] final class Cut[T](val rdd: RDD[T], val rows: Long) {
    def release(): Unit = rdd.unpersist(blocking = false)
  }

  private[graft] def cut[T](rdd: RDD[T]): Cut[T] = {
    val r = PlanUtil.checkpointedRdd(rdd)
    new Cut(r, r.count())
  }

  /** The slice of `id` among `n` id-hash slices: `pmod(xxhash64(id), n)`
    * as Spark computes it on a long column, so slice membership, and
    * every persisted `supply_b*` stage, is the relational slicing's. */
  private[graft] def sliceOf(id: Long, n: Int): Int =
    java.lang.Math.floorMod(XXH64.hashLong(id, 42L), n.toLong).toInt

  // checkpoint metadata resolves through the session's Hadoop FS (CpIO),
  // not java.io.File: stage data goes through Spark's Hadoop FS, so an
  // hdfs:// / s3a:// checkpointDir must probe the SAME filesystem or
  // resume would silently never trigger (ADVICE r11)
  private def hasSuccess(path: String)
      (implicit spark: org.apache.spark.sql.SparkSession): Boolean =
    graft.core.CpIO.exists(s"$path/_SUCCESS")

  /** Durable variant of [[cut]]: when a checkpoint dir is given, the
    * step's (src, nbrs) output is written as parquet under `dir/name` and
    * read back onto the pin's partitioner `part` as a fresh cut; a later
    * build pointed at the same dir skips the step's compute entirely
    * (`_SUCCESS` gate — a kill mid-write leaves no marker, so
    * overwrite-on-resume is safe). `adj` is by-name: on a checkpoint hit
    * the step is never even constructed. Without a dir this is the
    * in-session cut, unchanged. At 100 TB a build is days of cluster work;
    * this is what makes it PREEMPTIBLE — the same contract as Spark's own
    * reliable checkpoint, but name-addressed so an entirely new driver JVM
    * (a new cluster allocation) can resume. The read-back is cut into
    * block-manager storage, so a stage that later steps re-scan (the
    * phase-1 projection is read by every BSP round of every phase-2
    * batch) pays parquet deserialization once. */
  private def durableCut(dir: Option[String], name: String, part: => HashPartitioner)
                        (adj: => Adj)
                        (implicit spark: SparkSession): Cut[(Long, Array[Long])] =
    dir match {
      case None => cut(adj)
      case Some(d) =>
        import spark.implicits._
        val path = s"$d/$name"
        if (hasSuccess(path))
          println(s"[dist-build] $name: checkpoint hit ($path)")
        else
          spark.createDataset(adj).toDF("src", "nbrs").write.mode("overwrite").parquet(path)
        cut(spark.read.parquet(path).as[(Long, Array[Long])].rdd.partitionBy(part))
    }

  /** Refuse to resume a checkpoint dir written under different build knobs
    * — stale stage outputs would silently corrupt the index. The corpus /
    * train-set identity is the CALLER's contract (encode them in the dir
    * name, as ScaleSoak does); the knobs that change stage dataflow are
    * guarded here. */
  private def guardFingerprint(dir: String, fp: String)
      (implicit spark: org.apache.spark.sql.SparkSession): Unit =
    graft.core.CpIO.guardFingerprint(dir, fp)

  /** Cosine is lowered to normalize-then-IP exactly like the reference
    * (src/index_bipartite.cpp:176-182): every internal score uses this
    * metric over [[lowered]] vectors. */
  private def scoringMetric(metric: Metric): Metric =
    if (metric.needNormalize) Metric.InnerProduct else metric

  /** (id: long, vec) rows of `df`, L2-normalized when `metric` is cosine. */
  private def lowered(df: DataFrame, metric: Metric): DataFrame =
    df.select(col("id").cast("long"),
      if (!metric.needNormalize) col("vec")
      else transform(VectorFunctions.l2Normalize(col("vec")), _.cast("float"))
        .as("vec"))

  /** A build's one vector pin over its lowered base table: made by the
    * first phase that reads vectors (a phase whose checkpoint is a hit
    * reads none), shared by every later phase and repair state, and
    * released once. */
  private final class VecPin(baseN: DataFrame) {
    private var made: Option[BspBeamSearch.PinnedVecs] = None
    def get(): BspBeamSearch.PinnedVecs = {
      if (made.isEmpty) made = Some(BspBeamSearch.pinVectors(baseN))
      made.get
    }
    def release(): Unit = made.foreach(_.release())
  }

  /** The base centroid (G22, :2004-2041) in one `runJob`: each partition
    * sums its rows in double, in row order (as `VecMeanAggregator.reduce`
    * builds its buffer), and the driver merges the partition sums in
    * partition order — one job, and one value, on every run. A row of
    * another length fails with a named error. */
  private def centroidOf(baseN: DataFrame): Array[Float] = {
    import baseN.sparkSession.implicits._
    def addInto(sum: Array[Double], v: Int => Double, n: Int): Unit = {
      if (n != sum.length) throw new IllegalArgumentException(
        s"centroid: vector dimension mismatch (${sum.length} vs $n)")
      var i = 0
      while (i < n) { sum(i) += v(i); i += 1 }
    }
    val rows = baseN.select(col("vec")).as[Array[Float]].rdd
    val parts = rows.sparkContext.runJob(rows, (it: Iterator[Array[Float]]) => {
      var sum: Array[Double] = null
      var n = 0L
      it.foreach { v =>
        if (sum == null) sum = v.map(_.toDouble) else addInto(sum, v(_), v.length)
        n += 1
      }
      (sum, n)
    })
    var total: Array[Double] = null
    var n = 0L
    parts.foreach { case (sum, c) =>
      if (sum != null) {
        if (total == null) total = sum else addInto(total, sum(_), sum.length)
        n += c
      }
    }
    if (total == null) Array.empty else total.map(s => (s / n).toFloat)
  }

  /** Build. `base`/`queries` expose (id, vec: array<float>);
    * `precomputedKnn`, if given, is [query_id, knn: array<long>] of
    * EXTERNAL base ids sorted by distance (the S5 LoadLearnBaseKNN input).
    * `frontierWidth`/`maxRounds` drive the phase-2 BSP self-search.
    * `selfSearchSeeds` (>0) seeds phase 2 with that many shared extra
    * entry nodes (BspBeamSearch.pickSeeds — a bounded id list, the same
    * driver-scalar class as the entry point): on clustered corpora whose
    * sparse phase-1 projection strands single-ep beams, seed diversity is
    * what lets every node's self-search actually reach its neighborhood.
    * `checkpointDir`, if given, makes the build PREEMPTIBLE: the phase-1
    * projection, every phase-2 self-search batch, and the pre-repair
    * merged adjacency are persisted as name-addressed parquet stages under
    * that dir, and a later build() with the same dir + knobs (guarded by a
    * FINGERPRINT file) resumes after the last completed stage — the
    * multi-day-cluster-job answer to preemption/round boundaries. Resume
    * is EXACT (checkpointed == fresh is spec-gated): every stage is a
    * deterministic function of its persisted inputs, and seeds/entry
    * point recompute deterministically (hash-ordered pickSeeds, id
    * tie-broken argmin). */
  def build(base: DataFrame, queries: DataFrame, params: BuildParams,
            precomputedKnn: Option[DataFrame] = None,
            frontierWidth: Int = 8, maxRounds: Int = 64,
            selfSearchSeeds: Int = 0,
            selfSearchBatches: Int = 1,
            mergeBatches: Int = 1,
            checkpointDir: Option[String] = None): DistIndex = {
    implicit val spark: org.apache.spark.sql.SparkSession = base.sparkSession
    import spark.implicits._
    val m = params.mPjbp
    val metric = params.metric
    val scoreMetric = scoringMetric(metric)
    val baseN = lowered(base, metric).persist(StorageLevel.MEMORY_AND_DISK)
    val queriesN = lowered(queries, metric)
    // the build's one vector pin: every step after the kNN input reads it
    val vecPin = new VecPin(baseN)
    def part = vecPin.get().part

    // mergeBatches is deliberately NOT in the fingerprint: batched ==
    // unbatched merge is spec-gated result-identical, so stages persist
    // compatibly across mrb changes. kernel= versions the numeric kernels
    // (CpIO.KernelVersion) so stages built under a bit-differently-
    // associating kernel are never silently mixed across a code change.
    checkpointDir.foreach(d => guardFingerprint(d,
      s"m=${params.mPjbp},l=${params.lPjpq},mSq=${params.mSq},metric=${scoreMetric.name}," +
        s"fw=$frontierWidth,mr=$maxRounds,seeds=$selfSearchSeeds," +
        s"p2b=$selfSearchBatches,kernel=${graft.core.CpIO.KernelVersion}"))

    // per-phase wall clock: every phase boundary below is an EAGER cut or
    // a BspBeamSearch round loop, so lap() deltas are real phase walls
    // (the scale soak's phase table and perfbench read these lines)
    var tMark = System.nanoTime()
    def lap(name: String): Unit = {
      val now = System.nanoTime()
      println(f"[dist-build] $name ${(now - tMark) / 1e9}%.1f s")
      tMark = now
    }

    // ---- entry point (G22, :2004-2041): centroid argmin under squared L2
    // (the reference hardcodes L2 here regardless of build metric). The
    // centroid is a single dim-length value — the one value small enough
    // to fold into a literal.
    val centroid = centroidOf(baseN)
    val ep = baseN
      .select(col("id"),
        VectorFunctions.l2Sq(col("vec"), typedLit(centroid.toSeq)).as("d"))
      .orderBy(col("d").asc, col("id").asc).limit(1)
      .select("id").as[Long].head()
    lap("centroid+ep")

    // ---- build input: query → base exact kNN (A1), external ids ----
    val knn = precomputedKnn.getOrElse(
      KnnJoin(queriesN, baseN, params.mSq, scoreMetric)
        .select(col("query_id"), transform(col("knn"), _("id")).as("knn")))

    // ---- phase 1 (G3, :1059-1097): pivot = 1-NN, rest of the kNN list =
    // pivot's forward candidates; occlusion-prune per pivot; then the
    // reverse sweep. One durable stage ("projection"): on a resume the
    // kNN input is not even read. ----
    val projHit = checkpointDir.exists(d => hasSuccess(s"$d/projection"))
    var phase1Release: () => Unit = () => ()
    val projection = durableCut(checkpointDir, "projection", part) {
      val vp = vecPin.get()
      val fwd = cut(forwardLists(
        knn.select(col("knn").cast("array<bigint>")).as[Array[Long]].rdd,
        vp, scoreMetric, capC = math.max(params.mSq, 4 * m), m))
      lap("phase1-forward")
      // ---- phase 1b/1c (G8/G5): reverse sweep + overflow re-prune ----
      // (unbatched: phase-1 edge volume is |train|·mSq-bound, not n·m —
      // the train set is the small side by construction)
      val (revMerged, relRev) = mergeReversePhase(fwd.rdd, vp, scoreMetric,
        appendCap = m, pruneTo = m, backfill = true, capRev = 2 * m,
        finalCap = None)
      // durableCut materializes revMerged (parquet write or cut) before
      // the caller runs this release
      phase1Release = () => { relRev(); fwd.release() }
      revMerged
    }
    phase1Release() // projection is materialized; phase-1 scratch is dead
    if (!projHit) lap("phase1-reverse")
    else tMark = System.nanoTime()

    // ---- phase 2 (G6, :1183-1276): BSP self-search over the frozen
    // phase-1 snapshot; pool prune (G9: strict pass, no backfill) ----
    val p2Seeds =
      if (selfSearchSeeds > 0) BspBeamSearch.pickSeedIds(projection.rdd.keys, selfSearchSeeds)
      else Nil
    // Self-search queries are independent over the frozen phase-1 snapshot,
    // so slicing them by id hash and searching slice-by-slice is EXACT —
    // and it divides the per-round shuffle volume (|frontier|·deg·vecBytes,
    // the build's peak disk demand) by the batch count. BspBeamSearch
    // materializes each round eagerly, so the slices run sequentially:
    // peak spill is one slice's rounds, not the whole corpus's. This is
    // the knob that bounds scratch-disk per executor at fixed cluster
    // size; batched == unbatched is spec-gated (DistRoarGraphSpec).
    // The per-node supply-pool step (vector lookup + per-src pool +
    // occlusion prune) runs INSIDE each batch rather than once over the
    // union of all batches: a batch's query slice is a disjoint set of
    // srcs (id-hash slice), so the per-batch pools are complete for those
    // srcs, and the batch's vec-carrying pool shuffle — the build's single
    // largest scratch consumer: at 2M×128d×(32,48) the monolithic version
    // left tens of GB of uncollected spill on disk, and the reverse
    // supply-merge starting on top of it overflowed a ~90 GB single-box
    // scratch (SCALE.md 2M rung, attempt 1) — is materialized to a small
    // (src, ≤m nbrs) cut and its scratch freed before the next batch
    // starts. Candidate vectors attach via a NARROW lookup against the
    // build's vector pin, so only the skinny (cand ← src, d) triples route
    // to the pin's layout and the one remaining vec-carrying shuffle is the
    // inherent |slice|·l pool grouping.
    // Each batch is its own durable stage (supply_b<i>_of<B>): a build
    // killed after batch i resumes at batch i+1 — at the 10M regime a
    // batch is tens of minutes, so this is the preemption granularity.
    // Every batch searches the same frozen snapshot through one adjacency
    // pin, and that pin is the projection step itself (already on the
    // vector pin's partitioner): no adjacency shuffle at all.
    lazy val p2Pin = BspBeamSearch.pinAdjRddOnto(projection.rdd, vecPin.get())
    val batches = math.max(1, selfSearchBatches)
    val batchCuts = (0 until batches).map { b =>
      var scopeRelease: () => Unit = () => ()
      val c = durableCut(checkpointDir, s"supply_b${b}_of$batches", part) {
        val vp = vecPin.get()
        val scope = new CpScope
        val ss = BspBeamSearch.searchPinned(p2Pin,
          if (batches == 1) vp.rdd else vp.rdd.filter(kv => sliceOf(kv._1, batches) == b),
          k = params.lPjpq, l = params.lPjpq, ep, scoreMetric, frontierWidth,
          maxRounds, excludeSelf = true, extraSeeds = p2Seeds, scope = scope)
        scopeRelease = () => scope.releaseAll()
        supplyPools(ss, vp, scoreMetric, m)
      }
      scopeRelease() // this batch's pools are cut; its round states are dead
      c
    }
    val supplyFwd: Adj =
      if (batchCuts.size == 1) batchCuts.head.rdd
      else spark.sparkContext.union(batchCuts.map(_.rdd))
    lap("phase2-selfsearch")

    // ---- supply reverse (G12 cap 2m) + overflow prune to m (G11), then
    // the reference's post-pass cap at m (:1224-1248). This sweep is over
    // ALL n srcs at ~m edges each — the build's second n·m·vecBytes
    // shuffle family — so it takes the destination-hash batching knob
    // (mergeBatches) that bounds its live scratch to one slice's volume.
    var mergeRelease: () => Unit = () => ()
    val adjMerged = durableCut(checkpointDir, "adj_merged", part) {
      val vp = vecPin.get()
      val (supplyMerged, relSupplyMerged) = mergeReversePhase(supplyFwd, vp,
        scoreMetric, appendCap = 2 * m, pruneTo = m, backfill = false,
        capRev = 2 * m, finalCap = Some(m), batches = mergeBatches)
      mergeRelease = relSupplyMerged
      withSupply(projection.rdd, supplyMerged, 2 * m, vp.part)
    }
    mergeRelease()                      // merged adjacency is cut; per-slice
    batchCuts.foreach(_.release())      // merge blocks, supply pools and the
    projection.release()                // phase-1 projection are all dead
    lap("phase2-supply-merge")

    val adj: Adj =
      if (params.repairReachability) {
        // repair owns adjMerged from here: it is the first repair state
        val r = repair(AdjState(adjMerged, vecPin.get()), ep, scoreMetric, m,
          frontierWidth, maxRounds)
        lap("repair")
        r
      } else adjMerged.rdd

    vecPin.release() // every step and repair state that read it is cut
    baseN.unpersist()
    DistIndex(spark.createDataset(adj).toDF("src", "nbrs"), ep, metric,
      Some(3 * params.mPjbp))
  }

  /** Bounded per-key top-k in the [[Neighbor]] order: `combineByKey` with
    * map-side combine over the [[TopKAggregator]] fold, so no buffer ever
    * holds more than `k` rows of one key. Runs in place (no shuffle) when
    * `rdd` already sits on `part`. */
  private def topKByKey[T: ClassTag : Ordering](rdd: RDD[(Long, T)], k: Int,
                                                part: HashPartitioner): RDD[(Long, Array[T])] =
    rdd.combineByKey[Array[T]](
      (t: T) => Array(t),
      (buf: Array[T], t: T) => TopKAggregator.insert(buf, t, k),
      (a: Array[T], b: Array[T]) => TopKAggregator.merge(a, b, k),
      part)

  /** Phase-1 forward lists (G3/G7): each kNN list's first id is the
    * pivot, the rest its candidates. Every copy of a (pivot, cand) edge
    * meets at the candidate's pin partition, sorted by candidate (a
    * sort-based shuffle, which spills), and the first copy takes the
    * candidate's vector on to the pivot's partition (the edge `distinct`:
    * its seen-set holds one candidate's pivots at a time); there each
    * candidate is scored against the pivot, the pivot keeps its `capC`
    * best in the Neighbor order, and the occlusion prune keeps ≤ m. Ids
    * without a vector drop out, as under the inner join. */
  private[graft] def forwardLists(knn: RDD[Array[Long]], vp: BspBeamSearch.PinnedVecs,
                                  metric: Metric, capC: Int, m: Int): Adj = {
    val edges = knn.flatMap { l =>
      if (l == null || l.length < 2) Iterator.empty
      else l.iterator.drop(1).filter(_ != l(0)).map(c => (c, l(0)))
    }.repartitionAndSortWithinPartitions(vp.part)
    val withCand = BspBeamSearch.lookupVec(edges, vp).mapPartitions { it =>
      val pivots = new java.util.HashSet[Long]()
      var cand = 0L
      it.filter { case (c, p, _) =>
        if (pivots.isEmpty || c != cand) { pivots.clear(); cand = c }
        pivots.add(p)
      }.map { case (c, p, cv) => (p, (c, cv)) }
    }
    val scored = BspBeamSearch.lookupVec(withCand, vp).mapPartitions(_.map {
      case (p, (c, cv), pv) => (p, NeighborVec(c, metric.dist(pv, cv), cv))
    }, preservesPartitioning = true)
    topKByKey(scored, capC, vp.part).mapPartitions(_.map { case (p, cands) =>
      (p, OcclusionPrune.pruneVecs(cands.map(c => (c.id, c.dist, c.vec)), p, m, metric))
    }, preservesPartitioning = true)
  }

  /** Phase-2 supply pools: each node's self-search hits take their
    * vectors by a pin lookup, group per src on the pin's partitioner, and
    * the strict occlusion prune (no backfill) — which ranks the pool in
    * the Neighbor order — keeps ≤ m. */
  private[graft] def supplyPools(ss: RDD[(Long, Array[Long], Array[Double])],
                                 vp: BspBeamSearch.PinnedVecs, metric: Metric,
                                 m: Int): Adj =
    BspBeamSearch.lookupVec(ss.flatMap { case (src, ids, ds) =>
        ids.indices.iterator.map(i => (ids(i), (src, ds(i))))
      }, vp)
      .map { case (cand, (src, d), cv) => (src, (cand, d, cv)) }
      .groupByKey(vp.part)
      .mapPartitions(_.map { case (src, pool) =>
        (src, OcclusionPrune.pruneVecs(pool.toArray, src, m, metric, backfill = false))
      }, preservesPartitioning = true)

  /** The projection with ≤ `cap` novel supply edges appended per src
    * (:1251-1269), in one narrow `cogroup`: both sides sit on `part`. */
  private def withSupply(projection: Adj, supply: Adj, cap: Int,
                         part: HashPartitioner): Adj =
    projection.cogroup(supply, part).mapPartitions(_.flatMap {
      case (src, (ps, ss)) => ps.iterator.flatMap { nbrs =>
        if (ss.isEmpty) Iterator.single((src, nbrs))
        else {
          val have = nbrs.toSet
          ss.iterator.map(s => (src, nbrs ++ s.iterator.filter(x => !have.contains(x)).take(cap)))
        }
      }
    }, preservesPartitioning = true)

  /** Post-hoc reachability repair of an ALREADY-BUILT layout — the
    * operational form of the build-time repair pass: verify reachability
    * from the layout's entry point and, if orphans exist, attach them
    * through the same convergent machinery the build uses (bounded beam
    * rounds + the exact-kNN backstop, BFS-verified after every attach),
    * WITHOUT rebuilding. At 100 TB an index is days of cluster work;
    * connectivity damage (a partial write, a layout built before the
    * backstop landed, post-hoc node deletion) is repairable at
    * |orphans|-bounded cost instead. The degree cap is the LAYOUT's own
    * persisted cap (this builder writes 3·mPjbp; m is recovered as
    * cap/3, same absorption discipline as the build-time pass); cosine
    * layouts are repaired in the same normalize-then-IP lowering the
    * build used. A clean layout costs one verification BFS and returns
    * unchanged adjacency. Returns the repaired index (caller
    * re-persists, e.g. GraphIO.saveDistBucketed). */
  def repairLayout(di: DistIndex, vectors: DataFrame,
                   frontierWidth: Int = 8, maxRounds: Int = 64): DistIndex = {
    implicit val spark: SparkSession = di.adj.sparkSession
    import spark.implicits._
    val cap = di.degreeCap.getOrElse(sys.error(
      "repairLayout needs the layout's persisted degree cap (pre-cap " +
        "layouts carry none — rebuild or supply the cap by re-saving)"))
    require(cap >= 3 && cap % 3 == 0,
      s"degree cap $cap is not the builder's 3*m shape")
    // the pin's sizing count fills baseN
    val baseN = lowered(vectors, di.metric).persist(StorageLevel.MEMORY_AND_DISK)
    val vecPin = new VecPin(baseN)
    val repaired = repair(AdjState(di.adj, vecPin.get()), di.ep,
      scoringMetric(di.metric), cap / 3, frontierWidth, maxRounds)
    vecPin.release()
    baseN.unpersist()
    di.copy(adj = spark.createDataset(repaired).toDF("src", "nbrs"))
  }

  /** How many repair in-edges each unreached node asks for, and the cap
    * on repair edges any single source absorbs per round. The per-source
    * cap bounds hub fan-in when a whole island's members pick the same
    * boundary node; dropped members re-attach next round through the
    * members that DID get in (geometric drain). */
  private val RepairC = 2

  /** Max queries per repair beam-search call (ADVICE r12): the repair
    * loop feeds every currently-unreachable node as queries, which on a
    * badly-connected graph is unbounded — BspBeamSearch broadcasts the
    * query vectors, so an unbatched call is a driver/executor OOM, not a
    * spill. 500k × 200d ≈ 400 MB, the same measured broadcast class as
    * the 10M prefix's query blocks (tools/run_prefix_10m.sh). Slices of
    * one round search the SAME frozen adjacency pin, so per-query results
    * are identical to the unsliced call. */
  private val RepairQueryBatch = 500000L
  private val RepairMaxRounds = 8
  private val RepairMaxPasses = 3
  /** Bound on exact-backstop attach passes after the beam rounds exhaust
    * (each pass is one verify-BFS + one blocked exact kNN join over the
    * orphan residue — measured 0.009% of nodes at the 4M rung). */
  private val RepairForcePasses = 3
  /** Bound on BFS supersteps (one exchange of frontier ids each). */
  private val BfsMaxSteps = 96
  private val BfsStepsPerJob = 8

  /** One repair adjacency state: (src → (nbrs, origCnt)) rows, a view of
    * one step on the vector pin's partitioner, and its adjacency pin — a
    * view of the same blocks, so the state's verify BFS and beam round
    * read them with no shuffle and no second copy. A state owns its step:
    * [[next]] frees it, and so does [[release]] for a state that has no
    * next, once its adjacency is consumed. The vector pin stays the
    * caller's. */
  private[graft] final class AdjState private (
      val rows: RDD[(Long, (Array[Long], Int))], releaseStep: () => Unit,
      val vp: BspBeamSearch.PinnedVecs) {
    val pin: BspBeamSearch.Pinned = BspBeamSearch.pinAdjRddOnto(adjacency, vp)
    def adjacency: Adj = rows.mapValues(_._1)
    /** The state after this one (a materialized step); this one is dead. */
    def next(step: Cut[Absorbed]): AdjState = {
      releaseStep()
      new AdjState(step.rdd.mapValues(v => (v._1, v._2)), () => step.release(), vp)
    }
    /** Frees the step this state is a view of. */
    def release(): Unit = releaseStep()
  }
  private[graft] object AdjState {
    /** The first state over a build step on `vp`'s partitioner, which the
      * state now owns: every edge is original (trim-eligible). */
    def apply(adj0: Cut[(Long, Array[Long])], vp: BspBeamSearch.PinnedVecs): AdjState =
      new AdjState(adj0.rdd.mapValues(n => (n, n.length)), () => adj0.release(), vp)
    /** The first state over a [src, nbrs] table (one shuffle onto the pin). */
    def apply(adj0: DataFrame, vp: BspBeamSearch.PinnedVecs): AdjState = {
      import adj0.sparkSession.implicits._
      apply(cut(adj0.select(col("src").cast("long"), col("nbrs").cast("array<bigint>"))
        .as[(Long, Array[Long])].rdd.partitionBy(vp.part)), vp)
    }
  }

  /** Distributed BFS from `ep` over a pinned adjacency — returns each pin
    * partition's reached ids (`ep` included), one array per partition in
    * the pin's partition order. Block-centric: each superstep takes every
    * pin partition's newly arrived ids to a LOCAL fixpoint through the
    * partition's own adjacency before one exchange routes the neighbors
    * that live in other partitions to their owners. So supersteps scale
    * with the cross-partition hops of the graph, not with its depth, and
    * a graph that fits one partition is reached in one superstep. The
    * first job runs one superstep; later jobs chain up to
    * [[BfsStepsPerJob]] of them in one lazy lineage, each step persisted
    * (the next reads it twice: its sent ids and its reached set) as one
    * pair of primitive id arrays per partition, 8 bytes per reached id,
    * and only the job's last step checkpointed. A step after the last
    * exchange changes nothing, so the reached set does not depend on the
    * batching. The pin stays the caller's; the final step's release goes
    * to `scope`. */
  private[graft] def bfsReached(pin: BspBeamSearch.Pinned, ep: Long,
                                scope: CpScope)
                               (implicit spark: SparkSession): RDD[Array[Long]] = {
    // per partition: (the reached ids it owns, the ids it sends on)
    type Step = RDD[(Array[Long], Array[Long])]
    val part = pin.part

    // The sent ids of the previous step go to their owners, and each
    // owner expands the ones it has not reached yet to its local fixpoint.
    def superstep(prev: Step, sent: org.apache.spark.util.LongAccumulator): Step = {
      val inbox = prev.flatMap(_._2.iterator.map(id => (id, ()))).partitionBy(part)
      pin.adjRdd.zipPartitions(prev, inbox) { (ait, pit, iit) =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val reached = new java.util.HashSet[Long]()
        pit.foreach(_._1.foreach(id => reached.add(id)))
        val queue = new java.util.ArrayDeque[Long]()
        iit.foreach { case (id, _) => if (reached.add(id)) queue.add(id) }
        val out = new java.util.HashSet[Long]()
        if (!queue.isEmpty) {
          val nbrsOf = new java.util.HashMap[Long, Array[Long]]()
          ait.foreach { case (src, nbrs) =>
            val prev = nbrsOf.get(src)
            nbrsOf.put(src, if (prev == null) nbrs else prev ++ nbrs)
          }
          while (!queue.isEmpty) {
            val nbrs = nbrsOf.get(queue.poll())
            if (nbrs != null) nbrs.foreach { n =>
              if (part.getPartition(n) != pid) out.add(n)
              else if (reached.add(n)) queue.add(n)
            }
          }
          sent.add(out.size)
        }
        Iterator.single((reached.asScala.toArray, out.asScala.toArray))
      }.persist(StorageLevel.MEMORY_AND_DISK)
    }

    var state: Step = spark.sparkContext
      .parallelize(Seq((Array.empty[Long], Array(ep))), part.numPartitions)
    var steps = 0
    var done = false
    while (!done && steps < BfsMaxSteps) {
      val n = math.min(if (steps == 0) 1 else BfsStepsPerJob, BfsMaxSteps - steps)
      val sent = (0 until n).map(_ => spark.sparkContext.longAccumulator)
      val batch = sent.scanLeft(state)(superstep).tail
      batch.last.localCheckpoint() // lineage cut: earlier steps are freed below
      batch.last.count()
      (if (steps == 0) batch.init else state +: batch.init)
        .foreach(_.unpersist(blocking = false))
      state = batch.last
      val last = sent.indexWhere(_.value == 0)
      done = last >= 0
      steps += (if (done) last + 1 else n)
    }
    val fin = state
    scope.add(() => fin.unpersist(blocking = false)) // released post-consumption
    fin.map(_._1)
  }

  /** The pinned vectors the BFS reached (`wanted = true`) or did not: the
    * vector pin zipped with the BFS's per-partition reached arrays. Both
    * sit on the pin's partitioner, so this needs no shuffle. */
  private def byReach(vp: BspBeamSearch.PinnedVecs, reached: RDD[Array[Long]],
                      wanted: Boolean): RDD[(Long, Array[Float])] =
    vp.rdd.zipPartitions(reached, preservesPartitioning = true) { (vit, rit) =>
      val r = new java.util.HashSet[Long]()
      rit.foreach(_.foreach(id => r.add(id)))
      vit.filter(kv => r.contains(kv._1) == wanted)
    }

  /** `unreached` less the ids a round attached: the attached ids go to
    * their own partition and leave the unreached set by a zip with it. */
  private def unattached(unreached: RDD[(Long, Array[Float])], absorbed: RDD[Absorbed],
                         part: HashPartitioner): RDD[(Long, Array[Float])] =
    unreached.zipPartitions(
      absorbed.flatMap(_._2._3.iterator.map(u => (u, ()))).partitionBy(part),
      preservesPartitioning = true) { (uit, ait) =>
      val gone = new java.util.HashSet[Long]()
      ait.foreach(kv => gone.add(kv._1))
      uit.filter(kv => !gone.contains(kv._1))
    }

  /** Distributed reachability repair — see the class doc. Returns the
    * adjacency with repair in-edges merged, degree cap 3m preserved.
    * Carries an `origCnt` through the attach rounds (adjacency is always
    * original-prefix ++ appended-repair-edges, so `origCnt` marks the
    * trim-eligible prefix); trims happen only in a round that follows a
    * stalled round, and any pass that trimmed is re-verified by a fresh
    * BFS before repair reports done. Repair owns `s0`; the vector pin
    * stays the caller's. */
  private def repair(s0: AdjState, ep: Long, metric: Metric, m: Int,
                     frontierWidth: Int, maxRounds: Int)
                    (implicit spark: SparkSession): Adj = {
    val cap = 3 * m
    val vp = s0.vp
    var state = s0
    var remaining = 0L
    var pass = 0
    var done = false
    var unverifiedTrim = false
    while (!done && pass < RepairMaxPasses) {
      // BFS is re-run per pass: pass 0 discovers the unreached set, later
      // passes VERIFY the post-trim graph (trims can in principle orphan
      // a node whose only in-path ran through the trimmed edge)
      val tBfs0 = System.nanoTime()
      val bfsScope = new CpScope
      var unreached = cut(byReach(vp, bfsReached(state.pin, ep, bfsScope), wanted = false))
      bfsScope.releaseAll() // unreached is cut; the BFS reached-set is dead
      remaining = unreached.rows
      println(f"[dist-build] repair pass $pass: verify-bfs " +
        f"${(System.nanoTime() - tBfs0) / 1e9}%.1f s, unreached $remaining")
      if (remaining == 0) done = true
      else {
        val passStart = remaining
        var round = 0
        var allowTrim = false
        var trimmedThisPass = false
        var exhausted = false
        while (remaining > 0 && !exhausted && round < RepairMaxRounds) {
          val tRound0 = System.nanoTime()
          val ranWithTrim = allowTrim
          // nearest reached nodes per unreached query: beams start at ep
          // over the CURRENT adjacency, so every pooled candidate is
          // reached (incl. nodes attached in previous rounds — that is
          // what drains islands: once boundary members attach, the next
          // round's beams walk through them into the island interior).
          // The queries are hash slices of the unreached set over the
          // state's one pin (one unfiltered slice up to RepairQueryBatch).
          val roundScope = new CpScope
          val nb = ((remaining + RepairQueryBatch - 1) / RepairQueryBatch).toInt
          val hits = (0 until nb).map { b =>
            BspBeamSearch.searchPinned(state.pin,
              if (nb == 1) unreached.rdd
              else unreached.rdd.filter(kv => sliceOf(kv._1, nb) == b),
              k = RepairC, l = math.max(16, 4 * RepairC), ep, metric,
              frontierWidth, maxRounds, excludeSelf = true, extraSeeds = Nil,
              scope = roundScope)
          }
          val absorbed = absorbRound(state,
            if (nb == 1) hits.head else spark.sparkContext.union(hits), cap, m, allowTrim)
          state = state.next(absorbed) // merged adjacency is cut
          val u2 = cut(unattached(unreached.rdd, absorbed.rdd, vp.part))
          unreached.release()
          unreached = u2
          roundScope.releaseAll() // beam states are dead: their reader is cut
          val left = unreached.rows
          // a trim round that attached anything may have trimmed (only
          // saturated sources trim; a stalled round changed nothing)
          if (ranWithTrim && left < remaining) trimmedThisPass = true
          if (left < remaining) allowTrim = false
          else if (!ranWithTrim) allowTrim = true // stall → next round may trim
          else exhausted = true                   // trim round also stalled
          remaining = left
          println(f"[dist-build] repair round $round: " +
            f"${(System.nanoTime() - tRound0) / 1e9}%.1f s, remaining $remaining")
          round += 1
        }
        // a pass that never trimmed cannot have un-reached anything, so
        // its residual state is authoritative: stop when it finished, was
        // exhausted, or made zero progress (retrying cannot improve). A
        // pass that trimmed is NEVER authoritative — fall through so the
        // outer loop re-runs the BFS to verify (bounded by
        // RepairMaxPasses).
        if (!trimmedThisPass &&
            (remaining == 0 || exhausted || remaining == passStart))
          done = true
        unverifiedTrim = trimmedThisPass
      }
      unreached.release() // pass is over; only the scalar `remaining` survives
      pass += 1
    }
    // The exact backstop takes two exit states: (a) the pass bound was
    // hit with the FINAL pass's trim unverified (done still false,
    // `remaining` possibly stale-zero); (b) the beam rounds
    // exhausted/stalled with residual orphans.
    if (remaining > 0 || (!done && unverifiedTrim)) {
      val (s2, left) = exactBackstop(state, ep, metric, m)
      state = s2
      remaining = left
    }
    if (remaining > 0)
      println(s"[dist-build] WARNING: reachability repair exiting with " +
        s"$remaining unreachable node(s) after $pass pass(es) — callers " +
        s"should not assume full connectivity")
    state.adjacency
  }

  /** Convergence backstop of [[repair]] (VERDICT r8 #3): re-runs the
    * verify BFS over `state`, then attaches the orphan residue through one
    * EXACT blocked kNN join (orphans vs the reached set — KnnJoin streams
    * the reached side once per orphan block, so work is |orphans|-bounded,
    * and unlike a beam it cannot miss, where the beams' miss mode is
    * geometric: an island no beam enters, measured 0.009% of nodes at the
    * 4M rung): every orphan's nearest reached sources are found by
    * construction and absorbed under the same trim-allowed discipline as a
    * trim round. Because a trim can in principle orphan someone else, the
    * NEXT pass's BFS re-verifies; the loop exits on a verified-clean BFS or
    * after [[RepairForcePasses]] attaches. Returns the last state and the
    * orphan count of the last BFS. The orphan residue does transit the
    * driver inside KnnJoin's query blocks — bounded by the residue size,
    * not the corpus; the builder's no-driver-materialization contract is
    * about corpus-scale state. */
  private[graft] def exactBackstop(s0: AdjState, ep: Long, metric: Metric, m: Int)
                                  (implicit spark: SparkSession): (AdjState, Long) = {
    import spark.implicits._
    val vp = s0.vp
    var state = s0
    var remaining = 0L
    var fpass = 0
    var attach = true
    while (attach) {
      val vScope = new CpScope
      val reached = bfsReached(state.pin, ep, vScope)
      val orphans = cut(byReach(vp, reached, wanted = false))
      remaining = orphans.rows
      attach = remaining > 0 && fpass < RepairForcePasses
      if (attach) {
        println(s"[dist-build] repair backstop: exact-attaching $remaining " +
          s"orphan(s), pass ${fpass + 1}")
        val hits = KnnJoin(spark.createDataset(orphans.rdd).toDF("id", "vec"),
            spark.createDataset(byReach(vp, reached, wanted = true)).toDF("id", "vec"),
            RepairC, metric)
          .select(col("query_id"),
            transform(col("knn"), _("id")).as("ids"),
            transform(col("knn"), _("dist")).as("dists"))
          .as[(Long, Array[Long], Array[Double])].rdd
        state = state.next(absorbRound(state, hits, 3 * m, m, allowTrim = true))
      }
      vScope.releaseAll() // both readers of the BFS set are cut
      orphans.release()
      fpass += 1
    }
    (state, remaining)
  }

  /** One bounded absorption round, shared by the beam repair rounds and
    * the exact backstop. `hits` rows are (query_id, ids, dists): candidate
    * source nodes per unreached node, nearest first. Each source keeps its
    * 2m nearest picks in the Neighbor order (`combineByKey` with map-side
    * combine), and one narrow `cogroup` with the state merges them: sources
    * absorb (dist, id)-deterministically into their free degree room; with
    * `allowTrim`, a saturated source's allowance is raised to
    * min(origCnt, RepairC) so the merge can trim that many ORIGINAL tail
    * edges — never a repair edge (a repair edge is some node's only
    * in-link). Returns the merged state as a cut step whose rows also
    * carry the picks each source kept (the attached ids), so the caller may
    * release the prior state at once. */
  private[graft] def absorbRound(state: AdjState,
                                 hits: RDD[(Long, Array[Long], Array[Double])],
                                 cap: Int, m: Int, allowTrim: Boolean): Cut[Absorbed] = {
    val part = state.vp.part
    val picks = topKByKey(hits.flatMap { case (u, ids, ds) =>
      ids.indices.iterator.map(i => (ids(i), Neighbor(u, ds(i))))
    }, 2 * m, part)
    cut(state.rows.cogroup(picks, part).mapPartitions(_.flatMap {
      case (src, (sts, ps)) => sts.iterator.map { case (nbrs, origCnt) =>
        val allowance =
          if (allowTrim) math.max(cap - nbrs.length, math.min(origCnt, RepairC))
          else math.max(0, cap - nbrs.length)
        val kept = ps.iterator.flatten.take(allowance).map(_.id).toArray
        val have = nbrs.toSet
        val adds = kept.filter(u => u != src && !have.contains(u)).distinct
        val room = cap - nbrs.length
        if (adds.length <= room) (src, (nbrs ++ adds, origCnt, kept))
        else {
          // overflow ≤ allowance - room ≤ min(origCnt, RepairC), so
          // the original prefix always has room to give
          val t = math.min(adds.length - math.max(room, 0), origCnt)
          val kept2 = nbrs.take(origCnt - t) ++ nbrs.drop(origCnt)
          (src, (kept2 ++ adds.take(math.max(room, 0) + t), origCnt - t, kept))
        }
      }
    }, preservesPartitioning = true))
  }

  /** Bulk reverse-edge merge (G8 ProjectionAddReverse / G12
    * SupplyAddReverse, src/index_bipartite.cpp:1391-1432 / :1352-1389):
    * forward lists keep their order, reverse candidates arrive through a
    * bounded (dist, id) top-`capRev` fold (a hub's reverse fan-in never
    * exceeds the cap anywhere — not even in a task's combine buffer), and
    * the per-node merge appends sorted reverse candidates while under
    * `appendCap`, occlusion-pruning the union to `pruneTo` on overflow;
    * `finalCap` applies the phase-2 post-pass re-prune. Returns the merged
    * (src, nbrs) lists on the pin's partitioner plus a release thunk for
    * any per-slice cuts (a no-op when unbatched).
    *
    * `batches` > 1 slices DESTINATION srcs by id hash ([[sliceOf]]) and
    * runs the sweep slice-by-slice. Every step in here is keyed by the
    * destination src, so per-src results are independent and slicing is
    * EXACT (spec-gated batched==unbatched, DistRoarGraphSpec). Why it
    * exists: the sweep's live scratch is vec-carrying — forward and
    * reverse edges each haul a vecBytes vector to their src, and reverse
    * lists of up to capRev vectors ride the final cogroup — totalling
    * ~n·m·vecBytes·4 monolithically, the build's largest single-phase
    * disk demand once the forward pools are batched (MEASURED: 64 GB
    * accumulated in 90 s at 4M×200d×(24,32), SCALE.md 4M rung). Sliced,
    * live scratch is one slice's volume: each slice is cut to id-only
    * (src, nbrs) rows before the next slice starts, and the dead slice's
    * shuffle files are reclaimed by the ContextCleaner. On a cluster the
    * same knob bounds per-executor scratch at fixed executor count.
    * Every slice reads vectors through the build's pin, so slices route
    * only skinny edge ids and slice-bounded payload rows, never the n-row
    * vector table. */
  private def mergeReversePhase(fwd: Adj, vp: BspBeamSearch.PinnedVecs,
                                metric: Metric, appendCap: Int, pruneTo: Int,
                                backfill: Boolean, capRev: Int,
                                finalCap: Option[Int],
                                batches: Int = 1): (Adj, () => Unit) =
    if (batches <= 1)
      (mergeReverseSlice(fwd, vp, metric, appendCap, pruneTo, backfill,
        capRev, finalCap, _ => true), () => ())
    else {
      val cuts = (0 until batches).map { b =>
        cut(mergeReverseSlice(fwd, vp, metric, appendCap, pruneTo, backfill,
          capRev, finalCap, id => sliceOf(id, batches) == b))
      }
      (fwd.sparkContext.union(cuts.map(_.rdd)), () => cuts.foreach(_.release()))
    }

  /** One destination slice of [[mergeReversePhase]]; `keep` selects the
    * destination srcs. Three sides meet in ONE `cogroup` on the pin's
    * partitioner: the node's own vector (the pin), its forward list with
    * each neighbor's vector (routed to the neighbor's partition and back),
    * and its bounded reverse candidates — the list owner's vector is
    * local to its list (`fwd` sits on the pin's partitioner), each
    * (owner → node) edge carries it to the node's partition, and it is
    * scored there with the same `Metric.dist`. */
  private[graft] def mergeReverseSlice(fwd: Adj, vp: BspBeamSearch.PinnedVecs,
                                       metric: Metric, appendCap: Int, pruneTo: Int,
                                       backfill: Boolean, capRev: Int,
                                       finalCap: Option[Int],
                                       keep: Long => Boolean): Adj = {
    val fwdSide = BspBeamSearch.lookupVec(fwd.flatMap { case (src, nbrs) =>
        if (!keep(src)) Iterator.empty
        else nbrs.iterator.zipWithIndex.map { case (o, pos) => (o, (src, pos)) }
      }, vp)
      .map { case (o, (src, pos), ov) => (src, (pos, o, ov)) }
    val revSide = topKByKey(
      BspBeamSearch.lookupVec(
        BspBeamSearch.lookupVec(fwd, vp).flatMap { case (o, nbrs, ov) =>
          nbrs.iterator.filter(keep).map(n => (n, (o, ov)))
        }, vp)
        .mapPartitions(_.map { case (n, (o, ov), nv) =>
          (n, NeighborVec(o, metric.dist(nv, ov), ov))
        }, preservesPartitioning = true),
      capRev, vp.part)

    vp.rdd.filter(kv => keep(kv._1)).cogroup(fwdSide, revSide, vp.part)
      .mapPartitions(_.flatMap { case (src, (svecs, fwdIt, revIt)) =>
        svecs.iterator.map { svec =>
          val fwdl = fwdIt.toArray.sortBy(t => (t._1, t._2))
          val fwdIds = fwdl.map(_._2)
          val have = fwdIds.toSet
          val rev = revIt.iterator.flatten
            .filter(r => r.id != src && !have.contains(r.id)).toArray
          val fwdTriples = fwdl.map(t => (t._2, metric.dist(svec, t._3), t._3))
          val revTriples = rev.map(r => (r.id, r.dist, r.vec))
          val ids: Array[Long] =
            if (fwdIds.length + revTriples.length <= appendCap)
              fwdIds ++ revTriples.map(_._1)
            else OcclusionPrune.pruneVecs(fwdTriples ++ revTriples, src,
              pruneTo, metric, backfill)
          val finalIds = finalCap match {
            case Some(c) if ids.length > c =>
              val byId = (fwdTriples ++ revTriples).map(t => (t._1, t)).toMap
              OcclusionPrune.pruneVecs(ids.flatMap(byId.get(_)), src, c,
                metric, backfill = false)
            case _ => ids
          }
          (src, finalIds)
        }
      }, preservesPartitioning = true)
  }
}
