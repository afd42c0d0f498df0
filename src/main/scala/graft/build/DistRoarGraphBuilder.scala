package graft.build

import graft.core.{BuildParams, Metric, NeighborVec}
import graft.functions.{TopKAggregator, VecMeanAggregator, VectorFunctions}
import graft.ops.KnnJoin
import graft.ops.graph.{BspBeamSearch, OcclusionPrune}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

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
  * flags). Every phase is keyed dataflow:
  *
  *   - phase 1 (G3/G7): kNN lists → (pivot, cand) edges → vector joins →
  *     bounded per-pivot candidate aggregation (TopKAggregator.topKVec —
  *     a hub pivot cannot blow up its group) → group-local occlusion prune;
  *   - phase 1b/1c (G8/G5): reverse edges by explode, bounded per-node
  *     reverse-candidate aggregation, deterministic merge + overflow
  *     re-prune — the shuffle-keyed replacement for the reference's
  *     per-node locks (include/index_bipartite.h:166);
  *   - phase 2 (G6/G9/Q4): every base node beam-searches for itself via
  *     the BSP frontier kernel over the frozen phase-1 graph (graph and
  *     vectors remain DataFrames; the per-round dataflow is three keyed
  *     joins), pool pruned per node, supply reverse merge capped at 2m
  *     (G12), final merge adds ≤ 2m novel supply edges (:1251-1269).
  *
  * Candidate groups carry their vectors (NeighborVec) so occlusion
  * pruning needs no global vector store. Results are deterministic (all
  * group merges are (dist, id)-ordered); recall is gated by
  * DistRoarGraphSpec.
  *
  * Reachability repair (the scalable analogue of the reference's
  * CollectPoints, src/index_bipartite.cpp:2587-2604, and of
  * [[RoarGraphBuilder.repairReachability]]) runs as a distributed
  * post-pass, ON by default: a distributed BFS from the entry point
  * marks the reached component; every unreached node then beam-searches
  * (BSP — beams start at ep, so every candidate they pool is reached BY
  * CONSTRUCTION) for its nearest reached nodes and receives in-edges
  * from them. Iterated: once an island's boundary members attach, the
  * next round's beams can enter the island through them, so islands
  * drain geometrically. A source normally absorbs repair edges only
  * into its free degree room (cap 3m); when a round stalls because
  * every candidate source is saturated, the next round lets sources
  * trim their ORIGINAL edge tail (never a repair edge — a repair edge
  * is some node's only in-link) to make room, and because trimming can
  * in principle orphan a node whose only in-path ran through the
  * trimmed edge, any pass that trimmed is re-verified by a fresh BFS
  * (bounded outer passes) before repair reports done. When the bounded
  * beam rounds exit with residual orphans (the beams' miss mode is
  * geometric — an island no beam enters), a convergence backstop
  * attaches the residue through one EXACT blocked kNN join per pass
  * (orphans vs the reached set — |orphans|-bounded work, cannot miss),
  * re-verifying by BFS after every attach. Only if the backstop's own
  * pass bound is hit does repair exit unconverged — and then it says so
  * loudly (a `[dist-build] WARNING` line) instead of returning silently.
  *
  * Job-count bound at scale: the BFS materializes every
  * [[BfsHopsPerBatch]] levels (one multi-hop plan per materialization),
  * so a diameter-D graph costs O(D/8) jobs, not O(D); attach rounds are
  * bounded by RepairMaxRounds per pass and RepairMaxPasses passes.
  * Nodes with zero in-degree — which occlusion pruning and caps
  * routinely produce, and which NO search-time seeding can find — are
  * exactly what this pass fixes; without it the distributed tier
  * compensated with 20× beams at search time (SCALE.md round-4 soak).
  */
object DistRoarGraphBuilder {

  private def metricName(m: Metric): String = m match {
    case Metric.L2 => "l2"
    case _         => "ip" // cosine inputs are pre-normalized below
  }

  // checkpoint metadata resolves through the session's Hadoop FS (CpIO),
  // not java.io.File: stage data goes through Spark's Hadoop FS, so an
  // hdfs:// / s3a:// checkpointDir must probe the SAME filesystem or
  // resume would silently never trigger (ADVICE r11)
  private def hasSuccess(path: String)
      (implicit spark: org.apache.spark.sql.SparkSession): Boolean =
    graft.core.CpIO.exists(s"$path/_SUCCESS")

  /** Durable variant of [[graft.ops.graph.PlanUtil.cutDFReleasable]]: when a
    * checkpoint dir is given, the stage's output is materialized as parquet
    * under `dir/name` (the write IS the eager cut) and read back with a
    * fresh lineage; a later build pointed at the same dir skips the stage's
    * compute entirely (`_SUCCESS` gate — a kill mid-write leaves no marker,
    * so overwrite-on-resume is safe). `df` is by-name: on a checkpoint hit
    * the stage plan is never even constructed. Without a dir this is the
    * in-session localCheckpoint cut, unchanged. At 100 TB a build is days
    * of cluster work; this is what makes it PREEMPTIBLE — the same
    * contract as Spark's own reliable checkpoint, but name-addressed so an
    * entirely new driver JVM (a new cluster allocation) can resume.
    *
    * `hot = true` for stages that downstream code RE-SCANS many times
    * (the phase-1 projection is read by every BSP round of every phase-2
    * batch — maxRounds x batches passes): the parquet read is additionally
    * cut into block-manager storage (persist-class, with a real release),
    * so a checkpointed build pays parquet deserialization ONCE instead of
    * per-pass, matching the uncheckpointed path's in-memory localCheckpoint
    * cost. Single-scan stages keep the bare read — persisting them would
    * only duplicate bytes. */
  private def durableCut(dir: Option[String], name: String, hot: Boolean = false)
                        (df: => DataFrame)
                        (implicit spark: org.apache.spark.sql.SparkSession)
      : (DataFrame, () => Unit) = dir match {
    case None => graft.ops.graph.PlanUtil.cutDFReleasable(df)
    case Some(d) =>
      val path = s"$d/$name"
      if (hasSuccess(path))
        println(s"[dist-build] $name: checkpoint hit ($path)")
      else
        df.write.mode("overwrite").parquet(path)
      if (hot) graft.ops.graph.PlanUtil.cutDFReleasable(spark.read.parquet(path))
      else (spark.read.parquet(path), () => ())
  }

  /** Refuse to resume a checkpoint dir written under different build knobs
    * — stale stage outputs would silently corrupt the index. The corpus /
    * train-set identity is the CALLER's contract (encode them in the dir
    * name, as ScaleSoak does); the knobs that change stage dataflow are
    * guarded here. */
  private def guardFingerprint(dir: String, fp: String)
      (implicit spark: org.apache.spark.sql.SparkSession): Unit =
    graft.core.CpIO.guardFingerprint(dir, fp)

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
            repairReachability: Boolean = true,
            checkpointDir: Option[String] = None): DistIndex = {
    implicit val spark: org.apache.spark.sql.SparkSession = base.sparkSession
    import spark.implicits._
    val m = params.mPjbp
    val metric = params.metric
    // cosine is lowered to normalize-then-IP exactly like the reference
    // (src/index_bipartite.cpp:176-182); all internal scoring uses this
    val scoreMetric = if (metric.needNormalize) Metric.InnerProduct else metric
    val mn = metricName(scoreMetric)

    def normalized(df: DataFrame): DataFrame =
      if (!metric.needNormalize) df.select(col("id").cast("long"), col("vec"))
      else df.select(col("id").cast("long"),
        transform(VectorFunctions.l2Normalize(col("vec")), _.cast("float"))
          .as("vec"))

    val baseN = normalized(base).persist(StorageLevel.MEMORY_AND_DISK)
    val queriesN = normalized(queries)

    // mergeBatches is deliberately NOT in the fingerprint: batched ==
    // unbatched merge is spec-gated result-identical, so stages persist
    // compatibly across mrb changes. kernel= versions the numeric kernels
    // (CpIO.KernelVersion) so stages built under a bit-differently-
    // associating kernel are never silently mixed across a code change.
    checkpointDir.foreach(d => guardFingerprint(d,
      s"m=${params.mPjbp},l=${params.lPjpq},mSq=${params.mSq},metric=$mn," +
        s"fw=$frontierWidth,mr=$maxRounds,seeds=$selfSearchSeeds," +
        s"p2b=$selfSearchBatches,kernel=${graft.core.CpIO.KernelVersion}"))

    // per-phase wall clock: every phase boundary below is an EAGER
    // PlanUtil.cut / BspBeamSearch round loop, so lap() deltas are real
    // phase walls (the scale soak's phase table reads these lines)
    var tMark = System.nanoTime()
    def lap(name: String): Unit = {
      val now = System.nanoTime()
      println(f"[dist-build] $name ${(now - tMark) / 1e9}%.1f s")
      tMark = now
    }

    // ---- entry point (G22, :2004-2041): centroid argmin under squared L2
    // (the reference hardcodes L2 here regardless of build metric). The
    // centroid is a single dim-length aggregate row — the one value small
    // enough to fold into a literal.
    val centroid = baseN
      .agg(VecMeanAggregator.meanVec(VectorFunctions.toDouble(col("vec")))
        .as("c"))
      .as[Seq[Double]].head().map(_.toFloat)
    val ep = baseN
      .select(col("id"),
        VectorFunctions.l2Sq(col("vec"), typedLit(centroid)).as("d"))
      .orderBy(col("d").asc, col("id").asc).limit(1)
      .select("id").as[Long].head()
    lap("centroid+ep")

    // ---- build input: query → base exact kNN (A1), external ids ----
    val knn = precomputedKnn.getOrElse(
      KnnJoin(queriesN, baseN, params.mSq, scoreMetric)
        .select(col("query_id"), transform(col("knn"), _("id")).as("knn")))

    val candVecs = baseN.select(col("id").as("cand"), col("vec").as("cvec"))
    val pivotVecs = baseN.select(col("id").as("pivot"), col("vec").as("pvec"))

    // ---- phase 1 (G3, :1059-1097): pivot = 1-NN, rest of the kNN list =
    // pivot's forward candidates; occlusion-prune per pivot; then the
    // reverse sweep. One durable stage ("projection"): on a resume the
    // kNN input is not even read. ----
    val projHit = checkpointDir.exists(d => hasSuccess(s"$d/projection"))
    var phase1Release: () => Unit = () => ()
    val (projection, relProjection) = durableCut(checkpointDir, "projection",
        hot = true) { // BspBeamSearch re-scans this every round of every batch
      val edges = knn
        .filter(size(col("knn")) >= 2)
        .select(col("knn")(0).as("pivot"),
          explode(slice(col("knn"), lit(2), size(col("knn")) - 1)).as("cand"))
        .filter(col("cand") =!= col("pivot"))
        .distinct()
      val capC = math.max(params.mSq, 4 * m)
      val topCand = TopKAggregator.topKVec(capC)
      val fwdLists = edges
        .join(candVecs, "cand")
        .join(pivotVecs, "pivot")
        .select(col("pivot"), col("cand"),
          VectorFunctions.distByMetric(mn)(col("pvec"), col("cvec")).as("d"),
          col("cvec"))
        .groupBy("pivot")
        .agg(topCand(col("cand"), col("d"), col("cvec")).as("cands"))
        .as[(Long, Array[NeighborVec])]
        .map { case (pivot, cands) =>
          (pivot, OcclusionPrune.pruneVecs(
            cands.map(c => (c.id, c.dist, c.vec)), pivot, m, scoreMetric))
        }.toDF("src", "nbrs")
      val (fwdListsCut, relFwdLists) =
        graft.ops.graph.PlanUtil.cutDFReleasable(fwdLists)
      lap("phase1-forward")
      // ---- phase 1b/1c (G8/G5): reverse sweep + overflow re-prune ----
      // (unbatched: phase-1 edge volume is |train|·mSq-bound, not n·m —
      // the train set is the small side by construction)
      val (revMergedP1, relRevP1) = mergeReversePhase(fwdListsCut, baseN,
        scoreMetric, appendCap = m, pruneTo = m, backfill = true,
        capRev = 2 * m, finalCap = None)
      // durableCut materializes revMergedP1 (parquet write or local cut)
      // before the caller runs this release, so the ordering contract of
      // cutReleasable holds
      phase1Release = () => { relRevP1(); relFwdLists() }
      revMergedP1
    }
    phase1Release() // projection is materialized; phase-1 scratch is dead
    if (!projHit) lap("phase1-reverse")
    else tMark = System.nanoTime()

    // ---- phase 2 (G6, :1183-1276): BSP self-search over the frozen
    // phase-1 snapshot; pool prune (G9: strict pass, no backfill) ----
    val p2Seeds =
      if (selfSearchSeeds > 0) BspBeamSearch.pickSeeds(projection, selfSearchSeeds)
      else Nil
    // Self-search queries are independent over the frozen phase-1 snapshot,
    // so slicing them by id hash and searching slice-by-slice is EXACT —
    // and it divides the per-round shuffle volume (|frontier|·deg·vecBytes,
    // the build's peak disk demand) by the batch count. BspBeamSearch
    // materializes each round eagerly, so the slices run sequentially:
    // peak spill is one slice's rounds, not the whole corpus's. This is
    // the knob that bounds scratch-disk per executor at fixed cluster
    // size; batched == unbatched is spec-gated (DistRoarGraphSpec).
    // The per-node supply-pool aggregation (explode + vec lookup +
    // groupBy(src) + occlusion prune) runs INSIDE each batch rather than
    // once over the union of all batches: a batch's query slice is a
    // disjoint set of srcs (id-hash partition), so the per-batch
    // groupBy(src) is complete for those srcs, and the batch's
    // vec-carrying pool shuffle — the build's single largest scratch
    // consumer: at 2M×128d×(32,48) the monolithic version left tens of
    // GB of uncollected spill on disk, and the reverse supply-merge
    // starting on top of it overflowed a ~90 GB single-box scratch
    // (SCALE.md 2M rung, attempt 1) — is materialized to a small
    // (src, ≤m nbrs) cut and its scratch freed before the next batch
    // starts. Peak scratch is one batch's pool shuffle, not the corpus's,
    // and the merge phase starts with a clean disk.
    // Candidate vectors attach via a NARROW lookup against the build's
    // shared pin, not a join against the n-row table (the round-12
    // ids-not-payloads fix at its third site, found when round 13's
    // slower disk turned the boundary into the dominant batch cost):
    // the per-batch sort-merge join re-shuffled all n vector rows
    // (~14 GB × 192 batches ≈ 2.6 TB per build); now only the skinny
    // (cand ← src,d) triples route to the pin's layout and the one
    // remaining vec-carrying shuffle is the inherent |slice|·l pool
    // aggregation.
    var p2Pin: Option[BspBeamSearch.Pinned] = None
    def supplyPools(ss: DataFrame): DataFrame = {
      val vp = p2Pin.get.vecs // set by batchSupply before any search runs
      val skinny = ss
        .select(col("query_id").as("src"),
          explode(arrays_zip(col("dists"), col("ids"))).as("h"))
        .select(col("h.ids").as("cand"), col("src"), col("h.dists").as("d"))
        .as[(Long, Long, Double)].rdd
        .map { case (cand, src, d) => (cand, (src, d)) }
      val withVec = BspBeamSearch.lookupVec(skinny, vp)
      spark.createDataset(
          withVec.map { case (cand, (src, d), v) => (src, d, cand, v) })
        .toDF("src", "d", "cand", "cvec")
        .groupBy("src")
        // pool is bounded by lPjpq per node — sort for determinism
        .agg(sort_array(collect_list(struct(col("d"), col("cand"), col("cvec"))))
          .as("pool"))
        .as[(Long, Seq[(Double, Long, Array[Float])])]
        .map { case (src, pool) =>
          (src, OcclusionPrune.pruneVecs(
            pool.map(t => (t._2, t._1, t._3)).toArray, src, m, scoreMetric,
            backfill = false))
        }.toDF("src", "nbrs")
    }
    // each batch is its own durable stage (supply_b<i>_of<B>): a build
    // killed after batch i resumes at batch i+1 — at the 10M regime a
    // batch is tens of minutes, so this is the preemption granularity
    // one pin for ALL batches: every batch searches the same frozen
    // phase-1 snapshot, so the n-row vector/adjacency shuffle is paid
    // once per build, not once per batch (at 192 batches the per-batch
    // re-pin would re-shuffle ~1.6 TB of vector bytes). Lazy: a fully
    // checkpointed resume (every batch a hit) never builds it.
    // (p2Pin itself is declared above supplyPools, which shares it.)
    def batchSupply(queries: DataFrame, name: String): (DataFrame, () => Unit) = {
      var scopeRelease: () => Unit = () => ()
      val cutRel = durableCut(checkpointDir, name) {
        if (p2Pin.isEmpty) p2Pin = Some(BspBeamSearch.pin(projection, baseN))
        val scope = new graft.ops.graph.CpScope
        val ss = BspBeamSearch.search(
          projection, baseN, queries, k = params.lPjpq, l = params.lPjpq,
          ep, scoreMetric, frontierWidth, maxRounds, excludeSelf = true,
          extraSeeds = p2Seeds, scope = scope, pinned = p2Pin)
        scopeRelease = () => scope.releaseAll()
        supplyPools(ss)
      }
      scopeRelease() // this batch's pools are cut; its round states are dead
      cutRel
    }
    val batchCuts =
      if (selfSearchBatches <= 1) Seq(batchSupply(baseN, "supply_b0_of1"))
      else (0 until selfSearchBatches).map { b =>
        batchSupply(baseN.filter(
          pmod(xxhash64(col("id")), lit(selfSearchBatches)) === lit(b)),
          s"supply_b${b}_of$selfSearchBatches")
      }
    val supplyFwdCut = batchCuts.map(_._1).reduce(_.unionByName(_))
    val relSupplyFwd = () => batchCuts.foreach(_._2())
    p2Pin.foreach(_.release()) // every batch is cut; the shared pin is dead
    lap("phase2-selfsearch")

    // ---- supply reverse (G12 cap 2m) + overflow prune to m (G11), then
    // the reference's post-pass cap at m (:1224-1248). This sweep is over
    // ALL n srcs at ~m edges each — the build's second n·m·vecBytes
    // shuffle family — so it takes the destination-hash batching knob
    // (mergeBatches) that bounds its live scratch to one slice's volume.
    var mergeRelease: () => Unit = () => ()
    val (adjCut, relAdjCut) = durableCut(checkpointDir, "adj_merged") {
      val (supplyMerged, relSupplyMergedB) = mergeReversePhase(supplyFwdCut,
        baseN, scoreMetric, appendCap = 2 * m, pruneTo = m, backfill = false,
        capRev = 2 * m, finalCap = Some(m), batches = mergeBatches)
      mergeRelease = () => relSupplyMergedB()
      // ---- merge ≤ 2m novel supply edges into the projection (:1251-1269) --
      projection
        .join(supplyMerged.withColumnRenamed("nbrs", "snbrs"), Seq("src"), "left")
        .select(col("src"),
          concat(col("nbrs"),
            slice(filter(coalesce(col("snbrs"), array().cast("array<bigint>")),
              x => !array_contains(col("nbrs"), x)), 1, 2 * m)).as("nbrs"))
    }
    mergeRelease()     // merged adjacency is cut; per-slice merge blocks,
    relSupplyFwd()     // supply pools, and the phase-1 projection are all
    relProjection()    // dead
    lap("phase2-supply-merge")

    val repaired =
      if (repairReachability) {
        val r = repair(adjCut, baseN, ep, scoreMetric, m, frontierWidth, maxRounds)
        relAdjCut() // repair's internal state is self-contained cuts
        lap("repair")
        r
      } else adjCut

    baseN.unpersist()
    DistIndex(repaired, ep, metric, Some(3 * params.mPjbp))
  }

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
    val spark = di.adj.sparkSession
    val cap = di.degreeCap.getOrElse(sys.error(
      "repairLayout needs the layout's persisted degree cap (pre-cap " +
        "layouts carry none — rebuild or supply the cap by re-saving)"))
    require(cap >= 3 && cap % 3 == 0,
      s"degree cap $cap is not the builder's 3*m shape")
    val m = cap / 3
    val metric = di.metric
    val scoreMetric = if (metric.needNormalize) Metric.InnerProduct else metric
    val vecsN =
      if (!metric.needNormalize)
        vectors.select(col("id").cast("long"), col("vec"))
      else vectors.select(col("id").cast("long"),
        transform(VectorFunctions.l2Normalize(col("vec")), _.cast("float"))
          .as("vec"))
    val baseN = vecsN.persist(StorageLevel.MEMORY_AND_DISK)
    baseN.count()
    val adj0 = di.adj.select(col("src").cast("long"),
      col("nbrs").cast("array<bigint>").as("nbrs"))
    val repaired = repair(adj0, baseN, di.ep, scoreMetric, m,
      frontierWidth, maxRounds)
    baseN.unpersist()
    di.copy(adj = repaired)
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
    * one round search the SAME frozen adjacency, so per-query results
    * are identical to the unsliced call; the adjacency is pinned once
    * per round and shared across slices (no per-slice re-shuffle). */
  private val RepairQueryBatch = 500000
  private val RepairMaxRounds = 8
  private val RepairMaxPasses = 3
  /** Bound on exact-backstop attach passes after the beam rounds exhaust
    * (each pass is one verify-BFS + one blocked exact kNN join over the
    * orphan residue — measured 0.009% of nodes at the 4M rung). */
  private val RepairForcePasses = 3
  /** Test hook: `-Dgraft.repair.disableBeams=true` skips the beam-based
    * attach rounds so the exact backstop carries ALL repair work —
    * DistRoarGraphSpec's converges gate drives the backstop end-to-end
    * through this. Never set outside tests. */
  private def beamRoundsBound: Int =
    if (sys.props.get("graft.repair.disableBeams").contains("true")) 0
    else RepairMaxRounds
  private val BfsMaxRounds = 96
  private val BfsHopsPerBatch = 8

  /** Distributed BFS from `ep` over `adj` — returns the reached id set as
    * a DataFrame. Expands [[BfsHopsPerBatch]] levels per materialization:
    * the hop chain (frontier ⋈ adjacency → explode → distinct, minus the
    * batch-start reached set at every hop) stays one lazy plan, so a
    * diameter-D graph costs O(D/8) driver-stepped jobs instead of O(D) —
    * the per-job launch latency, not the shuffled bytes, dominated the
    * per-level variant (VERDICT r5 #2: 19 s of pure job latency on an
    * 1,800-node graph). */
  private def bfsReached(adj: DataFrame, ep: Long,
                         scope: graft.ops.graph.CpScope): DataFrame = {
    val spark = adj.sparkSession
    import spark.implicits._
    type IdSet = org.apache.spark.rdd.RDD[(Long, Unit)]

    // Pin the adjacency to one partitioner for the whole BFS: every hop's
    // expansion is then a NARROW join (the SQL form re-exchanged/re-sorted
    // the adjacency inside every batch plan — ~3 exchanges per hop; this
    // shape shuffles only the frontier ids, one exchange per hop, same as
    // the BSP round dataflow). Per-hop dedup and the reached-set subtract
    // are zipPartitions over co-partitioned sets, narrow by construction.
    val adjDs = adj
      .select(col("src").cast("long"), col("nbrs").cast("array<long>"))
      .as[(Long, Array[Long])]
    // size-derived partition count (capped at the conf), same rationale
    // as BspBeamSearch.pinVectors: RDD stages get no AQE coalescing
    val nNodes = adjDs.count()
    val confParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // shared size rule (BspBeamSearch.sizedPartitions, ADVICE r13): the
    // previous inline nNodes/100000+1 was a floor+1 that drifted from the
    // pin's ceiling division at exact multiples
    val part = new org.apache.spark.HashPartitioner(
      graft.ops.graph.BspBeamSearch.sizedPartitions(nNodes, confParts))
    val adjRdd = adjDs.rdd
      .partitionBy(part)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    def materialize(s: IdSet): (Long, () => Unit) = {
      s.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      s.localCheckpoint() // lineage cut: prior sets are unpersisted below
      val n = s.count()
      (n, () => s.unpersist(blocking = false))
    }
    // narrow set-minus: both sides co-partitioned on `part`
    def minus(a: IdSet, b: IdSet): IdSet =
      a.zipPartitions(b, preservesPartitioning = true) { (ait, bit) =>
        val seen = new java.util.HashSet[Long]()
        bit.foreach(kv => seen.add(kv._1))
        ait.filter(kv => !seen.contains(kv._1))
      }
    def dedup(a: IdSet): IdSet =
      a.mapPartitions({ it =>
        val seen = new java.util.HashSet[Long]()
        it.filter(kv => seen.add(kv._1))
      }, preservesPartitioning = true)

    var reached: IdSet = spark.sparkContext
      .parallelize(Seq((ep, ())), 1).partitionBy(part)
    var relReached = materialize(reached)._2
    var frontier = reached
    var relFrontier: () => Unit = () => () // initially aliases `reached`
    var level = 0
    var grew = true
    while (grew && level < BfsMaxRounds) {
      var cur = frontier
      // Each hop subtracts the BATCH-START reached set only. A node
      // discovered at hop h therefore re-expands at later hops in the same
      // batch (≤ BfsHopsPerBatch-fold duplicate explode volume in dense
      // regions — ADVICE r6); the union's final dedup keeps the reached
      // set exact, and bounded intra-batch re-expansion measured cheaper
      // than per-hop materialization at every scale (see VERDICT r5 #2 /
      // ADVICE r6 history on the SQL-form ancestor of this loop).
      val hops = (0 until BfsHopsPerBatch).map { _ =>
        cur = minus(dedup(
          cur.join(adjRdd)
            .mapPartitions(_.flatMap { case (_, (_, nbrs)) =>
              nbrs.iterator.map(n => (n, ()))
            })
            .partitionBy(part)), reached)
        cur
      }
      // co-partitioned union keeps the partitioner; dedup across hops
      val next = dedup(spark.sparkContext.union(hops))
      val (nNext, relNext) = materialize(next)
      relFrontier() // next is materialized; the prior frontier is dead
      grew = nNext > 0
      if (grew) {
        val widened = dedup(spark.sparkContext.union(Seq(reached, next)))
        val relWidened = materialize(widened)._2
        relReached() // the widened set is cut; the prior one is dead
        reached = widened
        relReached = relWidened
        frontier = next
        relFrontier = relNext
      } else relNext()
      level += BfsHopsPerBatch
    }
    relFrontier()
    adjRdd.unpersist(blocking = false)
    scope.add(relReached) // final set released by the caller post-consumption
    spark.createDataset(reached.map(_._1)).toDF("id")
  }

  /** Distributed reachability repair — see the class doc. Returns the
    * adjacency with repair in-edges merged, degree cap 3m preserved.
    * Carries an `origCnt` column through the attach rounds (adjacency is
    * always original-prefix ++ appended-repair-edges, so `origCnt` marks
    * the trim-eligible prefix); trims happen only in a round that follows
    * a stalled round, and any pass that trimmed is re-verified by a fresh
    * BFS before repair reports done. */
  private def repair(adj0: DataFrame, baseN: DataFrame, ep: Long,
                     metric: Metric, m: Int, frontierWidth: Int,
                     maxRounds: Int): DataFrame = {
    val spark = adj0.sparkSession
    import spark.implicits._
    val cap = 3 * m

    // vectors never change across repair rounds (only the adjacency
    // does), so the vector half of the beam searches' pin is shared for
    // the whole repair instead of re-shuffling the n-row table per round
    val repairVecs = BspBeamSearch.pinVectors(
      baseN.select(col("id"), col("vec")))

    var (adjCur, relAdjCur) = graft.ops.graph.PlanUtil.cutDFReleasable(
      adj0.select(col("src"), col("nbrs"), size(col("nbrs")).as("origCnt")))
    var remaining = 0L
    var pass = 0
    var done = false
    var unverifiedTrim = false
    while (!done && pass < RepairMaxPasses) {
      // BFS is re-run per pass: pass 0 discovers the unreached set, later
      // passes VERIFY the post-trim graph (trims can in principle orphan
      // a node whose only in-path ran through the trimmed edge)
      val tBfs0 = System.nanoTime()
      val bfsScope = new graft.ops.graph.CpScope
      val reached = bfsReached(adjCur.select("src", "nbrs"), ep, bfsScope)
      var (unreached, relUnreached) = graft.ops.graph.PlanUtil.cutDFReleasable(
        baseN.select(col("id"), col("vec"))
          .join(reached, Seq("id"), "left_anti"))
      bfsScope.releaseAll() // unreached is cut; the BFS reached-set is dead
      remaining = unreached.count()
      println(f"[dist-build] repair pass $pass: verify-bfs " +
        f"${(System.nanoTime() - tBfs0) / 1e9}%.1f s, unreached $remaining")
      if (remaining == 0) done = true
      else {
        val passStart = remaining
        var round = 0
        var allowTrim = false
        var trimmedThisPass = false
        var exhausted = false
        while (remaining > 0 && !exhausted && round < beamRoundsBound) {
          val tRound0 = System.nanoTime()
          val ranWithTrim = allowTrim
          // nearest reached nodes per unreached query: beams start at ep
          // over the CURRENT adjacency, so every pooled candidate is
          // reached (incl. nodes attached in previous rounds — that is
          // what drains islands: once boundary members attach, the next
          // round's beams walk through them into the island interior)
          val roundScope = new graft.ops.graph.CpScope
          val hits =
            if (remaining <= RepairQueryBatch)
              BspBeamSearch.search(
                adjCur.select("src", "nbrs"), baseN, unreached, k = RepairC,
                l = math.max(16, 4 * RepairC), ep, metric,
                frontierWidth, maxRounds, excludeSelf = true,
                scope = roundScope, sharedVecs = Some(repairVecs))
            else {
              // bounded query slices over ONE frozen (adjacency, vectors)
              // pin: per-query results are independent given the frozen
              // graph, so slice ∪ == unsliced (see RepairQueryBatch doc)
              val nb = math.ceil(remaining.toDouble / RepairQueryBatch).toInt
              val roundPin = BspBeamSearch.pinAdjOnto(
                adjCur.select("src", "nbrs"), repairVecs)
              val slices = (0 until nb).map { b =>
                BspBeamSearch.search(
                  adjCur.select("src", "nbrs"), baseN,
                  unreached.filter(
                    pmod(xxhash64(col("id")), lit(nb)) === lit(b)),
                  k = RepairC, l = math.max(16, 4 * RepairC), ep, metric,
                  frontierWidth, maxRounds, excludeSelf = true,
                  scope = roundScope, pinned = Some(roundPin))
              }
              // each slice's result is cut (eager) inside search(), so
              // the round pin's adjacency half is dead once all return;
              // the vector half is the repair-lifetime shared pin
              roundPin.releaseAdj()
              slices.reduce(_ unionByName _)
            }
          val (a2, relA2, attached, relAttached) =
            absorbRound(adjCur, hits, cap, m, allowTrim)
          relAdjCur() // merged adjacency is cut; the prior round's is dead
          adjCur = a2
          relAdjCur = relA2
          locally {
            val (u2, relU2) = graft.ops.graph.PlanUtil.cutDFReleasable(
              unreached.join(attached, Seq("id"), "left_anti"))
            relUnreached()
            unreached = u2
            relUnreached = relU2
          }
          roundScope.releaseAll() // beam states are dead: both consumers cut
          relAttached()
          val left = unreached.count()
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
      relUnreached() // pass is over; only the scalar `remaining` survives
      pass += 1
    }
    // Convergence backstop (VERDICT r8 #3). Two exit states need it:
    // (a) the pass bound was hit with the FINAL pass's trim unverified
    // (done still false, `remaining` possibly stale-zero — a trim could
    // have orphaned a node whose only in-path ran through the trimmed
    // edge); (b) the beam rounds exhausted/stalled with residual orphans
    // (measured 0.009% of nodes at the 4M rung — the beams' miss mode is
    // geometric: an island no beam enters). Each backstop pass re-runs
    // the verify BFS, then attaches the orphan residue through one EXACT
    // blocked kNN join (orphans vs the reached set — KnnJoin streams the
    // reached side once per orphan block, so work is |orphans|-bounded,
    // and unlike a beam it cannot miss): every orphan's nearest reached
    // sources are found by construction and absorbed under the same
    // trim-allowed discipline as a trim round. Because a trim can in
    // principle orphan someone else, the NEXT pass's BFS re-verifies;
    // the loop exits only on a verified-clean BFS or the pass bound.
    // The orphan residue does transit the driver inside KnnJoin's query
    // blocks — bounded by the residue size, not the corpus; the builder's
    // no-driver-materialization contract is about corpus-scale state.
    var fpass = 0
    var staleCount = !done && unverifiedTrim
    while ((remaining > 0 || staleCount) && fpass <= RepairForcePasses) {
      val vScope = new graft.ops.graph.CpScope
      val reached = bfsReached(adjCur.select("src", "nbrs"), ep, vScope)
      val (orphans, relOrphans) = graft.ops.graph.PlanUtil.cutDFReleasable(
        baseN.select(col("id"), col("vec"))
          .join(reached, Seq("id"), "left_anti"))
      remaining = orphans.count()
      staleCount = false
      if (remaining > 0 && fpass < RepairForcePasses) {
        println(s"[dist-build] repair backstop: exact-attaching $remaining " +
          s"orphan(s), pass ${fpass + 1}")
        val (reachedV, relReachedV) = graft.ops.graph.PlanUtil.cutDFReleasable(
          baseN.select(col("id"), col("vec")).join(reached, Seq("id")))
        vScope.releaseAll() // both consumers of the BFS set are cut
        val hits = KnnJoin(orphans, reachedV, RepairC, metric)
          .select(col("query_id"),
            transform(col("knn"), _("dist")).as("dists"),
            transform(col("knn"), _("id")).as("ids"))
        val (a2, relA2, _, relAttached) =
          absorbRound(adjCur, hits, cap, m, allowTrim = true)
        relAdjCur()
        adjCur = a2
        relAdjCur = relA2
        relAttached(); relReachedV()
        staleCount = true // attach happened: the next BFS must re-verify
      } else vScope.releaseAll()
      relOrphans()
      fpass += 1
    }
    repairVecs.release() // every consumer (beam rounds) is cut
    if (remaining > 0)
      println(s"[dist-build] WARNING: reachability repair exiting with " +
        s"$remaining unreachable node(s) after $pass pass(es) — callers " +
        s"should not assume full connectivity")
    adjCur.select("src", "nbrs")
  }

  /** One bounded absorption round, shared by the beam repair rounds and
    * the exact backstop. `hits` rows are (query_id, dists, ids): candidate
    * source nodes per unreached node, nearest first. Sources absorb
    * (dist, id)-deterministically into their free degree room; with
    * `allowTrim`, a saturated source's allowance is raised to
    * min(origCnt, RepairC) so the merge can trim that many ORIGINAL tail
    * edges — never a repair edge (a repair edge is some node's only
    * in-link). `adjCur` must carry (src, nbrs, origCnt). Returns the
    * merged adjacency and the distinct attached node ids, both cut, with
    * their release thunks (merged is materialized before return, so the
    * caller may release the prior adjacency immediately). */
  private def absorbRound(adjCur: DataFrame, hits: DataFrame, cap: Int,
                          m: Int, allowTrim: Boolean)
      : (DataFrame, () => Unit, DataFrame, () => Unit) = {
    val spark = adjCur.sparkSession
    import spark.implicits._
    val topAttach = graft.functions.TopKAggregator.topK(2 * m)
    val allowance =
      if (allowTrim)
        greatest(lit(cap) - col("deg"),
          least(col("origCnt"), lit(RepairC)))
      else greatest(lit(0), lit(cap) - col("deg"))
    val kept = hits
      .select(col("query_id").as("u"),
        explode(arrays_zip(col("dists"), col("ids"))).as("h"))
      .select(col("h.ids").as("src"), col("u"), col("h.dists").as("d"))
      .groupBy("src")
      .agg(topAttach(col("u"), col("d")).as("adds"))
      .join(adjCur.select(col("src"), size(col("nbrs")).as("deg"),
        col("origCnt")), "src")
      .select(col("src"), slice(col("adds"), lit(1), allowance).as("adds"))
      .filter(size(col("adds")) > 0)
    val (attached, relAttached) = graft.ops.graph.PlanUtil.cutDFReleasable(
      kept.select(explode(col("adds")("id")).as("id")).distinct())
    val merged = adjCur
      .join(kept.select(col("src"), col("adds")), Seq("src"), "left")
      .as[(Long, Seq[Long], Int, Option[Seq[(Long, Double)]])]
      .map { case (src, nbrs, origCnt, addsOpt) =>
        val have = nbrs.toSet
        val adds = addsOpt.getOrElse(Seq.empty).map(_._1)
          .filter(u => u != src && !have.contains(u)).distinct
        val room = cap - nbrs.size
        if (adds.size <= room) (src, nbrs ++ adds, origCnt)
        else {
          // overflow ≤ allowance - room ≤ min(origCnt, RepairC), so
          // the original prefix always has room to give
          val t = math.min(adds.size - math.max(room, 0), origCnt)
          val kept2 = nbrs.take(origCnt - t) ++ nbrs.drop(origCnt)
          (src, kept2 ++ adds.take(math.max(room, 0) + t), origCnt - t)
        }
      }.toDF("src", "nbrs", "origCnt")
    val (a2, relA2) = graft.ops.graph.PlanUtil.cutDFReleasable(merged)
    (a2, relA2, attached, relAttached)
  }

  /** Bulk reverse-edge merge (G8 ProjectionAddReverse / G12
    * SupplyAddReverse, src/index_bipartite.cpp:1391-1432 / :1352-1389),
    * fully keyed: forward lists keep their order (pos), reverse candidates
    * arrive through a bounded (dist, id) top-`capRev` aggregation (a hub's
    * reverse fan-in never exceeds the cap anywhere — not even in a task's
    * aggregation buffer), and the per-node merge appends sorted reverse
    * candidates while under `appendCap`, occlusion-pruning the union to
    * `pruneTo` on overflow; `finalCap` applies the phase-2 post-pass
    * re-prune. */
  /** Reverse sweep + per-src merge (the G8/G10-G12 shapes). Returns the
    * merged (src, nbrs) lists plus a release thunk for any per-slice
    * checkpoint blocks (a no-op when unbatched).
    *
    * `batches` > 1 slices DESTINATION srcs by id hash and runs the sweep
    * slice-by-slice. Every shuffle in here is keyed by `src` — the fwd
    * explode's groupBy, the reverse swap's groupBy, and the final
    * three-way join — so per-src results are independent and slicing is
    * EXACT (spec-gated batched==unbatched, DistRoarGraphSpec). Why it
    * exists: the sweep's live scratch is vec-carrying — fwd and reverse
    * edges each haul a vecBytes vector into their groupBy, and rev lists
    * of up to capRev vectors ride the final join — totalling
    * ~n·m·vecBytes·4 monolithically, the build's largest single-phase
    * disk demand once the forward pools are batched (MEASURED: 64 GB
    * accumulated in 90 s at 4M×200d×(24,32), SCALE.md 4M rung). Sliced,
    * live scratch is one slice's volume: each slice materializes to an
    * id-only (src, nbrs) cut before the next slice starts, and the dead
    * slice's shuffle files are reclaimed by the ContextCleaner. On a
    * cluster the same knob bounds per-executor scratch at fixed executor
    * count. */
  private def mergeReversePhase(fwd: DataFrame, baseN: DataFrame,
                                metric: Metric, appendCap: Int, pruneTo: Int,
                                backfill: Boolean, capRev: Int,
                                finalCap: Option[Int],
                                batches: Int = 1): (DataFrame, () => Unit) = {
    // one vector pin shared by every slice: the slice joins used to
    // re-shuffle the FULL n-row vector table three times PER SLICE
    // (~6 TB of sort-merge input at 10M x mrb 256 — the same disease the
    // round-12 BSP reshape fixed); with the pin, slices route only
    // skinny edge ids and slice-bounded payload rows
    val vp = BspBeamSearch.pinVectors(baseN)
    if (batches <= 1)
      // the returned release follows the cutReleasable contract (call
      // only after the result is materialized) — it frees the pin too
      (mergeReverseSlice(fwd, baseN, metric, appendCap, pruneTo, backfill,
        capRev, finalCap, keepDst = lit(true), vp = vp),
        () => vp.release())
    else {
      val cuts = (0 until batches).map { b =>
        graft.ops.graph.PlanUtil.cutDFReleasable(
          mergeReverseSlice(fwd, baseN, metric, appendCap, pruneTo, backfill,
            capRev, finalCap,
            keepDst = pmod(xxhash64(col("__dst")), lit(batches)) === lit(b),
            vp = vp))
      }
      vp.release() // every slice is cut; the pin is dead
      (cuts.map(_._1).reduce(_.unionByName(_)), () => cuts.foreach(_._2()))
    }
  }

  /** One destination slice of [[mergeReversePhase]]. `keepDst` is a
    * predicate over a column named `__dst` holding the destination src id
    * at each of the three filter sites. */
  private def mergeReverseSlice(fwd: DataFrame, baseN: DataFrame,
                                metric: Metric, appendCap: Int, pruneTo: Int,
                                backfill: Boolean, capRev: Int,
                                finalCap: Option[Int],
                                keepDst: Column,
                                vp: BspBeamSearch.PinnedVecs): DataFrame = {
    val spark = fwd.sparkSession
    import spark.implicits._
    val mtr = metric
    def dstFilter(df: DataFrame, dstCol: String): DataFrame = df
      .withColumn("__dst", col(dstCol)).where(keepDst).drop("__dst")

    // forward edges: skinny (other → (src, pos)) ids routed to the pin,
    // vector attached where it lives, payload rows are slice-bounded
    val fwdE = spark.createDataset(
      BspBeamSearch.lookupVec(
        dstFilter(fwd, "src")
          .select(col("src"), posexplode(col("nbrs")).as(Seq("pos", "other")))
          .as[(Long, Int, Long)].rdd
          .map { case (src, pos, other) => (other, (src, pos)) }, vp)
        .map { case (other, (src, pos), ovec) => (src, pos, other, ovec) })
      .toDF("src", "pos", "other", "ovec")
      .groupBy("src")
      .agg(sort_array(collect_list(struct(col("pos"), col("other"), col("ovec"))))
        .as("fwdl"))

    // reverse candidates: two narrow lookups (other's vector at its
    // partition, then src's vector at its partition) and the distance
    // computed right there — Metric.dist accumulates in double exactly
    // like the Catalyst expression this replaces (the engine-wide shared
    // float64 contract, Types.scala), so results are bit-identical
    val topRev = TopKAggregator.topKVec(capRev)
    val revE = spark.createDataset(
      BspBeamSearch.lookupVec(
        BspBeamSearch.lookupVec(
          dstFilter(
            fwd.select(col("src").as("other"), explode(col("nbrs")).as("src")),
            "src")
            .select(col("other"), col("src")) // fix positional order
            .as[(Long, Long)].rdd, vp) // keyed by other → ovec
          .map { case (other, src, ovec) => (src, (other, ovec)) }, vp)
        .map { case (src, (other, ovec), svec) =>
          (src, other, mtr.dist(svec, ovec), ovec)
        })
      .toDF("src", "other", "d", "ovec")
      .groupBy("src")
      .agg(topRev(col("other"), col("d"), col("ovec")).as("revl"))

    dstFilter(baseN, "id").select(col("id").as("src"), col("vec").as("svec"))
      .join(fwdE, Seq("src"), "left")
      .join(revE, Seq("src"), "left")
      .as[(Long, Array[Float], Option[Seq[(Int, Long, Array[Float])]],
        Option[Seq[NeighborVec]])]
      .map { case (src, svec, fwdlOpt, revlOpt) =>
        val fwdl = fwdlOpt.getOrElse(Seq.empty)
        val fwdIds = fwdl.map(_._2).toArray
        val have = fwdIds.toSet
        val rev = revlOpt.getOrElse(Seq.empty)
          .filter(r => r.id != src && !have.contains(r.id))
        val fwdTriples = fwdl.map(t => (t._2, metric.dist(svec, t._3), t._3))
        val revTriples = rev.map(r => (r.id, r.dist, r.vec))
        val ids: Array[Long] =
          if (fwdIds.length + revTriples.length <= appendCap)
            fwdIds ++ revTriples.map(_._1)
          else OcclusionPrune.pruneVecs(
            (fwdTriples ++ revTriples).toArray, src, pruneTo, metric, backfill)
        val finalIds = finalCap match {
          case Some(c) if ids.length > c =>
            val byId = (fwdTriples ++ revTriples).map(t => (t._1, t)).toMap
            OcclusionPrune.pruneVecs(ids.flatMap(byId.get(_)).toArray, src, c,
              metric, backfill = false)
          case _ => ids
        }
        (src, finalIds)
      }.toDF("src", "nbrs")
  }
}
