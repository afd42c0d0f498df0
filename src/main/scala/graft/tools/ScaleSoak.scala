package graft.tools

import graft.build.DistRoarGraphBuilder
import graft.core.{BuildParams, CpIO, Metric}
import graft.ops.KnnJoin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Beyond-broadcast scale soak for the distributed index tier
  * (VERDICT r3 task 1): build a DistRoarGraph over >=1M x 64d synthetic
  * vectors END TO END with the JVM heap capped so the broadcast/in-RAM
  * tier demonstrably cannot run, then BSP-search and report recall@10
  * against exact kNN ground truth, build/search wall, and peak heap.
  *
  * The corpus mirrors the reference's own regime (10M x 200d fbin inputs,
  * /root/reference/prepare_data.sh:22-28) in shape: clustered embeddings
  * (1024 deterministic centers + per-id noise), the distribution graph-ANN
  * serves in practice. Generation is a pure function of (id, j) — no RNG
  * state, identical on any partitioning.
  *
  * Run via plain java for exact heap control (no sbt; JARS = the
  * /opt/spark/jars glob). The JDK-17 --add-opens list from build.sbt is
  * REQUIRED: under heap pressure the BlockManager evicts cached blocks
  * to disk, eviction serialization auto-picks Kryo, and Kryo's default
  * registration list touches java.nio.ByteBuffer — without
  * `--add-opens java.base/java.nio=ALL-UNNAMED` (and friends) the first
  * eviction kills the job ~30 min in:
  * {{{
  * java -Xmx4g $(for p in java.lang java.lang.invoke java.lang.reflect \
  *   java.io java.net java.nio java.util java.util.concurrent \
  *   java.util.concurrent.atomic sun.nio.ch sun.nio.cs \
  *   sun.security.action sun.util.calendar; do \
  *     echo "--add-opens java.base/$p=ALL-UNNAMED"; done) \
  *   -cp "target/scala-2.13/classes:JARS" \
  *   graft.tools.ScaleSoak --n 1000000 --tier dist --out target/soak
  * }}}
  * `--tier memory` attempts the in-RAM builder at the same heap — expected
  * to die with OOM; its exit is part of the recorded evidence.
  */
object ScaleSoak {

  private var Dim = 64
  // Overlapping clusters: structured like a real embedding corpus but
  // navigable — fully separated point-mass islands disconnect ANY
  // proximity graph (measured: recall 0.03 with 1024 tight clusters at
  // noise 0.25; 0.76-0.93 at 64 clusters noise 1.0 depending on
  // train-query ratio and degree — see SCALE.md). Defaults give heavy
  // overlap; --centers/--noise select harder geometries.
  private var Centers = 16
  private var Noise = 1.5f

  /** splitmix64 — deterministic, partitioning-independent. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def unit(h: Long): Float =
    ((h >>> 11).toDouble / (1L << 53).toDouble).toFloat * 2f - 1f

  /** vec(id) = center(id mod centers) + noise * noise(id, j); centers and
    * noise are hash-derived. Queries use a disjoint seed space. */
  private def genVec(id: Long, seed: Long, dim: Int, centers: Int,
                     noise: Float): Array[Float] = {
    val c = ((id % centers) + centers) % centers
    Array.tabulate(dim) { j =>
      unit(mix(c * 131071L + j)) + noise * unit(mix(seed ^ (id * 8191L + j)))
    }
  }

  /** Deterministic corpus — also the generator [[TierCurves]] reuses to
    * reconstruct the soak's query sets against a persisted layout. */
  def corpus(spark: SparkSession, n: Long, seed: Long,
             idOffset: Long = 0L, dim: Int = Dim, centers: Int = Centers,
             noise: Float = Noise): DataFrame = {
    import spark.implicits._
    spark.range(n).as[Long]
      .map(i => (i + idOffset, genVec(i, seed, dim, centers, noise)))
      .toDF("id", "vec")
  }

  def main(args: Array[String]): Unit = {
    val a = Tools.parseArgs(args)
    val n = a.getOrElse("n", "1000000").toLong
    Dim = a.getOrElse("dim", Dim.toString).toInt
    Centers = a.getOrElse("centers", Centers.toString).toInt
    Noise = a.getOrElse("noise", Noise.toString).toFloat
    val tier = a.getOrElse("tier", "dist")
    val out = a.getOrElse("out", "target/soak")
    val trainQ = a.getOrElse("trainQ", "20000").toInt
    val evalQ = a.getOrElse("evalQ", "200").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val shufflePartitions = a.getOrElse("shuffle", "96")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/tmp")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      // per-round BSP shuffles are tens of GB at n>=1M; aggressive driver
      // GC lets ContextCleaner delete dereferenced shuffle files fast
      // enough that live spill stays within a couple of rounds' worth.
      // 30s, MEASURED at the 10M regime (round 12): at 60s the cleaner
      // lagged the ~60 s round cadence by ~3-5 min, holding ~25-40 GB of
      // dead shuffle files live on a box whose writable pool is ~94 GB —
      // the first p2b=64 launch died ENOSPC before reaching steady state
      .config("spark.cleaner.periodicGC.interval", "30s")
      // never use the bypass-merge shuffle writer: it opens one buffered
      // DiskBlockObjectWriter PER REDUCE PARTITION PER TASK (LZ4 +
      // serializer buffers are untracked heap), which at threads ×
      // shufflePartitions writers exhausts a capped heap — measured: the
      // 4 GiB soak died in LZ4BlockOutputStream.<init> with 16×192
      // writers. The tungsten sort-based writer spills through tracked
      // memory and keeps one stream per task.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      // a multi-hour single-JVM build must SURVIVE a transient driver
      // freeze (measured round 13: a ~170 s dispatcher stall during the
      // 10M pin materialization tripped the 120 s heartbeat timeout;
      // local-mode HeartbeatReceiver then "removed" the driver executor
      // and the scheduler unraveled — the whole JVM died for a stall a
      // batch would have absorbed). Local mode has no network: the
      // heartbeat is driver self-monitoring, so a generous window only
      // trades detection latency we don't need for robustness we do.
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.rpc.askTimeout", "600s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // peak-heap sampler (local mode: driver and executors share this JVM,
    // so this bounds BOTH; the no-collect guarantee is the source-level
    // spec in DistRoarGraphSpec)
    val peak = new java.util.concurrent.atomic.AtomicLong(0L)
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    val sampler = new Thread(() => {
      while (true) {
        val u = mem.getHeapMemoryUsage.getUsed
        peak.updateAndGet(p => math.max(p, u))
        Thread.sleep(200)
      }
    })
    sampler.setDaemon(true)
    sampler.start()

    println(s"[soak] n=$n dim=$Dim tier=$tier heapMax=${Runtime.getRuntime.maxMemory / (1 << 20)}MiB")

    // materialize the corpus once as parquet so build reads a real table
    val basePath = s"$out/base_${n}_d${Dim}_c${Centers}_n$Noise"
    // _SUCCESS probes go through the session's Hadoop FS like the rest of
    // the checkpoint metadata (ADVICE r12): a java.io.File probe silently
    // never resumes when --out is hdfs:// or s3a://.
    if (!CpIO.exists(s"$basePath/_SUCCESS")(spark)) {
      val t0 = System.nanoTime()
      corpus(spark, n, seed = 0x5EEDL).write.mode("overwrite").parquet(basePath)
      println(f"[soak] corpus written in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    val base = spark.read.parquet(basePath)
    val train = corpus(spark, trainQ, seed = 0x77AA11L)
    val eval = corpus(spark, evalQ, seed = 0xE7A1L, idOffset = 10_000_000L)

    val params = BuildParams(
      mSq = a.getOrElse("mSq", "32").toInt,
      mPjbp = a.getOrElse("mPjbp", "24").toInt,
      lPjpq = a.getOrElse("lPjpq", "48").toInt,
      metric = Metric.L2)

    // the S5 input (train→base kNN) is the same for every tier: compute it
    // ONCE with the distributed KnnJoin and share, so the memory-tier OOM
    // demonstration isolates the genuinely in-RAM build phases instead of
    // re-paying the kNN, and the dist tier doesn't recompute it either.
    // A --searchOnly run never builds, so it skips the kNN entirely.
    val wantBuild = !a.contains("searchOnly")
    // --trainKnn approx: IVF-pruned kNN prefix (KnnJoin.ivfApprox) — the
    // bounded-cost path for the 10M regime, where the exact n·q·dim
    // prefix dominates build wall. Parity with the reference, which
    // consumes externally-built APPROXIMATE ground truth for this exact
    // input (SURVEY.md A1). When the exact prefix file for the same
    // (trainQ, mSq) exists on disk, the mean top-k overlap against it is
    // measured and printed. --knnOnly exits after the prefix (+ report).
    val trainKnnMode = a.getOrElse("trainKnn", "exact")
    val exactKnnPath = s"$basePath.knn_${trainQ}_${params.mSq}"
    // full prefix identity: corpus (basePath bakes n/dim/centers/noise) +
    // train set (trainQ, mSq) + prefix mode (approx bakes nlist/nprobe).
    // The --buildCp auto dir is keyed off THIS string, so resuming after
    // changing any prefix knob lands in a DIFFERENT checkpoint dir instead
    // of silently reusing a projection built from a different kNN input
    // (ADVICE r11 medium).
    val knnIdPath = trainKnnMode match {
      case "exact" => exactKnnPath
      case "approx" =>
        s"$exactKnnPath.approx_${a.getOrElse("nlist", "1024")}_${a.getOrElse("nprobe", "64")}"
      case other => sys.error(s"unknown --trainKnn mode: $other")
    }
    val knn = if (!wantBuild) None else {
      val knnPath = knnIdPath
      if (!CpIO.exists(s"$knnPath/_SUCCESS")(spark)) {
        val tk = System.nanoTime()
        val lists =
          if (trainKnnMode == "exact") KnnJoin(train, base, params.mSq, Metric.L2)
          // the approx drain checkpoints each merged query block under
          // <knnPath>.cp — a prefix killed at a window boundary resumes
          // at the last completed ~40-60 min block instead of restarting
          // the multi-hour scan (markers guard slice identity)
          else KnnJoin.ivfApprox(train, base, params.mSq, Metric.L2,
            nlist = a.getOrElse("nlist", "1024").toInt,
            nprobe = a.getOrElse("nprobe", "64").toInt,
            checkpointDir = Some(s"$knnPath.cp"))
        lists.select(col("query_id"), transform(col("knn"), _("id")).as("knn"))
          .write.mode("overwrite").parquet(knnPath)
        println(f"[soak] train->base kNN ($trainKnnMode) written in ${(System.nanoTime() - tk) / 1e9}%.1f s")
      }
      // --agreeSample N: at regimes where the FULL exact prefix is
      // unaffordable (the 10M primary — ~1e15 mul-adds), verify the approx
      // prefix against an exact kNN of a deterministic hash-ordered sample
      // of N train queries (N·n·dim work — minutes, not days). This is the
      // committable agreement evidence for rungs with no exact twin.
      val agreeSample = a.getOrElse("agreeSample", "0").toInt
      if (trainKnnMode == "approx" && agreeSample > 0) {
        val sq = train.orderBy(xxhash64(col("id")), col("id"))
          .limit(agreeSample)
        val ta = System.nanoTime()
        val ex = KnnJoin(sq, base, params.mSq, Metric.L2)
          .select(col("query_id"), transform(col("knn"), _("id")).as("e"))
        val ap = spark.read.parquet(knnPath)
          .select(col("query_id"), col("knn").as("a"))
        val agree = ex.join(ap, Seq("query_id"), "left")
          .select((coalesce(size(array_intersect(col("e"), col("a"))), lit(0))
            .cast("double") / size(col("e"))).as("ov"))
          .agg(avg(col("ov"))).head().getDouble(0)
        println(f"""[soak] {"knn_agreement_sampled":$agree%.4f,"sample":$agreeSample,"k":${params.mSq},"sample_sec":${(System.nanoTime() - ta) / 1e9}%.1f}""")
      }
      if (trainKnnMode == "approx" &&
          CpIO.exists(s"$exactKnnPath/_SUCCESS")(spark)) {
        // LEFT join from the exact side with zero credit for queries the
        // approx file lacks or left empty — an inner join would silently
        // exclude coverage gaps from the mean and overstate agreement
        val ex = spark.read.parquet(exactKnnPath)
          .select(col("query_id"), col("knn").as("e"))
        val ap = spark.read.parquet(knnPath)
          .select(col("query_id"), col("knn").as("a"))
        val agree = ex.join(ap, Seq("query_id"), "left")
          .select((coalesce(size(array_intersect(col("e"), col("a"))), lit(0))
            .cast("double") / size(col("e"))).as("ov"))
          .agg(avg(col("ov"))).head().getDouble(0)
        println(f"""[soak] {"knn_agreement":$agree%.4f,"k":${params.mSq},"mode":"$trainKnnMode"}""")
      }
      Some(spark.read.parquet(knnPath))
    }
    if (a.contains("knnOnly")) {
      println("[soak] --knnOnly: prefix written; exiting before build")
      spark.stop()
      return
    }

    val tb = System.nanoTime()
    tier match {
      case "memory" =>
        // at a capped heap this is the OOM demonstration (collects all
        // vectors + per-node pools driver-side); at a roomy heap it is
        // the QUALITY COMPARATOR for the distributed tier: same corpus,
        // same train kNN, the reference-faithful in-RAM builder + kernel
        // search, recall measured against the same exact GT. The
        // in-memory builder's precomputedKnn contract is DENSE Int ids;
        // the soak corpus ids are 0..n-1 so dense == external and a cast
        // suffices.
        val denseKnn = knn.map(_.select(col("query_id"),
          transform(col("knn"), _.cast("int")).as("knn")))
        val idx = graft.build.RoarGraphBuilder.build(base, train, params, denseKnn)
        val memBuildSec = (System.nanoTime() - tb) / 1e9
        println(f"[soak] in-memory build completed n=${idx.n}, $memBuildSec%.1f s")
        val tg = System.nanoTime()
        val gt = KnnJoin(eval, base, 10, Metric.L2)
          .select(col("query_id"), transform(col("knn"), _("id")).as("ids")).cache()
        gt.count()
        val gtSec = (System.nanoTime() - tg) / 1e9
        val ts = System.nanoTime()
        val res = graft.build.RoarGraphBuilder.searchBatch(idx, eval,
          graft.core.SearchParams(k = 10, lPq = a.getOrElse("l", "100").toInt,
            metric = Metric.L2))
          .select(col("query_id"), col("ids")).cache()
        res.count()
        val searchSec = (System.nanoTime() - ts) / 1e9
        val recall = graft.eval.Eval.recallAtK(res, gt, 10)
          .head().getAs[Double]("recall_at_k")
        println(f"""[soak] {"n":$n,"dim":$Dim,"tier":"memory","build_sec":$memBuildSec%.1f,"gt_sec":$gtSec%.1f,"search_sec":$searchSec%.1f,"recall_at_10":$recall%.4f,"peak_heap_mib":${peak.get / (1 << 20)},"heap_max_mib":${Runtime.getRuntime.maxMemory / (1 << 20)}}""")
      case _ =>
        implicit val sp: SparkSession = spark
        // --searchOnly reuses the bucketed layout a previous run saved —
        // search-knob sweeps (l, seeds, rounds) cost minutes, not a
        // rebuild
        val searchOnly = a.contains("searchOnly")
        val soakDb = a.getOrElse("db", "graft_soak_idx")
        var buildSec = 0.0; var maxDeg = 0
        if (!searchOnly) {
          // phase-2 self-search batches: bound per-round shuffle spill to
          // ~one 256k-query slice regardless of n (single-box disk
          // headroom; a real cluster's aggregate scratch scales with
          // executors)
          val p2b = a.getOrElse("p2b",
            math.max(1L, n / 262144L).toString).toInt
          // reverse supply-merge slices: same scratch bound for the
          // build's other n·m·vecBytes shuffle family (defaults to the
          // self-search batch count — both phases face the same disk)
          val mrb = a.getOrElse("mrb", p2b.toString).toInt
          // --buildCp <dir|auto>: durable stage checkpoints (projection,
          // per-batch supply, merged adjacency) so a build killed at a
          // wall/preemption boundary resumes instead of restarting — the
          // 10M regime's build exceeds any single measurement window.
          // "auto" derives a dir keyed by the FULL kNN-input identity
          // (corpus + train + prefix knobs, via knnIdPath) + build degree
          // knobs; the remaining dataflow knobs (fw/mr/seeds/p2b/kernel)
          // are guarded by the dir's FINGERPRINT inside build().
          val buildCp = a.get("buildCp").map {
            case "auto" => s"$knnIdPath.build_cp_m${params.mPjbp}_l${params.lPjpq}"
            case d      => d
          }
          buildCp.foreach(d => println(s"[soak] build checkpoints: $d"))
          val di = DistRoarGraphBuilder.build(base, train, params, knn,
            frontierWidth = a.getOrElse("fw", "8").toInt,
            maxRounds = a.getOrElse("p2rounds", "24").toInt,
            selfSearchSeeds = a.getOrElse("seeds", "32").toInt,
            selfSearchBatches = p2b,
            mergeBatches = mrb,
            checkpointDir = buildCp)
          di.adj.cache()
          val nAdj = di.adj.count()
          buildSec = (System.nanoTime() - tb) / 1e9
          maxDeg = di.adj.select(max(size(col("nbrs")))).head().getInt(0)
          println(f"[soak] dist build: $nAdj nodes, maxDeg=$maxDeg, ${buildSec}%.1f s")
          // persist through the bucketed serving layout: adjacency and
          // vectors co-bucketed by node id, so the per-round BSP joins
          // read pre-partitioned tables and only the frontier shuffles
          val tw = System.nanoTime()
          graft.ops.graph.GraphIO.saveDistBucketed(di, base, soakDb,
            buckets = shufflePartitions.toInt)
          val bucketSec = (System.nanoTime() - tw) / 1e9
          println(f"[soak] bucketed layout written in $bucketSec%.1f s")
          di.adj.unpersist()
        }

        if (searchOnly) // fresh session: re-register the surviving files
          graft.ops.graph.GraphIO.attachDistBucketed(soakDb)
        val (bIdx, bVecs) = graft.ops.graph.GraphIO.loadDistBucketed(soakDb)
        if (searchOnly)
          maxDeg = bIdx.adj.select(max(size(col("nbrs")))).head().getInt(0)
        // ground truth (exact) — in searchOnly mode compute it from the
        // PERSISTED vectors, not a regenerated corpus: if any generation
        // parameter differs from the build run, a regenerated base would
        // silently score recall against the wrong corpus
        val tg = System.nanoTime()
        val gt = KnnJoin(eval, if (searchOnly) bVecs else base, 10, Metric.L2)
          .select(col("query_id"), transform(col("knn"), _("id")).as("ids")).cache()
        gt.count()
        val gtSec = (System.nanoTime() - tg) / 1e9
        val ts = System.nanoTime()
        val searchSeeds = graft.ops.graph.BspBeamSearch.pickSeeds(
          bIdx.adj, a.getOrElse("seeds", "32").toInt)
        val searchScope = new graft.ops.graph.CpScope
        val res = graft.ops.graph.BspBeamSearch.search(bIdx.adj, bVecs, eval,
          k = 10, l = a.getOrElse("l", "100").toInt, ep = bIdx.ep, Metric.L2,
          frontierWidth = a.getOrElse("searchFw", "8").toInt,
          maxRounds = a.getOrElse("searchRounds", "256").toInt,
          extraSeeds = searchSeeds, scope = searchScope)
          .select(col("query_id"), col("ids")).cache()
        res.count()
        val searchSec = (System.nanoTime() - ts) / 1e9
        val recall = graft.eval.Eval.recallAtK(res, gt, 10)
          .head().getAs[Double]("recall_at_k")
        searchScope.releaseAll()
        // the cap is the LAYOUT's, not this run's: a --searchOnly session
        // reads the build-time 3*mPjbp persisted in the bucketed meta
        // (None for layouts written before the meta carried it — then the
        // field is omitted rather than printing a cap computed from this
        // run's unrelated default params)
        val capOpt = if (searchOnly) bIdx.degreeCap else Some(3 * params.mPjbp)
        val capJson = capOpt.map(c => s""""degree_cap":$c,""").getOrElse("")
        println(f"""[soak] {"n":$n,"dim":$Dim,"build_sec":$buildSec%.1f,"gt_sec":$gtSec%.1f,"search_sec":$searchSec%.1f,"recall_at_10":$recall%.4f,"max_degree":$maxDeg,$capJson"peak_heap_mib":${peak.get / (1 << 20)},"heap_max_mib":${Runtime.getRuntime.maxMemory / (1 << 20)}}""")
        // enforce whenever the true cap is known — including searchOnly,
        // now that the layout itself carries it
        capOpt.foreach(c =>
          require(maxDeg <= c, s"degree cap violated: $maxDeg > $c"))
    }
    println(s"[soak] peak heap ${peak.get / (1 << 20)} MiB")
    spark.stop()
  }
}
