package graft.tools

import graft.core.{BuildParams, Metric, SearchParams}
import graft.ops.KnnJoin
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Per-tier QPS-vs-recall curves over the soak corpus (VERDICT r4 task 5)
  * — the reference's core deliverable shape (its search driver prints
  * L_pq / QPS / avg_cmps / avg_hops / recall per sweep point,
  * tests/test_search_roargraph.cpp:231-237), produced here for all three
  * serving tiers over the SAME corpus and ground truth so the tiers are
  * directly comparable at the same scale:
  *
  *   - `kernel`: the broadcast in-memory beam kernel (fast path; loads
  *     the persisted distributed index into RAM — legitimate only when it
  *     fits, which 1M×64d does on the measurement heap);
  *   - `sharded`: 3-shard fan-out/merge over in-memory sub-indexes built
  *     from the same persisted vectors;
  *   - `bsp`: the beyond-broadcast path over the bucketed at-rest layout,
  *     exactly as the soak searches it.
  *
  * Run against a layout persisted by [[ScaleSoak]] (the bucketed
  * `graft_soak_idx` database in the soak's warehouse):
  * {{{
  * sbt "runMain graft.tools.TierCurves --warehouse target/soak/warehouse
  *   --evalQ 200 --dim 64 --centers 16 --noise 1.5 --tiers kernel,bsp
  *   --out target/curves.csv"
  * }}}
  * Ground truth is exact kNN of the regenerated eval queries against the
  * PERSISTED vectors (never a regenerated corpus — parameter drift would
  * silently score against the wrong base). Output: CSV
  * `tier,l_pq,seeds,qps,recall_at_10,mean_latency_ms,avg_cmps,avg_hops`
  * (cmps/hops blank for tiers whose kernel does not count them).
  */
object TierCurves {

  def main(args: Array[String]): Unit = {
    val a = Tools.parseArgs(args)
    val db = a.getOrElse("db", "graft_soak_idx")
    val warehouse = a.getOrElse("warehouse", "target/soak/warehouse")
    val out = a.getOrElse("out", "target/curves.csv")
    val evalQ = a.getOrElse("evalQ", "200").toInt
    val dim = a.getOrElse("dim", "64").toInt
    val centers = a.getOrElse("centers", "16").toInt
    val noise = a.getOrElse("noise", "1.5").toFloat
    val trainQ = a.getOrElse("trainQ", "40000").toInt
    val shards = a.getOrElse("shards", "3").toInt
    val tiers = a.getOrElse("tiers", "kernel,sharded,bsp").split(",").toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    implicit val spark: SparkSession = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", a.getOrElse("shuffle", "96"))
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.ui.enabled", "false")
      // the kernel/pq tiers collect the at-rest index to the driver once
      // (adjacency + vectors / codes); at 4M x 200d that legitimately
      // exceeds the 1g default result cap. A SIZED cap (not 0/unlimited —
      // ADVICE r8) keeps the driver-OOM backstop: 16g covers the 4M x 200d
      // collect (~3.2 GB vectors + adjacency) with slack; override
      // --maxResultSize for bigger rungs
      .config("spark.driver.maxResultSize", a.getOrElse("maxResultSize", "16g"))
      .config("spark.cleaner.periodicGC.interval", "60s")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    graft.ops.graph.GraphIO.attachDistBucketed(db)
    val (di, bVecs) = graft.ops.graph.GraphIO.loadDistBucketed(db)
    // eval queries are REGENERATED from generator params (queries are not
    // part of the persisted corpus), but GT is always scored against the
    // PERSISTED vectors — so a generation-parameter mismatch shifts the
    // query workload yet can never silently score against the wrong base
    val eval = ScaleSoak.corpus(spark, evalQ, seed = 0xE7A1L,
      idOffset = 10_000_000L, dim = dim, centers = centers, noise = noise)
      .cache()
    val nQ = eval.count().toDouble

    println(s"[curves] computing exact GT over the persisted vectors")
    val gt = KnnJoin(eval, bVecs, 10, di.metric)
      .select(col("query_id"), transform(col("knn"), _("id")).as("ids")).cache()
    gt.count()

    val rows = scala.collection.mutable.ArrayBuffer[String]()
    def record(tier: String, l: Int, seeds: Int, sec: Double, recall: Double,
               cmps: Option[Double], hops: Option[Double]): Unit = {
      val row = f"$tier,$l,$seeds,${nQ / sec}%.1f,$recall%.4f," +
        f"${sec * 1000.0 / nQ}%.3f," +
        cmps.map(c => f"$c%.1f").getOrElse("") + "," +
        hops.map(h => f"$h%.1f").getOrElse("")
      rows += row
      println(s"[curves] $row")
    }
    def recallOf(res: org.apache.spark.sql.DataFrame): Double =
      graft.eval.Eval.recallAtK(res.select(col("query_id"), col("ids")), gt, 10)
        .head().getAs[Double]("recall_at_k")

    // Denser in-memory sweep (the reference sweeps a 56-point L_pq grid,
    // 10..2000, run_roargraph_search_test.sh:13); the bsp tier keeps its
    // coarser (l, seeds) grid — each bsp point is a multi-round
    // distributed job.
    val lSweep = a.getOrElse("lSweep", "10,20,30,40,50,75,100,150,200,300")
      .split(",").map(_.trim.toInt).toSeq
    // the reference's sweep runs to L_pq 2000 (run_roargraph_search_test
    // .sh:13); these tail points sample the diminishing-recall-per-cmps
    // region on the KERNEL tier only — a sharded/bsp tail point is a
    // multi-minute distributed job for a curve region whose shape the
    // kernel (same graph, same pool discipline) already pins
    val lTail = a.getOrElse("lTail", "500,1000,2000")
      .split(",").filter(_.trim.nonEmpty).map(_.trim.toInt).toSeq

    // --reps N: time each kernel/pq point N times and report the MEDIAN
    // wall (ADVICE r8: single-run QPS at big rungs swings up to ~5x under
    // GC/shuffle jitter; recall/cmps/hops are deterministic and unaffected).
    // The result frame of the last reps run is returned for scoring.
    val reps = a.getOrElse("reps", "1").toInt
    def medianSec(run: () => org.apache.spark.sql.DataFrame)
        : (Double, org.apache.spark.sql.DataFrame) = {
      var last: org.apache.spark.sql.DataFrame = null
      val secs = (0 until reps).map { _ =>
        if (last != null) last.unpersist()
        val t0 = System.nanoTime()
        last = run().cache()
        last.count()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      (secs(secs.length / 2), last)
    }

    if (tiers("kernel")) {
      println(s"[curves] loading index into the broadcast kernel")
      val idx = graft.ops.graph.GraphSearch.indexFromDist(di, bVecs)
      // one warm pass compiles/caches before timing (reference warmup,
      // test_search_roargraph.cpp:198-200)
      graft.build.RoarGraphBuilder.searchBatch(idx, eval,
        SearchParams(10, 10, di.metric)).count()
      for (l <- lSweep ++ lTail) {
        val (sec, res) = medianSec(() =>
          graft.build.RoarGraphBuilder.searchBatch(idx, eval,
            SearchParams(k = 10, lPq = l, metric = di.metric)))
        val ch = res.agg(avg("cmps"), avg("hops")).head()
        record("kernel", l, 0, sec, recallOf(res),
          Some(ch.getDouble(0)), Some(ch.getDouble(1)))
        res.unpersist()
      }
    }

    if (tiers("pq")) {
      // PQ-guided beam + exact refine (PqGraphSearch — the DiskANN shape):
      // the serving tier for rungs whose RAW vectors outgrow the kernel's
      // broadcast but whose graph + byte codes do not. Same graph, same
      // beam discipline; candidate scoring through per-query ADC tables,
      // exact re-rank of <= refineK survivors via one distributed join.
      val pqM = a.getOrElse("pqM", (dim / 8).toString).toInt
      val pqRefine = a.getOrElse("pqRefine", "80").toInt
      val pqSeeds = a.getOrElse("pqSeeds", "0").toInt
      println(s"[curves] training + encoding pq tier (m=$pqM)")
      val tpq = System.nanoTime()
      val pqIdx = graft.ops.graph.PqGraphSearch.fromDF(di.adj, bVecs, di.ep,
        di.metric, m = pqM, iters = a.getOrElse("pqIters", "4").toInt)
      println(f"[curves] pq index ${(System.nanoTime() - tpq) / 1e9}%.1f s; " +
        s"codes ${pqIdx.codeBytes / (1 << 20)} MiB vs raw " +
        s"${pqIdx.rawBytes / (1 << 20)} MiB")
      for (l <- lSweep ++ lTail) {
        val (sec, res) = medianSec(() =>
          graft.ops.graph.PqGraphSearch.searchRefined(pqIdx, eval,
            bVecs, k = 10, l = l, refineK = math.min(pqRefine, l),
            numSeeds = pqSeeds))
        val ch = res.agg(avg("cmps"), avg("hops")).head()
        record("pq", l, pqSeeds, sec,
          recallOf(res.select(col("query_id"),
            transform(col("knn"), _("id")).as("ids"))),
          Some(ch.getDouble(0)), Some(ch.getDouble(1)))
        res.unpersist()
      }
    }

    if (tiers("sharded")) {
      println(s"[curves] building $shards-shard tier from persisted vectors")
      val train = ScaleSoak.corpus(spark, trainQ, seed = 0x77AA11L,
        dim = dim, centers = centers, noise = noise)
      val params = BuildParams(
        mSq = a.getOrElse("mSq", "32").toInt,
        mPjbp = a.getOrElse("mPjbp", "32").toInt,
        lPjpq = a.getOrElse("lPjpq", "48").toInt, metric = di.metric)
      val tb = System.nanoTime()
      val sharded = graft.build.ShardedRoarGraph.build(bVecs, train, params, shards)
      println(f"[curves] sharded build ${(System.nanoTime() - tb) / 1e9}%.1f s")
      for (l <- lSweep) {
        val t0 = System.nanoTime()
        val res = graft.build.ShardedRoarGraph.searchBatch(sharded, eval,
          SearchParams(k = 10, lPq = l, metric = di.metric)).cache()
        res.count()
        val sec = (System.nanoTime() - t0) / 1e9
        record("sharded", l, 0, sec, recallOf(res), None, None)
        res.unpersist()
      }
    }

    if (tiers("bsp")) {
      // each bsp point is a multi-round distributed job whose cost grows
      // with n and l; --bspGrid ("l:seeds,l:seeds,...") lets big-rung runs
      // pick a grid their wall budget affords
      val bspGrid = a.get("bspGrid") match {
        case Some(g) => g.split(",").map(_.trim).filter(_.nonEmpty).toSeq
          .map { p => val Array(l, s) = p.split(":"); (l.toInt, s.toInt) }
        case None => Seq((100, 32), (100, 128), (300, 128), (300, 256),
                         (1000, 512), (2000, 1024))
      }
      for ((l, seeds) <- bspGrid) {
        val extra = graft.ops.graph.BspBeamSearch.pickSeeds(di.adj, seeds)
        val t0 = System.nanoTime()
        val scope = new graft.ops.graph.CpScope
        val res = graft.ops.graph.BspBeamSearch.search(di.adj, bVecs, eval,
          k = 10, l = l, ep = di.ep, di.metric,
          frontierWidth = a.getOrElse("searchFw", "8").toInt,
          maxRounds = a.getOrElse("searchRounds", "256").toInt,
          extraSeeds = extra, scope = scope).cache()
        res.count()
        val sec = (System.nanoTime() - t0) / 1e9
        record("bsp", l, seeds, sec, recallOf(res), None, None)
        res.unpersist()
        scope.releaseAll()
      }
    }

    val header = "tier,l_pq,seeds,qps,recall_at_10,mean_latency_ms,avg_cmps,avg_hops"
    val outPath = java.nio.file.Paths.get(out)
    if (outPath.getParent != null) java.nio.file.Files.createDirectories(outPath.getParent)
    java.nio.file.Files.write(outPath,
      (header +: rows).mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[curves] wrote ${rows.length} rows to $out")
    spark.stop()
  }
}
