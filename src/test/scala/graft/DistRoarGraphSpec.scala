package graft

import graft.build.{DistRoarGraphBuilder, RoarGraphBuilder}
import graft.core.{BuildParams, Metric, SearchParams, Tables}
import graft.ops.KnnJoin
import graft.ops.graph.GraphSearch
import org.apache.spark.sql.functions._

/** Gates for the fully distributed RoarGraph build: recall parity with the
  * in-memory path on sf0.001, determinism, degree caps, and the structural
  * guarantee the path exists for — no driver materialization of vectors or
  * adjacency anywhere in the build. */
class DistRoarGraphSpec extends SparkSpec {

  private lazy val emb = Tables.vectors(spark, sf0001)
  private lazy val queriesDf = emb.filter(col("id") < 100)
  private lazy val baseDf = emb.filter(col("id") >= 100)
  private lazy val params = BuildParams(mSq = 40, mPjbp = 12, lPjpq = 60,
    metric = Metric.L2)
  private lazy val dist = DistRoarGraphBuilder.build(baseDf, queriesDf, params)

  test("distributed build clears the recall@10 >= 0.95 gate") {
    val index = GraphSearch.indexFromDist(dist, baseDf)
    val res = RoarGraphBuilder.searchBatch(index, queriesDf,
      SearchParams(k = 10, lPq = 100, metric = Metric.L2, numSeeds = 4))
      .select(col("query_id"), col("ids"))
    val gt = KnnJoin(queriesDf, baseDf, 10, Metric.L2)
      .select(col("query_id"), transform(col("knn"), _("id")).as("ids"))
    val recall = graft.eval.Eval.recallAtK(res, gt, 10)
      .collect().head.getAs[Double]("recall_at_k")
    assert(recall >= 0.95, s"distributed-build recall@10 = $recall")
  }

  test("adjacency: degree caps, no self-loops, no dup edges, valid ids") {
    import spark.implicits._
    val baseIds = baseDf.select(col("id").cast("long")).as[Long]
      .collect().toSet
    val rows = dist.adj.as[(Long, Seq[Long])].collect()
    assert(rows.length == baseIds.size)
    val cap = 3 * params.mPjbp // m forward + 2m novel supply edges
    rows.foreach { case (src, nbrs) =>
      assert(nbrs.length <= cap, s"degree ${nbrs.length} > $cap at $src")
      assert(!nbrs.contains(src), s"self-loop at $src")
      assert(nbrs.distinct.length == nbrs.length, s"dup edge at $src")
      assert(nbrs.forall(baseIds.contains), s"dangling edge at $src")
    }
    assert(baseIds.contains(dist.ep))
  }

  test("distributed build is deterministic") {
    import spark.implicits._
    val again = DistRoarGraphBuilder.build(baseDf, queriesDf, params)
    assert(again.ep == dist.ep)
    val a = dist.adj.as[(Long, Seq[Long])].collect().sortBy(_._1)
    val b = again.adj.as[(Long, Seq[Long])].collect().sortBy(_._1)
    assert(a.length == b.length)
    a.zip(b).foreach { case ((s1, n1), (s2, n2)) =>
      assert(s1 == s2 && n1 == n2, s"adjacency differs at $s1")
    }
  }

  test("batched phase-2 self-search yields the unbatched adjacency") {
    import spark.implicits._
    // self-search queries are independent over the frozen phase-1
    // snapshot, so slicing them into sequential batches (the scratch-disk
    // bound for beyond-broadcast builds) must be EXACTLY result-neutral
    val batched = DistRoarGraphBuilder.build(baseDf, queriesDf, params,
      selfSearchBatches = 3)
    assert(batched.ep == dist.ep)
    val a = dist.adj.as[(Long, Seq[Long])].collect().sortBy(_._1)
    val b = batched.adj.as[(Long, Seq[Long])].collect().sortBy(_._1)
    assert(a.length == b.length)
    a.zip(b).foreach { case ((s1, n1), (s2, n2)) =>
      assert(s1 == s2 && n1 == n2, s"batched adjacency differs at $s1")
    }
  }

  test("batched reverse supply-merge yields the unbatched adjacency") {
    import spark.implicits._
    // the reverse supply-merge's shuffles are all keyed by the destination
    // src (groupBy(src) / join-by-src), so slicing destinations by id hash
    // (the scratch bound for the build's other n·m·vecBytes shuffle
    // family — SCALE.md 4M rung) must be EXACTLY result-neutral, alone
    // and combined with self-search batching
    val batched = DistRoarGraphBuilder.build(baseDf, queriesDf, params,
      selfSearchBatches = 2, mergeBatches = 3)
    assert(batched.ep == dist.ep)
    val a = dist.adj.as[(Long, Seq[Long])].collect().sortBy(_._1)
    val b = batched.adj.as[(Long, Seq[Long])].collect().sortBy(_._1)
    assert(a.length == b.length)
    a.zip(b).foreach { case ((s1, n1), (s2, n2)) =>
      assert(s1 == s2 && n1 == n2, s"merge-batched adjacency differs at $s1")
    }
  }

  test("DistIndex save/load round-trips through parquet") {
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val dir = java.nio.file.Files.createTempDirectory("graft-dist").toString
    graft.ops.graph.GraphIO.saveDist(dist, dir)
    val back = graft.ops.graph.GraphIO.loadDist(dir)
    assert(back.ep == dist.ep && back.metric == dist.metric)
    val a = dist.adj.as[(Long, Seq[Long])].collect().sortBy(_._1)
    val b = back.adj.as[(Long, Seq[Long])].collect().sortBy(_._1)
    assert(a.sameElements(b))
  }

  test("bucketed DistIndex layout: co-located joins, identical BSP results") {
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val db = "graft_dist_bucket_test"
    try {
      graft.ops.graph.GraphIO.saveDistBucketed(dist, baseDf, db, buckets = 8)
      val (bucketed, bvecs) = graft.ops.graph.GraphIO.loadDistBucketed(db)
      // the layout claim: adjacency ⋈ vectors on node id plans with no
      // shuffle on either (bucketed) side
      val j = bucketed.adj.join(bvecs, col("src") === col("id"))
        .select(col("src"), size(col("nbrs")).as("deg"), size(col("vec")))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed index join still shuffles:\n$plan")
      // and BSP search over the bucketed tables is result-identical
      val qs = queriesDf.limit(20)
      def run(adj: org.apache.spark.sql.DataFrame,
              vecs: org.apache.spark.sql.DataFrame) = {
        val scope = new graft.ops.graph.CpScope
        try graft.ops.graph.BspBeamSearch.search(adj, vecs, qs,
            k = 10, l = 30, ep = dist.ep, graft.core.Metric.L2, scope = scope)
          .select("query_id", "ids").as[(Long, Seq[Long])].collect()
          .toMap
        finally scope.releaseAll()
      }
      val plainRes = run(dist.adj, baseDf.select(col("id").cast("long"), col("vec")))
      val bucketedRes = run(bucketed.adj, bvecs)
      assert(plainRes == bucketedRes, "bucketed BSP results diverge")
    } finally spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }

  test("plan statistics stay bounded through iterative phases") {
    // regression gate for the localCheckpoint stats gotcha (PlanUtil):
    // Spark 4's localCheckpoint preserves the child plan's sizeInBytes, and
    // join/cogroup stats multiply children — an iterative loop doubles the
    // BigInt's digits per round (2.5M digits after a 16-round build) and
    // later optimizer passes hang in million-digit multiplication
    val digits = dist.adj.queryExecution.analyzed.stats.sizeInBytes
      .toString.length
    assert(digits <= 40,
      s"adjacency sizeInBytes carries $digits digits — stats lineage not cut")
  }

  test("bucketed save survives a stale warehouse location (fresh catalog)") {
    // a previous PROCESS left table directories in the warehouse but this
    // session's in-memory catalog has no entry — saveAsTable(overwrite)
    // alone fails with LOCATION_ALREADY_EXISTS; saveDistBucketed must
    // clear the stale location first
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val db = "graft_stale_loc_test"
    try {
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
      val loc = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(spark.catalog.getDatabase(db).locationUri),
        "adjacency")
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(loc) // stale dir with NO catalog entry
      graft.ops.graph.GraphIO.saveDistBucketed(dist, baseDf, db, buckets = 4)
      val (back, _) = graft.ops.graph.GraphIO.loadDistBucketed(db)
      assert(back.ep == dist.ep)
    } finally {
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    }
  }

  test("attachDistBucketed registers a foreign layout with live bucket metadata") {
    // the serving-side half of build-once/serve-elsewhere: a catalog that
    // never saw saveDistBucketed attaches the surviving files and must get
    // (a) identical data and (b) the BUCKET SPEC back — without it the
    // co-located join silently degrades to a shuffle
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val db = "graft_attach_src"
    val db2 = "graft_attach_dst"
    try {
      graft.ops.graph.GraphIO.saveDistBucketed(dist, baseDf, db, buckets = 8)
      // copy the database directory to a location no catalog entry covers
      // (stands in for the fresh process of a serving session)
      val srcLoc = new org.apache.hadoop.fs.Path(
        spark.catalog.getDatabase(db).locationUri)
      val dstLoc = new org.apache.hadoop.fs.Path(
        java.nio.file.Files.createTempDirectory("graft-attach").toString,
        s"$db2.db")
      val fs = srcLoc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      org.apache.hadoop.fs.FileUtil.copy(fs, srcLoc, fs, dstLoc, false,
        spark.sparkContext.hadoopConfiguration)
      spark.sql(s"CREATE DATABASE $db2 LOCATION '$dstLoc'")
      graft.ops.graph.GraphIO.attachDistBucketed(db2)
      val (attached, avecs) = graft.ops.graph.GraphIO.loadDistBucketed(db2)
      assert(attached.ep == dist.ep)
      import spark.implicits._
      val a = attached.adj.as[(Long, Seq[Long])].collect().sortBy(_._1)
      val b = dist.adj.as[(Long, Seq[Long])].collect().sortBy(_._1)
      assert(a.sameElements(b), "attached adjacency diverges")
      val j = attached.adj.join(avecs, col("src") === col("id"))
        .select(col("src"), size(col("nbrs")), size(col("vec")))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"attached tables lost their bucket spec — join shuffles:\n$plan")
    } finally {
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
      spark.sql(s"DROP DATABASE IF EXISTS $db2 CASCADE")
    }
  }

  test("reachability repair reconnects a cluster-disconnected corpus") {
    import spark.implicits._
    // tight well-separated clusters: the geometry measured to disconnect
    // any proximity graph (SCALE.md navigability table — recall 0.03 at
    // noise .25). Phase-1 projection + caps strand whole islands and
    // zero-in-degree nodes; the repair pass must reconnect every node.
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def unit(h: Long): Float =
      ((h >>> 11).toDouble / (1L << 53).toDouble).toFloat * 2f - 1f
    def vec(id: Long, seed: Long): Array[Float] = {
      val c = id % 16
      Array.tabulate(16)(j =>
        4f * unit(mix(c * 131071L + j)) + 0.25f * unit(mix(seed ^ (id * 8191L + j))))
    }
    val b = spark.range(1500).map(i => (i, vec(i, 0xB0L))).toDF("id", "vec")
    val t = spark.range(120).map(i => (i + 100000L, vec(i * 13L, 0x70L)))
      .toDF("id", "vec")
    val p = BuildParams(mSq = 16, mPjbp = 8, lPjpq = 24, metric = Metric.L2)

    def reachableFrom(di: graft.build.DistIndex): Int = {
      val adj = di.adj.as[(Long, Seq[Long])].collect().toMap
      val seen = scala.collection.mutable.Set(di.ep)
      var stack = List(di.ep)
      while (stack.nonEmpty) {
        val cur = stack.head; stack = stack.tail
        adj.getOrElse(cur, Seq.empty).foreach { nb =>
          if (seen.add(nb)) stack = nb :: stack
        }
      }
      seen.size
    }

    // the build honours BuildParams.repairReachability
    val broken = DistRoarGraphBuilder.build(b, t, p.copy(repairReachability = false))
    val nBroken = reachableFrom(broken)
    assert(nBroken < 1500,
      s"corpus not disconnected ($nBroken/1500) — geometry no longer stresses repair")

    val fixed = DistRoarGraphBuilder.build(b, t, p)
    assert(reachableFrom(fixed) == 1500,
      "repair left unreachable nodes")
    // repair edges respect the degree cap
    val cap = 3 * p.mPjbp
    val maxDeg = fixed.adj.select(max(size(col("nbrs")))).head().getInt(0)
    assert(maxDeg <= cap, s"repair blew the degree cap: $maxDeg > $cap")

    // convergence backstop (VERDICT r8 #3): the exact-kNN backstop step
    // alone, run on the unrepaired build with no beam round before it,
    // must STILL reconnect every node of the same disconnected geometry
    // under the same cap. This is the converges gate: repair does not
    // depend on beams finding the islands.
    val vp = graft.ops.graph.BspBeamSearch.pinVectors(b)
    val (state, left) = DistRoarGraphBuilder.exactBackstop(
      DistRoarGraphBuilder.AdjState(broken.adj, vp), broken.ep,
      p.metric, p.mPjbp)(spark)
    try {
      val forced = broken.copy(adj = state.adjacency.toDF("src", "nbrs"))
      assert(left == 0 && reachableFrom(forced) == 1500,
        s"exact backstop left unreachable nodes ($left)")
      val fDeg = forced.adj.select(max(size(col("nbrs")))).head().getInt(0)
      assert(fDeg <= cap, s"backstop blew the degree cap: $fDeg > $cap")
    } finally { state.release(); vp.release() }
  }

  test("repairLayout reconnects a damaged PERSISTED layout without rebuild") {
    import spark.implicits._
    // post-hoc repair (the operational form of the build-time pass):
    // build a healthy index, DAMAGE it by stripping every in-edge of a
    // victim set (the shape of a partial write or post-hoc deletion),
    // round-trip through the bucketed serving layout, then repair the
    // loaded layout in place — reachability must return to 100% under
    // the layout's OWN persisted degree cap, no rebuild.
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def unit(h: Long): Float =
      ((h >>> 11).toDouble / (1L << 53).toDouble).toFloat * 2f - 1f
    def vec(id: Long, seed: Long): Array[Float] = {
      val c = id % 16
      Array.tabulate(16)(j =>
        4f * unit(mix(c * 131071L + j)) + 0.25f * unit(mix(seed ^ (id * 8191L + j))))
    }
    val b = spark.range(1500).map(i => (i, vec(i, 0xB0L))).toDF("id", "vec")
    val t = spark.range(120).map(i => (i + 100000L, vec(i * 13L, 0x70L)))
      .toDF("id", "vec")
    val p = BuildParams(mSq = 16, mPjbp = 8, lPjpq = 24, metric = Metric.L2)

    def reachableFrom(di: graft.build.DistIndex): Int = {
      val adj = di.adj.as[(Long, Seq[Long])].collect().toMap
      val seen = scala.collection.mutable.Set(di.ep)
      var stack = List(di.ep)
      while (stack.nonEmpty) {
        val cur = stack.head; stack = stack.tail
        adj.getOrElse(cur, Seq.empty).foreach { nb =>
          if (seen.add(nb)) stack = nb :: stack
        }
      }
      seen.size
    }

    val healthy = DistRoarGraphBuilder.build(b, t, p)
    assert(reachableFrom(healthy) == 1500, "fixture build not fully reachable")
    val victims = (1200L until 1250L).filterNot(_ == healthy.ep).toSet
    val damaged = healthy.copy(adj = healthy.adj.as[(Long, Seq[Long])]
      .map { case (src, nbrs) => (src, nbrs.filterNot(victims.contains)) }
      .toDF("src", "nbrs"))

    val db = "graft_repair_layout_spec"
    try {
      graft.ops.graph.GraphIO.saveDistBucketed(damaged, b, db, buckets = 4)(spark)
      val (loaded, vecs) = graft.ops.graph.GraphIO.loadDistBucketed(db)(spark)
      // every victim is orphaned, plus any node whose only in-path ran
      // through a victim (cascade) — so <=, not ==
      assert(reachableFrom(loaded) <= 1500 - victims.size,
        "damage did not orphan the victim set")
      val repaired = DistRoarGraphBuilder.repairLayout(loaded, vecs)
      assert(reachableFrom(repaired) == 1500,
        "repairLayout left unreachable nodes")
      val cap = loaded.degreeCap.get
      val maxDeg = repaired.adj.select(max(size(col("nbrs")))).head().getInt(0)
      assert(maxDeg <= cap,
        s"repairLayout blew the layout's persisted cap: $maxDeg > $cap")
      // idempotence: a clean layout costs one verification BFS and comes
      // back adjacency-identical
      val again = DistRoarGraphBuilder.repairLayout(
        repaired.copy(degreeCap = Some(cap)), vecs)
      val x = repaired.adj.as[(Long, Seq[Long])].collect().sortBy(_._1)
      val y = again.adj.as[(Long, Seq[Long])].collect().sortBy(_._1)
      assert(x.sameElements(y), "repairLayout modified a clean layout")
    } finally spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }

  test("no driver materialization of vectors or adjacency in the build source") {
    // the structural point of the distributed path: the only permitted
    // driver-side actions are scalar aggregates (centroid sums, entry-point
    // id). Gate the source itself so a collect cannot creep back in.
    val src = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths
      .get("src/main/scala/graft/build/DistRoarGraphBuilder.scala")))
    assert(!src.contains(".collect()"),
      "DistRoarGraphBuilder must not collect() anything")
    assert(!src.contains("broadcast("),
      "DistRoarGraphBuilder must not broadcast vectors/adjacency")
    // one head(), the ep argmin, and one runJob, the centroid's
    // per-partition double sums
    val heads = """\.head\(\)""".r.findAllIn(src).length
    assert(heads == 1, s"expected exactly 1 scalar head() action, found $heads")
    val jobs = """\brunJob\(""".r.findAllIn(src).length
    assert(jobs == 1, s"expected exactly 1 runJob (the centroid), found $jobs")
  }
}
