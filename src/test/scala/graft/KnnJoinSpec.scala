package graft

import graft.core.{Metric, Tables}
import graft.ops.{AnnSearch, KnnJoin, Quantize}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

class KnnJoinSpec extends SparkSpec {

  private def ranks(df: DataFrame): DataFrame =
    KnnJoin.explodeRanks(df).select("query_id", "rank", "base_id")

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmTree); f.delete()
  }

  /** A drain result as (query_id, [(dist bits, id)]), by query id. */
  private def knnBits(df: DataFrame): Seq[(Long, Seq[(Long, Long)])] =
    df.collect().map(r => r.getLong(0) -> r.getSeq[Row](1).map(n =>
      (java.lang.Double.doubleToLongBits(n.getDouble(0)), n.getLong(1))).toSeq)
      .sortBy(_._1).toSeq

  private def roundTrip(metric: Metric): Unit = {
    val emb = Tables.vectors(spark, sf0001)
    val q = emb.filter(col("id") < 10)
    val b = emb.filter(col("id") >= 10)
    val fast = KnnJoin.explodeRanks(KnnJoin(q, b, 5, metric))
      .select("query_id", "rank", "base_id")
    val ref = KnnOracle.crossWindow(q, b, 5, metric)
      .select("query_id", "rank", "base_id")
    assert(fast.exceptAll(ref).isEmpty && ref.exceptAll(fast).isEmpty,
      s"bruteForce != crossWindow for $metric")
  }

  test("bruteForce matches crossWindow reference plan (L2)") {
    roundTrip(Metric.L2)
  }
  test("bruteForce matches crossWindow reference plan (IP)") {
    roundTrip(Metric.InnerProduct)
  }
  test("bruteForce matches crossWindow reference plan (cosine)") {
    roundTrip(Metric.Cosine)
  }

  test("query blocking (tiled broadcast) gives identical results") {
    val emb = Tables.vectors(spark, sf0001)
    val q = emb.filter(col("id") < 10)
    val b = emb.filter(col("id") >= 10)
    val whole = KnnJoin(q, b, 5, Metric.L2, queryBlockRows = 100000)
    val tiled = KnnJoin(q, b, 5, Metric.L2, queryBlockRows = 3)
    val a = KnnJoin.explodeRanks(whole).select("query_id", "rank", "base_id")
    val c = KnnJoin.explodeRanks(tiled).select("query_id", "rank", "base_id")
    assert(a.exceptAll(c).isEmpty && c.exceptAll(a).isEmpty)
  }

  test("knn results are sorted by (dist, id) and bounded by k") {
    val emb = Tables.vectors(spark, sf0001)
    val q = emb.filter(col("id") < 5)
    val b = emb.filter(col("id") >= 5)
    val rows = KnnJoin(q, b, 7, Metric.L2).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val knn = r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("knn")
      assert(knn.length == 7)
      val pairs = knn.map(n => (n.getAs[Double]("dist"), n.getAs[Long]("id")))
      assert(pairs == pairs.sortBy(identity))
    }
  }

  test("ivfApprox at nprobe == nlist is row-identical to the exact join") {
    // full probe scores every (query, base) pair through the same widen /
    // distD / BoundedTopK kernel — the result must be the exact join's,
    // row for row, including (dist, id) tie-breaks
    val emb = Tables.vectors(spark, sf0001)
    val q = emb.filter(col("id") < 10)
    val b = emb.filter(col("id") >= 10)
    for (metric <- Seq(Metric.L2, Metric.Cosine)) {
      val exact = KnnJoin.explodeRanks(KnnJoin(q, b, 5, metric))
        .select("query_id", "rank", "base_id")
      val full = KnnJoin.explodeRanks(
        KnnJoin.ivfApprox(q, b, 5, metric, nlist = 8, nprobe = 8, kmIters = 2))
        .select("query_id", "rank", "base_id")
      assert(full.exceptAll(exact).isEmpty && exact.exceptAll(full).isEmpty,
        s"full-probe ivfApprox != exact join for $metric")
    }
  }

  test("ivfApprox block checkpoints: resume is row-identical and a stale " +
       "slice is refused") {
    // the drain's per-block parquet checkpoints make the multi-hour 10M
    // prefix preemptible; contract: (a) checkpointed == uncheckpointed,
    // (b) a relaunch that lost some blocks recomputes ONLY those and
    // yields identical rows, (c) a marker/slice mismatch fails loudly
    // instead of serving a stale block
    val emb = Tables.vectors(spark, sf0001)
    val q = emb.filter(col("id") < 40)
    val b = emb.filter(col("id") >= 40)
    def rows(df: org.apache.spark.sql.DataFrame) =
      KnnJoin.explodeRanks(df).select("query_id", "rank", "base_id")
    val plain = rows(KnnJoin.ivfApprox(q, b, 5, Metric.L2,
      nlist = 8, nprobe = 8, kmIters = 2, queryBlockRows = 16))
    val cpDir = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "knn_cp_spec")
      .toString
    val cp = rows(KnnJoin.ivfApprox(q, b, 5, Metric.L2,
      nlist = 8, nprobe = 8, kmIters = 2, queryBlockRows = 16,
      checkpointDir = Some(cpDir)))
    assert(cp.exceptAll(plain).isEmpty && plain.exceptAll(cp).isEmpty,
      "checkpointed drain != plain drain")
    assert(new java.io.File(s"$cpDir/block_1/_SUCCESS").exists(),
      "expected multiple drained blocks")

    // simulated preemption: block_1 (and its marker) are gone, block_0
    // survives and must be served from parquet
    def rmTree(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmTree); f.delete()
    }
    rmTree(new java.io.File(s"$cpDir/block_1"))
    new java.io.File(s"$cpDir/block_1.marker").delete()
    val marker0 = new java.io.File(s"$cpDir/block_0.marker")
    val m0 = marker0.lastModified()
    val resumed = rows(KnnJoin.ivfApprox(q, b, 5, Metric.L2,
      nlist = 8, nprobe = 8, kmIters = 2, queryBlockRows = 16,
      checkpointDir = Some(cpDir)))
    assert(resumed.exceptAll(plain).isEmpty && plain.exceptAll(resumed).isEmpty,
      "resumed drain != plain drain")
    assert(marker0.lastModified() == m0, "resume rewrote a completed block")

    // a different query slice under the same dir must be refused
    val e = intercept[Exception] {
      rows(KnnJoin.ivfApprox(emb.filter(col("id") < 39), b, 5, Metric.L2,
        nlist = 8, nprobe = 8, kmIters = 2, queryBlockRows = 16,
        checkpointDir = Some(cpDir))).count()
    }
    assert(e.getMessage.contains("refusing stale resume"), e.getMessage)
    rmTree(new java.io.File(cpDir))
  }

  test("ivfApprox checkpoint dir refuses knob and tiling changes " +
       "(stale-stage guard)") {
    // ADVICE r11: a reused checkpoint dir under different k/nprobe/nlist
    // (or a different block tiling) must fail LOUDLY — previously
    // completed blocks/stages would otherwise be served verbatim with
    // results computed under the old knobs.
    val emb = Tables.vectors(spark, sf0001)
    val q = emb.filter(col("id") < 40)
    val b = emb.filter(col("id") >= 40)
    def run(k: Int, nlist: Int, nprobe: Int, blockRows: Int, dir: String) =
      KnnJoin.ivfApprox(q, b, k, Metric.L2, nlist = nlist, nprobe = nprobe,
        kmIters = 2, queryBlockRows = blockRows,
        checkpointDir = Some(dir)).count()
    val cpDir = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "knn_cp_knobs")
      .toString
    run(5, 8, 8, 16, cpDir)

    // different k: refused at the dir FINGERPRINT, before any stage read
    val eK = intercept[Exception] { run(6, 8, 8, 16, cpDir) }
    assert(eK.getMessage.contains("refusing to mix stage outputs"),
      eK.getMessage)
    // different nprobe: same guard
    val eP = intercept[Exception] { run(5, 8, 4, 16, cpDir) }
    assert(eP.getMessage.contains("refusing to mix stage outputs"),
      eP.getMessage)
    // same knobs, different tiling (queryBlockRows): the dir fingerprint
    // matches but block_0's marker was written for a different slice
    // shape — refused at the marker, never served
    val eT = intercept[Exception] { run(5, 8, 8, 8, cpDir) }
    assert(eT.getMessage.contains("refusing stale resume"), eT.getMessage)
    // unchanged knobs still resume cleanly after the refused attempts
    assert(run(5, 8, 8, 16, cpDir) === q.count())

    def rmTree(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmTree); f.delete()
    }
    rmTree(new java.io.File(cpDir))
  }

  test("ivfApprox under partial probing keeps high agreement with exact") {
    // clustered corpus (the geometry IVF exists for): probing a quarter of
    // the lists must retain >= 0.9 mean overlap with the exact top-k
    import spark.implicits._
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def unit(h: Long): Float =
      ((h >>> 11).toDouble / (1L << 53).toDouble).toFloat * 2f - 1f
    def vec(id: Long, seed: Long): Array[Float] = {
      val c = id % 8
      Array.tabulate(16)(j =>
        unit(mix(c * 131071L + j)) + 1.0f * unit(mix(seed ^ (id * 8191L + j))))
    }
    val b = spark.range(4000).map(i => (i, vec(i, 0xB0L))).toDF("id", "vec")
    val q = spark.range(64).map(i => (i + 100000L, vec(i * 7L, 0x70L)))
      .toDF("id", "vec")
    val k = 10
    val exact = KnnJoin(q, b, k, Metric.L2)
      .select(col("query_id"), transform(col("knn"), _("id")).as("e"))
    val approx = KnnJoin.ivfApprox(q, b, k, Metric.L2,
      nlist = 32, nprobe = 8, kmIters = 3)
      .select(col("query_id"), transform(col("knn"), _("id")).as("a"))
    val agree = exact.join(approx, "query_id")
      .select(size(array_intersect(col("e"), col("a"))).as("ov"))
      .agg(avg(col("ov"))).head().getDouble(0) / k
    assert(agree >= 0.9, f"ivfApprox agreement $agree%.3f < 0.9 at nprobe/nlist = 1/4")
  }

  test("ivfApprox is invariant to query-side partitioning (distributed " +
      "probe assignment == any drain order)") {
    // probe sets are a pure function of (vector, centroid grid), so the
    // mapPartitions assignment pass must yield per-query results
    // independent of how the query side is partitioned / drained
    val emb = Tables.vectors(spark, sf0001)
    val q = emb.filter(col("id") < 16)
    val b = emb.filter(col("id") >= 16)
    val one = KnnJoin.explodeRanks(KnnJoin.ivfApprox(
      q, b, 5, Metric.L2, nlist = 8, nprobe = 3, kmIters = 2))
      .select("query_id", "rank", "base_id")
    val rep = KnnJoin.explodeRanks(KnnJoin.ivfApprox(
      q.repartition(7), b, 5, Metric.L2, nlist = 8, nprobe = 3, kmIters = 2))
      .select("query_id", "rank", "base_id")
    assert(one.exceptAll(rep).isEmpty && rep.exceptAll(one).isEmpty,
      "ivfApprox results changed under query repartitioning")
  }

  test("the centroid kernel picks the nprobe nearest centroids, ties by centroid id") {
    val cents = Array(Array(0f, 0f), Array(1f, 0f), Array(0f, 1f), Array(1f, 0f))
      .zipWithIndex.map(_.swap)
    // query at origin: dists 0, 1, 1, 1 -> top-3 = centroid 0, then the
    // dist-1 tie breaks ascending id: 1, 2 (never 3)
    val ps = AnnSearch.nearestCentroids(Array(0f, 0f), cents, 3)
    assert(ps.map(_._2).toSeq == Seq(0L, 1L, 2L))
  }

  test("ivfApprox emits exactly one row per query id (coverage)") {
    import spark.implicits._
    val b = spark.range(200).map(i => (i, Array(i.toFloat, 1f)))
      .toDF("id", "vec")
    val q = spark.range(32).map(i => (i + 1000L, Array(i * 6f, 1f)))
      .toDF("id", "vec")
    val out = KnnJoin.ivfApprox(q, b, 5, Metric.L2,
      nlist = 16, nprobe = 2, kmIters = 2)
    val ids = out.select("query_id").as[Long].collect().sorted
    assert(ids.toSeq == (1000L until 1032L).toSeq,
      "ivfApprox must cover every query id exactly once")
  }

  test("IVF drains emit an empty knn row for every unscored query (fresh and resumed)") {
    import spark.implicits._
    // IVF-ADC: query 1 probes list 3 (codes), query 2 only list 5 (no
    // codes), query 3 has no probe row at all
    val m = 4
    val cb = (for (s <- 0 until m; c <- 0 until 2)
      yield (s, c, Array(c.toFloat, s.toFloat))).toDF("subspace", "centroid_id", "vec")
    val qs = Seq(1L, 2L, 3L).map(i => (i, Array.fill(8)(i.toFloat))).toDF("id", "vec")
    val assigned = Seq((10L, Array(0, 1, 0, 1)), (11L, Array(1, 1, 0, 0)))
      .toDF("id", "codes").withColumn("centroid_id", lit(3))
    val probes = Seq((1L, 3), (2L, 5)).toDF("query_id", "centroid_id")
    val adc = Quantize.ivfAdcTopKKernel(probes, qs, assigned, cb, 1).collect()
      .map(r => r.getLong(0) -> r.getSeq[Row](1).length).sortBy(_._1)
    assert(adc.toSeq == Seq(1L -> 1, 2L -> 0, 3L -> 0))

    // the drain itself, fresh and resumed from its block checkpoints:
    // partitions score only the even block positions
    val q = (0L until 10L).map(i => (i, Array(i.toFloat))).toDF("id", "vec")
      .as[(Long, Array[Float])].coalesce(1)
    val cpDir = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "knn_cover")
      .toString
    def drain(): Seq[(Long, Int)] = KnnJoin.blockedTopK(q,
        identity[(Long, Array[Float])], (r: (Long, Array[Float])) => r._1,
        4, 2, "empty", cover = true, checkpointDir = Some(cpDir)) { bc =>
      spark.sparkContext.parallelize(0 until 3, 3).map { p =>
        val heaps = Array.fill(bc.value.length)(new KnnJoin.BoundedTopK(2))
        heaps.indices.filter(_ % 2 == 0).foreach(qi => heaps(qi).push(p, qi))
        KnnJoin.Partials.of(heaps)
      }
    }.collect().map(r => r.getLong(0) -> r.getSeq[Row](1).length).sortBy(_._1).toSeq
    // blocks of 4: positions 0 and 2 of each block are scored
    val want = (0L until 10L).map(i => i -> (if (i % 4 % 2 == 0) 2 else 0))
    try {
      assert(drain() == want, "fresh blocks")
      assert(new java.io.File(s"$cpDir/block_2.marker").exists())
      assert(drain() == want, "resumed blocks")
    } finally rmTree(new java.io.File(cpDir))
    // the exact join and ADC top-k keep no row for an unscored query
    val none = Seq.empty[(Long, Array[Float])].toDF("id", "vec")
    assert(KnnJoin(q.toDF(), none, 2, Metric.L2).collect().isEmpty)
    val noCodes = Seq.empty[(Long, Array[Int])].toDF("id", "codes")
    assert(Quantize.adcTopK(qs, noCodes, cb, 2).collect().isEmpty)
  }

  test("a NaN distance never displaces a finite neighbor (k=2 join)") {
    import spark.implicits._
    val q = Seq((0L, Array(0f, 0f))).toDF("id", "vec")
    // one partition, NaN row first: it enters the partial heap first
    val b = Seq((0L, Array(Float.NaN, 0f)), (1L, Array(5f, 5f)),
      (2L, Array(2f, 0f)), (3L, Array(1f, 0f))).toDF("id", "vec").coalesce(1)
    val knn = KnnJoin(q, b, 2, Metric.L2).head()
      .getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("knn")
    assert(knn.map(_.getAs[Long]("id")) == Seq(3L, 2L))
    assert(knn.map(_.getAs[Double]("dist")) == Seq(1.0, 4.0))
  }

  test("ivfApprox at nprobe == nlist over several query blocks is " +
       "row-identical to the exact join (routed cut before block 2)") {
    // queryBlockRows = 3 drains 4 blocks: the first scans the routing
    // plan itself, the routed table is cut before the second
    val emb = Tables.vectors(spark, sf0001)
    val q = emb.filter(col("id") < 10)
    val b = emb.filter(col("id") >= 10)
    for (metric <- Seq(Metric.L2, Metric.Cosine)) {
      val exact = ranks(KnnJoin(q, b, 5, metric))
      val full = ranks(KnnJoin.ivfApprox(q, b, 5, metric, nlist = 8,
        nprobe = 8, kmIters = 2, queryBlockRows = 3))
      assert(sameRows(full, exact),
        s"multi-block full-probe ivfApprox != exact join for $metric")
    }
  }

  test("grouped query fetch: 16 partitions, some empty, blocks smaller " +
       "than a partition") {
    // partitions 0, 3, ..., 15 are empty (the first group finds no row
    // and the next one scales up 4x); the other ten hold 4 rows each, so
    // every 3-row block is cut from inside a fetched group
    val emb = Tables.vectors(spark, sf0001)
    val rows = vecRows(emb.filter(col("id") < 40))
    val nonEmpty = (0 until 16).filter(_ % 3 != 0)
    val q = spread(rows, 16)(i => nonEmpty(i / 4))
    assert(q.rdd.getNumPartitions == 16)
    val b = emb.filter(col("id") >= 40)
    val tiled = KnnJoin(q, b, 5, Metric.L2, queryBlockRows = 3)
    assert(tiled.count() == rows.length &&
      tiled.select("query_id").distinct().count() == rows.length,
      "expected one row per query")
    assert(sameRows(ranks(tiled),
      KnnOracle.crossWindow(q, b, 5, Metric.L2).select("query_id", "rank", "base_id")),
      "grouped fetch != crossWindow")
    assert(sameRows(ranks(tiled), ranks(KnnJoin(q, b, 5, Metric.L2))),
      "grouped fetch != one-block join")
  }

  test("a one-block query side of 12 partitions starts at most one more " +
       "job than the same rows in one partition") {
    val emb = Tables.vectors(spark, sf0001)
    val rows = vecRows(emb.filter(col("id") < 48))
    val b = emb.filter(col("id") >= 48)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsOf(q: DataFrame): Int = {
      org.apache.spark.ListenerBusDrain(sc)
      val before = jobs.get
      KnnJoin(q, b, 5, Metric.L2).collect()
      org.apache.spark.ListenerBusDrain(sc)
      jobs.get - before
    }
    sc.addSparkListener(listener)
    try {
      val one = jobsOf(spread(rows, 1)(_ => 0))
      val twelve = jobsOf(spread(rows, 12)(_ % 12))
      assert(twelve - one <= 1, s"12 partitions: $twelve jobs, 1 partition: $one")
    } finally sc.removeSparkListener(listener)
  }

  test("mismatched vector dimensions fail with a named error " +
       "(exact and IVF, query longer and shorter)") {
    import spark.implicits._
    val b = spark.range(16).map(i => (i, Array(i.toFloat, 1f))).toDF("id", "vec")
    def q(dim: Int) = Seq((100L, Array.fill(dim)(0.5f)), (101L, Array.fill(dim)(2f)))
      .toDF("id", "vec")
    for (dim <- Seq(3, 1)) {
      val want = s"kNN join: vector dimension mismatch ($dim vs 2)"
      assert(namedError(KnnJoin(q(dim), b, 2, Metric.L2).collect()) == want)
      assert(namedError(KnnJoin.ivfApprox(q(dim), b, 2, Metric.L2, nlist = 2,
        nprobe = 2, kmIters = 1).collect()) == want)
    }
    // the query side is held to its first row's dimension on the driver
    val mixed = Seq((100L, Array(0f, 1f)), (101L, Array(0f, 1f, 2f)))
      .toDF("id", "vec").coalesce(1)
    assert(namedError(KnnJoin(mixed, b, 2, Metric.L2).collect()) ==
      "kNN join: vector dimension mismatch (2 vs 3)")
  }

  test("BoundedTopK keeps k smallest with (dist, id) tie-break") {
    val h = new KnnJoin.BoundedTopK(3)
    Seq((5.0, 1L), (1.0, 9L), (1.0, 2L), (3.0, 7L), (0.5, 4L), (9.0, 0L))
      .foreach { case (d, i) => h.push(d, i) }
    assert(h.result().toSeq == Seq((0.5, 4L), (1.0, 2L), (1.0, 9L)))
  }

  test("driver-side merge == the relational merge oracle (NaN, ±0.0, ±Inf, " +
       "ties, one id in several partitions, empty partitions, k > candidates)") {
    import spark.implicits._
    val dist = Gen.frequency(
      4 -> Gen.chooseNum(-5.0, 5.0),
      3 -> Gen.oneOf(1.0, 2.0),
      1 -> Gen.const(Double.NaN),
      2 -> Gen.oneOf(-0.0, 0.0),
      1 -> Gen.oneOf(Double.PositiveInfinity, Double.NegativeInfinity))
    // ids 0..4 only: the same id recurs across partitions and queries
    val pushes = Gen.listOf(Gen.zip(dist, Gen.chooseNum(0L, 4L)))
    val cases = for {
      k <- Gen.chooseNum(1, 6)
      nq <- Gen.chooseNum(1, 10)
      nParts <- Gen.chooseNum(0, 5)
      parts <- Gen.listOfN(nParts, Gen.frequency(
        1 -> Gen.const(List.fill(nq)(List.empty[(Double, Long)])),
        4 -> Gen.listOfN(nq, pushes)))
      seed <- Gen.long
    } yield (k, nq, parts, seed)
    def agree(k: Int, nq: Int, parts: List[List[List[(Double, Long)]]],
              seed: Long): Prop = {
      val partials = parts.map(qs => KnnJoin.Partials.of(qs.map { xs =>
        val h = new KnnJoin.BoundedTopK(k)
        xs.foreach { case (d, i) => h.push(d, i) }
        h
      }.toArray))
      // tasks finish in any order
      val merge = new KnnJoin.TopKMerge(nq, k)
      new scala.util.Random(seed).shuffle(partials.indices.toList)
        .foreach(p => merge.add(p, partials(p)))
      val driver = (0 until nq).map(qi => qi.toLong -> merge.result(qi).toSeq.map {
        case (d, i) => (java.lang.Double.doubleToLongBits(d), i)
      }).filter(_._2.nonEmpty)
      // the oracle reads the partial rows in partition order
      val rows = for {
        p <- partials
        j <- p.qis.indices
        from = if (j == 0) 0 else p.ends(j - 1)
      } yield (p.qis(j).toLong,
        (from until p.ends(j)).map(e => (p.dists(e), p.ids(e))))
      val oracle = knnBits(KnnMergeOracle.merge(
        rows.toDF("query_id", "partial").coalesce(1), k))
      Prop(driver == oracle) :| s"driver $driver\noracle $oracle"
    }
    // one id at 0.0 in partition 0 and at -0.0 in partition 1: the order
    // calls them equal, the oracle keeps partition 0's, whichever task
    // finishes first
    for (seed <- 0L until 4L)
      assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(1),
        agree(1, 1, List(List(List(0.0 -> 5L)), List(List(-0.0 -> 5L))), seed))
        .passed)
    val prop = Prop.forAllNoShrink(cases) { case (k, nq, parts, seed) =>
      agree(k, nq, parts, seed)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(res.passed, res.toString)

    // the drain's result has the relational merge's schema
    val emb = Tables.vectors(spark, sf0001)
    val q = emb.filter(col("id") < 3)
    val b = emb.filter(col("id") >= 3)
    val partials = Seq((0L, Seq((1.0, 2L)))).toDF("query_id", "partial")
    assert(KnnJoin(q, b, 2, Metric.L2).schema ==
      KnnMergeOracle.merge(partials, 2).schema)
  }

  test("a one-block exact join over a 12-partition base runs one scoring " +
       "job after its query fetch and shuffles nothing") {
    val emb = Tables.vectors(spark, sf0001)
    val rows = vecRows(emb)
    val q = spread(rows.take(20), 1)(_ => 0)
    val b = spread(rows.drop(20), 12)(_ % 12)
    // one job fetches the one-partition query side, one scores the block
    val (jobs, shuffle) = jobsAndShuffle(KnnJoin(q, b, 5, Metric.L2).collect())
    assert(jobs == 2, s"$jobs jobs")
    assert(shuffle == 0L, s"$shuffle shuffle bytes")
  }

  test("scoring jobs follow the result-size rule and give the one-job " +
       "result (exact and IVF)") {
    // the pure rule: half the limit over the per-task bound, at least one
    val per = KnnJoin.partialsBytes(40, 5)
    assert(per == 40L * (8 + 16 * 5) + 1024)
    assert(KnnJoin.scoringGroups(12, 40, 5, 0L) == Seq(0 until 12))
    assert(KnnJoin.scoringGroups(12, 40, 5, 1L << 30) == Seq(0 until 12))
    assert(KnnJoin.scoringGroups(12, 40, 5, 2 * per * 5) ==
      Seq(0 until 5, 5 until 10, 10 until 12))
    assert(KnnJoin.scoringGroups(3, 40, 5, per) == Seq(0 until 1, 1 until 2, 2 until 3))
    assert(KnnJoin.scoringGroups(0, 40, 5, per).isEmpty)

    // a 40-query block over 12 base partitions: at 24 KiB a job takes 2
    // partitions (6 jobs); one job of all 12 (~45 KB of results) would
    // be aborted by Spark's own limit
    import spark.implicits._
    val limit = 24L * 1024
    val groups = KnnJoin.scoringGroups(12, 40, 5, limit)
    assert(groups.map(_.size) == Seq.fill(6)(2))
    def vec(i: Int) = Array.tabulate(4)(j => ((i * 7 + j * 13) % 17).toFloat)
    val rows = (0 until 136).map(i => (i.toLong, vec(i))).toArray
    val q = spread(rows.take(40), 1)(_ => 0)
    val b = spread(rows.drop(40), 12)(_ % 12)
    val sc = spark.sparkContext
    def exact = KnnJoin(q, b, 5, Metric.L2)
    def ivf = KnnJoin.ivfApprox(q, b, 5, Metric.L2, nlist = 4, nprobe = 4,
      kmIters = 1)
    for ((name, drain) <- Seq[(String, () => DataFrame)](
        "exact" -> (() => exact), "IVF" -> (() => ivf))) {
      var one: Seq[(Long, Seq[(Long, Long)])] = null
      var split: Seq[(Long, Seq[(Long, Long)])] = null
      val (oneJobs, _) = jobsAndShuffle { one = knnBits(drain()) }
      val (splitJobs, _) = jobsAndShuffle {
        split = org.apache.spark.DriverResultLimit(sc, limit)(knnBits(drain()))
      }
      assert(one.length == 40 && split == one, s"$name: split drain != one-job drain")
      assert(splitJobs - oneJobs == groups.length - 1,
        s"$name: $splitJobs jobs split, $oneJobs in one")
    }
    assert(exact.count() == 40, "the limit is restored")
  }
}
