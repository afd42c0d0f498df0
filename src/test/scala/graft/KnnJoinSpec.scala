package graft

import graft.core.{Metric, Tables}
import graft.ops.KnnJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class KnnJoinSpec extends SparkSpec {

  private def ranks(df: DataFrame): DataFrame =
    KnnJoin.explodeRanks(df).select("query_id", "rank", "base_id")

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private def vecRows(df: DataFrame): Array[(Long, Array[Float])] = {
    import spark.implicits._
    df.select(col("id").cast("long"), col("vec")).as[(Long, Array[Float])]
      .collect().sortBy(_._1)
  }

  /** `rows` as an (id, vec) DataFrame of `nParts` partitions, row i in
    * partition `partOf(i)`, built without a shuffle. */
  private def spread(rows: Array[(Long, Array[Float])], nParts: Int)(
      partOf: Int => Int): DataFrame = {
    import spark.implicits._
    val placed = rows.indices.map(i => (partOf(i), rows(i)))
    spark.sparkContext.parallelize(0 until nParts, nParts)
      .mapPartitionsWithIndex((p, _) =>
        placed.iterator.collect { case (`p`, r) => r })
      .toDF("id", "vec")
  }

  private def roundTrip(metric: Metric): Unit = {
    val emb = Tables.vectors(spark, sf0001)
    val q = emb.filter(col("id") < 10)
    val b = emb.filter(col("id") >= 10)
    val fast = KnnJoin.explodeRanks(KnnJoin(q, b, 5, metric))
      .select("query_id", "rank", "base_id")
    val ref = KnnJoin.crossWindow(q, b, 5, metric)
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

  test("probesFor picks the nprobe nearest centroids, ties by centroid id") {
    val cents = Array(
      Array(0.0, 0.0), Array(1.0, 0.0), Array(0.0, 1.0), Array(1.0, 0.0))
    // query at origin: dists 0, 1, 1, 1 -> top-3 = centroid 0, then the
    // dist-1 tie breaks ascending id: 1, 2 (never 3)
    val ps = KnnJoin.probesFor(Array(0.0, 0.0), cents, 3)
    assert(ps.toSeq == Seq(0, 1, 2))
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

  test("ensureQueryCoverage re-attaches dropped queries with an empty knn") {
    import spark.implicits._
    val q = spark.range(4).map(i => (i, Array(i.toFloat))).toDF("id", "vec")
    val partial = Seq((0L, Seq((1.5, 7L))), (2L, Seq((0.5, 3L))))
      .toDF("query_id", "knn0")
      .select(col("query_id"),
        transform(col("knn0"),
          x => struct(x("_1").as("dist"), x("_2").as("id"))).as("knn"))
    val covered = KnnJoin.ensureQueryCoverage(q, partial)
      .orderBy("query_id").collect()
    assert(covered.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L))
    val sizes = covered.map(
      _.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("knn").length)
    assert(sizes.toSeq == Seq(1, 0, 1, 0),
      "dropped queries must carry an EMPTY knn array")
    // the filled rows keep the result schema (dist: double, id: long)
    assert(covered(0).schema("knn").dataType ==
      partial.schema("knn").dataType)
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
      KnnJoin.crossWindow(q, b, 5, Metric.L2).select("query_id", "rank", "base_id")),
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
}
