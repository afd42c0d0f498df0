package graft.ops

import graft.core.{Metric, Neighbor}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.encoderFor
import scala.reflect.ClassTag

/** Exact kNN join (SURVEY.md §2.3 A1): for every query vector, the k nearest
  * base vectors under a metric. The reference consumes this as a precomputed
  * file (src/index_bipartite.cpp:2622-2639 LoadLearnBaseKNN, built by external
  * DiskANN-era tooling); here it is a first-class distributed operator.
  *
  * Physical design (the Spark partial+final aggregation pattern):
  *   1. queries are tiled into broadcast-sized blocks (driver collects one
  *      block at a time — at 100 TB scale the base side is the big one and
  *      streams through executors exactly once per block);
  *   2. `mapPartitions` over the base: one bounded max-heap per query per
  *      partition (the analogue of the reference's NeighborPriorityQueue,
  *      include/efanna2e/neighbor.h:138-223) → partial top-k, so only
  *      numPartitions*k rows per query ever shuffle, never the cross product;
  *   3. `groupBy(query)` + flatten + sort_array + slice = final top-k, all
  *      codegen'd built-ins.
  *
  * Ties break by ascending id (reference: neighbor.h:29-33). Distances are
  * computed in float64 so results are reproducible and oracle-comparable.
  */
object KnnJoin {

  /** Bounded max-heap keeping the k smallest under the [[Neighbor]] order. */
  final class BoundedTopK(k: Int) {
    private val d = new Array[Double](k)
    private val ids = new Array[Long](k)
    private var n = 0
    // max-heap: i sits above j when it ranks after j
    @inline private def less(i: Int, j: Int): Boolean =
      Neighbor.less(d(j), ids(j), d(i), ids(i))
    private def swap(i: Int, j: Int): Unit = {
      val td = d(i); d(i) = d(j); d(j) = td
      val ti = ids(i); ids(i) = ids(j); ids(j) = ti
    }
    def push(dist: Double, id: Long): Unit = {
      if (n < k) {
        d(n) = dist; ids(n) = id; n += 1
        var i = n - 1
        while (i > 0 && less(i, (i - 1) / 2)) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
      } else if (Neighbor.less(dist, id, d(0), ids(0))) {
        d(0) = dist; ids(0) = id
        var i = 0
        var cont = true
        while (cont) {
          val l = 2 * i + 1; val r = l + 1
          var m = i
          if (l < n && less(l, m)) m = l
          if (r < n && less(r, m)) m = r
          if (m == i) cont = false else { swap(i, m); i = m }
        }
      }
    }
    def result(): Array[(Double, Long)] = {
      val out = Array.tabulate(n)(i => (d(i), ids(i)))
      java.util.Arrays.sort(out, ResultOrder)
      out
    }
  }

  private val ResultOrder = Neighbor.orderingOf[(Double, Long)](_._1, _._2)

  private[graft] def widen(v: Array[Float], normalize: Boolean): Array[Double] = {
    val out = new Array[Double](v.length)
    var i = 0
    while (i < v.length) { out(i) = v(i).toDouble; i += 1 }
    if (normalize) {
      var s = 0.0; i = 0
      while (i < v.length) { s += out(i) * out(i); i += 1 }
      val n = math.sqrt(s)
      if (n != 0.0) { i = 0; while (i < v.length) { out(i) /= n; i += 1 } }
    }
    out
  }

  /** 4-way unrolled: the single-accumulator form serializes on FP-add
    * latency (~4 cycles/element — measured as the 10M drain's bottleneck
    * once the routed scan was cache-sorted); four independent chains let
    * the core retire adds in parallel and open the loop to
    * auto-vectorization. Reassociates the sum — bit-level results differ
    * from the serial form by ~1 ulp, far inside the oracle's 1e-6
    * relative tolerance; (dist, id) tie-breaks are unaffected (exact
    * ties produce identical partials in any association order). */
  @inline private[graft] def distD(metric: Metric, a: Array[Double], b: Array[Double]): Double =
    metric match {
      case Metric.L2 =>
        var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
        var i = 0
        val n4 = a.length - 3
        while (i < n4) {
          val x0 = a(i) - b(i); val x1 = a(i + 1) - b(i + 1)
          val x2 = a(i + 2) - b(i + 2); val x3 = a(i + 3) - b(i + 3)
          s0 += x0 * x0; s1 += x1 * x1; s2 += x2 * x2; s3 += x3 * x3
          i += 4
        }
        var s = (s0 + s1) + (s2 + s3)
        while (i < a.length) { val x = a(i) - b(i); s += x * x; i += 1 }
        s
      case _ => // InnerProduct and Cosine (inputs pre-normalized for cosine)
        var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
        var i = 0
        val n4 = a.length - 3
        while (i < n4) {
          s0 += a(i) * b(i); s1 += a(i + 1) * b(i + 1)
          s2 += a(i + 2) * b(i + 2); s3 += a(i + 3) * b(i + 3)
          i += 4
        }
        var s = (s0 + s1) + (s2 + s3)
        while (i < a.length) { s += a(i) * b(i); i += 1 }
        -s
    }

  /** Named failure for a vector whose length differs from its block's
    * dimension `dim` (the style of the Catalyst distance expressions). */
  private def checkDim(dim: Int, n: Int): Unit =
    if (n != dim)
      throw new IllegalArgumentException(s"kNN join: vector dimension mismatch ($dim vs $n)")

  /** Driver-side row map of the query vectors: widens each one and holds
    * it to the first query's dimension (once per row, never per pair). */
  private def queryWidener(normalize: Boolean): Array[Float] => Array[Double] = {
    var dim = -1
    v => {
      if (dim < 0) dim = v.length
      checkDim(dim, v.length)
      widen(v, normalize)
    }
  }

  /** The query side as position-tiled blocks of at most `blockRows` rows,
    * each row mapped by `rowMap` on the driver. Rows come to the driver
    * with one `runJob` per group of consecutive partitions, not one job per
    * partition: the first group is one partition; each later one is sized
    * from the rows per partition seen so far to fill the rest of the
    * current block, or, while no row has been seen, is 4x the partitions
    * scanned (Spark's own `executeTake` scale-up). Partition order is
    * kept and each partition is computed once, so the blocks are exactly
    * the position tiling of the query side. The driver holds at most one
    * block plus one fetched group. Rows travel as the plan's own binary
    * rows and are decoded on the driver, as `collect` does. */
  private def queryBlocks[R, Q: ClassTag](queries: Dataset[R],
      rowMap: R => Q, blockRows: Int): Iterator[Array[Q]] = {
    val qe = queries.queryExecution
    val rdd = qe.toRdd
    val decode = encoderFor(queries.encoder)
      .resolveAndBind(qe.analyzed.output).createDeserializer()
    val nParts = rdd.getNumPartitions
    var scanned = 0 // partitions fetched so far
    var seen = 0L // rows in them
    var pending: Iterator[InternalRow] = Iterator.empty // fetched, not yet in a block
    Iterator.continually {
      val blk = Array.newBuilder[Q]
      var n = 0
      while (n < blockRows && (pending.hasNext || scanned < nParts)) {
        if (pending.hasNext) { blk += rowMap(decode(pending.next())); n += 1 }
        else {
          val want =
            if (scanned == 0) 1.0
            else if (seen == 0) 4.0 * scanned
            else math.ceil((blockRows - n).toDouble * scanned / seen)
          val parts = scanned until
            scanned + math.max(1, math.min(nParts - scanned, want).toInt)
          val group = rdd.sparkContext.runJob(rdd,
            (it: Iterator[InternalRow]) => it.map(_.copy()).toArray, parts)
          scanned = parts.end
          seen += group.iterator.map(_.length.toLong).sum
          pending = group.iterator.flatMap(_.iterator)
        }
      }
      blk.result()
    }.takeWhile(_.nonEmpty)
  }

  /** Shared blocked top-k drain (used by this join, [[ivfApprox]] and
    * the ADC drains of [[graft.ops.Quantize]]): pull the query side to the
    * driver one block at a time ([[queryBlocks]]: one job per group of
    * partitions, and the driver never holds the whole query side),
    * broadcast one block, materialize its partial top-k eagerly
    * (PlanUtil.cutDF: reliable checkpoint when the session has a checkpoint
    * dir, local otherwise) so the block's broadcast can be destroyed before
    * the next block is drained — no accumulation of broadcasts or query
    * bytes across the job's lifetime.
    *
    * Blocks tile the QUERY set disjointly, so the per-query merge is
    * applied PER BLOCK and the block's per-(query, partition) partial
    * rows — the job's largest transient, partitions×k rows per query —
    * are released as soon as the block's merged top-k lands. What stays
    * pinned across blocks is only the final k rows per query (the result
    * itself); the shuffle volume is identical to one global merge (the
    * groupBy keys are disjoint across blocks). Pre-10M hardening: the
    * previous shape pinned EVERY block's partials until one global
    * groupBy at the end — partitions× the result size, all live at once.
    *
    * `partial(bc)` must return a [query_id: long,
    * partial: array<struct<_1: double, _2: long>>] DataFrame of per-block
    * per-partition partial top-k rows. The returned DataFrame is already
    * materialized (a union of per-block cuts).
    *
    * PRECONDITION: query ids must be UNIQUE across the whole drain.
    * Blocks tile the query side by POSITION, not by id, so a duplicated id
    * that lands in two blocks produces two output rows (one per-block
    * top-k each) instead of one globally merged top-k. Every current
    * caller ([[apply]], [[ivfApprox]], Quantize.adcTopK) feeds ids from
    * an `id` key column, which satisfies this; a new caller with
    * duplicate ids must pre-merge them.
    *
    * `checkpointDir` + `blockKey` (both or neither) make the drain
    * PREEMPTIBLE: each block's merged top-k is persisted as parquet under
    * `dir/block_<i>` the moment it lands, and a relaunched drain whose
    * block slice matches the persisted block's identity marker (block
    * index + blockRows + row count + order-sensitive qid hash — blocks
    * tile by position, so identity includes order — plus the caller's
    * `markerContext` knob/kernel token) skips that block's scan entirely.
    * At the 10M regime one block is ~40-60 min of scan; without this a
    * kill at a measurement-window boundary loses the whole multi-hour
    * drain. A marker mismatch (different query set/order/blockRows/knobs,
    * or a marker written by an older kernel version) fails loudly rather
    * than serving a stale block — delete the stale `block_<i>` dir and
    * its `.marker` to recompute that block under the current code. */
  private[graft] def blockedTopK[R, Q: ClassTag](queries: Dataset[R],
      rowMap: R => Q, blockRows: Int, k: Int, emptyMsg: String,
      checkpointDir: Option[String] = None, blockKey: Q => Long = null,
      markerContext: String = "")(
      partial: org.apache.spark.broadcast.Broadcast[Array[Q]] => DataFrame): DataFrame = {
    require(checkpointDir.isEmpty == (blockKey == null),
      "blockedTopK: checkpointDir and blockKey come together")
    implicit val spark: org.apache.spark.sql.SparkSession = queries.sparkSession
    val blocks = queryBlocks(queries, rowMap, blockRows)
    require(blocks.hasNext, emptyMsg)
    // order-sensitive identity of a block slice (position-tiled blocks),
    // versioned (v2) and bound to the tiling (block index + blockRows)
    // and the caller's knob/kernel context — a marker from a different
    // tiling, knob set, or kernel version never silently resumes
    def markerOf(blk: Array[Q], bi: Int): String = {
      var h = 1125899906842597L
      var i = 0
      while (i < blk.length) { h = h * 31 + blockKey(blk(i)); i += 1 }
      s"v2:b$bi:r$blockRows:${blk.length}:$h:$markerContext"
    }
    val mergedBlocks = blocks.zipWithIndex.map { case (blk, bi) =>
      val cpPath = checkpointDir.map(d => s"$d/block_$bi")
      val markerPath = cpPath.map(p => s"$p.marker")
      val hit = cpPath.exists(p =>
        graft.core.CpIO.exists(s"$p/_SUCCESS") &&
          markerPath.exists(graft.core.CpIO.exists(_)))
      if (hit) {
        val prev = graft.core.CpIO.readString(markerPath.get).trim
        require(prev == markerOf(blk, bi),
          s"blockedTopK checkpoint ${cpPath.get} was written for a different " +
            s"block slice ($prev vs ${markerOf(blk, bi)}) — refusing stale resume")
        spark.read.parquet(cpPath.get)
      } else {
        val bc = spark.sparkContext.broadcast(blk)
        // ONE materialization per block (guide §1.2): partials stream
        // straight into the merge exchange. The previous shape checkpointed
        // the partials first (an extra job per block and a full extra copy
        // of the block's largest transient) solely so the broadcast could
        // be destroyed before the merge ran; destroying it after the fused
        // materialization is just as early in the block lifecycle — the
        // merge IS the block's materialization. Memory shrinks too: the
        // partitions×k-per-query partial rows now live only inside the
        // exchange, never as pinned checkpoint blocks.
        val mergedPlan = partial(bc).groupBy("query_id")
          .agg(slice(sort_array(flatten(collect_list(col("partial")))), 1, k)
            .as("knn0"))
        val merged = cpPath match {
          case Some(p) =>
            mergedPlan.write.mode("overwrite").parquet(p)
            graft.core.CpIO.writeString(markerPath.get, markerOf(blk, bi))
            spark.read.parquet(p)
          case None => graft.ops.graph.PlanUtil.cutDF(mergedPlan)
        }
        bc.destroy() // merged is materialized; every task that read bc ran
        merged
      }
    }.toList
    mergedBlocks.reduce(_ union _)
      .select(col("query_id"),
        transform(col("knn0"),
          x => struct(x("_1").as("dist"), x("_2").as("id"))).as("knn"))
  }

  /** Exact kNN join. Inputs must expose (`id`: long, `vec`: array<float>).
    * Returns [query_id: long, knn: array<struct<dist: double, id: long>>],
    * `knn` sorted by (dist, id) ascending, length <= k. Every query and
    * base vector must have the same dimension; a mismatch fails with a
    * named `IllegalArgumentException`.
    *
    * @param queryBlockRows max queries collected+broadcast per block; base
    *        side makes one pass per block (tune so a block is ~10s of MB).
    */
  def apply(queries: DataFrame, base: DataFrame, k: Int, metric: Metric,
            queryBlockRows: Int = 100000): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._

    val baseDs: Dataset[(Long, Array[Float])] =
      base.select(col("id").cast("long"), col("vec")).as[(Long, Array[Float])]
    val qDs = queries.select(col("id").cast("long"), col("vec"))
      .as[(Long, Array[Float])]
    val widenQ = queryWidener(metric.needNormalize)

    blockedTopK(qDs, (q: (Long, Array[Float])) => (q._1, widenQ(q._2)),
        queryBlockRows, k, "kNN join: empty query set") { bc =>
      baseDs.mapPartitions { it =>
        val qs = bc.value
        val all = Array.range(0, qs.length)
        sweep(qs.map(_._1), qs.map(_._2), it.map { case (id, v) => (id, v, 0) },
          _ => all, k, metric)
      }.toDF("query_id", "partial")
    }
  }

  /** Base rows buffered per run in [[sweep]]: 64 widened 200-d rows are
    * ~100 KB, L2-resident. */
  private val RunBuf = 64

  /** The scoring loop of [[apply]] and [[ivfApprox]]: one bounded heap per
    * block query, fed by one pass over a partition's base rows. Each row
    * carries a run key, and `probers(key)` lists the block queries that
    * score rows of that key: every query under one key for the exact join,
    * the queries probing the row's IVF list for [[ivfApprox]].
    *
    * Run-blocked (the measured 10M bottleneck was MEMORY, not FLOPs:
    * row-major iteration touches ~|probers|·1.6 KB of RANDOM query-vector
    * reads PER ROW, and 24 threads' prober sets evict each other out of
    * shared L3 — ~60-85 min per 100k-query block). Consecutive rows of one
    * key are buffered in runs of <= RunBuf, and each run is swept with its
    * probing queries OUTER x buffered rows INNER. Each query vector is read
    * once per run (sequentially, prefetcher-friendly) instead of once per
    * row, and the heap reference is hoisted per (query, run).
    * Result-neutral: the same (query, row) pairs meet the same `distD`, and
    * BoundedTopK is insertion-order-independent ((dist, id) tie-break,
    * spec-pinned).
    *
    * Each base row's length is held to the block's dimension once per row.
    * Returns the non-empty (query id, partial top-k) rows. */
  private def sweep(qids: Array[Long], qvs: Array[Array[Double]],
                    rows: Iterator[(Long, Array[Float], Int)],
                    probers: Int => Array[Int], k: Int,
                    metric: Metric): Iterator[(Long, Array[(Double, Long)])] = {
    val dim = qvs(0).length
    val norm = metric.needNormalize
    val heaps = Array.fill(qvs.length)(new BoundedTopK(k))
    val bufIds = new Array[Long](RunBuf)
    val bufVecs = new Array[Array[Double]](RunBuf)
    var bufN = 0
    var bufKey = -1
    var probing: Array[Int] = Array.emptyIntArray
    def flushRun(): Unit = if (bufN > 0) {
      var j = 0
      while (j < probing.length) {
        val qi = probing(j)
        val qv = qvs(qi)
        val h = heaps(qi)
        var r = 0
        while (r < bufN) {
          h.push(distD(metric, qv, bufVecs(r)), bufIds(r))
          r += 1
        }
        j += 1
      }
      bufN = 0
    }
    rows.foreach { case (bid, bvec, key) =>
      checkDim(dim, bvec.length)
      if (key != bufKey) { flushRun(); bufKey = key; probing = probers(key) }
      else if (bufN == RunBuf) flushRun()
      if (probing.length > 0) {
        bufIds(bufN) = bid
        bufVecs(bufN) = widen(bvec, norm)
        bufN += 1
      }
    }
    flushRun()
    Iterator.range(0, qvs.length).flatMap { qi =>
      val r = heaps(qi).result()
      if (r.isEmpty) None else Some((qids(qi), r))
    }
  }

  /** The `nprobe` nearest centroids of `raw` by raw-space L2, ties by
    * ascending centroid id — the IVF coarse-quantization step of
    * [[ivfApprox]], a pure function of (vector, centroid grid) so the
    * distributed assignment pass and any driver-side check agree
    * exactly (spec-gated). A query whose dimension differs from the
    * grid's fails with the join's named error. */
  private[graft] def probesFor(raw: Array[Double],
                               centsD: Array[Array[Double]],
                               nprobe: Int): Array[Int] = {
    if (centsD.nonEmpty) checkDim(raw.length, centsD(0).length)
    val heap = new BoundedTopK(nprobe)
    var c = 0
    while (c < centsD.length) {
      heap.push(distD(Metric.L2, raw, centsD(c)), c.toLong); c += 1
    }
    heap.result().map(_._2.toInt)
  }

  /** Per-block centroid→query-indices index for [[ivfApprox]], built by
    * counting sort over primitive arrays (no boxing) and memoized on the
    * block's query array so the JVM's concurrent tasks share ONE copy;
    * weak keys let the index die with its broadcast block. */
  private val centIndexMemo =
    new java.util.WeakHashMap[AnyRef, Array[Array[Int]]]()
  private def centIndexFor(qs: Array[(Long, Array[Double], Array[Int])],
                           nlist: Int): Array[Array[Int]] =
    centIndexMemo.synchronized {
      var idx = centIndexMemo.get(qs)
      if (idx == null) {
        val counts = new Array[Int](nlist)
        var qi = 0
        while (qi < qs.length) {
          val ps = qs(qi)._3
          var j = 0
          while (j < ps.length) { counts(ps(j)) += 1; j += 1 }
          qi += 1
        }
        idx = Array.tabulate(nlist)(c => new Array[Int](counts(c)))
        val fill = new Array[Int](nlist)
        qi = 0
        while (qi < qs.length) {
          val ps = qs(qi)._3
          var j = 0
          while (j < ps.length) {
            val c = ps(j); idx(c)(fill(c)) = qi; fill(c) += 1; j += 1
          }
          qi += 1
        }
        centIndexMemo.put(qs, idx)
      }
      idx
    }

  /** Approximate kNN join via IVF candidate pruning — the bounded-cost
    * path for the build prefix at 10M+ scale (VERDICT r8 #5). The
    * reference itself consumes EXTERNALLY-built approximate ground truth
    * for exactly this input (SURVEY.md A1: LoadLearnBaseKNN reads
    * DiskANN-era tooling output, src/index_bipartite.cpp:2622-2639), so
    * an approximate train→base kNN is parity, not a shortcut.
    *
    * Same blocked heap kernel as the exact join — the base side streams
    * through executors once per query block and only partial top-k rows
    * shuffle — but each base row is scored ONLY against the queries whose
    * probe set contains the row's IVF list: a k-means over a sample
    * routes every base row to its nearest centroid (one extra map pass
    * over the base, nlist·dim flops/row), each query probes its `nprobe`
    * nearest centroids (computed DISTRIBUTED, one mapPartitions pass
    * against the broadcast centroid grid, before the driver drains query
    * blocks — at the 10M regime a driver-side q·nlist·dim loop would be
    * ~1-2 h of serial work in front of the scan), and the per-partition
    * loop walks a centroid→queries index so total distance work is the
    * probed fraction (~nprobe/nlist) of the exact join's n·q·dim.
    * Routing is raw-space L2 for every metric (the standard IVF coarse
    * quantizer; for cosine the scoring still normalizes exactly like the
    * exact join). With nprobe == nlist every pair is scored and the
    * result is row-identical to [[apply]] (spec-gated); below that,
    * recall is measured, not assumed (KnnJoinSpec + the soak's agreement
    * report).
    *
    * Determinism: the trainer is seed-deterministic up to float
    * aggregation order — AnnSearch.kMeans updates centroids via a
    * distributed float mean whose summation order follows partitioning,
    * so codebooks (hence routing, hence PARTIAL-probe results) can vary
    * in the last ulp between runs/partitionings. The FULL-probe path is
    * result-stable by construction (every pair scored). Per-query
    * results never depend on query-side partitioning or block
    * composition (spec-gated).
    *
    * Coverage: every query id appears in the output exactly once. A
    * query whose probed lists contain no base rows gets an EMPTY `knn`
    * array (never a silently missing row — a dropped row would silently
    * lose the query's phase-1 edges downstream and overstate
    * inner-join agreement metrics). */
  /** Base size up to which [[ivfApprox]]'s first query block scans the
    * routing plan uncut (see the size-derived rationale at its use site). */
  private val SingleScanMaxRows = 1000000L

  def ivfApprox(queries: DataFrame, base: DataFrame, k: Int, metric: Metric,
                nlist: Int = 1024, nprobe: Int = 64, kmIters: Int = 4,
                trainCap: Int = 65536,
                queryBlockRows: Int = 100000,
                checkpointDir: Option[String] = None): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    require(nprobe >= 1 && nprobe <= nlist, s"nprobe $nprobe not in [1, $nlist]")

    // deterministic sample → k-means centroids; the full corpus would pay
    // kmIters extra scans for centroids a sample already pins. Sampling
    // is by id HASH, not id stride: a stride aliases with any periodic
    // id structure — MEASURED at the 2M soak corpus (cluster = id mod 16,
    // step 30, gcd 2): the strided sample contained only the 8 even
    // clusters, the codebook never saw half the distribution, and
    // routing agreement fell 0.9999 → 0.868 at the same probe fraction.
    // under a checkpoint dir the CENTROIDS themselves are persisted and
    // re-read on resume: k-means is seed-deterministic only up to float
    // aggregation order, so a resumed drain that re-trained could probe
    // DIFFERENT lists than the blocks it is resuming — persisted
    // centroids make resume exact, not approximately-the-same
    // dir-level knob guard (same contract as the distributed build's
    // FINGERPRINT): the centroids/routed stages and the block markers are
    // only valid for the knob set that produced them — a reused dir with
    // different nlist/nprobe/k/kernel must fail loudly, not serve stale
    // stages. Base/query identity stays the caller's dir-naming contract,
    // backstopped by the centroid-grid hash folded into block markers.
    checkpointDir.foreach(d => graft.core.CpIO.guardFingerprint(d,
      s"k=$k,nlist=$nlist,nprobe=$nprobe,kmIters=$kmIters," +
        s"trainCap=$trainCap,metric=$metric,kernel=${graft.core.CpIO.KernelVersion}")(spark))
    def hasCp(name: String): Boolean = checkpointDir.exists(d =>
      graft.core.CpIO.exists(s"$d/$name/_SUCCESS")(spark))
    // base row count: sizes the trainer sample AND the size-derived drain
    // shape below (routed-cut skip, coverage skip); -1 = unknown (resumed
    // from persisted centroids, where the durable path is taken anyway)
    var nBaseRows = -1L
    val cents: Array[(Int, Array[Float])] =
      if (hasCp("centroids"))
        spark.read.parquet(s"${checkpointDir.get}/centroids")
          .select(col("centroid_id").cast("int"), col("vec"))
          .as[(Int, Array[Float])].collect().sortBy(_._1)
      else {
        val nRows = base.count()
        nBaseRows = nRows
        val step = math.max(1L, nRows / trainCap)
        val sample =
          if (step == 1L) base.select(col("id").cast("long"), col("vec"))
          else base.select(col("id").cast("long"), col("vec"))
            .filter(pmod(xxhash64(col("id")), lit(step)) === 0L)
        val c = AnnSearch.kMeans(sample, nlist, kmIters)
          .select(col("centroid_id").cast("int"), col("vec"))
          .as[(Int, Array[Float])].collect().sortBy(_._1)
        checkpointDir.foreach { d =>
          c.toSeq.toDF("centroid_id", "vec")
            .write.mode("overwrite").parquet(s"$d/centroids")
        }
        c
      }
    require(cents.indices.forall(i => cents(i)._1 == i),
      "k-means centroid ids not dense 0..nlist-1")
    val centsD = cents.map(c => widen(c._2, normalize = false))

    // route every base row to its nearest list: ONE map pass, no shuffle
    // (assignToCentroidsKernel broadcasts the centroid grid); cut so the
    // routed table materializes once and is freed after the last block.
    // Under a checkpoint dir the routed table is durable parquet — at the
    // 10M regime routing is ~2 h of brute-force nearest-of-nlist and a
    // killed drain must not re-pay it.
    // sortWithinPartitions(centroid_id): the drain's scan cost is MEMORY
    // traffic, not FLOPs — each base row reads the ~1.6 KB widened vector
    // of every query probing its list (~nprobe/nlist of the block, ~20 MB
    // of random reads per row at the 10M knobs). Centroid-sorted iteration
    // makes consecutive rows share one probing set, so a centroid run's
    // prober vectors stay cache-resident instead of being re-fetched per
    // row. No shuffle (per-partition sort), and result-neutral: BoundedTopK
    // is insertion-order-independent ((dist, id) tie-break, spec-pinned)
    // and the full-probe==exact oracle gate covers the kernel.
    val routedPlan = AnnSearch.assignToCentroidsKernel(
      base.select(col("id").cast("long"), col("vec")),
      cents.toSeq.toDF("centroid_id", "vec"))
      .select(col("id"), col("vec"), col("centroid_id").cast("int"))
      .sortWithinPartitions(col("centroid_id"))
    val routedDs = routedPlan.as[(Long, Array[Float], Int)]
    var routedCut: (Dataset[(Long, Array[Float], Int)], () => Unit) =
      checkpointDir match {
        case Some(d) =>
          if (!hasCp("routed"))
            routedPlan.write.mode("overwrite").parquet(s"$d/routed")
          // cut the parquet read: the drain makes one full pass PER BLOCK,
          // and re-deserializing the routed table from parquet every pass
          // (~8 GB at the 10M regime) is minutes of per-block overhead the
          // in-session cut pays once
          graft.ops.graph.PlanUtil.cutReleasable(
            spark.read.parquet(s"$d/routed").as[(Long, Array[Float], Int)])
        case None if nBaseRows < 0 || nBaseRows > SingleScanMaxRows =>
          graft.ops.graph.PlanUtil.cutReleasable(routedDs)
        case None => null
      }
    // size-derived (the item-10 rule): below SingleScanMaxRows the first
    // block scans the routing plan itself — a one-block drain runs the
    // routing kernel once, inside its scan, and a cut would cost a
    // checkpoint job + a pinned copy. A second block would re-run the
    // kernel, so the table is cut before the second block is scanned.
    // Above it — or whenever the durable path is in play — the cut is made
    // up front.
    var blocksScanned = 0
    def routedForBlock(): Dataset[(Long, Array[Float], Int)] = {
      if (routedCut == null && blocksScanned > 0)
        routedCut = graft.ops.graph.PlanUtil.cutReleasable(routedDs)
      blocksScanned += 1
      if (routedCut == null) routedDs else routedCut._1
    }

    val norm = metric.needNormalize
    // probe assignment runs DISTRIBUTED (one mapPartitions pass over the
    // queries against the broadcast centroid grid — the same shape
    // assignToCentroidsKernel uses for base rows), so the driver's drain
    // only deserializes (id, vec, probes) rows; the q·nlist·dim mul-adds
    // are executor work. Probe sets are deterministic per query
    // (BoundedTopK over (dist, centroid id)) regardless of partitioning.
    val centsBc = spark.sparkContext.broadcast(centsD)
    val qDs = queries.select(col("id").cast("long"), col("vec"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cd = centsBc.value
        it.map { case (id, v) =>
          (id, v, probesFor(widen(v, normalize = false), cd, nprobe))
        }
      }
    val widenQ = queryWidener(norm)

    // base-identity proxy for the block markers: the centroid grid is a
    // deterministic function of the base corpus (hash-sampled, persisted
    // on first run and re-read on resume), so a resume against a DIFFERENT
    // base under the same dir name almost surely changes this hash and is
    // refused instead of mixing blocks across corpora
    val centIdHash = {
      var h = 1125899906842597L
      var ci = 0
      while (ci < cents.length) {
        h = h * 31 + java.util.Arrays.hashCode(cents(ci)._2); ci += 1
      }
      h
    }
    val out = blockedTopK(qDs,
      (q: (Long, Array[Float], Array[Int])) => (q._1, widenQ(q._2), q._3),
      queryBlockRows, k, "IVF kNN join: empty query set",
      checkpointDir = checkpointDir,
      blockKey = if (checkpointDir.isEmpty) null
                 else (q: (Long, Array[Double], Array[Int])) => q._1,
      markerContext = s"k=$k,np=$nprobe,cents=$centIdHash," +
        graft.core.CpIO.KernelVersion) { bc =>
      routedForBlock().mapPartitions { it =>
        val qs = bc.value
        // centroid → indices of the block's queries probing it, so a base
        // row costs exactly |queries probing its list| distance evals.
        // Built ONCE per broadcast block and shared by every task
        // (memoized on the block array): at 100k queries × 256 probes
        // this index is ~100 MB of ints — per-task construction (and the
        // boxed buffers it used) OOM'd a 12 GiB heap at 16 concurrent
        // tasks; the counting-sort build below allocates primitives only
        val byCent = centIndexFor(qs, nlist)
        // the routed input is centroid-sorted within partitions, so rows
        // of one list arrive consecutively as one run of the sweep
        sweep(qs.map(_._1), qs.map(_._2), it, byCent(_), k, metric)
      }.toDF("query_id", "partial")
    }
    // blockedTopK returns materialized; the routing is dead
    if (routedCut != null) routedCut._2()
    centsBc.destroy() // the drain is complete; the centroid grid is dead
    // full probe scores every (query, base) pair, so with a known non-empty
    // base every drained query already has a non-empty heap — the coverage
    // re-attach join is an identity; skip its exchange. Partial probing
    // (or an unknown row count on resume) keeps it: a query whose probed
    // lists are all empty must still emit an empty-knn row.
    if (nprobe == nlist && nBaseRows > 0) out
    else ensureQueryCoverage(queries, out)
  }

  /** Re-attach queries missing from a kNN result as rows with an EMPTY
    * `knn` array (one left join keyed on the small query side; a no-op
    * when nothing was dropped). [[ivfApprox]] under partial probing can
    * find no base rows for a query whose probed lists are all empty —
    * a silently missing row would lose the query's phase-1 edges
    * downstream and overstate inner-join agreement metrics, an empty
    * row is a detectable coverage gap. */
  private[graft] def ensureQueryCoverage(queries: DataFrame,
                                         out: DataFrame): DataFrame = {
    val knnType = out.schema("knn").dataType
    queries.select(col("id").cast("long").as("query_id"))
      .join(out, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("knn"), array().cast(knnType)).as("knn"))
  }

  /** Reference implementation via crossJoin + window — the oracle-shaped
    * plan (row_number over (partition by query order by dist, id) <= k).
    * O(|Q|*|B|) shuffle; used for tests and as the DuckDB-mirroring path. */
  def crossWindow(queries: DataFrame, base: DataFrame, k: Int, metric: Metric): DataFrame = {
    val metricName = metric match {
      case Metric.L2 => "l2"
      case Metric.InnerProduct => "ip"
      case Metric.Cosine => "cosine"
    }
    val q = queries.select(col("id").as("query_id"), col("vec").as("qvec"))
    val b = base.select(col("id").as("base_id"), col("vec").as("bvec"))
    val scored = q.crossJoin(b)
      .withColumn("dist",
        VectorFunctions.distByMetric(metricName)(col("qvec"), col("bvec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("base_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("base_id"), col("dist"))
  }

  /** Flatten [query_id, knn] to one row per neighbor with 1-based rank. */
  def explodeRanks(knn: DataFrame): DataFrame =
    knn.select(col("query_id"), posexplode(col("knn")).as(Seq("pos", "n")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("n.id").as("base_id"), col("n.dist").as("dist"))
}
