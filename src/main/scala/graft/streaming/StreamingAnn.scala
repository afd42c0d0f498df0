package graft.streaming

import graft.build.DistRoarGraphBuilder
import graft.core.{BuildParams, Metric, SearchParams}
import graft.ops.KnnJoin
import graft.ops.graph.{GraphIO, GraphSearch}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming ANN ingestion — continuously arriving embeddings become
  * searchable immediately, with the index refreshed periodically (the
  * standard freshness pattern for vector stores: INDEX + TAIL).
  *
  *   - ingest: every micro-batch appends (id, vec, batch_id) to a vector
  *     table; every `rebuildEvery` batches the graph index is rebuilt over
  *     everything ingested so far (the distributed builder — no driver
  *     materialization — so rebuild capacity matches corpus growth) and
  *     published with the batch watermark it covers.
  *   - search: beam search over the published index UNION a brute-force
  *     kNN over the un-indexed tail (batches after the watermark), merged
  *     per query by (dist, id) — new vectors are findable the moment their
  *     batch commits, at exact-kNN quality, while the bulk rides the
  *     index.
  *
  * At scale the tail is bounded by `rebuildEvery × batch size`, so the
  * brute-force term stays a small constant beside the indexed corpus.
  *
  * Rebuilds are ASYNCHRONOUS: foreachBatch (Structured Streaming's unit
  * of exactly-once side effects) only appends the batch and, at trigger
  * points, hands the watermark to a background rebuilder — a rebuild that
  * takes tens of minutes at corpus scale must not stall ingest, or the
  * "tail bounded by rebuildEvery × batch size" guarantee silently becomes
  * "bounded by rebuild wall × arrival rate". One rebuild runs per
  * directory at a time; triggers arriving mid-rebuild coalesce to the
  * LATEST watermark (intermediate ones are skipped — each rebuild indexes
  * everything up to its watermark, so skipping loses nothing). Rebuilds
  * read only committed immutable batch files and publish through the
  * atomic versioned snapshot below, so asynchrony cannot tear a read; a
  * crash mid-rebuild costs index freshness only — the next trigger
  * rebuilds from durable state, and search quality degrades gracefully to
  * a longer exact-kNN tail in the meantime.
  *
  * Index publication is atomic: each rebuild stages a complete immutable
  * snapshot (adjacency + meta + watermark) under `index_versions/v<batch>`
  * and then swaps a single `_latest` pointer file via rename-with-overwrite
  * (atomic on POSIX and HDFS). A concurrent search resolves the pointer
  * once and reads only that immutable snapshot — it can never observe a
  * half-written index. The previous snapshot is retained one generation
  * for readers that resolved the pointer just before a swap; older ones
  * are pruned.
  */
object StreamingAnn {

  private def hadoopFs(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Resolve the currently published snapshot dir, if any. */
  private def latestVersion(spark: SparkSession, dir: String): Option[String] = {
    // read the pointer past any client-side checksum: a checksummed local
    // FS renames `_latest` and its `.crc` one after the other, so a read
    // between the two renames checks the new pointer against the old
    // checksum and fails. The rename of the pointer itself is atomic.
    val fs = hadoopFs(spark, dir)._1 match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case f => f
    }
    val ptr = new org.apache.hadoop.fs.Path(s"$dir/_latest")
    if (!fs.exists(ptr)) None
    else {
      val in = fs.open(ptr)
      try {
        val b = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, b, 4096, false)
        Some(new String(b.toByteArray, java.nio.charset.StandardCharsets.UTF_8).trim)
      } finally in.close()
    }
  }

  /** Per-directory async-rebuild coordination: one rebuild in flight at a
    * time, later triggers coalesce into `pending` (max watermark wins). */
  private final class RebuildState {
    val pending = new java.util.concurrent.atomic.AtomicLong(-1L)
    val busy = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var lastError: Option[Throwable] = None
  }
  private val states =
    new java.util.concurrent.ConcurrentHashMap[String, RebuildState]()
  private val rebuildPool = java.util.concurrent.Executors.newCachedThreadPool(
    (r: Runnable) => {
      val t = new Thread(r, "graft-ann-rebuild")
      t.setDaemon(true)
      t
    })

  /** Test seam: invoked at the top of every [[rebuild]]; specs park the
    * rebuild thread here to prove ingest keeps committing underneath. */
  @volatile private[graft] var testRebuildBarrier: () => Unit = () => ()

  /** Block until `dir` has no rebuild running or queued; rethrows the last
    * background rebuild failure, if any. */
  def awaitRebuilds(dir: String, timeoutMs: Long = 600000L): Unit = {
    val st = states.get(dir)
    if (st == null) return
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while ((st.busy.get() || st.pending.get() >= 0) &&
           System.nanoTime() < deadline)
      Thread.sleep(25)
    require(!st.busy.get() && st.pending.get() < 0,
      s"rebuild for $dir still running after $timeoutMs ms")
    st.lastError.foreach(t => throw new IllegalStateException(
      s"background rebuild for $dir failed", t))
  }

  /** Drain loop for one directory: rebuild at the latest pending
    * watermark until none remain, then release the busy flag (re-checking
    * for a trigger that raced the release). */
  private def runRebuilds(spark: SparkSession, dir: String,
                          params: BuildParams, st: RebuildState): Unit = {
    var next = st.pending.getAndSet(-1L)
    while (next >= 0) {
      // NonFatal only: OOM/InterruptedException must propagate, not be
      // absorbed into a drain loop that keeps going. A success clears any
      // earlier recorded failure so awaitRebuilds never throws a stale
      // historical error after the index has caught up.
      try {
        rebuild(spark, dir, params, next)
        st.lastError = None
      } catch {
        case scala.util.control.NonFatal(t) =>
          println(s"[streaming-ann] WARNING: background rebuild for $dir " +
            s"at watermark $next failed: $t")
          st.lastError = Some(t)
      }
      next = st.pending.getAndSet(-1L)
    }
    st.busy.set(false)
    if (st.pending.get() >= 0 && st.busy.compareAndSet(false, true))
      rebuildPool.submit(new Runnable {
        def run(): Unit = runRebuilds(spark, dir, params, st)
      })
  }

  /** Queue an async rebuild up to `upToBatch` (coalescing with any queued
    * watermark); starts a drain thread unless one is already running. */
  private def triggerRebuild(spark: SparkSession, dir: String,
                             params: BuildParams, upToBatch: Long): Unit = {
    val st = states.computeIfAbsent(dir, _ => new RebuildState)
    st.pending.updateAndGet(p => math.max(p, upToBatch))
    if (st.busy.compareAndSet(false, true))
      rebuildPool.submit(new Runnable {
        def run(): Unit = runRebuilds(spark, dir, params, st)
      })
  }

  /** Start ingesting a stream of (id, vec) rows into `dir`. `async=false`
    * runs rebuilds inline in foreachBatch (deterministic single-threaded
    * mode for debugging); the default hands them to the background
    * rebuilder so a long rebuild never stalls ingest. */
  def ingest(vectors: DataFrame, dir: String, params: BuildParams,
             rebuildEvery: Int = 4, async: Boolean = true): StreamingQuery = {
    val spark = vectors.sparkSession
    vectors.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$dir/_checkpoint")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        batch.select(col("id").cast("long"), col("vec"))
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(s"$dir/vectors")
        if (batchId % rebuildEvery == (rebuildEvery - 1)) {
          if (async) triggerRebuild(spark, dir, params, upToBatch = batchId)
          else rebuild(spark, dir, params, upToBatch = batchId)
        }
        ()
      }
      .start()
  }

  /** Rebuild the index over every batch ≤ `upToBatch` and publish it with
    * its coverage watermark — atomically (stage → rename into versions →
    * pointer swap). Sampled queries = the vectors themselves
    * (self-training, the |queries| ≈ |base| regime the bipartite path
    * uses; a deployment with a real query log passes it here instead). */
  def rebuild(spark: SparkSession, dir: String, params: BuildParams,
              upToBatch: Long): Unit = {
    testRebuildBarrier()
    val vecs = spark.read.parquet(s"$dir/vectors")
      .filter(col("batch_id") <= upToBatch)
      .select(col("id"), col("vec"))
    val di = DistRoarGraphBuilder.build(vecs, vecs, params)
    implicit val s: SparkSession = spark
    import spark.implicits._
    val version = s"v$upToBatch"
    val stage = s"$dir/index_staging/$version"
    GraphIO.saveDist(di, stage)
    Seq(upToBatch).toDF("indexed_up_to")
      .write.mode("overwrite").parquet(s"$stage/watermark")

    // publish: move the COMPLETE staged snapshot into versions/ (invisible
    // to readers until the pointer names it), then swap the pointer file
    // via rename-with-overwrite — the single atomic step readers observe
    val (fs, _) = hadoopFs(spark, dir)
    val versionsDir = new org.apache.hadoop.fs.Path(s"$dir/index_versions")
    fs.mkdirs(versionsDir)
    val dst = new org.apache.hadoop.fs.Path(s"$dir/index_versions/$version")
    if (fs.exists(dst)) fs.delete(dst, true) // idempotent batch replay
    require(fs.rename(new org.apache.hadoop.fs.Path(stage), dst),
      s"publish: staging rename failed for $version")
    val conf = spark.sparkContext.hadoopConfiguration
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/_latest.tmp")
    val outS = fs.create(tmp, true)
    try outS.write(version.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally outS.close()
    org.apache.hadoop.fs.FileContext.getFileContext(tmp.toUri, conf)
      .rename(tmp, new org.apache.hadoop.fs.Path(s"$dir/_latest"),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)

    // prune all but the current and previous snapshots (a reader that
    // resolved the pointer just before the swap may still be on n-1)
    val keep = Set(version, s"v${upToBatch - 1}")
    fs.listStatus(versionsDir).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("v") && !keep.contains(name) &&
          name.drop(1).forall(_.isDigit) &&
          name.drop(1).toLong < upToBatch)
        fs.delete(st.getPath, true)
    }
  }

  /** Search the ingested corpus: indexed portion via beam search, the
    * un-indexed tail via exact kNN, merged per query by (dist, id).
    * Output [query_id, ids, dists] with ids/dists of length ≤ k. */
  def search(spark: SparkSession, dir: String, queries: DataFrame,
             params: SearchParams): DataFrame = {
    implicit val s: SparkSession = spark
    val vecs = spark.read.parquet(s"$dir/vectors")
    // resolve the published snapshot ONCE; everything below reads only
    // that immutable version dir, so a concurrent rebuild (which swaps
    // the pointer, never mutates a published snapshot) cannot tear a read.
    // None = no index published yet (pointer absent before first rebuild).
    val snapshot: Option[String] =
      latestVersion(spark, dir).map(v => s"$dir/index_versions/$v")
    val watermark: Option[Long] =
      snapshot.map(sd => spark.read.parquet(s"$sd/watermark").head().getLong(0))

    val indexed: Option[DataFrame] = watermark.map { w =>
      val iv = vecs.filter(col("batch_id") <= w).select("id", "vec")
      val idx = GraphSearch.indexFromDist(GraphIO.loadDist(snapshot.get), iv)
      graft.build.RoarGraphBuilder.searchBatch(idx, queries, params)
        .select(col("query_id"),
          arrays_zip(col("dists"), col("ids")).as("hits"))
    }
    val tail = vecs.filter(col("batch_id") > watermark.getOrElse(-1L))
      .select("id", "vec")
    val tailHits: Option[DataFrame] =
      if (tail.isEmpty) None
      else Some(KnnJoin(queries, tail, params.k, params.metric)
        .select(col("query_id"),
          transform(col("knn"),
            h => struct(h("dist").as("dists"), h("id").as("ids"))).as("hits")))

    val parts = indexed.toSeq ++ tailHits.toSeq
    require(parts.nonEmpty, s"nothing ingested under $dir")
    parts.reduce(_ unionByName _)
      .select(col("query_id"), explode(col("hits")).as("h"))
      .select(col("query_id"), col("h.dists").as("dist"), col("h.ids").as("id"))
      .groupBy("query_id")
      .agg(slice(sort_array(collect_list(struct(col("dist"), col("id")))), 1,
        params.k).as("top"))
      .select(col("query_id"),
        transform(col("top"), _("id")).as("ids"),
        transform(col("top"), _("dist")).as("dists"))
  }
}
