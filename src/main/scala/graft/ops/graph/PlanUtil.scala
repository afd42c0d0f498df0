package graft.ops.graph

import org.apache.spark.sql.{DataFrame, Dataset, Row}

/** Lineage cutting for iterative dataflow.
  *
  * `Dataset.localCheckpoint()` (Spark 4) truncates the plan to a
  * LogicalRDD but PRESERVES the child plan's `sizeInBytes` statistic.
  * Iterative algorithms whose per-round plan multiplies child sizes
  * (joins, cogroups — SizeInBytesOnlyStatsPlanVisitor takes the product)
  * therefore grow the carried BigInt exponentially: by round 16 of a BSP
  * loop the statistic has ~2.5 MILLION digits and every subsequent
  * optimizer pass (e.g. InjectRuntimeFilter's canBroadcastBySize) burns
  * minutes in Toom-Cook BigInt multiplication — the job looks hung while
  * the driver multiplies million-digit integers.
  *
  * [[cut]]/[[cutDF]] re-wrap the checkpointed RDD in a fresh Dataset, so
  * the plan root is an ExternalRDD/LogicalRDD with DEFAULT statistics —
  * constant-size stats per round, planning cost O(1) in round count. The
  * price is one encode/decode pass per round boundary, negligible next to
  * the round's shuffles.
  */
private[graft] object PlanUtil {

  /** Local checkpoint blocks die with their executor — acceptable on the
    * single-JVM driver contract, but a lost block is unrecomputable. When
    * the session has a RELIABLE checkpoint dir configured
    * (`sc.setCheckpointDir`, the standard Spark knob), use reliable
    * checkpointing instead so materialized stages survive executor loss. */
  private def checkpointed[T](ds: Dataset[T]): Dataset[T] =
    if (ds.sparkSession.sparkContext.getCheckpointDir.isDefined)
      ds.checkpoint()
    else ds.localCheckpoint()

  /** RDD form of [[checkpointed]]: persists `rdd` and marks it for a
    * reliable checkpoint when the session has a checkpoint dir, for a
    * local one otherwise. The caller's next action materializes it (a
    * reliable checkpoint then writes its files in one more job, reading
    * the persisted blocks). The RDD keeps its partitioner either way;
    * release it with `unpersist`. */
  def checkpointedRdd[T](rdd: org.apache.spark.rdd.RDD[T]): org.apache.spark.rdd.RDD[T] = {
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (rdd.sparkContext.getCheckpointDir.isDefined) rdd.checkpoint()
    else rdd.localCheckpoint()
    rdd
  }

  /** The block-holding ancestor of a cut's RDD (the internal RDD that
    * `localCheckpoint` marked persistent). Reliable checkpoints hold no
    * blocks (data lives in files), so this returns None there. */
  private def persistedAncestor(r: org.apache.spark.rdd.RDD[_])
      : Option[org.apache.spark.rdd.RDD[_]] =
    if (r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE) Some(r)
    else r.dependencies.view.flatMap(d => persistedAncestor(d.rdd)).headOption

  /** Materialize + cut, returning a release thunk that frees the cut's
    * checkpoint blocks. Iterative loops MUST call the release of round
    * N-1 after round N's cut materializes — localCheckpoint blocks are
    * otherwise pinned for the session lifetime, and a build with
    * thousands of rounds (BSP self-search batches × rounds, repair
    * passes) accumulates them until a capped heap dies (observed: the 1M
    * (48,64) soak OOM at 4 GiB ~30 min in). Releasing a cut whose
    * Dataset is still referenced makes that Dataset unrecomputable —
    * release only when every reader has itself been materialized. */
  def cutReleasable[T](ds: Dataset[T]): (Dataset[T], () => Unit) = {
    val cp = checkpointed(ds)
    val rdd = cp.rdd
    val persisted = persistedAncestor(rdd)
    (cp.sparkSession.createDataset(rdd)(ds.encoder),
      () => persisted.foreach(_.unpersist(blocking = false)))
  }

  /** DataFrame variant of [[cutReleasable]]. */
  def cutDFReleasable(df: DataFrame): (DataFrame, () => Unit) = {
    val cp = checkpointed(df)
    val rdd = cp.rdd
    val persisted = persistedAncestor(rdd)
    (cp.sparkSession.createDataFrame(rdd, df.schema),
      () => persisted.foreach(_.unpersist(blocking = false)))
  }

  /** Materialize (eager checkpoint) + cut lineage AND statistics. */
  def cut[T](ds: Dataset[T]): Dataset[T] = cutReleasable(ds)._1

  /** DataFrame variant (Row encoder via createDataFrame). */
  def cutDF(df: DataFrame): DataFrame = cutDFReleasable(df)._1
}

/** Collects the release thunks of cuts made inside a bounded phase so the
  * caller can free them in one shot once every downstream consumer has
  * materialized (e.g. BSP final-round states after the supply aggregation
  * over them is itself cut). */
private[graft] final class CpScope {
  private val handles = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
  def add(h: () => Unit): Unit = synchronized { handles += h }
  def releaseAll(): Unit = synchronized { handles.foreach(_()); handles.clear() }
}
