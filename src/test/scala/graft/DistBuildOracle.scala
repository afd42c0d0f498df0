package graft

import graft.core.{Metric, NeighborVec}
import graft.functions.{TopKAggregator, VectorFunctions}
import graft.ops.graph.{BspBeamSearch, OcclusionPrune}
import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Relational forms of the distributed RoarGraph build's keyed steps,
  * which the specs hold the engine's RDD pipelines to
  * (`DistRoarGraphBuilder.forwardLists`, `mergeReverseSlice`,
  * `supplyPools`, `absorbRound`): `groupBy`/`agg` aggregation and joins
  * over DataFrames, each step the plan the builder used to run. Ids must
  * agree, in order; distances are computed by the same `Metric.dist`
  * arithmetic (the Catalyst distance expressions accumulate the same
  * doubles in the same order), so the bounded top-k folds keep the same
  * candidates. */
object DistBuildOracle {

  /** The bounded (dist, id) top-k over (id, dist, vec) columns. */
  private def topKVec(k: Int) =
    udaf(TopKAggregator.of[NeighborVec](k), Encoders.product[NeighborVec])

  /** Phase-1 forward lists: [query_id, knn: array<long>] kNN lists and
    * [id, vec] base rows → [src, nbrs]. */
  def forwardLists(knn: DataFrame, baseN: DataFrame, metric: Metric,
                   capC: Int, m: Int): DataFrame = {
    import knn.sparkSession.implicits._
    val candVecs = baseN.select(col("id").as("cand"), col("vec").as("cvec"))
    val pivotVecs = baseN.select(col("id").as("pivot"), col("vec").as("pvec"))
    val edges = knn
      .filter(size(col("knn")) >= 2)
      .select(col("knn")(0).as("pivot"),
        explode(slice(col("knn"), lit(2), size(col("knn")) - 1)).as("cand"))
      .filter(col("cand") =!= col("pivot"))
      .distinct()
    edges
      .join(candVecs, "cand")
      .join(pivotVecs, "pivot")
      .select(col("pivot"), col("cand"),
        VectorFunctions.distByMetric(metric)(col("pvec"), col("cvec")).as("d"),
        col("cvec"))
      .groupBy("pivot")
      .agg(topKVec(capC)(col("cand"), col("d"), col("cvec")).as("cands"))
      .as[(Long, Array[NeighborVec])]
      .map { case (pivot, cands) =>
        (pivot, OcclusionPrune.pruneVecs(
          cands.map(c => (c.id, c.dist, c.vec)), pivot, m, metric))
      }.toDF("src", "nbrs")
  }

  /** One destination slice of the reverse merge over [src, nbrs] forward
    * lists. `keepDst` is a predicate over a column named `__dst` holding
    * the destination src id at each of the three filter sites. */
  def mergeReverseSlice(fwd: DataFrame, baseN: DataFrame, metric: Metric,
                        appendCap: Int, pruneTo: Int, backfill: Boolean,
                        capRev: Int, finalCap: Option[Int], keepDst: Column,
                        vp: BspBeamSearch.PinnedVecs): DataFrame = {
    val spark = fwd.sparkSession
    import spark.implicits._
    def dstFilter(df: DataFrame, dstCol: String): DataFrame = df
      .withColumn("__dst", col(dstCol)).where(keepDst).drop("__dst")

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

    val revE = spark.createDataset(
      BspBeamSearch.lookupVec(
        BspBeamSearch.lookupVec(
          dstFilter(
            fwd.select(col("src").as("other"), explode(col("nbrs")).as("src")),
            "src")
            .select(col("other"), col("src"))
            .as[(Long, Long)].rdd, vp)
          .map { case (other, src, ovec) => (src, (other, ovec)) }, vp)
        .map { case (src, (other, ovec), svec) =>
          (src, other, metric.dist(svec, ovec), ovec)
        })
      .toDF("src", "other", "d", "ovec")
      .groupBy("src")
      .agg(topKVec(capRev)(col("other"), col("d"), col("ovec")).as("revl"))

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

  /** The relational hash-slice predicate of the sliced steps. */
  def sliceCol(dst: Column, batches: Int, b: Int): Column =
    pmod(xxhash64(dst), lit(batches)) === lit(b)

  /** Phase-2 supply pools: [query_id, ids, dists] self-search hits →
    * [src, nbrs]. */
  def supplyPools(ss: DataFrame, vp: BspBeamSearch.PinnedVecs, metric: Metric,
                  m: Int): DataFrame = {
    val spark = ss.sparkSession
    import spark.implicits._
    val skinny = ss
      .select(col("query_id").as("src"),
        explode(arrays_zip(col("dists"), col("ids"))).as("h"))
      .select(col("h.ids").as("cand"), col("src"), col("h.dists").as("d"))
      .as[(Long, Long, Double)].rdd
      .map { case (cand, src, d) => (cand, (src, d)) }
    spark.createDataset(
        BspBeamSearch.lookupVec(skinny, vp).map { case (cand, (src, d), v) => (src, d, cand, v) })
      .toDF("src", "d", "cand", "cvec")
      .groupBy("src")
      .agg(sort_array(collect_list(struct(col("d"), col("cand"), col("cvec"))))
        .as("pool"))
      .as[(Long, Seq[(Double, Long, Array[Float])])]
      .map { case (src, pool) =>
        (src, OcclusionPrune.pruneVecs(
          pool.map(t => (t._2, t._1, t._3)).toArray, src, m, metric,
          backfill = false))
      }.toDF("src", "nbrs")
  }

  /** One repair absorption round over [src, nbrs, origCnt] with
    * [query_id, dists, ids] hits → (the merged [src, nbrs, origCnt]
    * state, the distinct attached [id]s). */
  def absorbRound(adjCur: DataFrame, hits: DataFrame, cap: Int, m: Int,
                  allowTrim: Boolean, repairC: Int = 2): (DataFrame, DataFrame) = {
    val spark = adjCur.sparkSession
    import spark.implicits._
    val topAttach = TopKAggregator.topK(2 * m)
    val allowance =
      if (allowTrim)
        greatest(lit(cap) - col("deg"), least(col("origCnt"), lit(repairC)))
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
    val attached = kept.select(explode(col("adds")("id")).as("id")).distinct()
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
          val t = math.min(adds.size - math.max(room, 0), origCnt)
          val kept2 = nbrs.take(origCnt - t) ++ nbrs.drop(origCnt)
          (src, kept2 ++ adds.take(math.max(room, 0) + t), origCnt - t)
        }
      }.toDF("src", "nbrs", "origCnt")
    (merged, attached)
  }
}
