package graft

import graft.build.DistRoarGraphBuilder
import graft.core.Metric
import graft.ops.graph.BspBeamSearch
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Each keyed step of the distributed build — an RDD pipeline on the
  * vector pin's partitioner — equals its relational form
  * (`DistBuildOracle`) list for list, ids in order, on a one-partition and
  * a 3-partition pin (`BspOracle.spreadPin`). The inputs sit on a small
  * integer grid, so many distances tie exactly and the (dist, id) order
  * decides; each step also meets a hub above its per-key cap, empty lists
  * and ids with no vector. */
class DistBuildStepSpec extends SparkSpec {

  /** 60 four-d grid vectors: small integer coordinates make many exact
    * L2 and inner-product ties. */
  private lazy val base: DataFrame = {
    import spark.implicits._
    (0L until 60L).map(i =>
      (i, Array(i % 3, (i / 3) % 4, (i * 7) % 5, 1L).map(_.toFloat)))
      .toDF("id", "vec")
  }

  /** Vector pins of `base` on 1 and 3 partitions. */
  private def pins(): Seq[(String, BspBeamSearch.PinnedVecs)] = {
    import spark.implicits._
    val noAdj = Seq.empty[(Long, Array[Long])].toDF("src", "nbrs")
    Seq(1, 3).map(n => s"$n partition(s)" -> BspOracle.spreadPin(noAdj, base, n).vecs)
  }

  private def rows(rdd: RDD[(Long, Array[Long])]): Seq[(Long, Seq[Long])] =
    rdd.collect().map { case (s, n) => (s, n.toSeq) }.sortBy(_._1).toSeq

  private def rows(df: DataFrame): Seq[(Long, Seq[Long])] = {
    import spark.implicits._
    df.select(col("src").cast("long"), col("nbrs").cast("array<bigint>"))
      .as[(Long, Seq[Long])].collect().sortBy(_._1).toSeq
  }

  /** (src, nbrs) lists of `df` on `vp`'s partitioner, as the build's
    * steps hold them. */
  private def onPin(df: DataFrame, vp: BspBeamSearch.PinnedVecs): RDD[(Long, Array[Long])] = {
    import spark.implicits._
    df.as[(Long, Array[Long])].rdd.partitionBy(vp.part)
  }

  test("slices are Spark's pmod(xxhash64(id), n)") {
    import spark.implicits._
    val ids = (-50L until 2000L) :+ Long.MinValue :+ Long.MaxValue
    Seq(2, 3, 7).foreach { n =>
      val spark0 = ids.toDF("id")
        .select(col("id"), pmod(xxhash64(col("id")), lit(n)).as("s"))
        .as[(Long, Long)].collect().toMap
      ids.foreach(id => assert(DistRoarGraphBuilder.sliceOf(id, n) == spark0(id), s"id $id of $n"))
    }
  }

  test("phase-1 forward lists == the relational form") {
    import spark.implicits._
    // a hub pivot (0) whose distinct candidates exceed capC, pivots seen
    // by several queries (duplicate edges), a pivot and candidates with no
    // vector (998, 999), the pivot among its own candidates, a one-id list
    // and an empty list; pivot 40's nearest candidate (25) comes in more
    // lists than capC, so only the edge distinct leaves it room for others
    val knn = ((0 until 12).map(q => (q.toLong, 0L +: (1 to 8).map(j => ((q * 5 + j * 3) % 59 + 1).toLong))) ++
      (12 until 30).map(q => (q.toLong, Seq((q % 20).toLong, ((q * 11) % 60).toLong,
        ((q * 13 + 1) % 60).toLong, (q % 20).toLong, 999L, ((q * 17) % 60).toLong))) ++
      Seq((30L, Seq(998L, 1L, 2L)), (31L, Seq(4L)), (32L, Seq.empty[Long])) ++
      Seq(43L, 44L, 46L, 47L, 49L, 50L, 52L, 53L, 55L, 56L, 58L, 59L, 20L).zipWithIndex
        .map { case (c, i) => (33L + i, Seq(40L, 25L, c)) })
      .toDF("query_id", "knn")
    val (m, capC) = (3, 12)
    Seq(Metric.L2, Metric.InnerProduct).foreach { metric =>
      val oracle = rows(DistBuildOracle.forwardLists(knn, base, metric, capC, m))
      assert(oracle.exists(_._1 == 0L) && !oracle.exists(_._1 == 998L))
      assert(oracle.find(_._1 == 40L).exists(_._2.length == m), s"$metric: pivot 40")
      pins().foreach { case (layout, vp) =>
        val got = rows(DistRoarGraphBuilder.forwardLists(
          knn.select("knn").as[Array[Long]].rdd, vp, metric, capC, m))
        assert(got == oracle, s"$metric, $layout")
        vp.release()
      }
    }
  }

  test("reverse merge == the relational form, whole and sliced") {
    import spark.implicits._
    // node 5 is in 39 lists (a reverse fan-in far above capRev), nodes
    // 40-49 hold two-id lists out of id order (40-44 have no in-edge, so
    // their lists are kept in list order), nodes 50-54 have empty lists,
    // 55-59 have none, and 999 has no vector
    val fwd = ((0L until 40L).map(s => (s, (if (s == 5L) Seq.empty[Long] else Seq(5L)) ++
        (1 to 4).map(j => (s * 7 + j * 11) % 60)
          .filter(n => n != s && n != 5L && (n < 40 || n >= 50)).distinct ++
        (if (s % 9 == 0) Seq(999L) else Nil))) ++
      (40L until 50L).map(s => (s, Seq(s + 10, s + 5))) ++
      (50L until 55L).map(s => (s, Seq.empty[Long])))
      .toDF("src", "nbrs")
    val m = 3
    // (appendCap, pruneTo, backfill, capRev, finalCap): phase 1 and the
    // supply merge
    val shapes = Seq((m, m, true, 2 * m, None), (2 * m, m, false, 2 * m, Some(m)))
    Seq(Metric.L2, Metric.InnerProduct).foreach { metric =>
      pins().foreach { case (layout, vp) =>
        shapes.foreach { case (appendCap, pruneTo, backfill, capRev, finalCap) =>
          val slices = (None +: (0 until 3).map(Some(_))).map { b =>
            val oracle = rows(DistBuildOracle.mergeReverseSlice(fwd, base, metric,
              appendCap, pruneTo, backfill, capRev, finalCap,
              b.fold(lit(true))(DistBuildOracle.sliceCol(col("__dst"), 3, _)), vp))
            val got = rows(DistRoarGraphBuilder.mergeReverseSlice(onPin(fwd, vp), vp,
              metric, appendCap, pruneTo, backfill, capRev, finalCap,
              b.fold((_: Long) => true)(bb => id => DistRoarGraphBuilder.sliceOf(id, 3) == bb)))
            assert(got == oracle, s"$metric, $layout, slice $b, finalCap $finalCap")
            got
          }
          assert(slices.head.length == 60 && slices.head.count(_._2.length == m) > 10)
          assert(slices.head.exists { case (_, n) => n.length >= 2 && n(0) > n(1) },
            "no list kept out of id order")
          assert(slices.tail.flatten.sortBy(_._1) == slices.head, "slices do not tile")
        }
        vp.release()
      }
    }
  }

  test("under a session checkpoint dir a step is reliably checkpointed, and the build is unchanged") {
    import spark.implicits._
    val knn = (0 until 30).map(q => Seq(q.toLong, ((q * 7 + 1) % 60).toLong,
      ((q * 11 + 2) % 60).toLong, ((q * 13 + 3) % 60).toLong)).toDS().rdd.map(_.toArray)
    val params = graft.core.BuildParams(mSq = 6, mPjbp = 3, lPjpq = 12, metric = Metric.L2)
    def adjOf(di: graft.build.DistIndex) = rows(di.adj)
    val vp = pins().head._2
    val local = DistRoarGraphBuilder.cut(DistRoarGraphBuilder.forwardLists(knn, vp, Metric.L2, 12, 3))
    assert(local.rdd.isCheckpointed && local.rdd.getCheckpointFile.isEmpty)
    val expect = rows(local.rdd)
    local.release()
    val fresh = adjOf(DistRoarGraphBuilder.build(base, base.filter(col("id") < 30), params))
    val dir = java.nio.file.Files.createTempDirectory("graft-rdd-cp").toFile
    try org.apache.spark.CheckpointDirs.withDir(spark.sparkContext, dir.toString) {
      val c = DistRoarGraphBuilder.cut(DistRoarGraphBuilder.forwardLists(knn, vp, Metric.L2, 12, 3))
      assert(c.rdd.getCheckpointFile.isDefined, "the step is not reliably checkpointed")
      assert(c.rdd.partitioner.contains(vp.part))
      assert(rows(c.rdd) == expect)
      // its blocks gone, the step is read back from its checkpoint files
      c.release()
      assert(rows(c.rdd) == expect)
      assert(adjOf(DistRoarGraphBuilder.build(base, base.filter(col("id") < 30), params)) == fresh)
    } finally {
      vp.release()
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
  }

  test("supply pools == the relational form") {
    import spark.implicits._
    // hits scored on the grid (exact ties), a few with equal made-up
    // distances, an id with no vector, and a node with no hits
    val vecs = vecRows(base).toMap
    val ss = (0L until 40L).map { src =>
      val ids = ((1 to 7).map(j => (src * 3 + j * 5) % 60).filter(_ != src) :+ 999L).distinct
      val ds = ids.map(id => vecs.get(id).fold(0.5)(v => Metric.L2.dist(vecs(src), v)))
      if (src == 7L) (src, Array.empty[Long], Array.empty[Double])
      else if (src % 5 == 0) (src, ids.toArray, ids.map(_ => 2.0).toArray)
      else (src, ids.toArray, ds.toArray)
    }
    val ssDf = ss.toDF("query_id", "ids", "dists")
    pins().foreach { case (layout, vp) =>
      Seq(2, 4).foreach { m =>
        val oracle = rows(DistBuildOracle.supplyPools(ssDf, vp, Metric.L2, m))
        assert(oracle.length == 39)
        val got = rows(DistRoarGraphBuilder.supplyPools(
          spark.sparkContext.parallelize(ss, 3), vp, Metric.L2, m))
        assert(got == oracle, s"$layout, m $m")
      }
      vp.release()
    }
  }

  test("repair absorption == the relational form: stalled, plain and trim rounds") {
    import spark.implicits._
    val (m, cap) = (2, 6)
    // sources 0-9 are saturated (deg = cap), 10-19 have room, 20-29 have
    // no edges; 16 unreached nodes pick hub source 0 (far above the 2m
    // picks a source keeps), and distances tie in threes
    val state0 = (0L until 30L).map { s =>
      val deg = if (s < 10) cap else if (s < 20) 3 else 0
      (s, ((1 to deg).map(j => (s + j * 7) % 30).filter(_ != s).distinct ++
        (if (s < 10) Seq(30L + s) else Nil)).take(cap))
    }.toDF("src", "nbrs")
    val hits = (100L until 140L).map { u =>
      val ids = if (u < 116) Seq(0L, (u % 9) + 1) else Seq(u % 30, (u * 7 + 1) % 30).distinct
      (u, ids.toArray, ids.map(_ => (u % 3).toDouble + 0.5).toArray)
    }
    val hitsDf = hits.toDF("query_id", "ids", "dists")
    def oracleState(df: DataFrame) =
      df.as[(Long, Seq[Long], Int)].collect().sortBy(_._1).toSeq
    pins().foreach { case (layout, vp) =>
      var oState = state0.withColumn("origCnt", size(col("nbrs")))
      var state = DistRoarGraphBuilder.AdjState(state0, vp)
      // (allowTrim, what the round must show)
      Seq(false -> "stalled at 0-9", true -> "trims", true -> "trims again").foreach {
        case (trim, what) =>
          val (oMerged, oAttached) = DistBuildOracle.absorbRound(oState, hitsDf, cap, m, trim)
          val expect = oracleState(oMerged)
          val step = DistRoarGraphBuilder.absorbRound(state,
            spark.sparkContext.parallelize(hits, 2), cap, m, trim)
          val got = step.rdd.collect().map { case (s, (n, o, _)) => (s, n.toSeq, o) }
            .sortBy(_._1).toSeq
          assert(got == expect, s"$layout, $what")
          val attached = step.rdd.collect().flatMap(_._2._3).toSet
          assert(attached == oAttached.as[Long].collect().toSet, s"$layout, $what")
          if (!trim) assert(expect.filter(_._1 < 10).forall(r => r._3 == cap),
            "a saturated source absorbed without trimming")
          else assert(expect.exists(r => r._1 < 10 && r._3 < cap), "no source trimmed")
          assert(expect.forall(_._2.length <= cap))
          oState = oMerged.localCheckpoint()
          state = state.next(step)
      }
      // a round with no room anywhere and no trim attaches nothing
      val full = (0L until 10L).map(s => (s, (1L to 6L).map(j => (s + j) % 10 + 10)))
        .toDF("src", "nbrs")
      val stall = DistRoarGraphBuilder.absorbRound(DistRoarGraphBuilder.AdjState(full, vp),
        spark.sparkContext.parallelize(hits, 2), cap, m, allowTrim = false)
      val (oFull, oNone) = DistBuildOracle.absorbRound(
        full.withColumn("origCnt", size(col("nbrs"))), hitsDf, cap, m, allowTrim = false)
      assert(stall.rdd.collect().map { case (s, (n, o, _)) => (s, n.toSeq, o) }
        .sortBy(_._1).toSeq == oracleState(oFull))
      assert(stall.rdd.collect().forall(_._2._3.isEmpty) && oNone.count() == 0)
      vp.release()
    }
  }
}
