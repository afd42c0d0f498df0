package graft

import graft.core.Metric
import graft.ops.KnnJoin
import graft.ops.graph.{BeamSearch, NeighborQueue, OcclusionPrune, VecStore}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck property gates for the pure kernels (SURVEY.md §5.2):
  * randomized inputs, structural invariants. */
class KernelPropertySpec extends AnyFunSuite {

  private def check(name: String, p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, s"$name: $res")
  }

  // distances include the values whose order differs between raw `<`,
  // Scala's tuple order and Spark SQL: NaN, -0.0 beside +0.0, exact ties
  private val dists: Gen[Double] = Gen.frequency(
    6 -> Gen.chooseNum(0.0, 100.0),
    2 -> Gen.oneOf(1.0, 2.0, 3.0),
    1 -> Gen.const(Double.NaN),
    1 -> Gen.oneOf(-0.0, 0.0))
  private val pushes: Gen[List[(Double, Long)]] = Gen.listOf(
    Gen.zip(dists, Gen.chooseNum(0L, 50L)))

  /** The oracle: Spark SQL's double order (the order `sort_array` merges
    * the kernels' partials with), then ascending id. */
  private def sqlOrder[T](dist: T => Double, id: T => Long): Ordering[T] =
    (a: T, b: T) => {
      val c = SQLOrderingUtil.compareDoubles(dist(a), dist(b))
      if (c != 0) c else java.lang.Long.compare(id(a), id(b))
    }
  private val bySql = sqlOrder[(Double, Long)](_._1, _._2)
  /** Entries the order cannot tell apart get one key: -0.0 as 0.0, NaNs
    * alike (`==` on a NaN is false, so entries are compared by key). */
  private def key(d: Double, id: Long): (Long, Long) =
    (if (d == 0.0) 0L else java.lang.Double.doubleToLongBits(d), id)
  private def keys(xs: Seq[(Double, Long)]): Seq[(Long, Long)] =
    xs.map { case (d, i) => key(d, i) }

  test("BoundedTopK == sort-take-k for any push sequence") {
    check("topk", Prop.forAll(pushes, Gen.chooseNum(1, 12)) { (xs, k) =>
      val h = new KnnJoin.BoundedTopK(k)
      xs.foreach { case (d, i) => h.push(d, i) }
      keys(h.result().toSeq) == keys(xs.sorted(bySql).take(k))
    })
  }

  test("NeighborQueue: sorted, bounded; unique ids when each id inserted once") {
    // beam search inserts every id at most once (the visited set guards);
    // the queue's own dedup is probe-path-only, like the reference's
    // (neighbor.h:160) — so the uniqueness property is over unique-id pushes
    check("queue", Prop.forAll(pushes, Gen.chooseNum(1, 12)) { (xs0, cap) =>
      val xs = xs0.distinctBy(_._2)
      val q = new NeighborQueue(cap)
      xs.foreach { case (d, i) => q.insert(i.toInt, d) }
      val contents = (0 until q.size).map(i => (q.distAt(i), q.idAt(i).toLong))
      keys(contents.sorted(bySql)) == keys(contents) &&
        contents.map(_._2).distinct.length == contents.length &&
        q.size <= cap &&
        keys(contents) == keys(xs.sorted(bySql).take(cap))
    })
  }

  test("NeighborQueue retains the global best entry") {
    check("queue-best", Prop.forAll(pushes, Gen.chooseNum(1, 12)) { (xs, cap) =>
      val q = new NeighborQueue(cap)
      xs.foreach { case (d, i) => q.insert(i.toInt, d) }
      xs.isEmpty || {
        // smallest (dist, id) pair, first insertion winning id-ties
        val best = xs.min(bySql)
        key(q.distAt(0), q.idAt(0)) == key(best._1, best._2) ||
          // an id-duplicate with smaller dist inserted later may be dropped
          // by the probe-path dedup (reference semantics, neighbor.h:160);
          // the retained entry still has the best id's distance no worse
          // than any non-duplicate path
          SQLOrderingUtil.compareDoubles(q.distAt(0), best._1) <= 0 ||
          xs.count { case (_, i) => i == best._2 } > 1
      }
    })
  }

  private val points: Gen[List[(Float, Float)]] =
    Gen.listOfN(40, Gen.zip(Gen.chooseNum(-10f, 10f), Gen.chooseNum(-10f, 10f)))

  test("OcclusionPrune: subset, bounded, no target, shuffle-invariant, occlusion holds") {
    check("prune", Prop.forAll(points, Gen.chooseNum(0, 39), Gen.chooseNum(1, 10),
      Gen.chooseNum(0L, 1000L)) { (pts, target, m, seed) =>
      pts.nonEmpty ==> {
        val vs = VecStore(pts.map(p => Array(p._1, p._2)).toArray, Metric.L2)
        val t = target % vs.n
        val cands = (0 until vs.n).map(i => (i, vs.dist(i, t))).toArray
        val shuffled = new scala.util.Random(seed).shuffle(cands.toSeq).toArray
        val a = OcclusionPrune.prune(cands, t, m, vs, backfill = false)
        val b = OcclusionPrune.prune(shuffled, t, m, vs, backfill = false)
        val occlusionOk = a.indices.forall { j =>
          (0 until j).forall { i =>
            vs.dist(a(j), a(i)) >= vs.dist(a(j), t) ||
              // equal-distance ties admit either order
              vs.dist(a(j), a(i)) == vs.dist(a(j), t)
          }
        }
        a.sameElements(b) && a.length <= m && !a.contains(t) &&
          a.distinct.length == a.length && occlusionOk
      }
    })
  }

  test("OcclusionPrune over NaN, ±0 and tied distances: shuffle-invariant, best first") {
    check("prune-order", Prop.forAll(points, pushes, Gen.chooseNum(1, 10),
      Gen.chooseNum(0L, 1000L)) { (pts, xs, m, seed) =>
      val vs = VecStore(pts.map(p => Array(p._1, p._2)).toArray, Metric.L2)
      val cands = xs.map { case (d, i) => ((i % vs.n).toInt, d) }.toArray
      val shuffled = new scala.util.Random(seed).shuffle(cands.toSeq).toArray
      val a = OcclusionPrune.prune(cands, 0, m, vs)
      val b = OcclusionPrune.prune(shuffled, 0, m, vs)
      // each id's best entry, the target (0) excluded, in the oracle order
      val pool = cands.toSeq.map { case (i, d) => (d, i.toLong) }
        .filter(_._2 != 0L).groupBy(_._2).values.map(_.min(bySql)).toSeq
        .sorted(bySql)
      a.sameElements(b) && a.length == math.min(m, pool.length) &&
        (pool.isEmpty || a.head == pool.head._2)
    })
  }

  test("pruneVecs (distributed-build variant) == prune (VecStore variant)") {
    // the distributed build prunes over group-local vectors; it must make
    // exactly the decisions the in-memory kernel makes on the same pool
    check("pruneVecs", Prop.forAll(points, Gen.chooseNum(0, 39),
      Gen.chooseNum(1, 10), Gen.oneOf(true, false)) { (pts, target, m, backfill) =>
      pts.nonEmpty ==> {
        val vs = VecStore(pts.map(p => Array(p._1, p._2)).toArray, Metric.L2)
        val t = target % vs.n
        val cands = (0 until vs.n).map(i => (i, vs.dist(i, t))).toArray
        val viaStore = OcclusionPrune.prune(cands, t, m, vs, backfill)
        val viaVecs = OcclusionPrune.pruneVecs(
          cands.map { case (i, d) => (i.toLong, d, vs.row(i)) },
          t.toLong, m, Metric.L2, backfill)
        viaVecs.sameElements(viaStore.map(_.toLong))
      }
    })
  }

  test("OcclusionPrune with backfill reaches min(m, candidates)") {
    check("backfill", Prop.forAll(points, Gen.chooseNum(1, 10)) { (pts, m) =>
      (pts.length > 3) ==> {
        val vs = VecStore(pts.map(p => Array(p._1, p._2)).toArray, Metric.L2)
        val cands = (1 until vs.n).map(i => (i, vs.dist(i, 0))).toArray
        val distinctIds = cands.map(_._1).distinct.length
        val out = OcclusionPrune.prune(cands, 0, m, vs, backfill = true)
        out.length == math.min(m, distinctIds)
      }
    })
  }

  // vector components include every value class the batched kernel must
  // carry through unchanged: NaN, ±Inf, ±0.0, subnormals, the float range;
  // magnitudes 2^-24..2^24 apart make differences whose squares are not
  // exact in double, where a fused L2 step would round differently
  private val floats: Gen[Float] = Gen.frequency(
    50 -> Gen.chooseNum(-10f, 10f),
    50 -> Gen.zip(Gen.chooseNum(-2f, 2f), Gen.chooseNum(-24, 24))
      .map { case (m, e) => m * math.scalb(1f, e) },
    10 -> Gen.oneOf(1f, -1f, 2f),
    1 -> Gen.oneOf(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity),
    1 -> Gen.oneOf(0f, -0f),
    1 -> Gen.oneOf(Float.MinPositiveValue, -1e-40f, 1.17e-38f),
    1 -> Gen.oneOf(Float.MaxValue, -3e38f, 1e-20f))
  private val metrics: Gen[Metric] =
    Gen.oneOf(Metric.L2, Metric.InnerProduct, Metric.Cosine)
  private def sameBits(a: Double, b: Double): Boolean =
    java.lang.Double.doubleToRawLongBits(a) == java.lang.Double.doubleToRawLongBits(b) ||
      (a.isNaN && b.isNaN)

  test("VecStore.distToMany == distTo bit for bit (L2, IP, cosine; every tail length)") {
    val in = for {
      metric <- metrics
      dim <- Gen.chooseNum(1, 33)
      rows <- Gen.chooseNum(1, 12)
      data <- Gen.listOfN(rows * dim, floats)
      q <- Gen.listOfN(dim, floats)
      n <- Gen.chooseNum(0, 9)
      ids <- Gen.listOfN(n, Gen.chooseNum(0, rows - 1))
    } yield (metric, dim, data, q, ids)
    check("distToMany", Prop.forAllNoShrink(in) { case (metric, dim, data, q, ids) =>
      val vs = VecStore(data.grouped(dim).map(_.toArray).toArray, metric)
      val qv = VecStore.asStored(q.toArray, metric)
      val out = Array.fill(ids.length + 2)(-7.0)
      vs.distToMany(ids.toArray, ids.length, qv, out)
      ids.indices.forall(j => sameBits(out(j), vs.distTo(ids(j), qv))) &&
        out.drop(ids.length).forall(_ == -7.0)
    })
  }

  test("batched BeamSearch.search == the one-neighbor-at-a-time BeamOracle") {
    // random graphs with self-loops and repeated neighbors; small-integer
    // and NaN components give tied and NaN distances
    val comps: Gen[Float] = Gen.frequency(8 -> Gen.chooseNum(-3, 3).map(_.toFloat),
      1 -> Gen.const(Float.NaN), 1 -> Gen.chooseNum(-3f, 3f))
    val in = for {
      metric <- metrics
      n <- Gen.chooseNum(1, 30)
      dim <- Gen.chooseNum(1, 6)
      data <- Gen.listOfN(n * dim, comps)
      adj <- Gen.listOfN(n, Gen.choose(0, 9).flatMap(Gen.listOfN(_, Gen.chooseNum(0, n - 1))))
      q <- Gen.listOfN(dim, comps)
      k <- Gen.chooseNum(1, 10)
      l <- Gen.chooseNum(1, 12)
      ep <- Gen.chooseNum(0, n - 1)
      exclude <- Gen.oneOf(Gen.const(-1), Gen.chooseNum(0, n - 1))
      collectPool <- Gen.oneOf(true, false)
      seeds <- Gen.choose(0, 6).flatMap(Gen.listOfN(_, Gen.chooseNum(0, n - 1)))
    } yield (metric, dim, data, adj, q, k, l, ep, exclude, collectPool, seeds)
    check("beam", Prop.forAllNoShrink(in) {
      case (metric, dim, data, adj0, q, k, l, ep, exclude, collectPool, seeds0) =>
        val vs = VecStore(data.grouped(dim).map(_.toArray).toArray, metric)
        val adj = adj0.map(_.toArray).toArray
        val qv = VecStore.asStored(q.toArray, metric)
        val seeds = seeds0.toArray
        val got = BeamSearch.search(adj, vs.scorer(qv), k, l, ep,
          new BeamSearch.Visited(vs.n), exclude, collectPool, seeds)
        val want = BeamOracle.search(adj, vs.distTo(_, qv), k, l, ep,
          new BeamSearch.Visited(vs.n), exclude, collectPool, seeds)
        def pairsSame(a: Seq[(Int, Double)], b: Seq[(Int, Double)]): Boolean =
          a.length == b.length && a.zip(b).forall { case ((i, x), (j, y)) =>
            i == j && sameBits(x, y) }
        pairsSame(got.ids.toSeq.zip(got.dists), want.ids.toSeq.zip(want.dists)) &&
          got.cmps == want.cmps && got.hops == want.hops &&
          pairsSame(got.pool.toSeq, want.pool.toSeq)
    })
  }
}
