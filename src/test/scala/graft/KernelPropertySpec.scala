package graft

import graft.core.Metric
import graft.ops.KnnJoin
import graft.ops.graph.{NeighborQueue, OcclusionPrune, VecStore}
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
}
