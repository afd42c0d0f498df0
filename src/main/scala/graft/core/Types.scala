package graft.core

/** Core type vocabulary for the graft engine.
  *
  * Mirrors the reference's data model (SURVEY.md §1): float32 dense vectors
  * of a fixed dimension, integer node ids, adjacency lists whose order is
  * meaningful (nearest-first after prune).
  *
  * Reference: /root/reference/include/efanna2e/distance.h:15 (metric enum),
  * /root/reference/include/efanna2e/parameters.h:15-57 (untyped params map —
  * replaced here by typed case classes).
  */
sealed trait Metric extends Serializable {
  /** Distance between two vectors; SMALLER IS ALWAYS CLOSER (the reference
    * negates inner product to preserve this invariant engine-wide —
    * include/efanna2e/distance.h:92-226). Accumulates in double so every
    * scoring path (VecStore, Catalyst expressions, BSP search) shares the
    * same float64 arithmetic and near-tie ordering (SURVEY.md §7.4). */
  def dist(a: Array[Float], b: Array[Float]): Double
  /** Whether input vectors must be L2-normalized first (cosine is lowered to
    * normalize-then-IP exactly like src/index.cpp:14-21). */
  def needNormalize: Boolean = false
  /** The one name of this metric, read back by [[Metric.fromString]].
    * Saved layouts persist it as `meta.metric`, so a name never changes. */
  final def name: String = this match {
    case Metric.L2           => "l2"
    case Metric.InnerProduct => "ip"
    case Metric.Cosine       => "cosine"
  }
}

object Metric {
  /** Named failure for two vectors of different lengths: looping to one
    * side's length would silently cut a longer `b` or index past a
    * shorter one. */
  private def checkDim(a: Array[Float], b: Array[Float]): Unit =
    if (a.length != b.length)
      throw new IllegalArgumentException(
        s"distance: vector dimension mismatch (${a.length} vs ${b.length})")

  /** Squared L2 (no sqrt — matches DistanceL2::compare,
    * include/efanna2e/distance.h:22-90). */
  case object L2 extends Metric {
    override def dist(a: Array[Float], b: Array[Float]): Double = {
      checkDim(a, b)
      var s = 0.0; var i = 0; val n = a.length
      while (i < n) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
      s
    }
  }
  /** Negated inner product (include/efanna2e/distance.h:92-226). */
  case object InnerProduct extends Metric {
    override def dist(a: Array[Float], b: Array[Float]): Double = {
      checkDim(a, b)
      var s = 0.0; var i = 0; val n = a.length
      while (i < n) { s += a(i).toDouble * b(i); i += 1 }
      -s
    }
  }
  /** Cosine = L2-normalize both sides then negated IP
    * (src/index_bipartite.cpp:35-37 + util.h:214-225). */
  case object Cosine extends Metric {
    override def dist(a: Array[Float], b: Array[Float]): Double =
      InnerProduct.dist(a, b)
    override def needNormalize: Boolean = true
  }

  def fromString(s: String): Metric = s.toLowerCase match {
    case "l2"                  => L2
    case "ip" | "innerproduct" => InnerProduct
    case "cosine" | "cos"      => Cosine
    case other => throw new IllegalArgumentException(s"unknown metric: $other")
  }
}

/** RoarGraph build parameters; defaults from the reference's T2I-10M config
  * (run_roargraph_test.sh:10: M_sq=100 M_pjbp=35 L_pjpq=500). */
final case class BuildParams(
    mSq: Int = 100,    // queries' kNN list truncation (N_q)
    mPjbp: Int = 35,   // projection-graph degree cap M
    lPjpq: Int = 500,  // beam width for build-time self-search
    metric: Metric = Metric.InnerProduct,
    /** Attach ep-unreachable nodes via an edge from their nearest reachable
      * node — a deterministic revival of the reference's dead CollectPoints
      * repair (src/index_bipartite.cpp:2521-2604, commented out at
      * :209-214). Recall is capped by reachability, so default on. */
    repairReachability: Boolean = true) {
  /** PROJECTION_SLACK = 2 (src/index_bipartite.cpp:26): reverse lists may
    * grow to mPjbp*2 before re-prune; supply merge cap is also mPjbp*2. */
  val slack: Int = 2
  def degreeCap: Int = mPjbp * slack
}

/** Search parameters (tests/test_search_roargraph.cpp:191: k=10, L_pq sweep).
  * `numSeeds` > 0 adds that many extra entry nodes per query beside the
  * fixed entry point — the deterministic (hash-derived) analogue of the
  * reference's 10 random base seeds (src/index_bipartite.cpp:287-294),
  * a recall fallback for graphs with ep-unreachable regions. */
final case class SearchParams(
    k: Int = 10,
    lPq: Int = 100,
    metric: Metric = Metric.InnerProduct,
    numSeeds: Int = 0) {
  require(lPq >= k, s"beam width lPq=$lPq must be >= k=$k")
  require(numSeeds >= 0, s"numSeeds must be >= 0: $numSeeds")
}

/** A scored neighbor; ties always broken by ascending id, mirroring the
  * reference's `<` on Neighbor (include/efanna2e/neighbor.h:29-33). */
final case class Neighbor(id: Long, dist: Double)

object Neighbor {
  /** THE engine-wide (dist, id) order — every heap, queue, aggregator,
    * prune and sort ranks neighbors through this one comparison.
    *
    * Distances compare as Spark SQL compares doubles
    * (`SQLOrderingUtil.compareDoubles`): NaN sorts after every number and
    * equals NaN, and -0.0 equals 0.0. Equal distances then break by
    * ascending id. It must agree with Spark SQL because some kernels'
    * partial top-ks are merged with `sort_array` (ShardedRoarGraph,
    * StreamingAnn, DistRoarGraphBuilder): a partial that ranked
    * differently from its merge could drop a row the merge keeps.
    * KnnJoin.blockedTopK merges its partials on the driver in this order.
    * A NaN distance therefore never displaces a number, and never freezes
    * a bounded heap it entered first.
    *
    * The finite case costs two double compares (the first test is the
    * plain `d1 < d2`); only NaNs reach the slow branch. */
  def compare(d1: Double, id1: Long, d2: Double, id2: Long): Int =
    if (d1 < d2) -1
    else if (d1 > d2) 1
    else if (d1 == d2) java.lang.Long.compare(id1, id2)
    else nanCompare(d1, id1, d2, id2)

  private def nanCompare(d1: Double, id1: Long, d2: Double, id2: Long): Int = {
    val nan1 = java.lang.Double.isNaN(d1)
    if (nan1 != java.lang.Double.isNaN(d2)) { if (nan1) 1 else -1 }
    else java.lang.Long.compare(id1, id2)
  }

  /** `(d1, id1)` ranks strictly before `(d2, id2)`. */
  def less(d1: Double, id1: Long, d2: Double, id2: Long): Boolean =
    compare(d1, id1, d2, id2) < 0

  /** The order over any row that carries a distance and an id. */
  def orderingOf[T](dist: T => Double, id: T => Long): Ordering[T] =
    new Ordering[T] {
      def compare(a: T, b: T): Int = Neighbor.compare(dist(a), id(a), dist(b), id(b))
    }

  implicit val ordering: Ordering[Neighbor] = orderingOf(_.dist, _.id)
}

/** A scored neighbor carrying its vector — the payload of the distributed
  * build's candidate groups, where occlusion pruning needs candidate↔
  * candidate distances without a global vector store. Ranked by the
  * [[Neighbor]] order. */
final case class NeighborVec(id: Long, dist: Double, vec: Array[Float])

object NeighborVec {
  implicit val ordering: Ordering[NeighborVec] = Neighbor.orderingOf(_.dist, _.id)
}
