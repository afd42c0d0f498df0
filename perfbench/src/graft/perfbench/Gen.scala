package graft.perfbench

import graft.core.Metric
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic out-of-distribution vector generator.
  *
  * Every number is a pure function of (seed, stream, id, j) through
  * splitmix64: no RNG state, so a vector reads the same whichever
  * partition or thread computes it, and the brute-force oracle can
  * regenerate any row without touching Spark.
  *
  * Model (all vectors 200-d, L2-normalised, compared by inner product).
  * The model itself is fixed; the workload seed only draws the points, so
  * every seed poses a problem of the same difficulty:
  *   - 64 cluster centres in a 48-d latent space, coordinates N(0, 1);
  *   - a point picks its centre by hash and adds N(0, 1.5^2) latent noise;
  *   - base vectors:  x = A z + N(0, 0.1^2) ambient noise,
  *     with A a fixed 200x48 map, entries N(0, 1/48);
  *   - query vectors (train and eval): x = (A + 0.5 P) z + b + noise,
  *     with P a second fixed 200x48 map and b a fixed 200-d offset with
  *     entries N(0, 0.5^2): the perturbed map and the offset make the
  *     queries a second "modality" whose distribution differs from the
  *     base's, the out-of-distribution setting RoarGraph targets.
  */
object Gen {
  val Dim = 200
  val Latent = 48
  val Centres = 64
  private val LatentNoise = 1.5
  private val AmbientNoise = 0.1
  private val MapPerturb = 0.5
  private val OffsetScale = 0.5

  /** Id streams: each kind of point hashes under its own stream, so the
    * base, train and eval sets are disjoint draws. */
  sealed abstract class Kind(val stream: Int, val isQuery: Boolean)
  case object Base extends Kind(1, false)
  case object Train extends Kind(2, true)
  case object Eval extends Kind(3, true)

  // matrix / centre streams, drawn under a fixed model seed
  private val ModelSeed = 0x5EEDL
  private val SCentre = 10; private val SMapA = 11; private val SMapP = 12
  private val SOffset = 13; private val SPick = 14

  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def hash(seed: Long, stream: Int, id: Long, j: Int): Long =
    mix(mix(mix(seed * 0x632BE59BD9B4E019L + stream) ^ id) ^ j.toLong)

  private def uniform(h: Long): Double = ((h >>> 11) + 0.5) / 9007199254740992.0 // 2^53

  /** Standard normal via Box-Muller over two independent hashes. */
  private def gauss(seed: Long, stream: Int, id: Long, j: Int): Double = {
    val u1 = uniform(hash(seed, stream, id, 2 * j))
    val u2 = uniform(hash(seed, stream, id, 2 * j + 1))
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  /** The fixed model (a few 10k doubles) and the points of one seed. */
  final class Model(seed: Long) extends Serializable {
    private val inv = 1.0 / math.sqrt(Latent)
    private val ms = ModelSeed
    val centres: Array[Array[Double]] =
      Array.tabulate(Centres, Latent)((c, j) => gauss(ms, SCentre, c, j))
    val a: Array[Array[Double]] =
      Array.tabulate(Dim, Latent)((r, c) => gauss(ms, SMapA, r, c) * inv)
    val q: Array[Array[Double]] = Array.tabulate(Dim, Latent) { (r, c) =>
      a(r)(c) + MapPerturb * gauss(ms, SMapP, r, c) * inv
    }
    val offset: Array[Double] =
      Array.tabulate(Dim)(r => OffsetScale * gauss(ms, SOffset, 0, r))

    def vector(kind: Kind, id: Long): Array[Float] = {
      val s = kind.stream
      val c = java.lang.Long.remainderUnsigned(hash(seed, SPick + s, id, 0), Centres).toInt
      val z = Array.tabulate(Latent)(j =>
        centres(c)(j) + LatentNoise * gauss(seed, 100 + s, id, j))
      val m = if (kind.isQuery) q else a
      val x = new Array[Double](Dim)
      var r = 0
      while (r < Dim) {
        var acc = AmbientNoise * gauss(seed, 200 + s, id, r)
        if (kind.isQuery) acc += offset(r)
        val row = m(r)
        var j = 0
        while (j < Latent) { acc += row(j) * z(j); j += 1 }
        x(r) = acc
        r += 1
      }
      val norm = math.sqrt(x.map(v => v * v).sum)
      x.map(v => (v / norm).toFloat)
    }
  }

  /** Rows `id` in [0, n) of one kind as (id: long, vec: array<float>). */
  def frame(spark: SparkSession, seed: Long, kind: Kind, n: Int,
            partitions: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).as[Long].mapPartitions { it =>
      val model = new Model(seed)
      it.map(id => (id, model.vector(kind, id)))
    }.toDF("id", "vec")
  }

  /** Plain-Scala brute-force top-k by (dist, id) under `metric`, with a
    * serial double accumulation: the oracle the engine's kNN join is
    * checked against. */
  def bruteForce(query: Array[Float], base: Array[Array[Float]], k: Int,
                 metric: Metric): Array[(Double, Long)] =
    base.indices.iterator.map(i => (metric.dist(query, base(i)), i.toLong))
      .toArray.sorted.take(k)
}
