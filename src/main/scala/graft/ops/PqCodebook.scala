package graft.ops

import graft.core.{Metric, Neighbor}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** A trained product-quantization codebook — the dense `books(s)(c)` grid
  * of `subDim`-float centroids, `m` subspaces by `kCodes` codes — and the
  * arithmetic every PQ kernel runs over it: the nearest-code argmin, the
  * per-query lookup table of partial distances and the code sum
  * (asymmetric distance computation, ADC). Partials accumulate in Double
  * in ascending dimension order and sums run in subspace order, so the
  * encoders, the ADC scans and the PQ beam agree bit for bit. A vector
  * must be exactly `m × subDim` floats; anything else fails by name. */
final class PqCodebook private (val books: Array[Array[Array[Float]]])
    extends Serializable {
  val m: Int = books.length
  val kCodes: Int = books(0).length
  val subDim: Int = books(0)(0).length
  def dim: Int = m * subDim

  /** Nearest code per subspace by L2: the lowest code id wins ties and a
    * NaN distance never beats a number — the `min(struct(dist,
    * centroid_id))` of the relational encode. */
  def encode(v: Array[Float]): Array[Int] = {
    PqCodebook.requireDim(v.length, dim)
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      val off = s * subDim
      var best = 0.0
      var j = 0
      while (j < kCodes) {
        val c = books(s)(j)
        var d = 0.0
        var t = 0
        while (t < subDim) {
          val x = v(off + t).toDouble - c(t); d += x * x; t += 1
        }
        if (j == 0 || Neighbor.less(d, j, best, codes(s))) { best = d; codes(s) = j }
        j += 1
      }
      s += 1
    }
    codes
  }

  /** Flat `m × kCodes` ADC table of `q`: entry `s * kCodes + c` is the
    * partial distance between q's subvector `s` and centroid `(s, c)` —
    * squared L2, or the negated dot for inner product and (pre-normalized)
    * cosine, so a smaller sum is always nearer. */
  def lut(q: Array[Float], metric: Metric): Array[Double] = {
    PqCodebook.requireDim(q.length, dim)
    val l2 = metric == Metric.L2
    val table = new Array[Double](m * kCodes)
    var s = 0
    while (s < m) {
      val off = s * subDim
      var c = 0
      while (c < kCodes) {
        val cent = books(s)(c)
        var d = 0.0
        var t = 0
        if (l2) while (t < subDim) {
          val x = q(off + t).toDouble - cent(t); d += x * x; t += 1
        }
        else while (t < subDim) { d -= q(off + t).toDouble * cent(t); t += 1 }
        table(s * kCodes + c) = d
        c += 1
      }
      s += 1
    }
    table
  }

  /** ADC distance of a code row checked by [[requireCodes]]. */
  def adc(table: Array[Double], codes: Array[Int]): Double = {
    var d = 0.0
    var s = 0
    while (s < m) { d += table(s * kCodes + codes(s)); s += 1 }
    d
  }

  /** ADC distance of the unsigned-byte code row at `codes(off)`. */
  def adc(table: Array[Double], codes: Array[Byte], off: Int): Double = {
    var d = 0.0
    var s = 0
    while (s < m) { d += table(s * kCodes + (codes(off + s) & 0xFF)); s += 1 }
    d
  }

  /** A code row holds `m` codes below `kCodes`: a larger code would read
    * the next subspace's table entries. */
  def requireCodes(codes: Array[Int]): Unit = {
    require(codes.length == m, s"PQ: code row length mismatch (${codes.length} vs $m)")
    require(codes.forall(c => c >= 0 && c < kCodes),
      s"PQ: code out of range [0, $kCodes): ${codes.mkString(",")}")
  }
}

object PqCodebook {

  /** `(subspace, centroid_id, vec)` rows collected to the driver —
    * codebooks are driver-small (m × kCodes × subDim floats). */
  private[ops] def rows(df: DataFrame): Array[(Int, Int, Array[Float])] = {
    import df.sparkSession.implicits._
    df.select(col("subspace").cast("int"), col("centroid_id").cast("int"),
      col("vec")).as[(Int, Int, Array[Float])].collect()
  }

  /** A codebook over a dense `m × kCodes` grid of equal-length
    * centroids (a trainer's current grid). */
  private[ops] def of(books: Array[Array[Array[Float]]]): PqCodebook = {
    require(books.nonEmpty && books(0).nonEmpty, "PQ: empty codebook")
    new PqCodebook(books)
  }

  /** Load a `(subspace, centroid_id, vec)` table into the dense grid;
    * `m > 0` pins the subspace count (the caller's `m`, or the width of
    * the codes it will score). Holes, duplicates, negative ids and
    * centroids of unequal length fail by name. */
  def load(codebooks: DataFrame, m: Int = -1): PqCodebook = {
    val rs = rows(codebooks)
    require(rs.nonEmpty, "PQ: empty codebook")
    val mm = rs.iterator.map(_._1).max + 1
    require(m <= 0 || mm == m, s"codebook has $mm subspaces, expected $m")
    val kCodes = rs.iterator.map(_._2).max + 1
    require(rs.length == mm * kCodes,
      s"codebook grid not dense: ${rs.length} rows for $mm subspaces x " +
        s"$kCodes codes — every (subspace, centroid_id) up to the max must exist")
    val subDim = rs.head._3.length
    val grid = Array.ofDim[Array[Float]](mm, kCodes)
    rs.foreach { case (s, c, v) =>
      require(s >= 0 && c >= 0 && v.length == subDim, s"codebook row out of " +
        s"shape (subspace=$s, centroid_id=$c, length ${v.length} vs $subDim)")
      grid(s)(c) = v
    }
    for (s <- 0 until mm; c <- 0 until kCodes)
      require(grid(s)(c) != null, s"codebook missing (subspace=$s, centroid_id=$c)")
    new PqCodebook(grid)
  }

  private[ops] def requireDim(n: Int, d: Int): Unit =
    if (n != d)
      throw new IllegalArgumentException(s"PQ: vector dimension mismatch ($n vs $d)")
}
