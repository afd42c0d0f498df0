package graft

import graft.ops.Quantize
import org.apache.spark.sql.functions._

/** The one-job PQ trainer equals its relational form bit for bit: the
  * codebook of `Quantize.pqTrain` against `PqOracle.pqTrain`, on one
  * partition and spread over several. */
class LloydKernelSpec extends SparkSpec {

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def unit(h: Long): Float =
    ((h >>> 11).toDouble / (1L << 53).toDouble).toFloat * 2f - 1f

  /** 150 16-d rows. Row 1 repeats row 0, so seed 1 ties seed 0 in every
    * subspace and loses: its cluster stays empty. Row 77 holds a NaN in
    * its second 4-d subspace. */
  private val rows: Array[(Long, Array[Float])] = Array.tabulate(150) { i =>
    val src = if (i == 1) 0 else i
    val v = Array.tabulate(16)(j => unit(mix(src * 131L + j)) * (1 + (src % 3)))
    if (i == 77) v(5) = Float.NaN
    (i.toLong, v)
  }

  private def bits(df: org.apache.spark.sql.DataFrame): Map[(Int, Int), Seq[Int]] = {
    import spark.implicits._
    df.select(col("subspace").cast("int"), col("centroid_id").cast("int"), col("vec"))
      .as[(Int, Int, Array[Float])].collect()
      .map { case (s, c, v) => (s, c) -> v.toSeq.map(java.lang.Float.floatToIntBits) }.toMap
  }

  test("pqTrain kernel == relational trainer, bits, on 1 and 3 partitions") {
    val one = spread(rows, 1)(_ => 0)
    val three = spread(rows, 3)(_ % 3)
    for ((df, what) <- Seq(one -> "1 partition", three -> "3 partitions");
         iters <- Seq(0, 1, 3)) {
      val ker = bits(Quantize.pqTrain(df, m = 4, k = 8, iters = iters))
      val rel = bits(PqOracle.pqTrain(df, m = 4, k = 8, iters = iters))
      assert(ker.size == 32, s"$what, $iters iters: ${ker.size} cells")
      assert(ker == rel, s"$what, $iters iters: kernel and relational codebooks differ")
      if (iters == 1) {
        // the empty cluster kept its seed; the NaN row reached its cell
        assert(ker((0, 1)) == rows(1)._2.slice(0, 4).toSeq.map(java.lang.Float.floatToIntBits))
        assert(ker.exists { case ((s, _), v) =>
          s == 1 && v.exists(b => java.lang.Float.isNaN(java.lang.Float.intBitsToFloat(b))) })
      }
    }
    // the two layouts train the same codebook
    assert(bits(Quantize.pqTrain(one, 4, 8, 3)) == bits(Quantize.pqTrain(three, 4, 8, 3)))
  }

  test("pqTrain fails by name on an empty set or a row of another length") {
    import spark.implicits._
    val empty = spread(Array.empty[(Long, Array[Float])], 2)(_ => 0)
    assert(namedError(Quantize.pqTrain(empty, 4, 8, 1).collect())
      .contains("empty training set"))
    val ragged = rows.take(20) :+ ((999L, Array.fill(12)(0.5f)))
    assert(namedError(Quantize.pqTrain(spread(ragged, 2)(_ % 2), 4, 8, 1).collect())
      .contains("dimension mismatch"))
  }
}
