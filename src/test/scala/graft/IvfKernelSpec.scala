package graft

import graft.core.Tables
import graft.ops.AnnSearch
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one IVF centroid kernel (`AnnSearch.nearestCentroids`, behind
  * `assignToCentroids`, `probeCentroids`, `kMeans` and `ivfApprox`)
  * against the literal-fold oracle [[IvfOracle]]: the same centroid ids,
  * the same `cdist` bits and the same ties, on the fixture and on hostile
  * rows. */
class IvfKernelSpec extends SparkSpec {
  import spark.implicits._

  /** (id, cdist bits, centroid_id) by id; NaNs compare equal. */
  private def assignBits(df: DataFrame): Seq[(Long, Long, Int)] =
    df.select(col("id").cast("long"), col("cdist"), col("centroid_id").cast("int"))
      .as[(Long, Double, Int)].collect()
      .map { case (id, d, c) => (id, java.lang.Double.doubleToLongBits(d), c) }
      .sortBy(_._1).toSeq

  /** Each query's probed centroid ids, nearest first. */
  private def probeLists(df: DataFrame): Map[Long, Seq[Int]] =
    df.select(col("query_id").cast("long"), col("centroid_id").cast("int"))
      .as[(Long, Int)].collect()
      .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSeq }

  private def assertSameAsOracle(vecs: DataFrame, cents: DataFrame,
                                 nprobes: Seq[Int]): Unit = {
    val ker = assignBits(AnnSearch.assignToCentroids(vecs, cents))
    assert(ker.nonEmpty && ker == assignBits(IvfOracle.assign(vecs, cents)),
      "kernel assignment != literal fold")
    nprobes.foreach { n =>
      val kp = probeLists(AnnSearch.probeCentroids(vecs, cents, n))
      assert(kp.nonEmpty && kp == probeLists(IvfOracle.probes(vecs, cents, n)),
        s"kernel probes != literal fold at nprobe $n")
    }
  }

  test("centroid kernel == literal-fold oracle on the sf0.001 fixture " +
       "(assign and probe: ids, cdist bits, ties)") {
    val emb = Tables.vectors(spark, sf0001).select("id", "vec")
    val b = emb.filter(col("id") >= 20)
    val fixed = b.filter(col("id").between(20, 27))
      .select(col("id").as("centroid_id"), col("vec"))
    assertSameAsOracle(b, fixed, Seq(1, 2, 8))
    assertSameAsOracle(emb.filter(col("id") < 20), fixed, Seq(2))
    val trained = AnnSearch.kMeans(b, k = 8, iters = 2)
    assertSameAsOracle(emb, trained, Seq(2))
  }

  test("centroid kernel == literal-fold oracle on NaN and ±Inf vectors, " +
       "duplicate centroids and centroid ids 20..27") {
    val inf = Float.PositiveInfinity
    val nan = Float.NaN
    // ids 20..27, none is 0; 23 duplicates 21 and 26 duplicates 22
    val cents = Seq(
      25 -> Array(2f, 2f, 2f, 2f), 20 -> Array(0f, 0f, 0f, 0f),
      21 -> Array(1f, 0f, 0f, 0f), 22 -> Array(0f, 1f, 0f, 0f),
      23 -> Array(1f, 0f, 0f, 0f), 24 -> Array(0f, 0f, 1f, 0f),
      26 -> Array(0f, 1f, 0f, 0f), 27 -> Array(-1f, 0f, 0f, 0f))
      .toDF("centroid_id", "vec")
    // small-integer rows: many exact distance ties
    val rnd = new scala.util.Random(11)
    val grid = (0L until 40L).map(i => i -> Array.fill(4)((rnd.nextInt(4) - 1).toFloat))
    val hostile = Seq(
      Array(nan, nan, nan, nan), Array(0f, nan, 1f, 0f),
      Array(inf, inf, inf, inf), Array(0f, 0f, -inf, 0f),
      Array(inf, -inf, 0f, 1f), Array(nan, inf, 0f, 0f))
      .zipWithIndex.map { case (v, i) => (100L + i, v) }
    val vecs = (grid ++ hostile).toDF("id", "vec").repartition(3)
    assertSameAsOracle(vecs, cents, Seq(1, 3, 8, 10))
    // every distance of a NaN or Inf row ties (NaN or +Inf), so the
    // smallest real centroid id wins
    val hostileIds = hostile.map(_._1).toSet
    val assigned = assignBits(AnnSearch.assignToCentroids(vecs, cents))
    assert(assigned.filter(r => hostileIds(r._1)).map(_._3).toSet == Set(20))
    // a duplicate centroid ranks after its lower-id twin
    val p = probeLists(AnnSearch.probeCentroids(
      Seq((1L, Array(1f, 0f, 0f, 0f))).toDF("id", "vec"), cents, 3))
    assert(p(1L) == Seq(21, 23, 20))
  }

  test("a vector longer or shorter than the centroid grid fails with a " +
       "named error (assign, probe, k-means)") {
    val cents = Seq((20, Array(0f, 0f)), (21, Array(1f, 1f))).toDF("centroid_id", "vec")
    for (dim <- Seq(3, 1)) {
      val want = s"distance: vector dimension mismatch ($dim vs 2)"
      val v = Seq((1L, Array.fill(dim)(0.5f))).toDF("id", "vec")
      assert(namedError(AnnSearch.assignToCentroids(v, cents).collect()) == want)
      assert(namedError(AnnSearch.probeCentroids(v, cents, 2).collect()) == want)
      // k-means seeds its grid from the two smallest ids (2-d rows)
      val train = Seq((0L, Array(0f, 0f)), (1L, Array(1f, 1f)),
        (2L, Array.fill(dim)(0.5f))).toDF("id", "vec")
      assert(namedError(AnnSearch.kMeans(train, k = 2, iters = 1)) == want)
    }
  }
}
