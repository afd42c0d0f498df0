package graft

import graft.build.DistRoarGraphBuilder
import graft.core.{BuildParams, Metric}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A vector of the wrong length fails the distributed build with a named
  * dimension error instead of yielding a silent graph: a base row at the
  * centroid, a train row in the kNN input, and a base row the phase-1
  * forward lists score, through `Metric.dist` (on 1 and 3 partitions). */
class DistBuildHostileSpec extends SparkSpec {

  private def grid(ids: Range, dim: Int): Seq[(Long, Array[Float])] =
    ids.map(i => (i.toLong, Array.tabulate(dim)(j => ((i * 31 + j * 7) % 11).toFloat)))

  private def messages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(e => String.valueOf(e.getMessage)).toSeq

  private def assertNamed(site: String)(body: => Any): Unit = {
    val e = intercept[Exception](body)
    assert(messages(e).exists(_.contains(s"$site: vector dimension mismatch")),
      s"expected a named $site dimension error, got: ${messages(e).mkString(" / ")}")
  }

  private val params = BuildParams(mSq = 8, mPjbp = 3, lPjpq = 12, metric = Metric.L2)

  test("a base row of the wrong length fails the build by name") {
    import spark.implicits._
    val train = grid(0 until 10, 8).map { case (i, v) => (i + 1000L, v) }.toDF("id", "vec")
    Seq(0, 17, 39).foreach { bad =>
      val base = grid(0 until 40, 8).map { case (i, v) =>
        (i, if (i == bad) v.take(7) else v) }.toDF("id", "vec")
      assertNamed("centroid")(DistRoarGraphBuilder.build(base, train, params))
    }
  }

  test("a train row of the wrong length fails the build by name") {
    import spark.implicits._
    val base = grid(0 until 40, 8).toDF("id", "vec")
    val train = grid(0 until 10, 8).map { case (i, v) =>
      (i + 1000L, if (i == 4) v ++ Array(1f) else v) }.toDF("id", "vec")
    assertNamed("kNN join")(DistRoarGraphBuilder.build(base, train, params))
  }

  test("phase-1 forward lists score through Metric.dist's named check") {
    import spark.implicits._
    val base: DataFrame = grid(0 until 40, 8).map { case (i, v) =>
      (i, if (i == 9) v.take(6) else v) }.toDF("id", "vec")
    val knn = Seq(Array(1L, 2L, 9L, 3L), Array(5L, 6L, 7L))
    val noAdj = Seq.empty[(Long, Array[Long])].toDF("src", "nbrs")
    Seq(1, 3).foreach { n =>
      val vp = BspOracle.spreadPin(noAdj, base, n).vecs
      try assertNamed("distance")(DistRoarGraphBuilder.forwardLists(
        spark.sparkContext.parallelize(knn, 2), vp, Metric.L2, capC = 8, m = 3).count())
      finally vp.release()
    }
  }
}
