package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source gate for the one IVF centroid kernel: `AnnSearch.nearestCentroids`
  * scores a vector against the centroid grid, and inverted-list
  * assignment, probing, k-means and `KnnJoin.ivfApprox` all go through
  * it. A literal centroid fold (`struct(… "cdist" …)` under `array_min` or
  * `sort_array`) or a second centroid argmin loop in `src/main` would be a
  * second copy of the coarse quantizer, with its own arithmetic and ties
  * (the literal fold is the spec oracle `IvfOracle` in `src/test`). */
class IvfKernelGuardSpec extends AnyFunSuite {

  private val argminOrSort = """\b(?:array_min|sort_array)\(""".r
  /** A struct that computes `cdist` (not one that reads a `cdist` column). */
  private val cdistStruct = """(?s)struct\((?:(?!col\("cdist"\))[^;]){0,300}?"cdist"""".r
  private val centroidDist =
    """(?:\.dist|\bdistD|\bl2Sq)\([^\n]*\b(?:cents|centsD|cs|cd|centroids)\(\w+\)""".r
  private val bestCentroid =
    """\bbest(?:Cid|Cent|Centroid)\w*\b|\bval\s+cv\s*=\s*(?:cents|centsD|cs|cd)\(\w+\)""".r

  /** Each form's number of matches in a source file. */
  private val forms: Seq[(String, String => Int)] = Seq(
    "literal centroid fold under array_min/sort_array" -> (src =>
      if (argminOrSort.findFirstIn(src).isEmpty) 0
      else cdistStruct.findAllMatchIn(src).length),
    "distance to a centroid of the grid" -> (centroidDist.findAllMatchIn(_).length),
    "best-centroid tracker" -> (bestCentroid.findAllMatchIn(_).length))

  /** The kernel itself: its one distance loop over the grid. */
  private val home = "graft/ops/AnnSearch.scala"
  private val allowedAtHome = Map("distance to a centroid of the grid" -> 1)

  private def counts(src: String): Map[String, Int] =
    forms.map { case (what, n) => what -> n(src) }.filter(_._2 > 0).toMap

  private def offenders(src: String, allowed: Map[String, Int] = Map.empty): Seq[String] =
    counts(src).collect { case (what, n) if n > allowed.getOrElse(what, 0) => what }.toSeq

  test("the guard recognizes each hand-written centroid scorer") {
    Seq(
      // the literal fold: scores in one helper, argmin and top-nprobe elsewhere
      """  private def centroidScores(vec: Column,
        |                             cents: Array[(Int, Array[Float])]): Column =
        |    array(cents.map { case (cid, cv) =>
        |      struct(
        |        VectorFunctions.l2Sq(vec, typedLit(cv.toSeq)).as("cdist"),
        |        lit(cid).as("centroid_id"))
        |    }: _*)
        |
        |  private def assignLocal(vectors: DataFrame,
        |                          cents: Array[(Int, Array[Float])]): DataFrame =
        |    vectors
        |      .withColumn("_best", array_min(centroidScores(col("vec"), cents)))""".stripMargin,
      """    val best = array_min(array(cents.map { case (cid, cv) =>
        |      struct(l2Sq(col("vec"), typedLit(cv.toSeq)).as("cdist"), lit(cid).as("centroid_id"))
        |    }: _*))""".stripMargin,
      """      explode(slice(sort_array(array(cs.map(c =>
        |        struct(VectorFunctions.l2Sq(col("qvec"), typedLit(c._2.toSeq)).as("cdist"),
        |          lit(c._1).as("centroid_id"))): _*)), 1, nprobe))""".stripMargin,
      // the broadcast argmin loop
      """          var best = Double.PositiveInfinity
        |          var bestCid = 0
        |          var ci = 0
        |          while (ci < cs.length) {
        |            val cv = cs(ci)._2
        |            var d = 0.0""".stripMargin,
      // the unrolled-sum probe heap
      "      heap.push(distD(Metric.L2, raw, centsD(c)), c.toLong); c += 1",
      "        val d = Metric.L2.dist(v, cents(ci)._2)"
    ).foreach(s => assert(offenders(s).nonEmpty, s"guard misses: $s"))
    Seq(
      // PQ training: a min aggregate over an existing cdist column
      """        .withColumn("cdist",
        |          VectorFunctions.l2Sq(col("svec"), col("cvec")))
        |        .groupBy("subspace", "id")
        |        .agg(min(struct(col("cdist"), col("centroid_id"))).as("best"),""".stripMargin,
      """      .agg(slice(sort_array(collect_list(struct(col("dist"), col("id")))), 1,""",
      """      .agg(sort_array(collect_list(struct(col("pos"), col("dx")))).as("ds"))""",
      "        if (j == 0 || Neighbor.less(d, j, best, codes(s))) { best = d; codes(s) = j }",
      "      if (s < bestD) { bestD = s; best = i }",
      "          (id, v, AnnSearch.nearestCentroids(v, cs, nprobe).map(_._2.toInt))",
      "      val assigned = nearestLists(v, centroids, 1)"
    ).foreach(s => assert(offenders(s).isEmpty, s"guard flags: $s"))
  }

  test("no centroid scorer in src/main outside the one kernel") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
    assert(files.length > 50, s"source scan found only ${files.length} files")
    val homeFile = root.resolve(home)
    assert(files.contains(homeFile), s"$homeFile is missing")
    val bad = files.flatMap { p =>
      val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      val allowed = if (p == homeFile) allowedAtHome else Map.empty[String, Int]
      offenders(src, allowed).map(what => s"$p: $what")
    }
    assert(bad.isEmpty, "score centroids through graft.ops.AnnSearch.nearestCentroids:\n" +
      bad.mkString("\n"))
    val kernel = counts(new String(java.nio.file.Files.readAllBytes(homeFile), "UTF-8"))
    assert(kernel == allowedAtHome,
      s"the kernel's own loop is not where the guard expects it: $kernel")
  }
}
