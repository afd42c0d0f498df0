package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source gate for the one-job Lloyd trainers (`AnnSearch.kMeans`,
  * `Quantize.pqTrain`): each iteration assigns through a kernel and sums
  * per cell in `AnnSearch.lloydSums`. A relational argmin
  * (`min(struct(cdist, centroid_id))` under a groupBy) anywhere in
  * `src/main`, or a vector-mean aggregate in the trainers' sources,
  * would bring back the join-and-shuffle update the specs hold them to
  * (`PqOracle.pqTrain`, `IvfOracle.kMeans` in `src/test`). */
class LloydGuardSpec extends AnyFunSuite {

  private val relationalArgmin = """\bmin\(\s*struct\(\s*col\("(?:c?dist)"\)""".r
  private val vecMean = """\bVecMeanAggregator\s*\.\s*meanVec\b|\bnew\s+VecMeanAggregator\b|\bmeanVec\(""".r
  private val trainers = Seq("graft/ops/AnnSearch.scala", "graft/ops/Quantize.scala")

  private def offenders(src: String, trainer: Boolean): Seq[String] =
    Seq("relational argmin" -> relationalArgmin.findFirstIn(src).nonEmpty,
      "vector-mean aggregate in a trainer" -> (trainer && vecMean.findFirstIn(src).nonEmpty))
      .collect { case (what, true) => what }

  test("the guard recognizes the relational Lloyd update") {
    Seq(
      """        .groupBy("subspace", "id")
        |        .agg(min(struct(col("cdist"), col("centroid_id"))).as("best"),""".stripMargin,
      """      .agg(min(struct( col("dist"), col("cid"))).as("b"))""",
      """        .agg(VecMeanAggregator.meanVec(
        |          VectorFunctions.toDouble(col("vec"))).as("m"))""".stripMargin,
      """        .agg(graft.functions.VecMeanAggregator.meanVec(col("v")))"""
    ).foreach(s => assert(offenders(s, trainer = true).nonEmpty, s"guard misses: $s"))
    Seq(
      "    * NaN distance never beats a number — the `min(struct(dist,",
      "    * element-wise mean aggregate (`VecMeanAggregator`), so a mean is the",
      "          part.foreach { v => acc.add(nearestCentroids(v, cs, 1)(0)._2.toInt, v, 0) }",
      """      .agg(min(col("x").cast("double")).as("lo"),"""
    ).foreach(s => assert(offenders(s, trainer = true).isEmpty, s"guard flags: $s"))
  }

  test("no relational argmin in src/main, no vector-mean aggregate in the trainers") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
    assert(files.length > 50, s"source scan found only ${files.length} files")
    trainers.foreach(t => assert(files.contains(root.resolve(t)), s"$t is missing"))
    val bad = files.flatMap { p =>
      val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      offenders(src, trainers.exists(t => p == root.resolve(t))).map(w => s"$p: $w")
    }
    assert(bad.isEmpty, "run Lloyd updates through graft.ops.AnnSearch.lloydSums:\n" +
      bad.mkString("\n"))
  }
}
