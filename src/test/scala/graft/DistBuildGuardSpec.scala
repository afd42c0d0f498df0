package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source gate for the distributed build's keyed steps. After its kNN
  * input, `DistRoarGraphBuilder` runs every step as an RDD pipeline on
  * its one vector pin's partitioner: a relational aggregate, join or
  * DataFrame cut there would bring back the Catalyst planning, AQE
  * map-stage jobs and cut per step that the pipelines replaced. Two
  * DataFrame boundaries stay, both `KnnJoin` calls: the build's kNN input
  * and the exact repair backstop. The relational form of each step lives
  * in `src/test` (`DistBuildOracle`), which the specs hold the steps to;
  * a second form in `src/main` would be an unpinned second path. */
class DistBuildGuardSpec extends AnyFunSuite {

  private val relational = Seq(
    "groupBy" -> """\.groupBy\(""".r,
    "agg" -> """\.agg\(""".r,
    "join" -> """\.join\(""".r,
    "DataFrame cut" -> """\bcutDFReleasable\b""".r)
  private val knnJoinCall = """\bKnnJoin\(""".r
  private val steps = Seq("forwardLists", "mergeReverseSlice", "supplyPools", "absorbRound")
  private def stepDef(name: String) = s"""\\bdef\\s+$name\\b""".r
  private val relationalTopK = """\btopKVec\b""".r
  private val builder = "graft/build/DistRoarGraphBuilder.scala"

  private def offenders(src: String): Seq[String] =
    relational.collect { case (what, re) if re.findFirstIn(src).nonEmpty => what }

  test("the guard recognizes the relational step forms") {
    Seq(
      """        .groupBy("pivot")""",
      """      .agg(topCand(col("cand"), col("d"), col("cvec")).as("cands"))""",
      """      .join(revE, Seq("src"), "left")""",
      """    val (fwdListsCut, relFwdLists) =
        |      graft.ops.graph.PlanUtil.cutDFReleasable(fwdLists)""".stripMargin
    ).foreach(s => assert(offenders(s).nonEmpty, s"guard misses: $s"))
    Seq(
      "      .groupByKey(vp.part)",
      "    projection.cogroup(supply, part).mapPartitions(_.flatMap {",
      "  * step ([[Cut]]), like BspBeamSearch's round states, and is released",
      "      val hits = KnnJoin(spark.createDataset(orphans.rdd).toDF(\"id\", \"vec\"),"
    ).foreach(s => assert(offenders(s).isEmpty, s"guard flags: $s"))
    assert(knnJoinCall.findAllIn("KnnJoin(q, b, k, m) and graft.ops.KnnJoin(x)").length == 2)
    assert(stepDef("absorbRound").findFirstIn("  private[graft] def absorbRound(state: AdjState,").nonEmpty)
    assert(stepDef("supplyPools").findFirstIn("    def supplyPools(ss: DataFrame): DataFrame = {").nonEmpty)
    assert(stepDef("supplyPools").findFirstIn("        supplyPools(ss, vp, scoreMetric, m)").isEmpty)
  }

  test("the distributed build's steps are RDD pipelines, one form each in src/main") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
    assert(files.length > 50, s"source scan found only ${files.length} files")
    def read(p: java.nio.file.Path) =
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    val src = read(root.resolve(builder))
    assert(offenders(src).isEmpty,
      s"$builder runs a relational step (${offenders(src).mkString(", ")}); " +
        "run it on the vector pin's partitioner")
    val knnJoins = knnJoinCall.findAllIn(src).length
    assert(knnJoins == 2, s"$builder calls KnnJoin $knnJoins times; " +
      "the kNN input and the exact backstop are the only DataFrame boundaries")
    steps.foreach { step =>
      val defs = files.map(p => p -> stepDef(step).findAllIn(read(p)).length).filter(_._2 > 0)
      assert(defs.toSeq.map { case (p, n) => (root.relativize(p).toString, n) } ==
        Seq(builder -> 1), s"$step is defined in: ${defs.map(_._1).mkString(", ")}")
    }
    val topKVecs = files.filter(p => relationalTopK.findFirstIn(read(p)).nonEmpty)
    assert(topKVecs.isEmpty, "the relational candidate top-k belongs to DistBuildOracle:\n" +
      topKVecs.mkString("\n"))
  }
}
