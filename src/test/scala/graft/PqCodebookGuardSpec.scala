package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source gate for the one PQ codebook kernel: `graft.ops.PqCodebook`
  * collects `(subspace, centroid_id, vec)` tables and builds the dense
  * `[subspace][code]` grid, and every encode, ADC and beam path goes
  * through it. A second collect or grid elsewhere in `src/main` would be
  * a second copy of the layout, its checks and its arithmetic. */
class PqCodebookGuardSpec extends AnyFunSuite {

  private val forms = Seq(
    "typed (subspace, centroid_id, vec) collect" ->
      """(?s)"subspace".{0,400}?\.as\[\(\s*Int\s*,\s*Int\s*,\s*Array\[Float\]\s*\)\]""".r,
    "dense [subspace][code] grid" -> """Array\.ofDim\[Array\[Float\]\]""".r)

  private def offenders(src: String): Seq[String] =
    forms.collect { case (what, re) if re.findFirstIn(src).isDefined => what }

  test("the guard recognizes each hand-written codebook load") {
    Seq(
      """    val cbRows = codebooks.select(col("subspace").cast("int"),
        |      col("centroid_id").cast("int"), col("vec"))
        |      .as[(Int, Int, Array[Float])].collect()""".stripMargin,
      """      val rows = codebooks.select(col("subspace").cast("int"),
        |        col("centroid_id").cast("int"), col("vec"))
        |        .as[(Int, Int, Array[Float])].collect()""".stripMargin,
      """        .select(col("subspace"), col("centroid_id").cast("int"),
        |          transform(col("mv"), _.cast("float")).as("cvec"))
        |        .as[(Int, Int, Array[Float])].collect()""".stripMargin,
      "    val cb = Array.ofDim[Array[Float]](m, kCodes)",
      "      val grid = Array.ofDim[Array[Float]](m, kMax)"
    ).foreach(s => assert(offenders(s).nonEmpty, s"guard misses: $s"))
    Seq(
      "      val updated = PqCodebook.rows(updatedDf)",
      "    val bc = spark.sparkContext.broadcast(PqCodebook.load(codebooks, m))",
      """    .select(col("subspace"), col("id"), col("vec")).as[(Long, Array[Float])]""",
      """      col("id").cast("long"), col("codes")).as[(Int, Long, Array[Int])]"""
    ).foreach(s => assert(offenders(s).isEmpty, s"guard flags: $s"))
  }

  test("no codebook collect or grid in src/main outside PqCodebook") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val home = root.resolve("graft/ops/PqCodebook.scala")
    val files = java.nio.file.Files.walk(root).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p.toString.endsWith(".scala") && p != home)
    assert(files.length > 50, s"source scan found only ${files.length} files")
    val bad = files.flatMap { p =>
      val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      offenders(src).map(what => s"$p: $what")
    }
    assert(bad.isEmpty, "load codebooks through graft.ops.PqCodebook:\n" +
      bad.mkString("\n"))
  }
}
