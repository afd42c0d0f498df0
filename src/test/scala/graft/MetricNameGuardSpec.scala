package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source gate for the one metric name: `Metric.name` and
  * `Metric.fromString` in graft.core map each metric to and from its
  * name, and no other file in `src/main` does. Saved layouts persist the
  * name, so a second copy that drifted would write layouts the loader
  * reads as another metric, or not at all. */
class MetricNameGuardSpec extends AnyFunSuite {

  private val metricCase = """(?:Metric\.)?(?:L2|InnerProduct|Cosine)"""
  private val name = """"(?:l2|ip|cosine)""""
  private val forms = Seq(
    "metric case → name" -> s"""(?:\\b$metricCase|\\b_)\\s*(?:=>|->)\\s*$name""".r,
    "if (m == metric) name" -> s"""==\\s*$metricCase\\s*\\)\\s*$name""".r,
    "name → metric case" -> s"""$name[^\\n]*(?:=>|->)\\s*$metricCase\\b""".r)

  private def offenders(src: String): Seq[String] =
    forms.collect { case (what, re) if re.findFirstIn(src).isDefined => what }

  test("the guard recognizes each hand-written mapping") {
    Seq(
      """      case Metric.L2 => "l2"; case Metric.InnerProduct => "ip"""",
      """      case Metric.Cosine => "cosine"""",
      """    case _         => "ip" // cosine inputs are pre-normalized below""",
      """  val names = Map(Metric.L2 -> "l2", Metric.Cosine -> "cosine")""",
      """    val mn = if (m == Metric.L2) "l2" else "ip"""",
      """    case "cosine" | "cos"      => Cosine"""
    ).foreach(s => assert(offenders(s).nonEmpty, s"guard misses: $s"))
    Seq(
      """    Eval.relativeDistError(res, gt, k, "l2")""",
      """      case "l2"     => c""",
      """      s"mSq=${params.mSq},metric=${scoreMetric.name},"""",
      """      metric = Metric.fromString(a.getOrElse("metric", "ip")))""",
      """    case Metric.L2           => l2Sq(a, b)"""
    ).foreach(s => assert(offenders(s).isEmpty, s"guard flags: $s"))
  }

  test("no metric-name mapping in src/main outside graft.core") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val home = root.resolve("graft/core/Types.scala")
    val files = java.nio.file.Files.walk(root).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p.toString.endsWith(".scala") && p != home)
    assert(files.length > 50, s"source scan found only ${files.length} files")
    val bad = files.flatMap { p =>
      val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      offenders(src).map(what => s"$p: $what")
    }
    assert(bad.isEmpty, "name metrics through graft.core.Metric.name / fromString:\n" +
      bad.mkString("\n"))
  }
}
