package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source gate for the entry points in `src/main`: the driver contract
  * (`Bench`, `Verify`) and the tools that a doc, script or spec runs.
  * A one-off probe main belongs in a test or a script, not beside them. */
class MainObjectGuardSpec extends AnyFunSuite {

  private val kept = Set("Bench", "Verify", "ExplainTool", "ScaleSoak",
    "TierCurves", "BuildTool", "SearchTool")

  private val objectDecl = """(?m)^\s*(?:(?:private|final|case)\s+)*object\s+(\w+)""".r
  private val entry = """\bdef\s+main\s*\(|\bextends\s+App\b""".r

  /** The objects that hold an entry point: each `def main` or
    * `extends App` belongs to the nearest object declared before it. */
  private def mains(src: String): Set[String] = {
    val objs = objectDecl.findAllMatchIn(src).map(m => m.start -> m.group(1)).toSeq
    entry.findAllMatchIn(src).flatMap { e =>
      objs.takeWhile(_._1 <= e.start).lastOption.map(_._2)
    }.toSet
  }

  test("the guard finds each entry point's object") {
    assert(mains(
      """object Tools {
        |  def parseArgs(args: Array[String]): Map[String, String] = Map.empty
        |}
        |
        |object BuildTool {
        |  def main(args: Array[String]): Unit = ()
        |}
        |
        |object SearchTool {
        |  def main(args: Array[String]): Unit = ()
        |}""".stripMargin) == Set("BuildTool", "SearchTool"))
    assert(mains("private object Probe extends App { println(1) }") == Set("Probe"))
    assert(mains("/** see the object doc */\nobject Kernels {\n  def domain(x: Int) = x\n}")
      .isEmpty)
  }

  test("src/main's entry points are exactly the driver contract and the kept tools") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
    assert(files.length > 50, s"source scan found only ${files.length} files")
    val found = files.flatMap { p =>
      mains(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
    }
    assert(found.sorted.toSeq == kept.toSeq.sorted,
      s"entry points ${found.sorted.mkString(", ")}; expected ${kept.toSeq.sorted.mkString(", ")}")
  }
}
