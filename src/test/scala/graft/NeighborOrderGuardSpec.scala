package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source gate for the single (dist, id) order: it lives in graft.core
  * (`Neighbor.compare`) and nothing else in `src/main` may rank neighbors
  * by hand, so a second copy with different NaN/-0.0 semantics cannot
  * grow back. */
class NeighborOrderGuardSpec extends AnyFunSuite {

  private val operand = """[\w.]+(?:\([\w.]+\))?"""
  /** Hand-written (dist, id) comparisons: an `Ordering.by` over a dist
    * field, a `sortBy` on a (dist, id) tuple, and the `|| (d == d2 && id < id2)`
    * tie-break idiom. */
  private val handWritten = Seq(
    "Ordering.by over a dist field" ->
      """Ordering\.by\s*\([^\n]*(?:\.dist\b|\._2\s*,\s*\w+\._1)""".r,
    "sortBy on a (dist, id) tuple" ->
      """sortBy\s*[({]\s*\w+\s*=>\s*\(\s*\w+\.(?:dist|_2)\s*,\s*\w+\.(?:id|_1)\s*\)""".r,
    "(dist == … && id <) tie-break" ->
      s"""\\|\\|\\s*\\(\\s*$operand\\s*==\\s*$operand\\s*&&\\s*$operand\\s*[<>]\\s*$operand\\s*\\)""".r)

  private def offenders(src: String): Seq[String] =
    handWritten.collect { case (what, re) if re.findFirstIn(src).isDefined => what }

  test("the guard recognizes each hand-written form") {
    Seq(
      "java.util.Arrays.sort(pool, Ordering.by((p: (Int, Double)) => (p._2, p._1)))",
      "implicit val ordering: Ordering[Neighbor] = Ordering.by(n => (n.dist, n.id))",
      "pool.sortBy(p => (p._2, p._1))",
      "arr.sortBy(e => (e.dist, e.id)).take(l)",
      "d < ds(i) || (d == ds(i) && id < ids(i))",
      "if (d < bd || (d == bd && r < b)) { bd = d; b = r }",
      "a._2 == -1 || b._1 < a._1 ||\n  (b._1 == a._1 && b._2 < a._2)) b"
    ).foreach(s => assert(offenders(s).nonEmpty, s"guard misses: $s"))
    assert(offenders("if (nprobe == nlist && nBaseRows > 0) out").isEmpty)
  }

  test("no (dist, id) comparison in src/main outside graft.core") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val core = root.resolve("graft/core")
    val files = java.nio.file.Files.walk(root).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p.toString.endsWith(".scala") && !p.startsWith(core))
    assert(files.length > 50, s"source scan found only ${files.length} files")
    val bad = files.flatMap { p =>
      val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      offenders(src).map(what => s"$p: $what")
    }
    assert(bad.isEmpty, "rank through graft.core.Neighbor instead:\n" +
      bad.mkString("\n"))
  }
}
