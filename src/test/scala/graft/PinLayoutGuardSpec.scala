package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source gate for the distributed build's one pinned layout and for
  * switches hidden in JVM-global state. `DistRoarGraphBuilder` pins its
  * base vectors in exactly one place (its lazy build-lifetime pin, which
  * every phase and repair state reads); a second vector pin call there
  * would re-shuffle the n-row table per phase again. A `sys.props` read in
  * `src/main` is a switch every caller in the JVM shares and no signature
  * shows. */
class PinLayoutGuardSpec extends AnyFunSuite {

  private val pinVectorsCall = """\bpinVectors\s*\(""".r
  private val sysProps = """\bsys\s*\.\s*props\b""".r
  private val builder = "graft/build/DistRoarGraphBuilder.scala"

  test("the guard recognizes a vector pin call and a sys.props read") {
    Seq(
      "    val vp = BspBeamSearch.pinVectors(baseN)",
      "      sharedVecs.getOrElse(pinVectors(vectors))",
      "    val repairVecs = BspBeamSearch.pinVectors(\n      baseN.select(col(\"id\"), col(\"vec\")))"
    ).foreach(s => assert(pinVectorsCall.findAllIn(s).length == 1, s"guard misses: $s"))
    assert(pinVectorsCall.findFirstIn("  /** Pin a vector table (see pinVectors). */").isEmpty)
    Seq(
      """    if (sys.props.get("graft.repair.disableBeams").contains("true")) 0""",
      """      s"${sys.props("java.io.tmpdir")}/graft_gt.ibin")""",
      """    sys . props.getOrElse("x", "y")"""
    ).foreach(s => assert(sysProps.findFirstIn(s).nonEmpty, s"guard misses: $s"))
    assert(sysProps.findFirstIn("""sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")""").isEmpty)
  }

  test("one vector pin call in the distributed builder, no sys.props read in src/main") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
    assert(files.length > 50, s"source scan found only ${files.length} files")
    def read(p: java.nio.file.Path) =
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    val pins = pinVectorsCall.findAllIn(read(root.resolve(builder))).length
    assert(pins == 1, s"$builder calls pinVectors $pins times; read the build's one pin")
    val bad = files.filter(p => sysProps.findFirstIn(read(p)).nonEmpty)
    assert(bad.isEmpty, "pass switches as parameters, not sys.props:\n" +
      bad.mkString("\n"))
  }
}
