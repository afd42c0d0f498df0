package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source gate for the grouped query fetch: every blocked drain under
  * `graft.ops` pulls its query side through `KnnJoin.blockedTopK`, one
  * job per group of partitions. A local iterator over a Dataset runs one
  * job per partition, so it may not come back there. */
class QueryFetchGuardSpec extends AnyFunSuite {

  private val perPartitionDrain = """\btoLocalIterator\b""".r

  private def offends(src: String): Boolean =
    perPartitionDrain.findFirstIn(src).isDefined

  test("the guard recognizes a per-partition drain") {
    Seq(
      "queries.as[(Long, Array[Float])].toLocalIterator().asScala",
      "val it = ds.toLocalIterator.asScala.grouped(blockRows)",
      "      }\n      .toLocalIterator().asScala\n      .map(widen)"
    ).foreach(s => assert(offends(s), s"guard misses: $s"))
    assert(!offends("KnnJoin.blockedTopK(qDs, identity[(Long, Array[Float])], " +
      "queryBlockRows, k, \"ADC top-k: empty query set\")"))
  }

  test("no per-partition drain under src/main/scala/graft/ops") {
    val root = java.nio.file.Paths.get("src/main/scala/graft/ops")
    val files = java.nio.file.Files.walk(root).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
    assert(files.length > 10, s"source scan found only ${files.length} files")
    val bad = files.filter { p =>
      offends(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
    }
    assert(bad.isEmpty, "fetch the query side through KnnJoin.blockedTopK:\n" +
      bad.mkString("\n"))
  }
}
