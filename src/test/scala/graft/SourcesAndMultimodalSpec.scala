package graft

import graft.core.Tables
import graft.ops.MultimodalOps
import graft.sources.FbinCodec
import org.apache.spark.sql.functions._

class SourcesAndMultimodalSpec extends SparkSpec {

  test("fbin round-trip preserves ids and float vectors exactly") {
    val emb = Tables.vectors(spark, sf0001).select("id", "vec").limit(50)
    val dir = java.nio.file.Files.createTempDirectory("graft-fbin").toString
    FbinCodec.writeFbin(emb, s"$dir/test.fbin")
    val back = FbinCodec.readFbin(spark, s"$dir/test.fbin")
    // codec ids are positional (0..n-1); compare vectors in id order
    val orig = emb.orderBy("id").collect().map(_.getSeq[Float](1))
    val rt = back.orderBy("id").collect().map(_.getSeq[Float](1))
    assert(orig.length == rt.length)
    orig.zip(rt).foreach { case (a, b) => assert(a == b) }
  }

  test("ibin round-trip preserves int lists exactly") {
    import spark.implicits._
    val knn = Seq((0L, Array(3, 1, 4)), (1L, Array(1, 5, 9)), (2L, Array(2, 6, 5)))
      .toDF("id", "vec")
    val dir = java.nio.file.Files.createTempDirectory("graft-ibin").toString
    FbinCodec.writeIbin(knn, s"$dir/test.ibin")
    val back = FbinCodec.readIbin(spark, s"$dir/test.ibin")
      .orderBy("id").collect().map(_.getSeq[Int](1).toSeq)
    assert(back.toSeq == Seq(Seq(3, 1, 4), Seq(1, 5, 9), Seq(2, 6, 5)))
  }

  test("fbin header matches (npts, dim) and reads are parallel-safe") {
    val emb = Tables.vectors(spark, sf0001).select("id", "vec").limit(32)
    val dir = java.nio.file.Files.createTempDirectory("graft-fbin2").toString
    FbinCodec.writeFbin(emb, s"$dir/t.fbin")
    val back = FbinCodec.readFbin(spark, s"$dir/t.fbin").repartition(8)
    assert(back.count() == 32)
    assert(back.select(size(col("vec"))).distinct().collect().map(_.getInt(0)).toSeq == Seq(64))
  }

  test("chunked writers are exact across chunk boundaries (and size in Long)") {
    // the writers stream row-chunks (no whole-file buffer, so no Int
    // overflow at >2 GiB); property: round-trip is exact for row counts
    // straddling every chunk-boundary case, at a tiny chunk size
    import spark.implicits._
    val chunk = 4
    val dir = java.nio.file.Files.createTempDirectory("graft-chunk").toString
    for (n <- Seq(1, chunk - 1, chunk, chunk + 1, 2 * chunk, 3 * chunk + 1)) {
      val rows = (0 until n).map(i =>
        (i.toLong, Array.tabulate(3)(j => (i * 10 + j).toFloat)))
      val df = rows.toDF("id", "vec")
      FbinCodec.writeFbin(df, s"$dir/c$n.fbin", chunkRows = chunk)
      assert(new java.io.File(s"$dir/c$n.fbin").length() == 8L + n.toLong * 3 * 4)
      val back = FbinCodec.readFbin(spark, s"$dir/c$n.fbin")
        .orderBy("id").collect().map(_.getSeq[Float](1).toSeq)
      assert(back.toSeq == rows.map(_._2.toSeq), s"fbin mismatch at n=$n")

      val gt = (0 until n).map(i =>
        (i.toLong, Array(i, i + 1, i + 2), Array(i * 0.5f, i * 0.25f, i * 2f)))
        .toDF("id", "ids", "dists")
      FbinCodec.writeGtWithDist(gt, s"$dir/g$n.ibin", chunkRows = chunk)
      assert(new java.io.File(s"$dir/g$n.ibin").length() == 8L + n.toLong * 3 * 4 * 2)
      val gtBack = FbinCodec.readGtWithDist(spark, s"$dir/g$n.ibin")
        .orderBy("id").collect()
        .map(r => (r.getLong(0), r.getSeq[Int](1).toSeq, r.getSeq[Float](2).toSeq))
      assert(gtBack.toSeq == (0 until n).map(i =>
        (i.toLong, Seq(i, i + 1, i + 2), Seq(i * 0.5f, i * 0.25f, i * 2f))),
        s"gt-ibin mismatch at n=$n")
    }
    // oversized chunk buffers are rejected up front with a clear message
    val one = Seq((0L, Array(1f, 2f, 3f))).toDF("id", "vec")
    val err = intercept[IllegalArgumentException] {
      FbinCodec.writeFbin(one, s"$dir/bad.fbin", chunkRows = Int.MaxValue)
    }
    assert(err.getMessage.contains("exceeds Int range"))
  }

  test("gt-with-dists ibin round-trip preserves ids and float32 dists exactly") {
    import spark.implicits._
    val gt = Seq(
      (0L, Array(3, 1, 4), Array(0.5f, 1.25f, 2.75f)),
      (1L, Array(1, 5, 9), Array(0.125f, 0.25f, 9.5f)),
      (2L, Array(2, 6, 5), Array(1.5f, 2.5f, 3.5f)))
      .toDF("id", "ids", "dists")
    val dir = java.nio.file.Files.createTempDirectory("graft-gtibin").toString
    FbinCodec.writeGtWithDist(gt, s"$dir/gt.ibin")
    val back = FbinCodec.readGtWithDist(spark, s"$dir/gt.ibin")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toSeq, r.getSeq[Float](2).toSeq))
    assert(back.toSeq == Seq(
      (0L, Seq(3, 1, 4), Seq(0.5f, 1.25f, 2.75f)),
      (1L, Seq(1, 5, 9), Seq(0.125f, 0.25f, 9.5f)),
      (2L, Seq(2, 6, 5), Seq(1.5f, 2.5f, 3.5f))))
    // file size check mirrors load_gt_meta (util.h:84-105): header + 2 blocks
    val sz = new java.io.File(s"$dir/gt.ibin").length()
    assert(sz == 8L + 3 * 3 * 4 * 2)
  }

  test("knn_rderr_ibin: two concurrent calls on one dir both give the oracle " +
       "answer and leave no ground-truth file behind") {
    // the ground truth makes a round trip through a temporary .ibin; two
    // calls used to share one fixed path per dir (one read the other's
    // half-written file: EOFException) and left it behind
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    def gtFiles(since: Long) = Option(tmp.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("graft_gt_") && f.lastModified >= since)
      .map(_.getName)
    val since = (System.currentTimeMillis() / 1000 - 1) * 1000
    val query = graft.queries.QueriesVector.queries("knn_rderr_ibin")
    val runs = Seq.fill(2)(Future(query(spark, sf0001).collect().toSeq.map(_.getDouble(0))))
    val got = runs.map(Await.result(_, scala.concurrent.duration.Duration.Inf))
    // DuckDB's value of QueriesVector.oracles("knn_rderr_ibin") at sf0.001
    assert(got == Seq.fill(2)(Seq(0.039404)), s"mean_rderr: $got")
    assert(gtFiles(since).isEmpty, s"left behind: ${gtFiles(since)}")
  }

  test("abandoned read (limit) does not leak a file handle per partition") {
    val emb = Tables.vectors(spark, sf0001).select("id", "vec").limit(32)
    val dir = java.nio.file.Files.createTempDirectory("graft-fbin3").toString
    val path = s"$dir/leak.fbin"
    FbinCodec.writeFbin(emb, path)
    def openHandles(): Int = {
      val fd = new java.io.File("/proc/self/fd")
      if (!fd.exists()) 0
      else fd.listFiles().count { f =>
        try java.nio.file.Files.readSymbolicLink(f.toPath).toString.endsWith("leak.fbin")
        catch { case _: Throwable => false }
      }
    }
    // limit(1) abandons each partition's iterator before exhaustion; the
    // task-completion listener must still close the stream
    (1 to 4).foreach { _ =>
      FbinCodec.readFbin(spark, path).limit(1).collect()
    }
    assert(openHandles() == 0, "file handles leaked after limit() reads")
  }

  test("multimodal pack → extractFeatures: features sum to 1 and are deterministic") {
    val mm = MultimodalOps.packFromText(Tables.documents(spark, sf0001))
    assert(mm.schema("payload").dataType.typeName == "binary")
    val f1 = MultimodalOps.extractFeatures(mm, bins = 16)
    val rows = f1.collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val fs = r.getSeq[Float](1)
      assert(fs.length == 16)
      assert(math.abs(fs.sum - 1.0f) < 1e-3)
    }
    val f2 = MultimodalOps.extractFeatures(mm, bins = 16)
    assert(f1.exceptAll(f2).isEmpty)
  }

  test("multimodal frame sampling covers the payload exactly once") {
    val mm = MultimodalOps.packFromText(Tables.documents(spark, sf0001))
    val frames = MultimodalOps.sampleFrames(mm, k = 4)
    val byDoc = frames.groupBy("doc_id")
      .agg(count("*").as("n"), sum("frame_bytes").as("covered"))
      .join(mm.select(col("doc_id"), col("meta.n_bytes")), "doc_id")
    assert(byDoc.filter(col("n") =!= 4 || col("covered") =!= col("n_bytes")).isEmpty)
  }

  test("PPM parser: exact pixel round-trip, comment headers, corrupt rejects") {
    val bytes = MultimodalOps.ppmBytes(42L)
    val Some((w, h, rgb)) = MultimodalOps.decodePpm(bytes)
    assert(w == MultimodalOps.PpmW && h == MultimodalOps.PpmH)
    rgb.zipWithIndex.foreach { case (b, i) =>
      assert((b & 0xff) == ((42L * 131 + i * 7919) % 256).toInt,
        s"pixel $i mismatch")
    }
    // a hand-built header with extra comments/whitespace still parses
    val weird = ("P6\n# one\n  # two\n 2\t1 \n# three\n255\n".getBytes("US-ASCII")
      ++ Array[Byte](1, 2, 3, 4, 5, 6))
    assert(MultimodalOps.decodePpm(weird).exists(_._3.sameElements(
      Array[Byte](1, 2, 3, 4, 5, 6))))
    // truncated payload and wrong magic reject
    assert(MultimodalOps.decodePpm(bytes.dropRight(1)).isEmpty)
    assert(MultimodalOps.decodePpm("P5\n1 1\n255\nX".getBytes).isEmpty)
  }

  test("WAV parser: sample round-trip, unknown chunks skipped, non-PCM rejects") {
    val bytes = MultimodalOps.wavBytes(43L)
    val Some((sr, samples)) = MultimodalOps.decodeWav(bytes)
    assert(sr == MultimodalOps.WavSampleRate)
    assert(samples.length == (MultimodalOps.WavBase + 43 % MultimodalOps.WavMod))
    samples.zipWithIndex.foreach { case (s, i) =>
      assert(s == ((43L * 31 + i * 17) % 2003 - 1001).toShort, s"sample $i")
    }
    // splice an unknown LIST chunk between fmt and data: still parses
    val (head, tail) = bytes.splitAt(36) // end of fmt chunk
    val list = "LIST".getBytes("US-ASCII") ++ Array[Byte](4, 0, 0, 0) ++
      "INFO".getBytes("US-ASCII")
    val riffLen = java.nio.ByteBuffer.wrap(bytes, 4, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt + list.length
    val spliced = head ++ list ++ tail
    java.nio.ByteBuffer.wrap(spliced).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(4, riffLen)
    val Some((sr2, samples2)) = MultimodalOps.decodeWav(spliced)
    assert(sr2 == sr && samples2.sameElements(samples),
      "LIST chunk broke the chunk walk")
    // truncation rejects
    assert(MultimodalOps.decodeWav(bytes.take(40)).isEmpty)
  }

  test("decodeMedia sniffs formats from bytes and never shuffles payloads") {
    val docs = Tables.documents(spark, sf0001)
    val mm = MultimodalOps.synthMedia(docs)
    val out = MultimodalOps.decodeMedia(mm).cache()
    assert(out.filter(col("doc_id") % 2 === 0 && col("format") =!= "ppm").isEmpty)
    assert(out.filter(col("doc_id") % 2 === 1 && col("format") =!= "wav").isEmpty)
    assert(out.count() == docs.count())
    // payloads feed a map-only stage: no Exchange between scan and decode
    val plan = MultimodalOps.decodeMedia(mm).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"payload decode shuffles:\n$plan")
  }
}
