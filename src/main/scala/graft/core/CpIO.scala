package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Checkpoint-metadata IO for the preemptible build/drain stages
  * ([[graft.build.DistRoarGraphBuilder]], [[graft.ops.KnnJoin]]).
  *
  * All probes and small metadata files (`_SUCCESS` gates, `FINGERPRINT`
  * knob guards, block `.marker` slice-identity files) resolve through the
  * session's Hadoop `FileSystem`, NOT `java.io.File`: the stage data is
  * written through Spark's Hadoop FS, so with an `hdfs://` / `s3a://`
  * checkpoint dir a local-file probe would always miss (resume silently
  * never triggers) and a local-file metadata write would throw. On a
  * plain local path the Hadoop local FS gives byte-identical behavior.
  */
private[graft] object CpIO {

  /** Version token for the numeric kernels whose outputs land in durable
    * checkpoints (the drain's distance kernel, the build's beam scoring).
    * Folded into the drain's block markers and the build's FINGERPRINT so
    * a checkpoint written under one kernel is never silently mixed with
    * stages computed under a bit-differently-associating successor — the
    * "resumed == fresh" contract must hold across code changes too. Bump
    * whenever a kernel change alters bit-level results (reassociation,
    * widening, tie-break changes).
    *
    *  - k2: 4-way-unrolled `KnnJoin.distD` (round 11; reassociates the FP
    *    sum vs the serial round-<=10 form).
    *  - k3: `KnnJoin.ivfApprox`'s query probes use the one centroid kernel
    *    (`AnnSearch.nearestCentroids`, a serial sum) instead of `distD`'s
    *    unrolled one, so a near-tie can pick another probe list.
    *
    * The graph tier's batched `VecStore.distToMany` (four rows per pass)
    * changes no bit, so it added no version: each row keeps its own
    * accumulator summed in `distTo`'s order, and its IP multiply-adds are
    * fused only because a float×float product is exact in double.
    */
  val KernelVersion = "k3"

  private def fsFor(path: String)(implicit spark: SparkSession): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  def exists(path: String)(implicit spark: SparkSession): Boolean = {
    val (fs, p) = fsFor(path)
    fs.exists(p)
  }

  def readString(path: String)(implicit spark: SparkSession): String = {
    val (fs, p) = fsFor(path)
    val in = fs.open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      new String(bytes.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  def writeString(path: String, s: String)(implicit spark: SparkSession): Unit = {
    val (fs, p) = fsFor(path)
    val out = fs.create(p, true)
    try out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Refuse to resume a checkpoint dir written under a different knob set
    * — stale stage outputs would silently corrupt the result. First use
    * under a dir records `fp`; every later use must match it exactly.
    * Corpus / query-set identity remains the CALLER's contract (encode
    * them in the dir name, as ScaleSoak does) except where a cheap
    * content token exists (the drain folds a centroid-grid hash into its
    * block markers). */
  def guardFingerprint(dir: String, fp: String)(implicit spark: SparkSession): Unit = {
    val f = s"$dir/FINGERPRINT"
    if (exists(f)) {
      val prev = readString(f).trim
      require(prev == fp,
        s"checkpoint dir $dir was written with knobs '$prev'; this run " +
          s"has '$fp' — refusing to mix stage outputs across knob sets")
    } else writeString(f, fp)
  }
}
