package graft.tools

import graft.core.Metric
import graft.ops.{AnnSearch, KnnJoin, Quantize}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** OPQ/PQ + IVF-PQ serving chain at soak scale over a [[ScaleSoak]]
  * corpus — the quantization half of the reference's 10M x 200d regime
  * (prepare_data.sh:22-28; the graph half is the ScaleSoak dist tier).
  * 200 is not a power of two, so this exercises the zero-padded Hadamard
  * rotation (Quantize.opqRotate pads to 256) end to end at millions of
  * rows, where the spec only proves it at 500.
  *
  * Measured stages, each with wall time:
  *   1. OPQ perm + PQ codebook training over a deterministic id-stride
  *      sample of the corpus (driver never sees vectors; pqTrain is the
  *      distributed k-means-per-subspace trainer);
  *   2. full-corpus rotate+permute+encode, written as the at-rest codes
  *      table (the 100 TB artifact: dim*4 bytes/row -> m bytes/row);
  *   3. ADC top-r scan over ALL codes for evalQ queries (broadcast
  *      codebook tables + bounded heaps — the brute-force byte-domain
  *      serving floor);
  *   4. exact refine of the ADC candidates over original vectors and
  *      recall@10 against exact kNN ground truth;
  *   5. IVF-PQ: raw-space coarse k-means (sample-trained), full-corpus
  *      assignment, the partitioned saveIvfPq layout, then the
  *      partition-pruned probe + ADC + refine serving path.
  *
  * Run after a ScaleSoak run has written its corpus, e.g.:
  * {{{
  * java -Xmx10g ... graft.tools.PqSoak \
  *   --base target/soak4m/base_4000000_d200_c16_n1.5 --dim 200 \
  *   --out target/soak4m/pq
  * }}}
  */
object PqSoak {

  def main(args: Array[String]): Unit = {
    val a = Tools.parseArgs(args)
    val basePath = a.getOrElse("base", "target/soak4m/base_4000000_d200_c16_n1.5")
    val dim = a.getOrElse("dim", "200").toInt
    val centers = a.getOrElse("centers", "16").toInt
    val noise = a.getOrElse("noise", "1.5").toFloat
    val evalQ = a.getOrElse("evalQ", "200").toInt
    val m = a.getOrElse("m", "16").toInt
    val kCodes = a.getOrElse("k", "256").toInt
    val iters = a.getOrElse("iters", "4").toInt
    val trainRows = a.getOrElse("trainRows", "100000").toLong
    val adcR = a.getOrElse("adcR", "4000").toInt
    val ivfK = a.getOrElse("ivfK", "512").toInt
    val nprobe = a.getOrElse("nprobe", "32").toInt
    val out = a.getOrElse("out", "target/pqsoak")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    implicit val spark: SparkSession = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", a.getOrElse("shuffle", "128"))
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/tmp")
      .config("spark.cleaner.periodicGC.interval", "60s")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def timed[T](label: String)(body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[pqsoak] $label: $sec%.1f s")
      (r, sec)
    }

    // --gen N writes a fresh ScaleSoak corpus at basePath when none exists
    // (smoke runs); soak runs point --base at an existing soak corpus
    a.get("gen").foreach { g =>
      if (!new java.io.File(s"$basePath/_SUCCESS").exists())
        ScaleSoak.corpus(spark, g.toLong, seed = 0x5EEDL, dim = dim,
          centers = centers, noise = noise)
          .write.mode("overwrite").parquet(basePath)
    }
    val base = spark.read.parquet(basePath)
    val n = base.count()
    val padDim = Quantize.hadamardDim(dim)
    println(s"[pqsoak] n=$n dim=$dim padDim=$padDim m=$m k=$kCodes threads=$cpus")

    // deterministic id-stride sample — same rows on any partitioning
    val stride = math.max(1L, n / trainRows)
    val sample = base.where(col("id") % stride === 0)

    // 1. train: permutation from the rotated sample's variances, then
    //    per-subspace codebooks on the rotated+permuted sample
    val ((perm, cb), trainSec) = timed("opq-perm + pq-train") {
      val rotSample = Quantize.opqRotate(sample, dim).cache()
      rotSample.count()
      val perm = Quantize.opqPermutation(rotSample, padDim, m)
      val cb = Quantize.pqTrain(Quantize.permute(rotSample, perm), m, kCodes, iters).cache()
      cb.count()
      rotSample.unpersist()
      (perm, cb)
    }

    // 2. full-corpus encode, written as the at-rest artifact
    val codesPath = s"$out/codes"
    val (_, encodeSec) = timed(s"rotate+permute+encode $n rows") {
      Quantize.opqEncodeKernel(base, cb, m, dim, perm)
        .write.mode("overwrite").parquet(codesPath)
    }
    val codes = spark.read.parquet(codesPath)
    val codesBytes = new java.io.File(codesPath).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum

    val eval = ScaleSoak.corpus(spark, evalQ, seed = 0xE7A1L,
      idOffset = 10_000_000L, dim = dim, centers = centers, noise = noise).cache()
    eval.count()
    val qP = Quantize.permute(Quantize.opqRotate(eval, dim), perm).cache()
    qP.count()

    // 3. brute-force ADC over all n codes
    val (cand, adcSec) = timed(s"adc top-$adcR over all codes") {
      val c = Quantize.adcTopK(qP, codes, cb, adcR).cache()
      c.count(); c
    }

    // 4. exact refine + recall vs exact GT
    val (refined, refineSec) = timed(s"refine top-10 of $adcR") {
      val r = Quantize.refineTopK(cand, eval, base, 10)
        .select(col("query_id"), transform(col("knn"), _("id")).as("ids")).cache()
      r.count(); r
    }
    val (gt, gtSec) = timed("exact GT (KnnJoin)") {
      val g = KnnJoin(eval, base, 10, Metric.L2)
        .select(col("query_id"), transform(col("knn"), _("id")).as("ids")).cache()
      g.count(); g
    }
    val recall = graft.eval.Eval.recallAtK(refined, gt, 10)
      .head().getAs[Double]("recall_at_k")

    // 5. IVF-PQ: raw-space coarse quantizer + partitioned layout + pruned probe
    val (cents, kmeansSec) = timed(s"k-means k=$ivfK over sample") {
      val c = AnnSearch.kMeans(sample.select(col("id"), col("vec")), ivfK, iters).cache()
      c.count(); c
    }
    val ivfPath = s"$out/ivfpq"
    val (_, assignSec) = timed(s"assign $n rows + save IVF-PQ layout") {
      val assigned = AnnSearch.assignToCentroidsKernel(base.select(col("id"), col("vec")), cents)
        .select(col("centroid_id"), col("id"))
        .join(codes, "id")
      Quantize.saveIvfPq(assigned, cb, ivfPath)
    }
    val (ivfRecall, ivfServeSec) = timed(s"IVF-PQ serve: probe $nprobe/$ivfK + ADC + refine") {
      val probes = AnnSearch.probeCentroids(eval, cents, nprobe)
      val c = Quantize.ivfPqTopKTable(spark, ivfPath, probes, qP, adcR)
      val r = Quantize.refineTopK(c, eval, base, 10)
        .select(col("query_id"), transform(col("knn"), _("id")).as("ids")).cache()
      r.count()
      graft.eval.Eval.recallAtK(r, gt, 10).head().getAs[Double]("recall_at_k")
    }

    println(f"""[pqsoak] {"n":$n,"dim":$dim,"m":$m,"k":$kCodes,"train_sec":$trainSec%.1f,"encode_sec":$encodeSec%.1f,"encode_rows_per_sec":${n / encodeSec}%.0f,"codes_parquet_mib":${codesBytes / (1 << 20)},"raw_mib":${n * dim * 4 / (1 << 20)},"adc_sec":$adcSec%.1f,"refine_sec":$refineSec%.1f,"gt_sec":$gtSec%.1f,"recall_at_10":$recall%.4f,"kmeans_sec":$kmeansSec%.1f,"assign_sec":$assignSec%.1f,"ivf_serve_sec":$ivfServeSec%.1f,"ivf_recall_at_10":$ivfRecall%.4f,"eval_q":$evalQ,"threads":$cpus}""")
    spark.stop()
  }
}
