package graft

import graft.core.Tables
import graft.ops.{Quantize, Sampling}
import org.apache.spark.sql.functions._

class SamplingQuantizeSpec extends SparkSpec {

  test("split: complete, disjoint, roughly 80/10/10, deterministic") {
    val docs = Tables.documents(spark, sf001)
    val s1 = Sampling.split(docs).groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s1.values.sum == 500)
    assert(s1("train") > 350 && s1("train") < 450, s1)
    assert(s1("val") > 20 && s1("val") < 90, s1)
    assert(s1("test") > 20 && s1("test") < 90, s1)
    val s2 = Sampling.split(docs)
    assert(Sampling.split(docs).exceptAll(s2).isEmpty)
  }

  test("stratified sample is a deterministic subset with every stratum kept") {
    val docs = Tables.documents(spark, sf001)
    val sample = Sampling.stratifiedSample(docs, 25)
    assert(sample.count() > 0 && sample.count() < 250)
    assert(sample.join(docs, "doc_id").count() == sample.count()) // subset
    // every language stratum survives
    assert(sample.select("lang").distinct().count() ==
      docs.select("lang").distinct().count())
  }

  test("kernel encode == relational encode (codes identical, 200-d padded chain)") {
    // pqEncodeKernel is the at-scale encode (broadcast codebook grid +
    // one mapPartitions pass); PqOracle.pqEncode is the relational form
    // the DuckDB oracle mirrors. Same double-accumulated L2, same lowest-centroid-id tie-break
    // — the code tables must be IDENTICAL, here through the full 200-d
    // rotate+permute chain (padDim 256, m 16).
    import spark.implicits._
    val dim = 200
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def unit(h: Long): Float =
      ((h >>> 11).toDouble / (1L << 53).toDouble).toFloat * 2f - 1f
    def vec(id: Long): Array[Float] = Array.tabulate(dim)(j =>
      unit(mix((id % 8) * 7919L + j)) + 0.7f * unit(mix(0xABCL ^ (id * 8191L + j))))
    val b = spark.range(300).map(i => (i, vec(i))).toDF("id", "vec").cache()
    val m = 16
    val rotB = Quantize.opqRotate(b, dim)
    val perm = Quantize.opqPermutation(rotB, Quantize.hadamardDim(dim), m)
    val bP = Quantize.permute(rotB, perm).cache()
    val cb = Quantize.pqTrain(bP, m, k = 32, iters = 2).cache()
    val rel = PqOracle.pqEncode(bP, cb, m)
      .select(col("id").cast("long").as("id"), col("codes"))
    val ker = Quantize.pqEncodeKernel(bP, cb, m)
    assert(ker.count() == 300)
    assert(ker.exceptAll(rel).isEmpty && rel.exceptAll(ker).isEmpty,
      "kernel and relational PQ codes differ")
  }

  test("PQ kernels fail by name on mismatched vector dimensions " +
       "(encode, ADC, IVF-ADC; rows shorter and longer)") {
    import spark.implicits._
    val m = 4 // 4 subspaces x 2-d centroids: vectors must be 8 floats
    val cb = (for (s <- 0 until m; c <- 0 until 2)
      yield (s, c, Array(c.toFloat, s.toFloat))).toDF("subspace", "centroid_id", "vec")
    def vecs(dim: Int) = Seq((1L, Array.fill(dim)(0.5f)), (2L, Array.fill(dim)(1f)))
      .toDF("id", "vec")
    val codes = Seq((1L, Array(0, 1, 0, 1)), (2L, Array(1, 1, 0, 0))).toDF("id", "codes")
    val assigned = codes.withColumn("centroid_id", lit(3))
    val probes = Seq((1L, 3), (2L, 3)).toDF("query_id", "centroid_id")
    assert(Quantize.pqEncodeKernel(vecs(8), cb, m).collect().length == 2)
    assert(Quantize.adcTopK(vecs(8), codes, cb, 1).collect().length == 2)
    for (dim <- Seq(7, 9)) {
      val want = s"PQ: vector dimension mismatch ($dim vs 8)"
      assert(namedError(Quantize.pqEncodeKernel(vecs(dim), cb, m).collect()) == want)
      assert(namedError(Quantize.adcTopK(vecs(dim), codes, cb, 1).collect()) == want)
      assert(namedError(Quantize.ivfAdcTopKKernel(probes, vecs(dim), assigned, cb, 1)
        .collect()) == want)
    }
  }

  test("ADC top-k ids == exact kNN over PQ reconstructions") {
    import graft.core.Metric
    import graft.ops.{KnnJoin, Quantize}
    val emb = graft.core.Tables.vectors(spark, sf0001)
    val q = emb.filter(col("id") < 20)
    val b = emb.filter(col("id") >= 20)
    val cb = Quantize.pqTrain(b, m = 8, k = 32, iters = 2)
    val codes = PqOracle.pqEncode(b, cb, m = 8)
    val adc = KnnJoin.explodeRanks(Quantize.adcTopK(q, codes, cb, 10))
      .select("query_id", "rank", "base_id")
    val rec = PqOracle.pqReconstruct(codes, cb)
    val viaRec = KnnJoin.explodeRanks(KnnJoin(q, rec, 10, Metric.L2))
      .select("query_id", "rank", "base_id")
    // ADC distance ≡ distance to the reconstruction (per-subspace sums);
    // identical neighbor ids in identical order
    assert(adc.exceptAll(viaRec).isEmpty && viaRec.exceptAll(adc).isEmpty,
      "ADC ranking diverges from reconstruction search")
  }

  test("OPQ rotation is orthogonal: pairwise L2 distances preserved") {
    import graft.functions.VectorFunctions
    val emb = Tables.vectors(spark, sf0001).limit(50).cache()
    val rot = Quantize.opqRotate(emb, 64)
    val orig = emb.select(col("id").as("a"), col("vec").as("va"))
      .crossJoin(emb.select(col("id").as("b"), col("vec").as("vb")))
      .select(col("a"), col("b"), VectorFunctions.l2Sq(col("va"), col("vb")).as("d0"))
    val rotd = rot.select(col("id").as("a"), col("vec").as("va"))
      .crossJoin(rot.select(col("id").as("b"), col("vec").as("vb")))
      .select(col("a"), col("b"), VectorFunctions.l2Sq(col("va"), col("vb")).as("d1"))
    val worst = orig.join(rotd, Seq("a", "b"))
      .select(max(abs(col("d0") - col("d1")))).collect().head.getDouble(0)
    assert(worst < 1e-3, s"rotation distorts distances by $worst")
  }

  test("OPQ permutation is a valid, deterministic, variance-balancing perm") {
    val emb = Tables.vectors(spark, sf0001)
    val rot = Quantize.opqRotate(emb, 64)
    val p1 = Quantize.opqPermutation(rot, 64, 16)
    val p2 = Quantize.opqPermutation(rot, 64, 16)
    assert(p1.sorted.sameElements(0 until 64), "not a permutation")
    assert(p1.sameElements(p2), "permutation not deterministic")
    // permuting then un-permuting is the identity on the vectors
    val perm = Quantize.permute(rot, p1)
    val inv = Array.ofDim[Int](64)
    p1.zipWithIndex.foreach { case (oldPos, newPos) => inv(oldPos) = newPos }
    val back = Quantize.permute(perm, inv)
    val diff = rot.select(col("id"), col("vec").as("v0"))
      .join(back.select(col("id"), col("vec").as("v1")), "id")
      .filter(col("v0") =!= col("v1")).count()
    assert(diff == 0, s"$diff rows fail the permute round-trip")
  }

  test("fused opqRotatePermuted == permute(opqRotate) bit-for-bit (64-d and padded 200-d)") {
    val emb = Tables.vectors(spark, sf0001)
    // 64-d (power-of-two) and 100-d (zero-padded to 128) paths
    Seq(64 -> emb, 100 -> emb.select(col("id"),
      slice(col("vec"), 1, 36).as("s36"), col("vec"))
      .select(col("id"), concat(col("vec"), col("s36")).as("vec"))).foreach {
      case (dim, v) =>
        val pad = Quantize.hadamardDim(dim)
        val rot = Quantize.opqRotate(v, dim)
        val perm = Quantize.opqPermutation(rot, pad, 4)
        val staged = Quantize.permute(rot, perm)
          .select(col("id"), col("vec").as("v0"))
        val fused = Quantize.opqRotatePermuted(v, dim, perm)
          .select(col("id"), col("vec").as("v1"))
        val diff = staged.join(fused, "id")
          .filter(col("v0") =!= col("v1")).count()
        assert(diff == 0, s"dim $dim: $diff rows differ between staged and fused")
    }
  }

  test("refine stage recovers exact top-k once the ADC candidate set is wide") {
    import graft.core.Metric
    import graft.ops.KnnJoin
    val emb = Tables.vectors(spark, sf0001)
    val q = emb.filter(col("id") < 20)
    val b = emb.filter(col("id") >= 20).cache()
    val n = b.count().toInt
    val cb = Quantize.pqTrain(b, m = 8, k = 32, iters = 2)
    val codes = PqOracle.pqEncode(b, cb, m = 8)
    // R = n: every base row is a candidate, so refine == exact kNN
    val cand = Quantize.adcTopK(q, codes, cb, n)
    val refined = Quantize.refineTopK(cand, q, b, 10)
      .select(col("query_id"), transform(col("knn"), _("id")).as("ids"))
    val exact = KnnJoin(q, b, 10, Metric.L2)
      .select(col("query_id"), transform(col("knn"), _("id")).as("ids"))
    assert(refined.exceptAll(exact).isEmpty && exact.exceptAll(refined).isEmpty,
      "refine with full candidate set diverges from exact kNN")
  }

  test("OPQ chain on 200-d vectors (zero-padded Hadamard): refine recall >= 0.9") {
    // the reference's primary dataset is 200-d (prepare_data.sh:22-28);
    // the Hadamard requires a power-of-two size, so opqRotate zero-pads
    // to 256 — orthogonal on the padded space, distances preserved. The
    // FULL chain (rotate → permute → train → encode → ADC → exact refine
    // over the ORIGINAL 200-d vectors) must reach production recall.
    import graft.core.Metric
    import graft.ops.KnnJoin
    import spark.implicits._
    val dim = 200
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def unit(h: Long): Float =
      ((h >>> 11).toDouble / (1L << 53).toDouble).toFloat * 2f - 1f
    def vec(id: Long, seed: Long): Array[Float] = {
      val c = id % 8
      Array.tabulate(dim)(j =>
        unit(mix(c * 7919L + j)) + 0.7f * unit(mix(seed ^ (id * 8191L + j))))
    }
    val b = spark.range(500).map(i => (i + 100L, vec(i, 0xB0L))).toDF("id", "vec").cache()
    val q = spark.range(20).map(i => (i, vec(i, 0x90L))).toDF("id", "vec").cache()

    val padDim = Quantize.hadamardDim(dim)
    assert(padDim == 256)
    val m = 16
    val rotB = Quantize.opqRotate(b, dim)
    assert(rotB.select(size(col("vec"))).head().getInt(0) == padDim)
    val perm = Quantize.opqPermutation(rotB, padDim, m)
    assert(perm.sorted.sameElements(0 until padDim), "not a permutation")
    val bP = Quantize.permute(rotB, perm).cache()
    val qP = Quantize.permute(Quantize.opqRotate(q, dim), perm).cache()
    val cb = Quantize.pqTrain(bP, m, k = 32, iters = 1)
    val codes = PqOracle.pqEncode(bP, cb, m)
    val cand = Quantize.adcTopK(qP, codes, cb, 50)
    val refined = Quantize.refineTopK(cand, q, b, 10)
      .select(col("query_id"), transform(col("knn"), _("id")).as("ids"))
    val gt = KnnJoin(q, b, 10, Metric.L2)
      .select(col("query_id"), transform(col("knn"), _("id")).as("ids"))
    val recall = graft.eval.Eval.recallAtK(refined, gt, 10)
      .collect().head.getAs[Double]("recall_at_k")
    assert(recall >= 0.9, s"200-d padded OPQ chain recall@10 = $recall")
  }

  test("sq8 round-trip error bounded by half a quantization step per dim") {
    val vecs = Tables.vectors(spark, sf0001).select("id", "vec")
    val bounds = Quantize.sq8Bounds(vecs)
    val codes = Sq8Oracle.encode(vecs, bounds)
    val loHi = bounds
      .agg(sort_array(collect_list(struct(col("pos"), col("lo"), col("hi")))).as("b"))
      .select(transform(col("b"), _("lo")).as("lo"),
        transform(col("b"), _("hi")).as("hi"))
    val maxStep = bounds.select(max((col("hi") - col("lo")) / 255.0))
      .collect().head.getDouble(0)
    val worst = codes.crossJoin(broadcast(loHi))
      .select(col("id"),
        Sq8Oracle.decode(col("codes"), col("lo"), col("hi")).as("dec"))
      .join(vecs, "id")
      .select(aggregate(
        zip_with(col("dec"), col("vec"), (d, x) => abs(d - x.cast("double"))),
        lit(0.0), (a, x) => greatest(a, x)).as("maxerr"))
      .agg(max("maxerr")).collect().head.getDouble(0)
    assert(worst <= maxStep / 2 + 1e-9, s"worst error $worst > ${maxStep / 2}")
  }

  test("fused sq8EncodeDecode == staged decode(encode) bit-for-bit") {
    val vecs = Tables.vectors(spark, sf001).select("id", "vec")
    val bounds = Quantize.sq8Bounds(vecs)
    val loHi = bounds
      .agg(sort_array(collect_list(struct(col("pos"), col("lo"), col("hi")))).as("b"))
      .select(transform(col("b"), _("lo")).as("lo"),
        transform(col("b"), _("hi")).as("hi"))
    val staged = Sq8Oracle.encode(vecs, bounds).crossJoin(broadcast(loHi))
      .select(col("id"),
        transform(Sq8Oracle.decode(col("codes"), col("lo"), col("hi")),
          _.cast("float")).as("vec"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
    val fused = Quantize.sq8EncodeDecode(vecs, Quantize.sq8Bounds(vecs))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
    // bit-level float equality (== on Float is exact here: both paths run
    // the identical double op chain before one float cast)
    assert(fused.toSeq == staged.toSeq,
      "fused sq8 round trip diverged from the staged form")
  }
}
