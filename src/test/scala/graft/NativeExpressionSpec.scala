package graft

import graft.core.Tables
import graft.functions.VectorFunctions
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The native codegen distance expressions must be bit-identical to their
  * higher-order-function equivalents (same widening, same accumulation
  * order) and must actually run inside whole-stage codegen. */
class NativeExpressionSpec extends SparkSpec {

  private def pairs = {
    val e = Tables.vectors(spark, sf0001)
    val a = e.select(col("id").as("ia"), col("vec").as("va"))
    val b = e.select(col("id").as("ib"), col("vec").as("vb"))
    a.join(b, col("ib") === col("ia") + 7)
  }

  test("native l2/ip/cosine match HOF forms bit-exactly") {
    val df = pairs.select(
      VectorFunctions.l2Sq(col("va"), col("vb")).as("n_l2"),
      VectorFunctions.hofL2Sq(col("va"), col("vb")).as("h_l2"),
      VectorFunctions.negIp(col("va"), col("vb")).as("n_ip"),
      VectorFunctions.hofNegIp(col("va"), col("vb")).as("h_ip"),
      VectorFunctions.cosineDist(col("va"), col("vb")).as("n_cos"),
      VectorFunctions.hofCosineDist(col("va"), col("vb")).as("h_cos"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), "l2 mismatch")
      assert(r.getDouble(2) == r.getDouble(3), "ip mismatch")
      assert(r.getDouble(4) == r.getDouble(5), "cosine mismatch")
    }
  }

  test("native expressions stay inside whole-stage codegen") {
    val df = pairs.select(VectorFunctions.l2Sq(col("va"), col("vb")).as("d"))
    df.collect() // materialize so AQE reports the final executed plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_l2sq"), s"expression missing from plan:\n$plan")
    // `*(n)` prefixes mark operators fused into a WholeStageCodegen stage
    assert(plan.linesIterator.exists(l =>
      l.contains("graft_l2sq") && l.contains("*(")),
      s"distance projection not inside a codegen stage:\n$plan")
  }

  test("native charHash matches the HOF form on real and adversarial text") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001).select(col("text"))
      .unionByName(Seq("", " ", "a", "ab cd", "héllo wörld", "𝄞 clef",
        "tab\tand\nnewline", "ünïcødé mix 字").toDF("text"))
    val df = docs.select(
      graft.ops.NearDup.charHash(col("text")).as("n"),
      graft.ops.NearDup.hofCharHash(col("text")).as("h"))
    val rows = df.collect()
    assert(rows.length > 500)
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1),
      s"charHash mismatch: ${r.getLong(0)} != ${r.getLong(1)}"))
    // and per-token hashing (the simhash/shingle call shape) agrees too
    val tok = Tables.documents(spark, sf0001)
      .select(explode(split(col("text"), " ")).as("t"))
      .select(graft.ops.NearDup.charHash(col("t")).as("n"),
        graft.ops.NearDup.hofCharHash(col("t")).as("h"))
      .filter(col("n") =!= col("h"))
    assert(tok.isEmpty, "token-level charHash mismatch")
  }

  test("interpreted eval path (nullSafeEval) agrees with codegen") {
    import graft.functions.L2SqDistance
    import org.apache.spark.sql.catalyst.util.ArrayData
    val x = ArrayData.toArrayData(Array(1.0f, 2.0f, 3.0f))
    val y = ArrayData.toArrayData(Array(1.5f, 0.0f, -1.0f))
    val e = L2SqDistance(null, null)
    val d = e.nullSafeEval(x, y).asInstanceOf[Double]
    assert(math.abs(d - (0.25 + 4.0 + 16.0)) < 1e-12)
  }

  test("mismatched vector dimensions fail by name, codegen on and off") {
    // computed (not literal) arrays, so no constant folding evaluates the
    // expression at planning time: the row reaches the compiled or the
    // interpreted operator
    val x = col("id").cast("float")
    val rows = spark.range(1).select(array(x, x, x, x).as("a"),
      array((col("id") + 1).cast("float")).as("b"))
    def cause(t: Throwable): Option[IllegalArgumentException] = t match {
      case null => None
      case e: IllegalArgumentException => Some(e)
      case e => cause(e.getCause)
    }
    for ((wholeStage, factory) <- Seq(("true", "CODEGEN_ONLY"), ("false", "NO_CODEGEN"));
         (name, f) <- Seq[(String, (Column, Column) => Column)](
           "graft_l2sq" -> VectorFunctions.l2Sq, "graft_negip" -> VectorFunctions.negIp,
           "graft_cosine" -> VectorFunctions.cosineDist)) {
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      spark.conf.set("spark.sql.codegen.factoryMode", factory)
      try {
        val e = intercept[Exception](rows.select(f(col("a"), col("b"))).collect())
        assert(cause(e).exists(_.getMessage.contains(
          s"$name: vector dimension mismatch (4 vs 1)")),
          s"$name (wholeStage=$wholeStage, $factory): $e")
      } finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("native mat-rotate matches the HOF formulation bit-exactly and stays codegen'd") {
    // the HOF form MatVecRotate replaced (Quantize.opqRotate pre-r6):
    // per output dim, zip_with(matRow, vec) termwise h * (double)x, then
    // a left-fold sum from 0.0, * scale, cast float
    val dim = 64
    val scale = 1.0 / math.sqrt(dim.toDouble)
    val mat: IndexedSeq[Double] = for { i <- 0 until dim; j <- 0 until dim }
      yield {
        val h = if (java.lang.Integer.bitCount(i & j) % 2 == 0) 1.0 else -1.0
        val s = if (java.lang.Long.bitCount((j.toLong * 2654435761L) & 0xffffL) % 2 == 0) 1.0 else -1.0
        h * s
      }
    val matLit = typedLit((0 until dim).map(i => (0 until dim).map(j => mat(i * dim + j))))
    val hof = transform(sequence(lit(0), lit(dim - 1)), i =>
      (aggregate(
        zip_with(element_at(matLit, i + 1), col("vec"),
          (h, x) => h * x.cast("double")),
        lit(0.0), (acc, t) => acc + t)
        * lit(scale)).cast("float"))
    val df = Tables.vectors(spark, sf0001).select(
      graft.functions.MatVecRotate.rotate(col("vec"), mat, dim, scale).as("n"),
      hof.as("h"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getSeq[Float](0)
      val h = r.getSeq[Float](1)
      assert(n == h, s"rotate mismatch: $n vs $h")
    }
    // plan check on a native-only projection: the HOF comparison column
    // above is CodegenFallback and would push the whole Project out of
    // codegen regardless of the native expression
    val dfN = Tables.vectors(spark, sf0001).select(
      graft.functions.MatVecRotate.rotate(col("vec"), mat, dim, scale).as("n"))
    dfN.collect()
    val plan = dfN.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("graft_mat_rotate") && l.contains("*(")),
      s"mat-rotate not inside a codegen stage:\n$plan")
  }
}
