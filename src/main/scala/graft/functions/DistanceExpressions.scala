package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst distance expressions (SURVEY.md §7.3): the hot inner
  * kernels of the scored cross joins (kNN window path, ANN bucket scoring,
  * embedding near-dup) as codegen'd `BinaryExpression`s — one fused loop
  * over the two float arrays inside whole-stage codegen, no per-element
  * boxing and no intermediate zipped array, which is what the equivalent
  * `zip_with`+`aggregate` higher-order-function chain allocates per row.
  *
  * This is the JVM analogue of the reference's SIMD kernels
  * (include/efanna2e/distance.h:22-226): C2 auto-vectorizes the simple
  * float loop. Semantics are bit-identical to VectorFunctions' HOF forms —
  * float inputs widened to double, sequential left-to-right accumulation —
  * so DuckDB oracle hashes are unchanged when swapping implementations.
  */
abstract class DistanceExpression extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    DistanceExpression.checkFloatArrays(prettyName, left, right)
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  /** Per-element-pair loop body + final value, over `(s, a, b, n, i)`. */
  protected def loopBody(a: String, b: String): String
  protected def finish(s: String): String = s

  protected def evalArrays(x: ArrayData, y: ArrayData): Double

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    DistanceExpression.requireSameDim(prettyName, x.numElements(), y.numElements())
    evalArrays(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |${DistanceExpression.genRequireSameDim(prettyName, n, s"$b.numElements()")}
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${loopBody(s"((double) $a.getFloat($i))", s"((double) $b.getFloat($i))")
              .replace("$s", s).replace("$i", i)}
         |}
         |${ev.value} = ${finish(s)};
         |""".stripMargin
    })
}

/** Squared L2 (no sqrt — reference DistanceL2, distance.h:22-90). */
case class L2SqDistance(left: Expression, right: Expression)
    extends DistanceExpression {
  override def prettyName: String = "graft_l2sq"
  protected def loopBody(a: String, b: String): String =
    s"double d = $a - $b; $$s += d * d;"
  protected def evalArrays(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = x.getFloat(i).toDouble - y.getFloat(i)
      s += d * d
      i += 1
    }
    s
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Negated inner product (reference DistanceInnerProduct, distance.h:92-226:
  * smaller = closer engine-wide). */
case class NegIpDistance(left: Expression, right: Expression)
    extends DistanceExpression {
  override def prettyName: String = "graft_negip"
  protected def loopBody(a: String, b: String): String =
    s"$$s += $a * $b;"
  override protected def finish(s: String): String = s"-$s"
  protected def evalArrays(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i); i += 1 }
    -s
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Negated cosine similarity: one fused loop computes dot and both norms —
  * same arithmetic shape as VectorFunctions.cosineDist
  * (-(dot / (sqrt(na2) * sqrt(nb2)))) so results are bit-identical. */
case class CosineDistance(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "graft_cosine"
  override def checkInputDataTypes(): TypeCheckResult =
    DistanceExpression.checkFloatArrays(prettyName, left, right)
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    DistanceExpression.requireSameDim(prettyName, n, y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xa = x.getFloat(i).toDouble
      val yb = y.getFloat(i).toDouble
      dot += xa * yb; na += xa * xa; nb += yb * yb
      i += 1
    }
    -(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      s"""
         |int $n = $a.numElements();
         |${DistanceExpression.genRequireSameDim(prettyName, n, s"$b.numElements()")}
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double xa = (double) $a.getFloat($i);
         |  double yb = (double) $b.getFloat($i);
         |  $dot += xa * yb; $na += xa * xa; $nb += yb * yb;
         |}
         |${ev.value} = -($dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb)));
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object DistanceExpression {
  /** Both vectors of one row must have the same length: the loops run to
    * the left one's length and would otherwise read past a shorter right
    * one and return a silently wrong distance. */
  def requireSameDim(name: String, n: Int, m: Int): Unit =
    if (n != m) throw new IllegalArgumentException(
      s"$name: vector dimension mismatch ($n vs $m)")

  /** [[requireSameDim]] as a generated-code statement. */
  private[functions] def genRequireSameDim(name: String, n: String, m: String): String =
    s"graft.functions.DistanceExpression.requireSameDim(\"$name\", $n, $m);"

  private[functions] def checkFloatArrays(name: String, left: Expression,
                                          right: Expression): TypeCheckResult = {
    val ok = ArrayType(FloatType)
    def fits(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (fits(left.dataType) && fits(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects two $ok inputs, got ${left.dataType} and ${right.dataType}")
  }
}

/** Column-API surface for the native expressions. */
object DistanceExpressions {
  private def c(e: Expression): Column = Bridge.column(e)
  private def e(col: Column): Expression = Bridge.expression(col)

  def l2Sq(a: Column, b: Column): Column = c(L2SqDistance(e(a), e(b)))
  def negIp(a: Column, b: Column): Column = c(NegIpDistance(e(a), e(b)))
  def cosine(a: Column, b: Column): Column = c(CosineDistance(e(a), e(b)))
}
