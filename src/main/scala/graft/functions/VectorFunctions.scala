package graft.functions

import graft.core.Metric
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level vector math, composed from Spark's codegen'd higher-order
  * functions (`zip_with`, `aggregate`, `transform`) — no UDF boxing, the
  * whole expression stays inside whole-stage codegen.
  *
  * Semantics mirror the reference's distance kernels (SURVEY.md §2.2):
  *   - `l2Sq`   = squared L2, NO sqrt (distance.h:22-90)
  *   - `negIp`  = NEGATED dot product so smaller==closer holds engine-wide
  *                (distance.h:92-226)
  *   - cosine   = L2-normalize both sides then negIp (index.cpp:14-21,
  *                util.h:214-225)
  *
  * All arithmetic is DOUBLE precision: float inputs are widened first so
  * results are bit-reproducible against a float64 oracle (DuckDB) and
  * independent of SIMD summation order (SURVEY.md §7.4 item 5).
  */
object VectorFunctions {

  /** Widen an array<float> column to array<double> (exact, no rounding). */
  def toDouble(v: Column): Column = transform(v, _.cast("double"))

  private def seqSum(terms: Column): Column =
    aggregate(terms, lit(0.0), (acc, x) => acc + x)

  /** Squared L2 distance between two array<float> columns — native codegen
    * expression. */
  def l2Sq(a: Column, b: Column): Column = DistanceExpressions.l2Sq(a, b)

  /** Dot product. */
  def dot(a: Column, b: Column): Column =
    seqSum(zip_with(toDouble(a), toDouble(b), (x, y) => x * y))

  /** Negated inner product (smaller = closer) — native codegen. */
  def negIp(a: Column, b: Column): Column = DistanceExpressions.negIp(a, b)

  /** L2 norm (with sqrt). */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** L2-normalize; zero vectors pass through unchanged (reference divides
    * unconditionally — util.h:214-225 — but its data is never zero; we guard
    * to keep the column total).
    *
    * The norm is hoisted OUT of the per-element lambda via `array_repeat`:
    * a lambda body referencing the O(dim) norm re-evaluates it per element
    * (CSE does not cross lambda boundaries), making the old
    * `transform(v, _ / n)` form O(dim²) per row. `array_repeat(n, dim)`
    * evaluates n once per row, then the zip divides element-wise —
    * bit-identical values (same x / n per position), O(dim) per row. */
  def l2Normalize(a: Column): Column = {
    val n = l2Norm(a)
    when(n === 0.0, toDouble(a))
      .otherwise(zip_with(toDouble(a), array_repeat(n, size(a)), (x, nn) => x / nn))
  }

  /** Cosine distance in the reference's convention: negated cosine
    * similarity, i.e. normalize-then-negIp. Range [-1, 1], smaller=closer.
    * Native codegen (one fused loop for dot + both norms). */
  def cosineDist(a: Column, b: Column): Column =
    DistanceExpressions.cosine(a, b)

  /** Distance column for `metric`. */
  def distByMetric(metric: Metric)(a: Column, b: Column): Column = metric match {
    case Metric.L2           => l2Sq(a, b)
    case Metric.InnerProduct => negIp(a, b)
    case Metric.Cosine       => cosineDist(a, b)
  }
}
