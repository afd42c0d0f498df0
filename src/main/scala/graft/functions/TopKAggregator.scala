package graft.functions

import graft.core.Neighbor
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

/** Bounded top-k as a first-class Spark aggregate (SURVEY.md §2.8): the
  * partial/final aggregation mirror of the reference's bounded
  * NeighborPriorityQueue (include/efanna2e/neighbor.h:138-223) — partial
  * top-k per partition, top-k-of-top-ks at merge, so at most
  * numPartitions×k rows reach the final reduce regardless of input size.
  * Rows rank by the [[Neighbor]] (dist, id) order.
  *
  * Generic over the ranked row: [[Neighbor]] for plain (id, dist) top-ks,
  * [[NeighborVec]] for the distributed graph build, where the candidate's
  * vector rides along for the downstream occlusion prune. The build folds
  * with the same [[TopKAggregator.insert]] and [[TopKAggregator.merge]]
  * in `combineByKey`, so its per-key cap also keeps a node with a huge
  * fan-in (a hub) from blowing up its buffer, unlike a plain group.
  * Usable as a typed `Dataset` aggregate or registered for DataFrame/SQL
  * via `functions.udaf` ([[TopKAggregator.topK]]). */
final class TopKAggregator[T: ClassTag](k: Int, arrayEncoder: Encoder[Array[T]])(
    implicit ord: Ordering[T]) extends Aggregator[T, Array[T], Array[T]] {
  require(k > 0, s"k must be positive: $k")

  override def zero: Array[T] = Array.empty[T]

  /** Buffers stay sorted ascending and bounded by k. */
  override def reduce(buf: Array[T], n: T): Array[T] = TopKAggregator.insert(buf, n, k)

  override def merge(a: Array[T], b: Array[T]): Array[T] = TopKAggregator.merge(a, b, k)

  override def finish(r: Array[T]): Array[T] = r
  override def bufferEncoder: Encoder[Array[T]] = arrayEncoder
  override def outputEncoder: Encoder[Array[T]] = arrayEncoder
}

object TopKAggregator {
  /** `buf` (sorted ascending, at most k long) with `n` inserted, still
    * sorted and bounded by k. The reduce of the aggregate, and the
    * per-key fold of the RDD steps that keep a bounded top-k
    * (`combineByKey` in the distributed graph build). */
  def insert[T: ClassTag](buf: Array[T], n: T, k: Int)(implicit ord: Ordering[T]): Array[T] =
    if (buf.length == k && ord.lteq(buf(k - 1), n)) buf
    else {
      val out = new Array[T](math.min(buf.length + 1, k))
      var i = 0
      // position of the new element
      while (i < buf.length && ord.lt(buf(i), n)) i += 1
      System.arraycopy(buf, 0, out, 0, math.min(i, out.length))
      if (i < out.length) {
        out(i) = n
        var j = i + 1
        while (j < out.length) { out(j) = buf(j - 1); j += 1 }
      }
      out
    }

  /** Two sorted bounded buffers merged into one, bounded by k — O(k). */
  def merge[T: ClassTag](a: Array[T], b: Array[T], k: Int)(implicit ord: Ordering[T]): Array[T] = {
    val out = new Array[T](math.min(a.length + b.length, k))
    var i = 0; var j = 0; var o = 0
    while (o < out.length) {
      if (j >= b.length || (i < a.length && ord.lteq(a(i), b(j)))) {
        out(o) = a(i); i += 1
      } else { out(o) = b(j); j += 1 }
      o += 1
    }
    out
  }

  def apply(k: Int): TopKAggregator[Neighbor] = of[Neighbor](k)

  def of[T <: Product : ClassTag : TypeTag : Ordering](k: Int): TopKAggregator[T] =
    new TopKAggregator[T](k, ExpressionEncoder[Array[T]]())

  /** DataFrame-level aggregate column over struct(dist, id) input. */
  def topK(k: Int): UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(apply(k), Encoders.product[Neighbor])

}
