package graft

import graft.functions.VectorFunctions.{dot, l2Norm, toDouble}
import graft.ops.NearDup
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The higher-order-function forms (`zip_with`, `aggregate`, `transform`)
  * of the native codegen expressions in `graft.functions`: the same
  * widening and the same left-fold accumulation, so `NativeExpressionSpec`
  * holds each native expression to its form bit for bit. They are also
  * what the DuckDB oracle SQL mirrors. */
object HofOracle {

  def l2Sq(a: Column, b: Column): Column =
    aggregate(zip_with(toDouble(a), toDouble(b), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  def negIp(a: Column, b: Column): Column = -dot(a, b)

  def cosineDist(a: Column, b: Column): Column = {
    val na = l2Norm(a)
    val nb = l2Norm(b)
    -(dot(a, b) / (na * nb))
  }

  /** Character-level polynomial hash mod `NearDup.HashMod`. */
  def charHash(s: Column): Column =
    aggregate(transform(split(s, ""), c => ascii(c).cast("long")),
      lit(0L), (acc, x) => (acc * NearDup.CharBase + x) % NearDup.HashMod)
}
