package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal visibility bridge: Column ⇄ catalyst Expression conversion is
  * `private[sql]` in Spark 4's classic API, and the custom native
  * expressions (graft.functions: DistanceExpressions, MatVecRotate,
  * CharPolyHash) need exactly these calls. No behavior — pure
  * forwarding. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
