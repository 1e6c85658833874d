package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the `private[sql]` Column↔Expression converters so graft's
  * native Catalyst expressions (e.g. `graft.functions.MinHashSig`) can be
  * exposed through the public Column API. Spark 4 routes Column through
  * ColumnNode (the Connect refactor); `classic.ExpressionUtils` is the
  * supported classic-session conversion — this one-file subpackage is the
  * standard technique Spark extension libraries use to reach it. It also
  * reaches the `private[sql]` float normalisation `graft.core.LocalFold`
  * applies to grouping keys.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `e` with NaNs and -0.0 normalised, as Spark's hash aggregate
    * normalises a grouping key before it compares keys as bytes.
    */
  def normalizeFloats(e: Expression): Expression = NormalizeFloatingNumbers.normalize(e)
}
