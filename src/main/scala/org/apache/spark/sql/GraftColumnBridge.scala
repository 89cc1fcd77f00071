package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers

/** Column ↔ catalyst Expression bridge.
  *
  * Spark 4 gates `ExpressionUtils.column/expression` and
  * `NormalizeFloatingNumbers.normalize` behind private[sql]; libraries
  * that ship custom Catalyst expressions conventionally expose them
  * through a small shim in the sql package. graft's native expressions
  * (`graft.functions`, the text and dedup kernels) and the dialect's
  * embedded-code UDFs build their Columns here, and
  * `graft.plans.TopKRewriteRule` normalizes its group keys here.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Spark's grouping-key normalization (-0.0 → 0.0, one NaN bit pattern)
    * for float/double expressions; others are returned unchanged. */
  def normalizeFloats(e: Expression): Expression =
    NormalizeFloatingNumbers.normalize(e)
}
