package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Bridge to the `private[sql]` Column ⇄ Expression converters
  * (`org.apache.spark.sql.classic.ExpressionUtils`) for the engine's
  * custom Catalyst expressions. Lives under the spark.sql package
  * namespace solely to satisfy the access modifier; contains no logic. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `StructType.asNullable` (`private[spark]`): the schema with every
    * field, at every depth, nullable — what `from_json` returns. */
  def asNullable(s: StructType): StructType = s.asNullable

  /** Split an `.asc`/`.desc`-decorated Column into (bare key column,
    * isDescending). In the Spark 4 Column API the sort decoration is
    * a `sql.internal.SortOrder` COLUMN NODE (not a catalyst
    * expression — `expression(c)` wraps it lazily and it only
    * surfaces as an unevaluable SortOrder at codegen), so callers
    * that need the underlying key (e.g. to hash or compare it) must
    * unwrap at the node level. None for an undecorated column. */
  def sortOrderChild(c: Column): Option[(Column, Boolean)] = c.node match {
    case s: org.apache.spark.sql.internal.SortOrder =>
      Some((Column(s.child),
        s.sortDirection == org.apache.spark.sql.internal.SortOrder.Descending))
    case _ => None
  }
}
