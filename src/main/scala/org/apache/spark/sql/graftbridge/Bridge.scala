package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ByteType, IntegerType, LongType, ShortType,
  TypeCollection}

/** Expression <-> Column bridge. Spark 4 made the Column/Expression
  * conversion utilities private[sql]; custom Catalyst expressions still
  * need them to surface as Columns, so this object lives in an
  * org.apache.spark.sql subpackage — the standard extension-library
  * pattern for planner-level integrations.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The input type of an integral key (bigint, int, smallint, tinyint)
    * for `ExpectsInputTypes`; Spark keeps TypeCollection private[sql].
    */
  val integralKey: AbstractDataType = TypeCollection(LongType, IntegerType, ShortType, ByteType)
}
