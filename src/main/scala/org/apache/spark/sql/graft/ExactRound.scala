package org.apache.spark.sql.graft

import graft.functions.GraftRoundOps
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, Literal, Round, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.types.{AbstractDataType, DoubleType, IntegerType, NumericType}

/** `round(child, scale)` whose plan-time replacement depends on the
  * resolved input type (unknown when the column is built): a `StaticInvoke`
  * of [[GraftRoundOps.roundHalfUp]] for doubles, Spark's `Round` otherwise.
  * Input coercion follows `Round`'s (numeric, integer scale), and the
  * result is always nullable, as `Round`'s is: a non-nullable key would
  * change the written Parquet schema (REQUIRED instead of OPTIONAL).
  * Lives here because `Round`'s input types (`NumericType` as an
  * `AbstractDataType`) are `private[sql]`. */
case class ExactRound(child: Expression, scale: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes with BinaryLike[Expression] {

  override def left: Expression = child
  override def right: Expression = scale
  override def inputTypes: Seq[AbstractDataType] = Seq(NumericType, IntegerType)
  override def prettyName: String = "round"

  override lazy val replacement: Expression = (child.dataType, scale) match {
    case (DoubleType, Literal(s: Int, IntegerType)) if GraftRoundOps.exactScale(s) =>
      StaticInvoke(GraftRoundOps.getClass, DoubleType, "roundHalfUp", Seq(child, scale),
        propagateNull = true, returnNullable = true)
    case _ => Round(child, scale)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ExactRound =
    copy(child = newLeft, scale = newRight)
}
