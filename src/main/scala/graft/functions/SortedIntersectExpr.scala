package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native codegen |a ∩ b| over two `array<bigint>` columns that are each
  * sorted ascending and distinct — the shingle-hash sets of the near-dup
  * verify joins ([[TextFns.shingleHashes]]). `size(array_intersect(a, b))`
  * builds a hash set and a result array for every candidate pair; this is
  * one allocation-free merge ([[TextFns.sortedIntersectSize]]). Unsorted
  * input gives a wrong count, so only sorted sets may reach it — which is
  * also why it stays engine-internal, out of the SQL registry
  * ([[GraftFunctions]]). */
private[graft] case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_size"

  override def nullSafeEval(a: Any, b: Any): Any =
    TextFns.sortedIntersectSize(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextFns.sortedIntersectSize($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectSize =
    copy(left = newLeft, right = newRight)
}

private[graft] object SortedIntersectSize {
  def apply(a: Column, b: Column): Column =
    GraftShims.column(SortedIntersectSize(GraftShims.expression(a), GraftShims.expression(b)))
}
