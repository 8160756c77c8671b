package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** `hamming64(a, b)` — popcount(a XOR b) over 64-bit signatures
  * (SimHash distance). A native Catalyst `BinaryExpression` with
  * `doGenCode`, so it stays inside whole-stage codegen (a Scala UDF
  * here would box two Longs per row and break the codegen span across
  * the hot dedup join).
  */
case class HammingDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (left.dataType == LongType && right.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"hamming64 expects (BIGINT, BIGINT), got (${left.dataType}, ${right.dataType})")
  }
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Long.bitCount(a.asInstanceOf[Long] ^ b.asInstanceOf[Long]).toLong

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = (long) java.lang.Long.bitCount($a ^ $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HammingDistance =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "hamming64"
}

object HammingDistance {
  /** Column-API form. */
  def hamming64(a: Column, b: Column): Column =
    column(HammingDistance(expression(a), expression(b)))
}
