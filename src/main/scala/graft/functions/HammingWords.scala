package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `hamming_words(a, b)` — Hamming distance between two bit-packed
  * `array<long>` codes: Σᵢ popcount(aᵢ xor bᵢ), in a tight primitive
  * loop inside whole-stage codegen.
  *
  * The array sibling of [[HammingDistance]] (single long), built for
  * binary-quantized ANN serving where a d-dim vector packs into
  * ⌈d/32⌉ sign-bit words: the scoring join's entire inner loop is
  * this expression, and the composable form (`aggregate(zip_with(a,
  * b, bit_count ∘ xor), ...)`) is a CodegenFallback lambda chain —
  * the exact regression [[VectorDot]] exists to avoid. Null if
  * either side is null; arrays of unequal length compare over the
  * common prefix (callers pack both sides with the same thresholds,
  * so lengths agree by construction).
  */
case class HammingWords(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"hamming_words expects (array<long>, array<long>), got ($l, $r)")
  }
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { acc += java.lang.Long.bitCount(x.getLong(i) ^ y.getLong(i)); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += java.lang.Long.bitCount($a.getLong($i) ^ $b.getLong($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HammingWords =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "hamming_words"
}

object HammingWords {
  /** Column-API form. */
  def hamming_words(a: Column, b: Column): Column =
    column(HammingWords(expression(a), expression(b)))
}
