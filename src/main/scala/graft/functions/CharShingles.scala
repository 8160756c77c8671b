package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `char_shingles(text, k)` — all character k-grams as
  * `array<string>` ("abcd", 3 → ["abc", "bcd"]).
  *
  * The character-level sibling of [[WordShingles]], and an expression
  * for the same reason: the `transform(sequence(...), i ->
  * substring(...))` higher-order form re-evaluates lambda frames per
  * output gram when feeding a Generate — this one-pass eval runs once
  * per document row, narrow (no shuffle). Character positions are
  * UTF-8 code points (`UTF8String.substringSQL`), so multi-byte text
  * shingles by character, not byte. Texts shorter than k characters
  * yield an empty array (explode drops them, matching the SQL-composed
  * semantics).
  */
case class CharShingles(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    // k must be a foldable positive int: the SQL surface accepts
    // arbitrary literals (incl. NULL, which coerces to 0), and k ≤ 0
    // would emit numChars+1 empty grams — every doc Jaccard-identical
    case (StringType, IntegerType) if right.foldable &&
      right.eval() != null && right.eval().asInstanceOf[Int] > 0 =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"char_shingles expects (STRING, foldable positive INT), got ($l, $r)")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  private lazy val k: Int = right.eval().asInstanceOf[Int]

  override def nullSafeEval(t: Any, kAny: Any): Any = {
    val s = t.asInstanceOf[UTF8String]
    val nChars = s.numChars()
    val n = nChars - k + 1
    if (n <= 0) new GenericArrayData(Array.empty[Any])
    else {
      // one forward scan over the bytes records every code-point
      // boundary; grams are then direct byte slices. (substringSQL per
      // gram re-scans from byte 0 each call — O(L²) per document, the
      // exact regression this expression exists to avoid.)
      val bytes = s.getBytes
      val bounds = new Array[Int](nChars + 1)
      var off = 0
      var ci = 0
      while (ci < nChars) {
        bounds(ci) = off
        off += UTF8String.numBytesForFirstByte(bytes(off))
        ci += 1
      }
      bounds(nChars) = bytes.length
      val out = new Array[Any](n)
      var i = 0
      while (i < n) {
        out(i) = UTF8String.fromBytes(bytes, bounds(i), bounds(i + k) - bounds(i))
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CharShingles =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "char_shingles"
}

object CharShingles {
  /** Column-API form. */
  def char_shingles(text: Column, k: Int): Column =
    column(CharShingles(expression(text), Literal(k)))
}
