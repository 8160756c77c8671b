package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `word_shingles(text, k)` — all word k-grams of a whitespace-split
  * text, as `array<string>` ("a b c d", 3 → ["a b c", "b c d"]).
  *
  * Why an expression and not `transform(sequence(...), ...)`: the
  * higher-order-function form costs ~20 µs per output shingle when it
  * feeds a Generate (lambda frames re-evaluated on the fallback path),
  * which made shingling the single most expensive stage of MinHash.
  * This one-pass eval is narrow (no shuffle — the window/lead
  * alternative shuffles the whole token stream, unacceptable at
  * 100 TB) and runs once per document row; the downstream explode is
  * the native fast path. CodegenFallback is fine here — per-document,
  * not per-shingle.
  *
  * Empty tokens (double/trailing spaces) are dropped before shingling;
  * texts with fewer than k tokens yield an empty array (explode then
  * drops the document, matching the SQL-composed semantics).
  */
case class WordShingles(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, IntegerType) if right.foldable => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"word_shingles expects (STRING, foldable INT), got ($l, $r)")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  private lazy val k: Int = right.eval().asInstanceOf[Int]
  private val space = UTF8String.fromString(" ")

  override def nullSafeEval(t: Any, kAny: Any): Any = {
    val words0 = t.asInstanceOf[UTF8String].split(space, -1)
    val words = new ArrayBuffer[UTF8String](words0.length)
    words0.foreach(w => if (w.numBytes() > 0) words += w)
    val n = words.length - k + 1
    if (n <= 0) new GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](n)
      var i = 0
      while (i < n) {
        val parts = new Array[UTF8String](2 * k - 1)
        var j = 0
        while (j < k) {
          parts(2 * j) = words(i + j)
          if (j < k - 1) parts(2 * j + 1) = space
          j += 1
        }
        out(i) = UTF8String.concat(parts: _*)
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WordShingles =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "word_shingles"
}

object WordShingles {
  /** Column-API form. */
  def word_shingles(text: Column, k: Int): Column =
    column(WordShingles(expression(text), Literal(k)))
}
