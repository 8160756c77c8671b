package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `winnow_fp(text, k, w)` — the sorted distinct WINNOWED 32-bit
  * fingerprints of a document (Schleimer, Wilkerson & Aiken 2003, the
  * MOSS local document fingerprinting scheme), as `array<long>`:
  *
  *   1. all character k-grams (the [[CharShingles]] grams);
  *   2. each gram hashed to the first 4 md5 bytes big-endian — the
  *      repo-standard `hex_slice_long(md5(g), 0)` 32-bit fingerprint,
  *      bit-proven cross-engine;
  *   3. over every window of `w` consecutive gram hashes, select the
  *      minimum, taking the RIGHTMOST position on ties (the paper's
  *      robust-winnowing rule);
  *   4. the distinct selected values, unsigned-sorted.
  *
  * Guarantees (both spec-pinned): any substring match of length
  * ≥ w + k − 1 between two documents shares at least one selected
  * fingerprint (the winnowing correctness theorem), and the expected
  * density of selected positions is 2/(w+1) — the index an inverted
  * fingerprint join builds is ~2/(w+1) the size of a full gram index
  * at the same detection floor, which is the whole 100 TB argument.
  *
  * Documents with fewer than `w` grams get one window spanning all
  * their grams (shorter-than-k texts yield an empty array). A
  * monotone-deque scan keeps selection O(#grams) regardless of `w`.
  * Expression not composition for the [[FpSet]] reason: the gram
  * array, hash array and window argmins never materialize as rows —
  * no token-grain exchange, one MessageDigest across grams.
  */
case class WinnowFp(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, IntegerType, IntegerType)
        if second.foldable && second.eval() != null &&
          second.eval().asInstanceOf[Int] > 0 &&
          third.foldable && third.eval() != null &&
          third.eval().asInstanceOf[Int] > 0 =>
        TypeCheckResult.TypeCheckSuccess
      case (t1, t2, t3) => TypeCheckResult.TypeCheckFailure(
        s"winnow_fp expects (STRING, foldable positive INT k, foldable positive INT w), got ($t1, $t2, $t3)")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private lazy val k: Int = second.eval().asInstanceOf[Int]
  private lazy val w: Int = third.eval().asInstanceOf[Int]

  override def nullSafeEval(textAny: Any, kAny: Any, wAny: Any): Any = {
    val text = textAny.asInstanceOf[UTF8String]
    val n = text.numChars()
    val g = n - k + 1
    if (g <= 0) return new GenericArrayData(Array.emptyLongArray)
    // one UTF-8 walk: code-point byte offsets, then each gram hashes
    // a (start, len) slice in place — substringSQL per gram would
    // rescan from the string head (O(chars²) per document)
    val bytes = text.getBytes
    val offs = new Array[Int](n + 1)
    var b = 0
    var ci = 0
    while (ci < n) {
      offs(ci) = b
      b += UTF8String.numBytesForFirstByte(bytes(b))
      ci += 1
    }
    offs(n) = bytes.length
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = new Array[Long](g)
    var i = 0
    while (i < g) {
      md.reset()
      md.update(bytes, offs(i), offs(i + k) - offs(i))
      val d = md.digest()
      h(i) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      i += 1
    }
    // monotone deque of indices, values strictly increasing; popping
    // `>=` on insert keeps the RIGHTMOST occurrence of equal minima
    val dq = new Array[Int](g)
    var head = 0
    var tail = 0 // exclusive
    val sel = new java.util.TreeSet[java.lang.Long]()
    i = 0
    while (i < g) {
      while (tail > head && h(dq(tail - 1)) >= h(i)) tail -= 1
      dq(tail) = i; tail += 1
      // record once per full window end (or at the final gram of a
      // shorter-than-w document: its one window spans all grams)
      if (i >= w - 1 || i == g - 1) {
        val s = math.max(0, i - w + 1)
        while (dq(head) < s) head += 1
        sel.add(h(dq(head)))
      }
      i += 1
    }
    val out = new Array[Long](sel.size)
    val it = sel.iterator()
    var m = 0
    while (it.hasNext) { out(m) = it.next(); m += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): WinnowFp =
    copy(first = newFirst, second = newSecond, third = newThird)

  override def prettyName: String = "winnow_fp"
}

object WinnowFp {
  /** Column-API form. */
  def winnow_fp(text: Column, k: Int, w: Int): Column =
    column(WinnowFp(expression(text), Literal(k), Literal(w)))
}
