package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `merge_pair(syms, l, r)` — ONE greedy left-to-right
  * non-overlapping BPE merge over an `array<string>` symbol sequence:
  * every adjacent (l, r) becomes the single symbol l||r, scanning
  * left to right with the merged symbol immediately re-eligible as a
  * LEFT for the next comparison (["a","a","a"] with l=r="a" →
  * ["aa","a"], and the "aa" then only re-merges if l="aa").
  *
  * Exists for the same reason as [[CharShingles]]: the equivalent
  * `aggregate(syms, …, (acc, s) -> CASE …)` higher-order form
  * allocates a lambda frame and rebuilds the accumulator array PER
  * ELEMENT — O(|word|²) allocations per application, paid once per
  * distinct word per learned rank in BPE training. This eval is one
  * forward scan with one output buffer. Merge pair operands are
  * foldable literals (the learned merge table is model-small and
  * constant-folded into the plan, never joined).
  */
case class MergePair(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(StringType, _), StringType, StringType)
        if second.foldable && third.foldable &&
          second.eval() != null && third.eval() != null =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"merge_pair expects (ARRAY<STRING>, foldable STRING, foldable STRING), got ($a, $b, $c)")
    }

  // containsNull tracks the INPUT array's: null elements pass through
  // unmatched (below), so the output can hold one iff the input can —
  // claiming containsNull=false over a nullable input would let the
  // optimizer miscompile downstream null checks
  override def dataType: DataType = first.dataType match {
    case ArrayType(_, cn) => ArrayType(StringType, containsNull = cn)
    case _ => ArrayType(StringType, containsNull = false)
  }

  private lazy val l: UTF8String = second.eval().asInstanceOf[UTF8String]
  private lazy val r: UTF8String = third.eval().asInstanceOf[UTF8String]
  private lazy val lr: UTF8String = UTF8String.concat(l, r)

  override def nullSafeEval(symsAny: Any, lAny: Any, rAny: Any): Any = {
    val arr = symsAny.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[AnyRef](n)
    var m = 0
    var i = 0
    while (i < n) {
      // a null ELEMENT (SQL callers can hand array('a', NULL)) is a
      // non-matching pass-through — it never equals l or r and breaks
      // any straddle, exactly like an unrelated symbol
      val cur = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      if (cur != null && m > 0 && cur.equals(r) && l.equals(out(m - 1))) {
        out(m - 1) = lr
      } else {
        out(m) = cur
        m += 1
      }
      i += 1
    }
    new GenericArrayData(
      if (m == n) out else java.util.Arrays.copyOf(out, m))
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): MergePair =
    copy(first = newFirst, second = newSecond, third = newThird)

  override def prettyName: String = "merge_pair"
}

object MergePair {
  /** Column-API form. */
  def merge_pair(syms: Column, l: String, r: String): Column =
    column(MergePair(expression(syms), Literal(l), Literal(r)))
}
