package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `token_counts(array<string>)` — the multiset (bag) of an array as
  * `array<struct<token:string, cnt:bigint>>`, SORTED by token in
  * binary (UTF-8 byte) order.
  *
  * An expression for the same reason as [[CharShingles]]: counting
  * multiplicities with builtins either shuffles at token grain
  * (explode + groupBy(doc, token) — an extra exchange per corpus
  * pass) or rebuilds a map per element (`aggregate` + `map_concat` —
  * O(n²) copies per row). This one-pass sort + run-length encode is
  * O(n log n) per row, narrow, and its sorted output is what
  * [[BagOverlap]]'s merge scan requires. Null elements are skipped
  * (graft's tokenizers never emit them). */
case class TokenCounts(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"token_counts expects ARRAY<STRING>, got $t")
  }

  override def dataType: DataType = BagFunctions.bagType

  override def nullSafeEval(arr: Any): Any = {
    val a = arr.asInstanceOf[ArrayData]
    val n = a.numElements()
    val toks = new java.util.ArrayList[UTF8String](n)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) toks.add(a.getUTF8String(i))
      i += 1
    }
    val t = toks.toArray(new Array[UTF8String](toks.size()))
    java.util.Arrays.sort(t, (x: UTF8String, y: UTF8String) => x.binaryCompare(y))
    val out = new java.util.ArrayList[Any](t.length)
    var s = 0
    while (s < t.length) {
      var e = s + 1
      while (e < t.length && t(e).binaryEquals(t(s))) e += 1
      out.add(new GenericInternalRow(Array[Any](t(s), (e - s).toLong)))
      s = e
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): TokenCounts =
    copy(child = newChild)

  override def prettyName: String = "token_counts"
}

/** `bag_overlap(a, b)` — Σ_t min(a_t, b_t) over two [[TokenCounts]]
  * bags as BIGINT: the weighted-intersection mass of the generalized
  * (multiset) Jaccard J_w = Σmin / Σmax, with Σmax recoverable as
  * |A| + |B| − Σmin from the raw token totals.
  *
  * Both inputs MUST be token-sorted (as `token_counts` emits them):
  * the two-pointer merge is one O(|A|+|B|) pass with zero
  * allocation — the per-pair hot path of weighted near-dedup
  * verification, where a higher-order `map_zip_with` form would
  * allocate a merged map per candidate pair. */
case class BagOverlap(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (l: ArrayType, r: ArrayType)
        if BagFunctions.isBagType(l) && BagFunctions.isBagType(r) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"bag_overlap expects two token_counts bags " +
          s"(ARRAY<STRUCT<token:STRING, cnt:BIGINT>>), got ($l, $r)")
    }

  override def dataType: DataType = LongType

  override def nullSafeEval(la: Any, ra: Any): Any = {
    val a = la.asInstanceOf[ArrayData]
    val b = ra.asInstanceOf[ArrayData]
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var sum = 0L
    while (i < na && j < nb) {
      val ra0 = a.getStruct(i, 2)
      val rb0 = b.getStruct(j, 2)
      val cmp = ra0.getUTF8String(0).binaryCompare(rb0.getUTF8String(0))
      if (cmp == 0) {
        sum += math.min(ra0.getLong(1), rb0.getLong(1))
        i += 1; j += 1
      } else if (cmp < 0) i += 1
      else j += 1
    }
    sum
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BagOverlap =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "bag_overlap"
}

object BagFunctions {
  private[functions] val bagType: ArrayType = ArrayType(StructType(Seq(
    StructField("token", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false))), containsNull = false)

  private[functions] def isBagType(t: ArrayType): Boolean = t.elementType match {
    case s: StructType => s.length == 2 &&
      s(0).dataType == StringType && s(1).dataType == LongType
    case _ => false
  }

  /** Column-API forms. */
  def token_counts(tokens: Column): Column = column(TokenCounts(expression(tokens)))
  def bag_overlap(a: Column, b: Column): Column =
    column(BagOverlap(expression(a), expression(b)))
}
