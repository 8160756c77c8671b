package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructType}

/** `fp32_set(arr)` — the sorted distinct 32-bit md5 fingerprints of a
  * string array, as `array<long>`: semantically
  * `sort_array(array_distinct(transform(arr, x ->
  * hex_slice_long(md5(x), 0))))`, in one per-row pass.
  *
  * Why an expression and not that composition: `transform` is a
  * higher-order function (CodegenFallback with per-element lambda
  * frames), and the alternative — explode → md5 → collect_set —
  * rebuilds the set through a full token-grain EXCHANGE plus an
  * ObjectHashAggregate. Both were measured as the dominant cost of
  * the containment pipeline's index build. This expression keeps the
  * per-document set build NARROW: no token-grain rows ever exist, no
  * shuffle, one thread-local MessageDigest reused across rows. No
  * optimizer rule rewrites the composition into this expression:
  * `fp32_set` is the one way to get the fused set.
  *
  * Bit-parity: each fingerprint is the first 4 bytes of
  * `MD5(utf8(x))` read big-endian as an unsigned 32-bit value in a
  * long — exactly `hex_slice_long(md5(x), 0)` on the Spark side and
  * the DuckDB nibble-sum over `substr(md5(x), 1, 8)` on the oracle
  * side, both already hash-proven cross-engine. Values lie in
  * [0, 2³²), so the signed long sort equals the unsigned order.
  * Null elements are skipped (the composed form would carry a null
  * through md5 and sort it first; callers here build sets from
  * generated gram arrays, which contain none).
  *
  * Codegen: a real `doGenCode` (round-10) — the expression sits in
  * the widest projections of the near-dup sweep, and the previous
  * CodegenFallback marker excluded those whole stages from
  * WholeStageCodegen (CollapseCodegenStages rejects any plan holding
  * a fallback expression). The generated code is one call into the
  * compiled merge kernel. */
case class FpSet(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"fp32_set expects ARRAY<STRING>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(arrAny: Any): Any =
    FpSet.compute(arrAny.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.FpSet$$.MODULE$$.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): FpSet =
    copy(child = newChild)

  override def prettyName: String = "fp32_set"
}

/** `fp_inter_count(a, b)` — |A ∩ B| of two SORTED DISTINCT sets
  * (`array<long>` as [[FpSet]] emits, or `array<string>` as
  * `array_sort(array_distinct(...))` emits — Spark's `array_sort`
  * on strings is UTF8 binary order, the same comparator used here)
  * as BIGINT, by a two-pointer merge: one O(|A|+|B|) pass, zero
  * allocation.
  *
  * Why an expression: `size(array_intersect(a, b))` is the per-pair
  * hot path of containment / Jaccard verification — it builds a hash
  * set AND materializes the intersection array per candidate pair
  * just to take its length (measured as the dominant cost of the
  * verification stages). Sortedness makes both allocations
  * unnecessary; the count over sorted-distinct inputs is identical
  * to `array_intersect`'s by definition. The [[BagOverlap]] merge
  * discipline on plain sets.
  *
  * Ill-formed-input hardening (round-10, reachable through the public
  * `jaccardVerifySets` entry point which accepts caller-precomputed
  * tset arrays): null elements — which Spark's `array_sort` places
  * LAST — terminate the scan instead of NPE-ing, with one count
  * granted when BOTH sides carry a null (matching
  * `size(array_intersect)`'s null-match semantics), and duplicate
  * runs advance past in the merge so equal-element runs count once
  * (matching `array_intersect`'s distinct output). On the
  * sorted-distinct-non-null inputs every internal caller builds, both
  * guards are dead branches. */
case class FpInterCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"fp_inter_count expects two ARRAY<BIGINT> or two ARRAY<STRING>, got ($l, $r)")
    }
  override def dataType: DataType = LongType

  private lazy val isString = left.dataType match {
    case ArrayType(StringType, _) => true
    case _ => false
  }

  override def nullSafeEval(la: Any, ra: Any): Any =
    FpSet.interCount(la.asInstanceOf[ArrayData], ra.asInstanceOf[ArrayData], isString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.FpSet$$.MODULE$$.interCount($a, $b, $isString);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FpInterCount =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "fp_inter_count"
}

/** `fp_weighted_inter(a, b)` — Σ_{t ∈ A∩B} w(t) over two per-doc
  * `array<struct<t:string, w:long>>` token-weight tables, each SORTED
  * by `t` (UTF8 binary order — `sort_array(collect_list(struct(t,
  * w)))` emits exactly this) with distinct `t` per side and `w`
  * functionally dependent on `t` (both sides carry the same global
  * weight for the same token, so the matched side's `w` is THE
  * weight). One two-pointer merge per candidate pair, zero
  * allocation.
  *
  * Why an expression: the weighted-Jaccard verification previously
  * exploded every candidate pair to (pair, token, w) rows — Σ(|A|+|B|)
  * rows through a union-grain EXCHANGE plus two aggregations — just
  * to sum weights over the intersection. With per-doc sorted
  * (t, w) tables attached to the pair (two equi-joins, the same shape
  * every other verifier uses), the intersection sum is in-row and the
  * union sum is inclusion-exclusion (Σ_A w + Σ_B w − Σ_{A∩B} w) from
  * per-doc scalars: the exploded pair-token stream leaves the plan.
  *
  * Null/duplicate hardening as [[FpInterCount]]: null structs or null
  * tokens (sorted last) terminate the scan; duplicate-`t` runs (never
  * produced by internal callers) advance past so each token counts
  * once. */
case class FpWeightedInter(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  private def sideOk(t: DataType): Boolean = t match {
    case ArrayType(s: StructType, _) =>
      s.length == 2 && s(0).dataType == StringType && s(1).dataType == LongType
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (sideOk(left.dataType) && sideOk(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "fp_weighted_inter expects two ARRAY<STRUCT<t:STRING, w:BIGINT>>, " +
        s"got (${left.dataType}, ${right.dataType})")
  override def dataType: DataType = LongType

  override def nullSafeEval(la: Any, ra: Any): Any =
    FpSet.weightedInter(la.asInstanceOf[ArrayData], ra.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.FpSet$$.MODULE$$.weightedInter($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FpWeightedInter =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "fp_weighted_inter"
}

object FpSet {
  /** One MessageDigest per thread, reset per element — the previous
    * per-ROW `getInstance` was measured allocation pressure on the
    * widest projection of the near-dup sweep. */
  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Compiled kernel behind [[FpSet]] — also the call target of its
    * generated code. */
  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val md = mdLocal.get()
    val fps = new Array[Long](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        md.reset()
        md.update(arr.getUTF8String(i).getBytes)
        val d = md.digest()
        fps(m) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        m += 1
      }
      i += 1
    }
    java.util.Arrays.sort(fps, 0, m)
    // in-place dedup of the sorted prefix
    var w = 0
    i = 0
    while (i < m) {
      if (w == 0 || fps(i) != fps(w - 1)) { fps(w) = fps(i); w += 1 }
      i += 1
    }
    val out = new Array[Long](w)
    System.arraycopy(fps, 0, out, 0, w)
    new GenericArrayData(out)
  }

  /** Compiled kernel behind [[FpInterCount]] — also the call target
    * of its generated code. Inputs sorted ascending (nulls last, as
    * `array_sort` emits). */
  def interCount(a: ArrayData, b: ArrayData, isString: Boolean): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var cnt = 0L
    if (isString) {
      while (i < na && j < nb) {
        if (a.isNullAt(i) || b.isNullAt(j)) {
          // nulls sort last: the remaining elements on the null side
          // are all null. array_intersect counts a null match once.
          if (a.isNullAt(na - 1) && b.isNullAt(nb - 1)) cnt += 1
          return cnt
        }
        val av = a.getUTF8String(i)
        val bv = b.getUTF8String(j)
        val cmp = av.binaryCompare(bv)
        if (cmp == 0) {
          cnt += 1
          // advance past duplicate runs so equal elements count once
          i += 1
          while (i < na && !a.isNullAt(i) && a.getUTF8String(i).binaryCompare(av) == 0) i += 1
          j += 1
          while (j < nb && !b.isNullAt(j) && b.getUTF8String(j).binaryCompare(bv) == 0) j += 1
        }
        else if (cmp < 0) i += 1
        else j += 1
      }
    } else {
      while (i < na && j < nb) {
        if (a.isNullAt(i) || b.isNullAt(j)) {
          if (a.isNullAt(na - 1) && b.isNullAt(nb - 1)) cnt += 1
          return cnt
        }
        val x = a.getLong(i)
        val y = b.getLong(j)
        if (x == y) {
          cnt += 1
          i += 1
          while (i < na && !a.isNullAt(i) && a.getLong(i) == x) i += 1
          j += 1
          while (j < nb && !b.isNullAt(j) && b.getLong(j) == y) j += 1
        }
        else if (x < y) i += 1
        else j += 1
      }
    }
    cnt
  }

  /** Compiled kernel behind [[FpWeightedInter]] — also the call
    * target of its generated code. */
  def weightedInter(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var s = 0L
    while (i < na && j < nb) {
      if (a.isNullAt(i) || b.isNullAt(j)) return s
      val ra = a.getStruct(i, 2)
      val rb = b.getStruct(j, 2)
      val ta = ra.getUTF8String(0)
      val tb = rb.getUTF8String(0)
      if (ta == null || tb == null) return s
      val cmp = ta.binaryCompare(tb)
      if (cmp == 0) {
        s += ra.getLong(1)
        i += 1
        while (i < na && !a.isNullAt(i) && {
          val u = a.getStruct(i, 2).getUTF8String(0)
          u != null && u.binaryCompare(ta) == 0
        }) i += 1
        j += 1
        while (j < nb && !b.isNullAt(j) && {
          val u = b.getStruct(j, 2).getUTF8String(0)
          u != null && u.binaryCompare(tb) == 0
        }) j += 1
      }
      else if (cmp < 0) i += 1
      else j += 1
    }
    s
  }

  /** Column-API forms. */
  def fp32_set(arr: Column): Column = column(FpSet(expression(arr)))
  def fp_inter_count(a: Column, b: Column): Column =
    column(FpInterCount(expression(a), expression(b)))
  def fp_weighted_inter(a: Column, b: Column): Column =
    column(FpWeightedInter(expression(a), expression(b)))
}
