package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructType}

/** `nearest_cell(sub, vec, cents)` — argmin cell of a quantized vector
  * against a FOLDABLE centroid table, as a NARROW per-row expression:
  * the k-means assignment step without a crossJoin or an aggregate.
  *
  * `cents` is `array<struct<sub:long, cell:long, cv:array<long>>>`
  * and must be foldable (a literal built from driver-side centroid
  * rows — the model-small contract every trainer in
  * [[graft.operators.Similarity]] already satisfies); `sub` selects
  * the subspace (coarse callers pass 0). Returns the `cell` of the
  * candidate minimizing s = Σcv² − 2·Σ vec·cv (the rank-only form of
  * ‖v−c‖², constant ‖v‖² dropped), ties toward the smaller cell —
  * bit-identical to the previous `crossJoin(broadcast(cents))` +
  * `min(struct(s, cell, …))` form: every quantity is an exact
  * integer (< 2⁵³, so the old double-arithmetic path computed the
  * same values), and candidates are scanned in ascending cell order
  * with strict improvement, which IS the struct-min tie-break.
  * NULL when no candidate carries the row's `sub` (the old form
  * dropped such rows at the join — callers filter nulls).
  *
  * Why an expression: `min(struct(s, cell, qv))` is not
  * hash-aggregable (struct-typed buffer), so every assignment round
  * planned a SortAggregate over n×k crossJoin rows — a per-partition
  * sort of the whole corpus per Lloyd round at scale. This form is
  * map-only: zero exchange, zero sort, k·dims multiply-adds per row,
  * centroids parsed once per task.
  *
  * Codegen (round-10): a real `doGenCode` — the previous
  * CodegenFallback marker excluded every assignment projection from
  * WholeStageCodegen (CollapseCodegenStages rejects plans holding a
  * fallback expression). The generated code evaluates only `sub` and
  * `vec` and calls the compiled argmin kernel through a reference to
  * this expression; the (possibly large) centroid literal is NEVER
  * expanded into generated Java — it parses once per task into the
  * lazy table, exactly as the interpreted path did. */
case class NearestCell(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (LongType, ArrayType(LongType, _), ArrayType(s: StructType, _))
        if s.length == 3 && s(0).dataType == LongType &&
          s(1).dataType == LongType &&
          s(2).dataType.isInstanceOf[ArrayType] &&
          s(2).dataType.asInstanceOf[ArrayType].elementType == LongType =>
        if (third.foldable) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          "nearest_cell centroid table must be foldable (a literal)")
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"nearest_cell expects (BIGINT, ARRAY<BIGINT>, ARRAY<STRUCT<sub:BIGINT, " +
          s"cell:BIGINT, cv:ARRAY<BIGINT>>>), got ($a, $b, $c)")
    }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  /** Parsed once per task from the foldable child. */
  @transient private lazy val table: NearestCell.CentTable =
    NearestCell.parse(third.eval(null).asInstanceOf[ArrayData])

  /** Kernel entry — called by both the interpreted and generated
    * paths. Boxed so "no candidate for this sub" is NULL. */
  def evalRow(sub: Long, vec: ArrayData): java.lang.Long =
    NearestCell.argmin(table, sub, vec)

  override def nullSafeEval(subAny: Any, vecAny: Any, centsAny: Any): Any =
    evalRow(subAny.asInstanceOf[Long], vecAny.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // reference THIS expression so the generated code shares the
    // task-level parsed table; the third (literal) child is not
    // code-generated at all.
    val refTerm = ctx.addReferenceObj("nearestCell", this,
      classOf[NearestCell].getName)
    val subGen = first.genCode(ctx)
    val vecGen = second.genCode(ctx)
    val boxed = ctx.freshName("cell")
    ev.copy(code =
      code"""
        ${subGen.code}
        ${vecGen.code}
        boolean ${ev.isNull} = true;
        long ${ev.value} = -1L;
        if (!${subGen.isNull} && !${vecGen.isNull}) {
          java.lang.Long $boxed = $refTerm.evalRow(${subGen.value}, ${vecGen.value});
          if ($boxed != null) {
            ${ev.isNull} = false;
            ${ev.value} = $boxed.longValue();
          }
        }
      """)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): NearestCell =
    copy(first = newFirst, second = newSecond, third = newThird)

  override def prettyName: String = "nearest_cell"
}

object NearestCell {
  /** sub → candidates sorted by cell ascending, csq precomputed. */
  type CentTable = Map[Long, Array[(Long, Array[Long], Long)]]

  private[functions] def parse(arr: ArrayData): CentTable =
    if (arr == null) Map.empty
    else (0 until arr.numElements()).map { i =>
      val st = arr.getStruct(i, 3)
      val cv = st.getArray(2).toLongArray()
      var csq = 0L
      var j = 0
      while (j < cv.length) { csq += cv(j) * cv(j); j += 1 }
      (st.getLong(0), (st.getLong(1), cv, csq))
    }.groupBy(_._1).map { case (s, grp) =>
      s -> grp.map(_._2).sortBy(_._1).toArray
    }

  /** Argmin kernel: ascending-cell strict-improvement scan ≡
    * min(struct(s, cell, …)). */
  private[functions] def argmin(table: CentTable, sub: Long,
                                vec: ArrayData): java.lang.Long = {
    val cands = table.getOrElse(sub, null)
    if (cands == null || cands.isEmpty) return null
    val nv = vec.numElements()
    var best = 0L
    var bestS = Long.MaxValue
    var found = false
    var c = 0
    while (c < cands.length) {
      val (cell, cv, csq) = cands(c)
      val n = math.min(nv, cv.length)
      var acc = 0L
      var i = 0
      while (i < n) { acc += vec.getLong(i) * cv(i); i += 1 }
      val s = csq - 2L * acc
      if (!found || s < bestS) { found = true; bestS = s; best = cell }
      c += 1
    }
    java.lang.Long.valueOf(best)
  }

  /** Column-API form. */
  def nearest_cell(sub: Column, vec: Column, cents: Column): Column =
    column(NearestCell(expression(sub), expression(vec), expression(cents)))
}
