package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

/** `hilbert_index(x, y, bits)` — the Hilbert space-filling-curve index
  * of a NON-NEGATIVE integer point, as a tight loop in generated code
  * (the classic xy2d bit walk: quadrant digit + frame rotation per
  * level).
  *
  * Why an expression and not a column fold: the per-level state
  * (x, y, d) feeds the next level, so a `Column`-combinator encoding
  * either nests `struct(when(...))` expressions — the tree re-expands
  * the state ~6× per level, exponential in `bits` — or chains one
  * projection per level, pessimizing every caller. A 20-line loop in
  * codegen is the honest shape. (The DuckDB oracle twin runs the same
  * walk as chained CTE steps — its `list_reduce` lambda form
  * mis-evaluates on multi-row data, the documented vectorizer bug.)
  *
  * Why Hilbert next to [[graft.operators.Partitioning.mortonCode]]:
  * both interleave two keys so range-partitioned files cover
  * axis-aligned rectangles (min/max skipping on either column), but
  * the Hilbert curve never makes the long diagonal jumps Z-order
  * takes between quadrants — consecutive indexes are always
  * Manhattan-adjacent cells, so equal-size index ranges cover tighter
  * rectangles and file min/max boxes overlap a point/range predicate
  * less often (the reason Databricks moved liquid clustering off
  * Z-order). Values ≥ 2^bits fold into the top-level frame —
  * `require`-style guard is on the caller ([[hilbert_index]] docs),
  * same contract as mortonCode.
  */
case class HilbertIndex(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (LongType, LongType, IntegerType) if third.foldable &&
        third.eval() != null && third.eval().asInstanceOf[Int] > 0 &&
        third.eval().asInstanceOf[Int] <= 31 =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"hilbert_index expects (BIGINT, BIGINT, foldable INT in [1,31]), got ($a, $b, $c)")
    }
  override def dataType: DataType = LongType

  private lazy val bits: Int = third.eval().asInstanceOf[Int]

  override def nullSafeEval(xa: Any, ya: Any, ba: Any): Any = {
    var x = xa.asInstanceOf[Long]
    var y = ya.asInstanceOf[Long]
    var d = 0L
    val n = 1L << bits
    var j = bits - 1
    while (j >= 0) {
      val s = 1L << j
      val rx = (x >> j) & 1L
      val ry = (y >> j) & 1L
      d += s * s * (3L * rx + ry - 2L * rx * ry) // == (3*rx) XOR ry for bits
      if (ry == 0L) {
        // flip over the FULL grid (n−1−x), the canonical xy2d: the
        // s−1−x variant goes negative once lower levels see x ≥ s,
        // and negative //-vs-% semantics then diverge across engines
        if (rx == 1L) { x = n - 1L - x; y = n - 1L - y }
        val t = x; x = y; y = t
      }
      j -= 1
    }
    d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (xa, ya, _) => {
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val d = ctx.freshName("d"); val j = ctx.freshName("j")
      val s = ctx.freshName("s"); val rx = ctx.freshName("rx")
      val ry = ctx.freshName("ry"); val t = ctx.freshName("t")
      val n = ctx.freshName("n")
      s"""
         |long $x = $xa; long $y = $ya; long $d = 0L;
         |long $n = 1L << $bits;
         |for (int $j = $bits - 1; $j >= 0; $j--) {
         |  long $s = 1L << $j;
         |  long $rx = ($x >> $j) & 1L;
         |  long $ry = ($y >> $j) & 1L;
         |  $d += $s * $s * (3L * $rx + $ry - 2L * $rx * $ry);
         |  if ($ry == 0L) {
         |    if ($rx == 1L) { $x = $n - 1L - $x; $y = $n - 1L - $y; }
         |    long $t = $x; $x = $y; $y = $t;
         |  }
         |}
         |${ev.value} = $d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): HilbertIndex =
    copy(first = newFirst, second = newSecond, third = newThird)

  override def prettyName: String = "hilbert_index"
}

object HilbertIndex {
  /** Column-API form; `x`/`y` must be non-negative and < 2^bits. */
  def hilbert_index(x: Column, y: Column, bits: Int): Column =
    column(HilbertIndex(expression(x.cast("long")), expression(y.cast("long")), Literal(bits)))
}
