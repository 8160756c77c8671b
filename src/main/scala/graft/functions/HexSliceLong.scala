package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `hex_slice_long(hexstr, pos)` — 8 lowercase-hex characters starting
  * at 0-based `pos`, parsed as an unsigned 32-bit value in a LONG.
  *
  * Built for numeric MinHash signatures: `min` over a LONG plans a
  * HashAggregate (fixed-width mutable buffer), where `min` over the
  * equivalent 8-hex-char STRING slice falls back to SortAggregate — a
  * per-group sort that does not survive 100 TB. An eight-iteration byte
  * loop inside whole-stage codegen; no intermediate string allocation
  * (the `conv(substr(...), 16, 10)` formulation allocates one UTF8String
  * per value and re-parses it in the cast).
  *
  * Matches the DuckDB-side nibble sum
  * `Σ (strpos('0123456789abcdef', substr(h, pos+1+c, 1)) - 1) << 4*(7-c)`
  * digit-for-digit on lowercase md5 hex output.
  */
case class HexSliceLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, IntegerType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"hex_slice_long expects (STRING, INT), got ($l, $r)")
  }
  override def dataType: DataType = LongType
  // null when the slice is out of range: the function is SQL-exposed,
  // and an unchecked UTF8String.getByte past the buffer would read
  // adjacent heap memory and return silent garbage
  override def nullable: Boolean = true

  override def nullSafeEval(s: Any, p: Any): Any = {
    val str = s.asInstanceOf[UTF8String]
    val pos = p.asInstanceOf[Int]
    if (pos < 0 || str.numBytes < pos + 8) return null
    var acc = 0L
    var i = 0
    while (i < 8) {
      val c = str.getByte(pos + i).toInt | 0x20 // tolerate uppercase hex
      acc = (acc << 4) | (if (c <= '9') c - '0' else c - 'a' + 10)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, p) => {
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      s"""
         |if ($p < 0 || $s.numBytes() < $p + 8) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < 8; $i++) {
         |    int $c = ((int) $s.getByte($p + $i)) | 0x20;
         |    $acc = ($acc << 4) | ($c <= '9' ? $c - '0' : $c - 'a' + 10);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HexSliceLong =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "hex_slice_long"
}

object HexSliceLong {
  /** Column-API form. */
  def hex_slice_long(c: Column, pos: Int): Column =
    column(HexSliceLong(expression(c), Literal(pos)))
}
