package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `hex_prefix16(hexstr)` — the first 4 lowercase-hex characters as a
  * 16-bit integer (nibble 0 highest). Built for SimHash: the
  * SQL-composed alternative (4 × `position(substring(h,1,1),
  * '0123…f')`) does four interpreted string searches per token; this
  * is a four-iteration byte loop inside whole-stage codegen.
  *
  * Matches `strpos('0123456789abcdef', substr(md5(x), i, 1)) - 1`
  * digit-for-digit on DuckDB's (lowercase) md5 hex output.
  */
case class HexPrefix16(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"hex_prefix16 expects STRING, got $t")
  }
  override def dataType: DataType = IntegerType

  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String]
    var acc = 0
    var i = 0
    while (i < 4) {
      val c = s.getByte(i).toInt
      acc = (acc << 4) | (if (c <= '9') c - '0' else c - 'a' + 10)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      s"""
         |int $acc = 0;
         |for (int $i = 0; $i < 4; $i++) {
         |  int $c = (int) $s.getByte($i);
         |  $acc = ($acc << 4) | ($c <= '9' ? $c - '0' : $c - 'a' + 10);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): HexPrefix16 =
    copy(child = newChild)
  override def prettyName: String = "hex_prefix16"
}

object HexPrefix16 {
  /** Column-API form. */
  def hex_prefix16(c: Column): Column = column(HexPrefix16(expression(c)))
}
