package graft.functions

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StructType}

/** `topk_rows(struct(ord…, payload…), k)` — the k smallest input
  * structs (lexicographic struct order = ORDER BY ord… ASC LIMIT k per
  * group), returned as a sorted array.
  *
  * Why an aggregate and not `row_number() OVER (...) <= k`: the window
  * form shuffles EVERY row to its group's reducer before discarding
  * all but k. This aggregate keeps a bounded k-element heap per group
  * in the partial (map-side) aggregation, so only k rows per group per
  * partition reach the shuffle — the difference between moving 100 TB
  * and moving k×groups rows. Buffer is a bounded max-heap; serialized
  * form is length-prefixed UnsafeRow bytes.
  */
case class TopKRows(
    child: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[InternalRow]] {

  private lazy val k: Int = kExpr.eval().asInstanceOf[Int]
  private lazy val structType: StructType = child.dataType.asInstanceOf[StructType]
  private lazy val ordering: Ordering[InternalRow] =
    TypeUtils.getInterpretedOrdering(structType).asInstanceOf[Ordering[InternalRow]]
  @transient private lazy val proj = UnsafeProjection.create(structType)

  override def children: Seq[Expression] = Seq(child, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(structType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StructType if kExpr.foldable && kExpr.dataType == IntegerType &&
      kExpr.eval() != null && kExpr.eval().asInstanceOf[Int] > 0 =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "topk_rows expects (STRUCT, foldable positive INT)")
  }

  override def createAggregationBuffer(): mutable.PriorityQueue[InternalRow] =
    new mutable.PriorityQueue[InternalRow]()(ordering) // max-heap: head = largest kept

  override def update(buf: mutable.PriorityQueue[InternalRow], input: InternalRow)
      : mutable.PriorityQueue[InternalRow] = {
    val v = child.eval(input)
    if (v != null) offer(buf, v.asInstanceOf[InternalRow])
    buf
  }

  override def merge(buf: mutable.PriorityQueue[InternalRow],
                     other: mutable.PriorityQueue[InternalRow])
      : mutable.PriorityQueue[InternalRow] = {
    other.foreach(r => offer(buf, r))
    buf
  }

  private def offer(buf: mutable.PriorityQueue[InternalRow], r: InternalRow): Unit = {
    if (buf.size < k) {
      buf.enqueue(r.copy())
    } else if (ordering.lt(r, buf.head)) {
      buf.dequeue()
      buf.enqueue(r.copy())
    }
  }

  override def eval(buf: mutable.PriorityQueue[InternalRow]): Any =
    new GenericArrayData(buf.toArray.sorted(ordering).asInstanceOf[Array[Any]])

  override def serialize(buf: mutable.PriorityQueue[InternalRow]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { r =>
      val u = proj(r)
      out.writeInt(u.getSizeInBytes)
      u.writeToStream(out, null)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[InternalRow] = {
    val buf = createAggregationBuffer()
    val in = ByteBuffer.wrap(bytes)
    val n = in.getInt
    (0 until n).foreach { _ =>
      val size = in.getInt
      val rowBytes = new Array[Byte](size)
      in.get(rowBytes)
      val row = new UnsafeRow(structType.length)
      row.pointTo(rowBytes, size)
      buf.enqueue(row)
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKRows =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKRows =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): TopKRows =
    copy(child = newChildren(0), kExpr = newChildren(1))
  override def prettyName: String = "topk_rows"
}

object TopKRows {
  /** Column-API form (an aggregate). */
  def topk_rows(struct: Column, k: Int): Column =
    column(TopKRows(expression(struct), Literal(k)).toAggregateExpression())
}
