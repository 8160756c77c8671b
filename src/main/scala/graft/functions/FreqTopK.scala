package graft.functions

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `freq_topk(item, k)` — Misra–Gries heavy hitters: at most k
  * (item, est) counters with the mergeable-summaries guarantee
  * `true − n/(k+1) ≤ est ≤ true`, and every item with
  * `true > n/(k+1)` guaranteed present.
  *
  * The 100 TB vocabulary shape: an exact token count shuffles every
  * distinct token; this aggregate keeps k counters per partition
  * (partial aggregation), merges k-counter summaries at the exchange,
  * and moves k rows per partition TOTAL — state is O(k) regardless of
  * input size. When k ≥ the true distinct count the summary degrades
  * gracefully to exact counts (that regime is oracle-checked;
  * the approximate regime is bounds-checked in the spec).
  *
  * update: classic MG — resident item increments; new item inserts if
  * space, else all counters decrement by one (zeros evicted).
  * merge (Agarwal et al., mergeable summaries): sum counters, then
  * subtract the (k+1)-th largest count and evict ≤ 0.
  */
case class FreqTopK(
    child: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[UTF8String, Long]] {

  private lazy val k: Int = kExpr.eval().asInstanceOf[Int]

  override def children: Seq[Expression] = Seq(child, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("est", LongType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if kExpr.foldable && kExpr.dataType == IntegerType &&
      kExpr.eval() != null && kExpr.eval().asInstanceOf[Int] > 0 =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "freq_topk expects (STRING, foldable positive INT)")
  }

  override def createAggregationBuffer(): mutable.HashMap[UTF8String, Long] =
    mutable.HashMap.empty

  override def update(buf: mutable.HashMap[UTF8String, Long], input: InternalRow)
      : mutable.HashMap[UTF8String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String]
      buf.get(s) match {
        case Some(c) => buf.update(s, c + 1)
        case None if buf.size < k => buf.update(s.clone(), 1L)
        case None => // decrement-all, evict zeros (O(k), k is small)
          val dead = mutable.ArrayBuffer.empty[UTF8String]
          buf.keysIterator.foreach { key =>
            val c = buf(key) - 1
            if (c <= 0) dead += key else buf.update(key, c)
          }
          dead.foreach(buf.remove)
      }
    }
    buf
  }

  override def merge(buf: mutable.HashMap[UTF8String, Long],
                     other: mutable.HashMap[UTF8String, Long])
      : mutable.HashMap[UTF8String, Long] = {
    other.foreach { case (s, c) =>
      buf.update(s, buf.getOrElse(s, 0L) + c)
    }
    if (buf.size > k) {
      // subtract the (k+1)-th largest count, evict <= 0
      val counts = buf.values.toArray.sorted(Ordering[Long].reverse)
      val sub = counts(k)
      val dead = mutable.ArrayBuffer.empty[UTF8String]
      buf.keysIterator.foreach { key =>
        val c = buf(key) - sub
        if (c <= 0) dead += key else buf.update(key, c)
      }
      dead.foreach(buf.remove)
    }
    buf
  }

  override def eval(buf: mutable.HashMap[UTF8String, Long]): Any = {
    val rows = buf.toArray
      .sortBy { case (s, c) => (-c, s) }
      .map { case (s, c) => InternalRow(s, c) }
    new GenericArrayData(rows.asInstanceOf[Array[Any]])
  }

  override def serialize(buf: mutable.HashMap[UTF8String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (s, c) =>
      val bytes = s.getBytes
      out.writeInt(bytes.length)
      out.write(bytes)
      out.writeLong(c)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[UTF8String, Long] = {
    val buf = createAggregationBuffer()
    val in = ByteBuffer.wrap(bytes)
    val n = in.getInt
    (0 until n).foreach { _ =>
      val len = in.getInt
      val sb = new Array[Byte](len)
      in.get(sb)
      buf.update(UTF8String.fromBytes(sb), in.getLong)
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): FreqTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FreqTopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): FreqTopK =
    copy(child = newChildren(0), kExpr = newChildren(1))
  override def prettyName: String = "freq_topk"
}

object FreqTopK {
  /** Column-API form (an aggregate). */
  def freq_topk(item: Column, k: Int): Column =
    column(FreqTopK(expression(item), Literal(k)).toAggregateExpression())
}
