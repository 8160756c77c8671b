package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `cdc_chunks(tokens, window, modulus)` — content-defined chunking
  * of a token array in ONE per-row pass, as
  * `array<struct<n_chunk_tokens:long, chunk_md5:string>>` in chunk
  * order (the posexplode position IS the chunk index).
  *
  * Boundary rule (identical to [[graft.operators.Corpus.cdcChunks]]'s
  * previous composed form): a boundary closes after 1-based token i
  * iff i ≥ window and the 32-bit fingerprint — the first 8 hex chars
  * of `md5(array_join(slice(tk, i−window+1, window), " "))`, i.e. the
  * first 4 digest bytes big-endian ([[HexSliceLong]] parity) — is ≡ 0
  * (mod modulus). Each chunk's `chunk_md5` is the lowercase md5 hex
  * of its space-joined tokens, exactly `md5(cast(join as binary))`.
  * Both joins are `array_join`'s: a null element is skipped with its
  * separator, yet still counts as a position and in `n_chunk_tokens`.
  *
  * Why an expression (the [[CharShingles]] precedent — guide §1.2
  * step 2 once the shape is right): the composed form evaluated a
  * higher-order `transform` whose per-token lambda re-sliced and
  * re-joined the window and re-hashed through the expression
  * interpreter (CodegenFallback frames per element), then EXPLODED
  * the corpus to token grain, ran a per-doc window sum (a per-doc
  * SORT) and re-assembled chunks through a (doc, chunk) aggregation
  * with a collect_list + sort_array per chunk — two corpus-grain
  * exchanges and a window sort whose only purpose was to regroup
  * tokens this expression never ungroups. Here both hashes stream
  * through one thread-local MessageDigest fed token bytes + separator
  * directly (no joined-string allocation), and the only remaining
  * exchanges in the query are the stale-marker aggregation + join,
  * which are chunk-grain. */
case class CdcChunks(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(StringType, _), IntegerType, IntegerType) =>
        if (second.foldable && third.foldable) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          "cdc_chunks window/modulus must be literals")
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"cdc_chunks expects (ARRAY<STRING>, INT, INT), got ($a, $b, $c)")
    }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("n_chunk_tokens", LongType, nullable = false),
    StructField("chunk_md5", StringType, nullable = false))), containsNull = false)

  override def nullSafeEval(arr: Any, w: Any, m: Any): Any =
    CdcChunks.compute(arr.asInstanceOf[ArrayData],
      w.asInstanceOf[Int], m.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, w, m) =>
      s"${ev.value} = graft.functions.CdcChunks$$.MODULE$$.compute($a, $w, $m);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): CdcChunks =
    copy(first = newFirst, second = newSecond, third = newThird)

  override def prettyName: String = "cdc_chunks"
}

object CdcChunks {
  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val chunkMdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val SP: Array[Byte] = Array(' '.toByte)
  private val HEX = "0123456789abcdef".getBytes

  private def hex(d: Array[Byte]): UTF8String = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HEX((d(i) & 0xf0) >>> 4)
      out(2 * i + 1) = HEX(d(i) & 0x0f)
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Compiled kernel — also the call target of the generated code. */
  def compute(arr: ArrayData, window: Int, modulus: Int): ArrayData = {
    val n = arr.numElements()
    val md = mdLocal.get()
    // token bytes fetched once; a null element stays null and, as in
    // array_join, is hashed as neither a token nor a separator (it
    // still counts as a position and towards n_chunk_tokens)
    val toks = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) toks(i) = arr.getUTF8String(i).getBytes
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    // current chunk's md5 stream (digest() resets it per emitted
    // chunk), token count, and whether a non-null token is hashed yet
    val chunkMd = chunkMdLocal.get()
    chunkMd.reset()
    var chunkLen = 0L
    var chunkJoined = false
    i = 0
    while (i < n) {
      // append token i to the running chunk hash
      if (toks(i) != null) {
        if (chunkJoined) chunkMd.update(SP)
        chunkMd.update(toks(i))
        chunkJoined = true
      }
      chunkLen += 1
      // boundary test after 1-based token i+1: window fingerprint
      if (i + 1 >= window) {
        md.reset()
        var joined = false
        var j = i - (window - 1)
        while (j <= i) {
          if (toks(j) != null) {
            if (joined) md.update(SP)
            md.update(toks(j))
            joined = true
          }
          j += 1
        }
        val d = md.digest()
        val fp = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        if (fp % modulus == 0) {
          out += new GenericInternalRow(Array[Any](chunkLen, hex(chunkMd.digest())))
          chunkLen = 0L
          chunkJoined = false
        }
      }
      i += 1
    }
    if (chunkLen > 0)
      out += new GenericInternalRow(Array[Any](chunkLen, hex(chunkMd.digest())))
    new GenericArrayData(out.toArray)
  }

  /** Column-API form. Requires graft.plans.GraftExtensions.register. */
  def cdc_chunks(tokens: Column, window: Int, modulus: Int): Column =
    call_function("cdc_chunks", tokens, lit(window), lit(modulus))
}
