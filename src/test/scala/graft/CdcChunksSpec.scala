package graft

import org.apache.spark.sql.functions._

import graft.functions.CdcChunks.cdc_chunks
import graft.plans.GraftExtensions

/** Native cdc_chunks (one-pass content-defined chunking): differential
  * against an independent reference implementation of the published
  * boundary rule — boundary after 1-based token i iff i ≥ window and
  * the first-4-md5-bytes fingerprint of the space-joined last `window`
  * tokens ≡ 0 (mod modulus); chunk_md5 = lowercase md5 hex of the
  * space-joined chunk. The rule is exactly what the previous composed
  * form (transform + hex_slice_long(md5(array_join(slice))) + window
  * sum + collect_list regroup) computed — corpus_cdc_chunks' oracle
  * hash pins the end-to-end operator on top of this. */
class CdcChunksSpec extends SparkSpec {
  import spark.implicits._

  private def md5hex(s: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  private def fp32(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** Space join skipping nulls, as `array_join` does. */
  private def join(toks: collection.Seq[String]): String = toks.filter(_ != null).mkString(" ")

  private def ref(toks: Seq[String], window: Int, modulus: Int): Seq[(Int, Long, String)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, String)]
    val cur = scala.collection.mutable.ArrayBuffer.empty[String]
    for (i <- toks.indices) {
      cur += toks(i)
      if (i + 1 >= window &&
          fp32(join(toks.slice(i + 1 - window, i + 1))) % modulus == 0) {
        out += ((out.length, cur.length.toLong, md5hex(join(cur))))
        cur.clear()
      }
    }
    if (cur.nonEmpty)
      out += ((out.length, cur.length.toLong, md5hex(join(cur))))
    out.toSeq
  }

  test("differential against the reference rule across windows/moduli, incl. multi-byte tokens") {
    GraftExtensions.register(spark)
    val rnd = new scala.util.Random(31)
    val vocab = Vector("alpha", "beta", "Ａwide", "𝄞clef", "x", "longertokenvalue", "café")
    for ((window, modulus) <- Seq((1, 2), (2, 4), (4, 8), (4, 2))) {
      val rows = (0 until 60).map { i =>
        (i.toLong, Seq.fill(rnd.nextInt(40))(vocab(rnd.nextInt(vocab.size))))
      }
      val got = rows.toDF("id", "tk")
        .filter(size(col("tk")) >= 1)
        .select(col("id"), posexplode(cdc_chunks(col("tk"), window, modulus))
          .as(Seq("idx", "ch")))
        .select(col("id"), col("idx"), col("ch.n_chunk_tokens"), col("ch.chunk_md5"))
        .collect()
        .map(r => (r.getLong(0), (r.getInt(1), r.getLong(2), r.getString(3))))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sortBy(_._1).toSeq }
      val exp = rows.filter(_._2.nonEmpty)
        .map { case (id, tk) => id -> ref(tk, window, modulus) }.toMap
      assert(got === exp, s"window=$window modulus=$modulus")
    }
  }

  test("null elements are skipped with their separators, as md5(array_join(...)) does") {
    GraftExtensions.register(spark)
    val arrays = Seq(Seq("a", null, "b"), Seq(null, "a", "b"), Seq("a", "b", null),
      Seq("a", null, null, "b", "c"), Seq(null, null), Seq("x", null, "y", "z", null, "w"))
    val df = arrays.zipWithIndex.map { case (tk, i) => (i.toLong, tk) }.toDF("id", "tk")
    // a window longer than any array closes no boundary: one whole-array
    // chunk, whose hash must be array_join's
    val whole = arrays.map(tk => md5hex(join(tk)))
    val one = df.select(col("id"), md5(array_join(col("tk"), " ")).as("joined"),
        cdc_chunks(col("tk"), 100, 1).as("ch"))
      .orderBy("id").collect()
    one.foreach { r =>
      val chunks = r.getSeq[org.apache.spark.sql.Row](2)
      assert(chunks.map(_.getLong(0)) === Seq(arrays(r.getLong(0).toInt).size.toLong), r)
      assert(chunks.head.getString(1) === r.getString(1), r)
    }
    assert(one.map(_.getString(1)).toSeq === whole)
    // window fingerprints and chunk hashes against the reference rule
    // over null-skipping joins, across windows and moduli
    for ((window, modulus) <- Seq((1, 1), (2, 1), (2, 2), (3, 2))) {
      val got = df.select(col("id"), posexplode(cdc_chunks(col("tk"), window, modulus))
          .as(Seq("idx", "ch")))
        .select(col("id"), col("idx"), col("ch.n_chunk_tokens"), col("ch.chunk_md5"))
        .collect()
        .map(r => (r.getLong(0), (r.getInt(1), r.getLong(2), r.getString(3))))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sortBy(_._1).toSeq }
      val exp = arrays.zipWithIndex.map { case (tk, i) => i.toLong -> ref(tk, window, modulus) }.toMap
      assert(got === exp, s"window=$window modulus=$modulus")
    }
  }

  test("chunk lengths sum to the token count; empty array yields no chunks") {
    GraftExtensions.register(spark)
    val df = Seq((1L, Seq("a", "b", "c", "d", "e", "f", "g", "h")),
        (2L, Seq.empty[String]))
      .toDF("id", "tk")
      .select(col("id"), posexplode(cdc_chunks(col("tk"), 2, 2)).as(Seq("idx", "ch")))
    val sums = df.groupBy("id").agg(sum(col("ch.n_chunk_tokens")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sums.getOrElse(1L, 0L) === 8L)
    assert(!sums.contains(2L))
  }

  test("cdc_chunks projects inside WholeStageCodegen") {
    GraftExtensions.register(spark)
    // spark.range source: a local Seq would be constant-folded into a
    // LocalTableScan, leaving no runtime projection to codegen
    val df = spark.range(30)
      .select(col("id"), split(concat_ws(" ", lit("a"),
        concat(lit("b"), col("id").cast("string")), lit("c d e")), " ").as("tk"))
      .withColumn("ch", cdc_chunks(col("tk"), 4, 32))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("cdc_chunks") && l.contains("*(")), plan.take(3000))
  }
}
