package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis}

/** The winnowing contract (Schleimer, Wilkerson & Aiken 2003):
  * correctness theorem (full detection of substring matches of length
  * ≥ w + k − 1), density (≈ 2/(w+1) of gram positions selected), and
  * a differential against the composed Spark-SQL form on random
  * strings — the native deque must equal slice-window minima exactly.
  */
class WinnowSpec extends SparkSpec {
  import spark.implicits._

  private val K = 5
  private val W = 4

  private def winnowOf(texts: Seq[String]): Map[Long, Seq[Long]] = {
    import graft.functions.WinnowFp.winnow_fp
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .select(col("doc_id"), winnow_fp(col("text"), K, W).as("sl"))
      .as[(Long, Seq[Long])].collect().toMap
  }

  test("substring matches of length >= w + k - 1 always share a fingerprint") {
    val rnd = new scala.util.Random(7)
    def randTxt(n: Int) = (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    // 50 random pairs, each sharing a random common substring of
    // exactly w + k - 1 = 8 chars at random positions
    for (_ <- 1 to 50) {
      val common = randTxt(W + K - 1)
      val a = randTxt(rnd.nextInt(40) + 10) + common + randTxt(rnd.nextInt(40) + 10)
      val b = randTxt(rnd.nextInt(40) + 10) + common + randTxt(rnd.nextInt(40) + 10)
      val m = winnowOf(Seq(a, b))
      assert(m(0L).toSet.intersect(m(1L).toSet).nonEmpty,
        s"winnowing theorem violated for common='$common'")
    }
  }

  test("selected density on random text is near 2/(w+1), and never 0 for non-trivial docs") {
    val rnd = new scala.util.Random(11)
    val texts = (1 to 40).map(_ =>
      (1 to 400).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
    val m = winnowOf(texts)
    val densities = texts.indices.map { i =>
      val g = texts(i).length - K + 1
      m(i.toLong).size.toDouble / g
    }
    val mean = densities.sum / densities.size
    // expected 2/(w+1) = 0.4; distinct-set dedup pulls it slightly
    // under — accept a generous band, reject degenerate outputs
    assert(mean > 0.25 && mean < 0.55, s"mean winnow density $mean out of band")
  }

  test("native winnow_fp equals the composed slice-window-minima form on random strings") {
    import graft.functions.WinnowFp.winnow_fp
    val rnd = new scala.util.Random(13)
    // lengths straddle every edge: < k (empty), k..k+w-2 (one short
    // window), and normal
    val texts = (1 to 60).map(_ =>
      (1 to (rnd.nextInt(60) + 1)).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val composed = df.selectExpr("doc_id",
      s"""array_sort(array_distinct(transform(
         |  sequence(1, greatest(length(text) - ${K - 1} - $W + 1, 1)),
         |  j -> array_min(slice(
         |    transform(char_shingles(text, $K), g -> hex_slice_long(md5(cast(g AS binary)), 0)),
         |    j, $W))))) AS sl""".stripMargin)
      .where(s"length(text) >= $K")
      .as[(Long, Seq[Long])].collect().toMap
    val native = df.select(col("doc_id"), winnow_fp(col("text"), K, W).as("sl"))
      .as[(Long, Seq[Long])].collect().toMap
    for (i <- texts.indices.map(_.toLong)) {
      if (texts(i.toInt).length < K)
        assert(native(i) === Seq.empty, s"doc $i should have no grams")
      else
        assert(native(i) === composed(i), s"doc $i: native ${native(i)} != composed ${composed(i)}")
    }
  }

  test("winnowPairs finds a planted excerpt pair and honors the postings governor") {
    val rnd = new scala.util.Random(17)
    def randTxt(n: Int) = (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val excerpt = randTxt(60)
    val docs = Seq(
      (0L, randTxt(80) + excerpt + randTxt(40)),
      (1L, randTxt(50) + excerpt),
      (2L, randTxt(200)),
      (3L, randTxt(200))).toDF("doc_id", "text")
    val got = Dedup.winnowPairs(docs, k = K, w = W, minShared = 3, maxPostings = 10)
    val pairs = got.pairs.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)), "planted excerpt pair not detected")
    assert(!pairs.contains((2L, 3L)), "unrelated random docs should not pair")
    // governor: a fingerprint present in every doc must be droppable
    val boiler = "xyzzyboilerplate"
    val docs2 = (0L to 11L).map(i => (i, boiler + randTxt(30))).toDF("doc_id", "text")
    val capped = Dedup.winnowPairs(docs2, k = K, w = W, minShared = 1, maxPostings = 11)
    assert(capped.droppedTokens.count() > 0, "df=12 fingerprints should be dropped at cap 11")
  }

  test("winnowStats emits exact per-doc selection summaries") {
    val stats = TextAnalysis.winnowStats(
      Seq((7L, "abcdefghij")).toDF("doc_id", "text"), k = K, w = W)
      .collect().head
    // 10 chars, k=5 → 6 grams, 3 windows
    assert(stats.getLong(1) === 6L)
    assert(stats.getLong(2) >= 1L && stats.getLong(2) <= 3L)
  }
}
