package graft

import org.apache.spark.sql.functions._

import graft.operators.{Corpus, Dedup, Relational, TextAnalysis}

/** Semantics of the retrieval / span-dedup / diagnostics operators:
  * tf·idf term ranking, integer BM25, cross-doc repeated spans,
  * key-skew profile, exact length quantiles, Bloom prefilter.
  * Cross-engine equality is covered by the oracle queries; these pin
  * the hand-computable cases and edge behavior.
  */
class RetrievalSpansSpec extends SparkSpec {
  import spark.implicits._

  test("tfIdfTopTerms: rare term outranks common term, integer weights exact") {
    val docs = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry"),
      (3L, "cherry cherry cherry")).toDF("doc_id", "text")
    val got = TextAnalysis.tfIdfTopTerms(docs, k = 2)
      .select("doc_id", "term", "tf", "df", "score_micro", "rank")
      .as[(Long, String, Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._6)).toMap
    // d1: apple tf=2 df=1 → 2e6; banana tf=1 df=2 → 5e5
    assert(got(1L).map(r => (r._2, r._5)) === Seq(("apple", 2000000L), ("banana", 500000L)))
    // d3: cherry tf=3 df=2 → 1.5e6
    assert(got(3L).head._2 === "cherry" && got(3L).head._5 === 1500000L)
  }

  test("bm25TopK: exact integer scores; higher tf of a rare term wins") {
    val docs = Seq(
      (1L, "rare common common common"),
      (2L, "common common common common"),
      (3L, "rare rare other other")).toDF("doc_id", "text")
    // N=3, T=12, df(rare)=2 → idf_milli = 1000*3/5 = 600;
    // dl=4 for all → len_ratio_milli = 1000
    val got = TextAnalysis.bm25TopK(docs, Seq("rare"), k = 10)
      .select("doc_id", "score_milli", "n_hit_terms")
      .as[(Long, Long, Long)].collect()
    assert(got.map(_._1).toSeq === Seq(3L, 1L)) // d2 has no hit → absent
    val byDoc = got.map(r => r._1 -> r._2).toMap
    assert(byDoc(3L) === 825L) // 600*22000*2 DIV (20000+3000+9000)
    assert(byDoc(1L) === 600L) // 600*22000*1 DIV (10000+3000+9000)
  }

  test("bm25TopK rejects an empty query") {
    val docs = Seq((1L, "a")).toDF("doc_id", "text")
    intercept[IllegalArgumentException](TextAnalysis.bm25TopK(docs, Seq.empty, 5))
  }

  test("repeatedSpans: overlapping grams merge; self-repeat excluded") {
    val c9 = (1 to 9).map("c" + _).mkString(" ")     // 9-token shared run
    val e8 = (1 to 8).map("e" + _).mkString(" ")     // 8-token shared run
    val docs = Seq(
      (1L, s"$c9 a1 a2 a3 $e8"),                     // 20 tokens, two spans
      (2L, s"$c9 b1 b2 b3 b4 b5"),                   // one span
      (3L, s"x1 x2 $e8"),                            // one span
      (4L, { val s8 = (1 to 8).map("s" + _).mkString(" "); s"$s8 $s8" }) // self-repeat only
    ).toDF("doc_id", "text")
    val got = Dedup.repeatedSpans(docs, spanTokens = 8)
      .select("doc_id", "n_shared_grams", "n_spans", "covered_tokens",
        "max_span_tokens", "n_tokens", "repeated_permille")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // doc1: c-run grams at pos 0,1 (one island, span 9) + e-run at pos 12
    assert(got(1L) === ((1L, 3L, 2L, 17L, 9L, 20L, 850L)))
    assert(got(2L)._3 === 1L && got(2L)._5 === 9L)   // one 9-token span
    assert(got(3L)._3 === 1L && got(3L)._5 === 8L)
    assert(!got.contains(4L))                        // same-doc repeat ≠ cross-doc
  }

  test("stripRepeatedSpans: canonical doc keeps the span, later docs lose it") {
    val c9 = (1 to 9).map("c" + _).mkString(" ")
    val docs = Seq(
      (1L, s"$c9 a1 a2 a3"),          // canonical (min doc_id) — untouched
      (2L, s"b1 $c9 b2"),             // loses the 9 shared tokens
      (3L, "u1 u2 u3")                // no shared spans
    ).toDF("doc_id", "text")
    val got = Dedup.stripRepeatedSpans(docs, spanTokens = 8)
      .select("doc_id", "n_tokens", "n_removed", "clean_md5")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got.size === 3)                       // every doc reported
    assert(got(1L)._3 === 0L)                    // canonical untouched
    assert(got(2L) === ((2L, 11L, 9L, md5Of("b1 b2"))))
    assert(got(3L)._3 === 0L && got(3L)._4 === md5Of("u1 u2 u3"))
    // canonical text unchanged: md5 equals the original
    assert(got(1L)._4 === md5Of(s"$c9 a1 a2 a3"))
  }

  private def md5Of(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("repeatedSpans: docs shorter than the span never emit and never crash") {
    val docs = Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text")
    assert(Dedup.repeatedSpans(docs, spanTokens = 8).count() === 0L)
  }

  test("funnel: strictly-after first-occurrence semantics per stage") {
    val ev = Seq(
      (1L, "view", 1L), (1L, "click", 2L), (1L, "purchase", 3L), // full funnel
      (2L, "click", 1L), (2L, "view", 2L), (2L, "click", 5L),    // click@1 too early
      (3L, "click", 3L), (3L, "view", 5L),                       // click only BEFORE view
      (4L, "click", 1L)                                          // never viewed
    ).toDF("user_id", "event_type", "ts_sec")
    val got = Relational.funnel(ev, Seq("view", "click", "purchase"))
      .select("stage", "step", "n_users", "conv_permille")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(got === Seq((1L, "view", 3L, 1000L), (2L, "click", 2L, 666L),
      (3L, "purchase", 1L, 333L)))
  }

  test("retention: cohort = first period, offsets counted per distinct period") {
    val ev = Seq(
      (1L, 0L), (1L, 5L), (1L, 86400L), (1L, 86401L),   // user1: days 0,1
      (2L, 10L), (2L, 2 * 86400L),                      // user2: days 0,2
      (3L, 86400L + 3L)                                 // user3: cohort day 1
    ).toDF("user_id", "ts_sec")
    val got = Relational.retention(ev, periodSec = 86400L)
      .select("cohort", "offset", "n_users", "retained_permille")
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(got === Seq(
      (0L, 0L, 2L, 1000L), (0L, 1L, 1L, 500L), (0L, 2L, 1L, 500L),
      (1L, 0L, 1L, 1000L)))
  }

  test("repeatedSpans and stripRepeatedSpans match a brute-force reference " +
    "on random small corpora") {
    val L = 4
    val rnd = new scala.util.Random(20260812L)
    val vocab = Array("a", "b", "c", "d", "e", "f")
    for (round <- 1 to 12) {
      val corpus: Map[Long, Array[String]] = (0L until 8L).map { id =>
        id -> Array.fill(rnd.nextInt(28))(vocab(rnd.nextInt(vocab.length)))
      }.toMap
      // brute force: shared grams, per-doc islands, canonical strip
      val occ = corpus.toSeq.flatMap { case (id, ts) =>
        (0 to ts.length - L).map(p => (ts.slice(p, p + L).mkString(" "), id, p))
      }
      val shared = occ.groupBy(_._1).filter(_._2.map(_._2).distinct.size >= 2)
      def islands(ps: Seq[Int]): Seq[(Int, Int)] =
        ps.sorted.foldLeft(List.empty[(Int, Int)]) {
          case ((s, e) :: tl, p) if p == e + 1 => (s, p) :: tl
          case (acc, p) => (p, p) :: acc
        }.reverse
      val expDetect = shared.values.flatten.groupBy(_._2).map { case (id, os) =>
        val ps = os.map(_._3).toSeq
        val isl = islands(ps)
        val cov = ps.flatMap(p => p until p + L).toSet
        id -> ((ps.size.toLong, isl.size.toLong, cov.size.toLong,
          isl.map { case (s, e) => e - s + L }.max.toLong,
          corpus(id).length.toLong, cov.size.toLong * 1000 / corpus(id).length))
      }
      val minDoc = shared.map { case (g, os) => g -> os.map(_._2).min }
      val expStrip = corpus.map { case (id, ts) =>
        val cov = shared.values.flatten
          .filter(o => o._2 == id && minDoc(o._1) != id)
          .flatMap(o => o._3 until o._3 + L).toSet
        val kept = ts.zipWithIndex.collect { case (t, i) if !cov.contains(i) => t }
        id -> ((ts.length.toLong, cov.size.toLong, md5Of(kept.mkString(" "))))
      }
      val docs = corpus.toSeq.map { case (id, ts) => (id, ts.mkString(" ")) }
        .toDF("doc_id", "text")
      val gotDetect = Dedup.repeatedSpans(docs, L)
        .select("doc_id", "n_shared_grams", "n_spans", "covered_tokens",
          "max_span_tokens", "n_tokens", "repeated_permille")
        .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7))).toMap
      assert(gotDetect === expDetect, s"detect mismatch, round $round")
      val gotStrip = Dedup.stripRepeatedSpans(docs, L)
        .select("doc_id", "n_tokens", "n_removed", "clean_md5")
        .as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(gotStrip === expStrip, s"strip mismatch, round $round")
    }
  }

  test("bpeMerges: greedy non-overlapping merges with total-order tie-breaks") {
    // corpus: "abab abab ab" ×1 → words: abab ×2, ab ×1
    // step 1 pairs: (a,b)=2·2+1=5, (b,a)=2·1=2 → merge (a,b)→ab
    // step 2: abab→[ab,ab]×2, ab→[ab] → (ab,ab)=2 → merge → abab
    // step 3: abab→[abab]×2, ab→[ab] → no pairs left → no row
    val docs = Seq((1L, "abab abab ab")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeMerges(docs, merges = 3)
      .select("merge_rank", "left", "right", "merged", "cnt")
      .as[(Long, String, String, String, Long)].collect().sortBy(_._1)
    assert(got === Seq((1L, "a", "b", "ab", 5L), (2L, "ab", "ab", "abab", 2L)))
  }

  test("bpeMerges: aaaa merges non-overlapping (greedy left-to-right)") {
    val docs = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeMerges(docs, merges = 2)
      .select("merge_rank", "merged", "cnt").as[(Long, String, Long)]
      .collect().sortBy(_._1)
    // step 1: (a,a)=3 → aaaa→[aa,aa]; step 2: (aa,aa)=1 → [aaaa]
    assert(got === Seq((1L, "aa", 3L), (2L, "aaaa", 1L)))
  }

  test("bpeEncode: learned merges applied in rank order; exact counts") {
    val docs = Seq((1L, "abab abab ab")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeEncode(docs, TextAnalysis.bpeMerges(docs, merges = 3))
      .select("doc_id", "n_words", "n_chars", "n_bpe_tokens", "compression_permille")
      .as[(Long, Long, Long, Long, Long)].head()
    // merges: (a,b)→ab then (ab,ab)→abab; encode: [abab],[abab],[ab] = 3 tokens
    assert(got === ((1L, 3L, 10L, 3L, 3333L)))
  }

  test("fkAudit: orphans and NULL FKs counted separately") {
    val child = Seq((1L, Option(10L)), (2L, Option(99L)), (3L, Option.empty[Long]))
      .toDF("id", "fk")
    val parent = Seq(Tuple1(10L)).toDF("pk")
    val got = Relational.fkAudit(Seq(("c->p", child, "fk", parent, "pk")))
      .select("relation", "n_rows", "n_null_fk", "n_orphans")
      .as[(String, Long, Long, Long)].head()
    assert(got === (("c->p", 3L, 1L, 1L)))
  }

  test("funnel matches a per-user brute force on random event sets") {
    val rnd = new scala.util.Random(424242L)
    val steps = Seq("view", "click", "purchase")
    for (round <- 1 to 8) {
      val events = (1 to 30).flatMap { u =>
        Seq.fill(rnd.nextInt(12))((u.toLong, steps(rnd.nextInt(3)), rnd.nextInt(40).toLong))
      }
      val exp = {
        val byUser = events.groupBy(_._1)
        def stageTimes(prev: Map[Long, Long], step: String): Map[Long, Long] =
          prev.flatMap { case (u, t) =>
            byUser(u).collect { case (_, s, ts) if s == step && ts > t => ts }
              .minOption.map(u -> _)
          }
        val s1 = byUser.flatMap { case (u, es) =>
          es.collect { case (_, s, ts) if s == "view" => ts }.minOption.map(u -> _)
        }
        val s2 = stageTimes(s1, "click")
        val s3 = stageTimes(s2, "purchase")
        Seq(s1, s2, s3).map(_.size.toLong).zipWithIndex.map { case (n, i) =>
          (i + 1L, steps(i), n,
            if (s1.nonEmpty) n * 1000 / s1.size else 0L)
        }.filter(_ => s1.nonEmpty)
      }
      val got = Relational.funnel(
          events.toDF("user_id", "event_type", "ts_sec"), steps)
        .select("stage", "step", "n_users", "conv_permille")
        .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
      assert(got === exp, s"round $round")
    }
  }

  test("keySkewProfile: exact counts and permilles on a skewed key") {
    val df = (Seq.fill(8)("hot") ++ Seq("k2", "k3")).toDF("k")
    val got = Relational.keySkewProfile(df, "k", topN = 2)
      .select("n_rows", "n_keys", "max_cnt", "avg_cnt",
        "skew_ratio_permille", "top1_permille", "topn_permille")
      .as[(Long, Long, Long, Long, Long, Long, Long)].head()
    assert(got === ((10L, 3L, 8L, 3L, 2400L, 800L, 900L))) // top2 = 8+1
  }

  test("lengthQuantiles: order statistics at the exact positions") {
    val docs = (1 to 10).map(n => (n.toLong, "s", ("w " * n).trim))
      .toDF("doc_id", "source", "text")
      .select(col("source"), col("doc_id"), col("text"))
    val got = Corpus.lengthQuantiles(docs)
      .select("source", "n_docs", "min_tokens", "p50_tokens", "p90_tokens",
        "p99_tokens", "max_tokens")
      .as[(String, Long, Long, Long, Long, Long, Long)].head()
    // positions over n=10: p50→⌊9·.5⌋+1=5, p90→⌊9·.9⌋+1=9, p99→⌊9·.99⌋+1=9
    assert(got === (("s", 10L, 1L, 5L, 9L, 9L, 10L)))
  }
}
