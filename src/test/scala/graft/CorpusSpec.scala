package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{Corpus, Dedup, Relational}
import graft.sources.Tables

/** Corpus-management operator invariants (splits, sampling, repetition,
  * PII, vocabulary) + the streaming exact-dedup twin. Cross-engine
  * equality is covered by the DuckDB oracle queries; these pin the
  * semantic properties.
  */
class CorpusSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private lazy val docs = Tables.documents(spark, sf)

  test("upsample: integer copies outright, fractional tail ~honored, 0 drops, stable") {
    val up = Corpus.upsample(docs, "source",
      Map("src0" -> 2500, "src1" -> 0), defaultPermille = 1000)
    val bySrc = up.groupBy("source").count().as[(String, Long)].collect().toMap
    val baseBySrc = docs.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(!bySrc.contains("src1"))                       // weight 0 drops the stratum
    bySrc.filterKeys(k => k != "src0").foreach { case (s, n) =>
      assert(n === baseBySrc(s))                          // weight 1000 = identity
    }
    val n0 = baseBySrc("src0")
    assert(bySrc("src0") >= 2 * n0 && bySrc("src0") <= 3 * n0) // 2 full + ~0.5
    // every doc of a >=2000 stratum appears at copy_idx 0 and 1
    val copies = up.filter(col("source") === "src0")
      .groupBy("doc_id").count().as[(Long, Long)].collect()
    assert(copies.forall(_._2 >= 2))
    // deterministic: same rows on a re-run
    val again = Corpus.upsample(docs, "source",
      Map("src0" -> 2500, "src1" -> 0), defaultPermille = 1000)
    assert(again.select("doc_id", "copy_idx").except(up.select("doc_id", "copy_idx")).isEmpty)
  }

  test("saltedAggregate equals the direct groupBy") {
    import graft.operators.Relational
    val li = Tables.lineitem(spark, sf)
      .withColumn("qty_cents", round(col("l_quantity") * 100).cast("long"))
    val salted = Relational.saltedAggregate(li, Seq("l_returnflag"),
        col("l_orderkey"), col("qty_cents"), saltBuckets = 16)
      .as[(String, Long, Long)].collect().toSet
    val direct = li.groupBy(col("l_returnflag"))
      .agg(sum(col("qty_cents")).as("sum_value"), count(lit(1)).as("n"))
      .as[(String, Long, Long)].collect().toSet
    assert(salted === direct)
  }

  test("split is a stable partition: every doc gets exactly one split, growth-invariant") {
    val s1 = Corpus.split(docs).select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(s1.size === docs.count())
    assert(s1.values.toSet.subsetOf(Set("train", "val", "test")))
    // the same doc keeps its split when the corpus shrinks/grows
    val s2 = Corpus.split(docs.limit(100)).select("doc_id", "split")
      .as[(Long, String)].collect().toMap
    s2.foreach { case (id, sp) => assert(s1(id) === sp) }
    // permille targets are roughly honored (±10 points on 500 docs is generous)
    val frac = s1.values.count(_ == "train").toDouble / s1.size
    assert(frac > 0.8 && frac < 0.97, s"train fraction $frac")
  }

  test("e2e curate query: survivors pass the gate, are exact-unique, and near-unique") {
    import graft.operators.TextAnalysis
    val out = SparkEntry.queries("corpus_e2e_curate")(spark, sf)
    val ids = out.select("doc_id").as[Long].collect().toSet
    assert(ids.nonEmpty)
    // every survivor passed the Gopher gate
    val kept = TextAnalysis.gopherRules(docs).filter(col("keep") === 1L)
      .select("doc_id").as[Long].collect().toSet
    assert(ids.subsetOf(kept))
    // exact-dedup invariant: no two survivors share identical text
    val texts = docs.filter(col("doc_id").isin(ids.toSeq: _*))
      .select("text").as[String].collect()
    assert(texts.length === texts.distinct.length)
    // near-dedup invariant: no verified near-dup pair survives whole
    val pairs = Dedup.jaccardPairsBanded(
      docs.filter(col("doc_id").isin(ids.toSeq: _*)), Seq("source", "lang"),
      thresholdPermille = 900)
    assert(pairs.count() === 0L, "a near-dup pair survived curation")
  }

  test("leakageSafeSplit: clusters never straddle splits; singletons match plain split") {
    val pairs = Dedup.jaccardPairsBanded(docs, Seq("source", "lang"),
      thresholdPermille = 900)
    val lss = Corpus.leakageSafeSplit(docs, pairs)
      .select("doc_id", "component", "split").as[(Long, Long, String)].collect()
    assert(lss.length === docs.count())
    val splitOf = lss.map(r => r._1 -> r._3).toMap
    // THE invariant: no near-dup pair straddles splits
    val edges = pairs.select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(edges.nonEmpty, "fixture should contain near-dup pairs")
    edges.foreach { case (a, b) =>
      assert(splitOf(a) === splitOf(b), s"pair ($a,$b) straddles splits")
    }
    // every cluster maps to one split (stronger: transitive closure)
    lss.groupBy(_._2).foreach { case (comp, members) =>
      assert(members.map(_._3).distinct.length === 1, s"component $comp split")
    }
    // docs not in any pair keep their plain-split assignment
    val inPairs = edges.flatMap(t => Seq(t._1, t._2)).toSet
    val plain = Corpus.split(docs).select("doc_id", "split")
      .as[(Long, String)].collect().toMap
    lss.filterNot(r => inPairs(r._1)).foreach { case (id, comp, sp) =>
      assert(comp === id, s"singleton $id should represent itself")
      assert(plain(id) === sp, s"singleton $id split changed vs plain split")
    }
  }

  test("split and sample bucketings are independent (different salts)") {
    val b1 = Corpus.split(docs).select("doc_id", "bucket").as[(Long, Long)].collect().toMap
    val b2 = docs.select(col("doc_id"),
        Corpus.hashBucket(col("doc_id"), 1000, "sample|").as("b"))
      .as[(Long, Long)].collect().toMap
    assert(b1.keySet === b2.keySet)
    assert(b1.count { case (k, v) => b2(k) == v } < b1.size / 10)
  }

  test("stratifiedSample keeps a deterministic per-stratum subset") {
    val rates = Map("src0" -> 1000, "src1" -> 0)
    val kept = Corpus.stratifiedSample(docs, "source", rates, defaultPermille = 500)
    val bySource = kept.groupBy("source").count().as[(String, Long)].collect().toMap
    val total = docs.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(bySource.getOrElse("src0", 0L) === total("src0")) // rate 1000 keeps all
    assert(!bySource.contains("src1"))                       // rate 0 keeps none
    // deterministic: same result on re-run
    val again = Corpus.stratifiedSample(docs, "source", rates, 500)
      .select("doc_id").as[Long].collect().sorted
    assert(again.sameElements(kept.select("doc_id").as[Long].collect().sorted))
  }

  test("repetition: degenerate doc scores high, all-distinct doc scores zero") {
    val d = Seq((1L, "spam spam spam spam spam"), (2L, "a b c d e"))
      .toDF("doc_id", "text")
    val r = Corpus.repetition(d).collect().map(x =>
      x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("dup_token_permille"), x.getAs[Long]("dup_2gram_permille"))).toMap
    assert(r(1L) === ((800L, 750L))) // 5 tokens 1 distinct; 4 grams 1 distinct
    assert(r(2L) === ((0L, 0L)))
  }

  test("luhnScan: canonical vectors validate, invalid runs stay, only valid runs scrub") {
    val df = Seq(
      (1L, "pay with 4111111111111111 now"),          // canonical valid Visa test number
      (2L, "pay with 4111111111111112 now"),          // last digit off → invalid
      (3L, "order 1234567890 ref 79927398713"),       // 10 digits ignored; 11-digit valid Luhn ignored (<13)
      (4L, "id 4111111111111111 and 5500005555555559"), // two valid numbers
      (5L, "no digits at all")
    ).toDF("doc_id", "text")
    val out = Corpus.luhnScan(df).orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect()
    assert(out(0) === ((1L, 1L, 1L, "pay with [CC] now")))
    assert(out(1) === ((2L, 1L, 0L, "pay with 4111111111111112 now")))
    assert(out(2)._2 === 0L && out(2)._3 === 0L) // short runs never candidates
    assert(out(3)._2 === 2L && out(3)._3 === 2L &&
      out(3)._4 === "id [CC] and [CC]")
    assert(out(4) === ((5L, 0L, 0L, "no digits at all")))
  }

  test("piiScrub redacts emails and phones and counts them") {
    val d = Seq((1L, "mail a.b@x.co and +1 234 567 8901 now"), (2L, "clean text"))
      .toDF("doc_id", "text")
    val r = Corpus.piiScrub(d).collect().map(x =>
      x.getAs[Long]("doc_id") -> x).toMap
    assert(r(1L).getAs[Long]("n_emails") === 1L)
    assert(r(1L).getAs[Long]("n_phones") === 1L)
    val scrubbed = r(1L).getAs[String]("scrubbed")
    assert(scrubbed.contains("[EMAIL]") && scrubbed.contains("[PHONE]"))
    assert(!scrubbed.contains("@") && !scrubbed.contains("234"))
    assert(r(2L).getAs[String]("scrubbed") === "clean text")
  }

  test("sampleKPerStratum returns exactly min(k, stratum size) per stratum, deterministically") {
    val k = 7
    val got = Corpus.sampleKPerStratum(docs, "source", k)
    val perStratum = got.groupBy("source").count().as[(String, Long)].collect().toMap
    val totals = docs.groupBy("source").count().as[(String, Long)].collect().toMap
    totals.foreach { case (src, n) =>
      assert(perStratum(src) === math.min(k.toLong, n), src)
    }
    val again = Corpus.sampleKPerStratum(docs, "source", k)
      .select("doc_id").as[Long].collect().sorted
    assert(again.sameElements(got.select("doc_id").as[Long].collect().sorted))
  }

  test("decontaminate drops docs sharing any n-gram with the eval set") {
    val eval = Seq((100L, "secret bench phrase appears right here verbatim"))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, "prefix words then secret bench phrase appears right here verbatim and more"),
      (2L, "totally unrelated content with no overlap at all whatsoever"))
      .toDF("doc_id", "text")
    val kept = Corpus.decontaminate(train, eval, n = 7)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(2L)) // doc 1 contains the eval 7-gram → dropped
  }

  test("normalizeText strips markup, lowercases and collapses whitespace") {
    val d = Seq((1L, "<div>Hello   <b>WORLD</b></div>\t\n mixed  Case "))
      .toDF("doc_id", "text")
    val n = Corpus.normalizeText(d).select("norm_text").as[String].head()
    assert(n === "hello world mixed case")
    // flags off → pass-through
    val raw = Corpus.normalizeText(d, stripMarkup = false, lowercase = false,
      collapseWhitespace = false).select("norm_text").as[String].head()
    assert(raw === d.select("text").as[String].head())
  }

  test("vocabulary returns the k most frequent tokens, ranked") {
    val d = Seq((1L, "x x x y y z")).toDF("doc_id", "text")
    val v = Corpus.vocabulary(d, 2).orderBy("rank")
      .select("token", "cnt", "rank").as[(String, Long, Long)].collect()
    assert(v.toList === List(("x", 3L, 1L), ("y", 2L, 2L)))
  }

  test("pack assigns contiguous docs to token-budget packs per shard") {
    val d = Seq(
      (1L, "s1", "a b c"),      // 3 tokens, cum_before 0 → pack 0
      (2L, "s1", "d e f g"),    // 4 tokens, cum_before 3 → pack 0
      (3L, "s1", "h i"),        // 2 tokens, cum_before 7 → pack 1
      (4L, "s1", "j"),          // 1 token,  cum_before 9 → pack 1
      (5L, "s2", "k l m n o p") // other shard restarts at pack 0
    ).toDF("doc_id", "source", "text")
    val got = Corpus.pack(d, budgetTokens = 5)
      .select("doc_id", "pack_id").as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 0L))
  }

  test("packBy: whitespace counts reproduce pack; BPE counts re-bucket by fertility") {
    val wsCounts = docs.select(col("doc_id"),
      size(Dedup.tokens(col("text"))).cast("long").as("n_tokens"))
    val a = Corpus.pack(docs, budgetTokens = 512)
      .select("doc_id", "pack_id").as[(Long, Long)].collect().toMap
    val b = Corpus.packBy(docs, wsCounts, budgetTokens = 512, tokensCol = "n_tokens")
      .select("doc_id", "pack_id").as[(Long, Long)].collect().toMap
    assert(a === b, "packBy under whitespace counts must equal pack")
    // under BPE counts the same budget yields MORE packs (fertility
    // ≥ 1 token per word), and every pack STARTS under budget
    import graft.operators.TextAnalysis
    val enc = TextAnalysis.bpeEncode(docs, TextAnalysis.bpeMerges(docs, merges = 3))
    val packed = Corpus.packBy(docs, enc, budgetTokens = 2048, tokensCol = "n_bpe_tokens")
    val perPack = packed.groupBy("source", "pack_id")
      .agg(sum("n_bpe_tokens").as("tot"), count(lit(1)).as("n"))
      .as[(String, Long, Long, Long)].collect()
    perPack.foreach { case (src, pid, tot, n) =>
      // a pack exceeds budget only by its last doc (greedy closure)
      assert(n === 1L || tot < 2048 + packed
        .filter(col("source") === src && col("pack_id") === pid)
        .agg(max("n_bpe_tokens")).head().getLong(0),
        s"pack ($src,$pid) start over budget")
    }
    assert(packed.count() === docs.count())
  }

  test("pack ids are non-decreasing in id order and budget is honored at pack starts") {
    val packed = Corpus.pack(docs, budgetTokens = 256)
      .select("source", "doc_id", "n_tokens", "pack_id")
      .as[(String, Long, Long, Long)].collect()
    packed.groupBy(_._1).values.foreach { shard =>
      val inOrder = shard.sortBy(_._2)
      val ids = inOrder.map(_._4)
      assert(ids.zip(ids.tail).forall { case (a, b) => a <= b })
      // tokens before each pack's first doc are exactly pack_id full budgets or more
      var cum = 0L
      inOrder.foreach { case (_, _, n, p) =>
        assert(p === cum / 256, s"doc with cum_before $cum in pack $p")
        cum += n
      }
    }
  }

  test("simhash16 composes with a streaming source (fanOut is streaming-safe)") {
    val mem = MemoryStream[(Long, String)]
    val out = Dedup.simhash16(mem.toDF().toDF("doc_id", "text"))
    val q = out.writeStream.outputMode("update").format("memory")
      .queryName("ssim_out").start()
    mem.addData((1L, "x y z"), (2L, "x y z"), (3L, "p q r"))
    q.processAllAvailable()
    val got = spark.table("ssim_out").select("doc_id", "simhash16")
      .as[(Long, Long)].collect().toMap
    assert(got.keySet === Set(1L, 2L, 3L))
    assert(got(1L) === got(2L)) // identical text → identical signature
    q.stop()
  }

  test("corpus pipeline composes: curate → split → sample → pack") {
    // the suite's curate pipeline picks the survivors; split, sample
    // and pack run over their full document rows
    val curated = docs.join(
      SparkEntry.queries("corpus_e2e_curate")(spark, sf).select("doc_id"), "doc_id")
    val kept = curated.count()
    val train = Corpus.split(curated)
      .filter(col("split") === "train").drop("bucket", "split")
    val sampled = Corpus.stratifiedSample(train, "source",
      Map.empty[String, Int], defaultPermille = 800)
    val packed = Corpus.pack(sampled, budgetTokens = 512)
    val n = packed.count()
    assert(n === sampled.count())
    assert(n > 0 && n <= kept)
    // every pack is within its shard and ids are present exactly once
    assert(packed.select("doc_id").distinct().count() === n)
  }

  test("shuffleOrder: totally ordered across range partitions, seeded, deterministic") {
    val ord = Corpus.shuffleOrder(docs, "e0", partitions = 4)
    // within-partition sorted AND partition ranges ascending → reading
    // partition files in order IS the global order (no global window)
    val parts = ord.select("shuf_key").rdd.mapPartitionsWithIndex { (i, it) =>
      val v = it.map(_.getLong(0)).toArray
      if (v.isEmpty) Iterator.empty
      else Iterator((i, v.head, v.last, (1 until v.length).forall(j => v(j - 1) <= v(j))))
    }.collect().sortBy(_._1)
    assert(parts.nonEmpty && parts.forall(_._4))
    parts.sliding(2).foreach {
      case Array(a, b) => assert(a._3 <= b._2) // prev max <= next min
      case _           =>
    }
    // deterministic across runs; a different seed permutes differently
    def order(seed: String): Seq[Long] =
      Corpus.shuffleOrder(docs, seed, partitions = 4)
        .select("doc_id").as[Long].collect().toSeq
    assert(order("e0") === order("e0"))
    assert(order("e0") !== order("e1"))
    assert(order("e0").sorted === order("e1").sorted) // same docs, new order
  }

  test("cdcChunks: boundaries resync after an insertion; fixed-stride chunks all shift") {
    // 200 deterministic pseudo-tokens; doc 2 prepends one token. CDC
    // boundaries depend only on the local 4-token window, so every
    // chunk after doc 2's first boundary hashes identically to doc
    // 1's — the shift-resistance fixed-stride chunking lacks.
    val toks = (0 until 200).map(i => s"w$i")
    val in = Seq((1L, toks.mkString(" ")), (2L, ("zzz " + toks.mkString(" "))))
      .toDF("doc_id", "text")
    val ch = Corpus.cdcChunks(in, window = 4, modulus = 32)
      .select("doc_id", "chunk_idx", "chunk_md5", "stale")
      .as[(Long, Long, String, Long)].collect()
    val d1 = ch.filter(_._1 == 1L).sortBy(_._2).map(_._3)
    val d2 = ch.filter(_._1 == 2L).sortBy(_._2).map(_._3)
    assert(d1.length >= 3, s"expected several chunks, got ${d1.length}")
    // all doc-1 chunks except the first are present verbatim in doc 2
    assert(d1.drop(1).forall(d2.contains),
      s"CDC resync failed: ${d1.drop(1).count(!d2.contains(_))} chunks lost")
    // shared chunks in the LATER doc are marked stale; doc 1 is fresh
    assert(ch.filter(_._1 == 1L).forall(_._4 === 0L))
    assert(ch.filter(r => r._1 == 2L && d1.contains(r._3)).forall(_._4 === 1L))
    // fixed-stride contrast: the one-token shift kills every chunk hash
    val fixedShared = {
      val f = Corpus.chunk(in, chunkTokens = 16, strideTokens = 16)
        .select(col("doc_id"), md5(col("chunk_text").cast("binary")).as("h"))
        .as[(Long, String)].collect()
      val f1 = f.filter(_._1 == 1L).map(_._2).toSet
      f.filter(_._1 == 2L).map(_._2).count(f1.contains)
    }
    assert(fixedShared === 0, s"fixed chunking unexpectedly shared $fixedShared")
  }

  test("chunk: stride overlap, partial tail kept, short docs one chunk, empty none") {
    val in = Seq(
      (1L, (1 to 20).map("w" + _).mkString(" ")), // 20 toks → starts 0, 8
      (2L, "a b c"),                              // short → one chunk
      (3L, "")                                    // empty → none
    ).toDF("doc_id", "text")
    val out = Corpus.chunk(in, chunkTokens = 16, strideTokens = 8)
      .orderBy("doc_id", "chunk_idx")
      .as[(Long, Long, Long, String)].collect()
    assert(out.map(r => (r._1, r._2, r._3)).toSeq ===
      Seq((1L, 0L, 16L), (1L, 1L, 12L), (2L, 0L, 3L)))
    // 50% overlap: chunk 1 starts at token 9 and runs to the end
    assert(out(0)._4 === (1 to 16).map("w" + _).mkString(" "))
    assert(out(1)._4 === (9 to 20).map("w" + _).mkString(" "))
    assert(out(2)._4 === "a b c")
  }

  test("normalizeUrl: host lowering, tracking strip, separator repair, edge shapes") {
    val in = Seq(
      (1L, "HTTPS://WWW.Ex.COM/Path?utm_source=a&id=5&gclid=z#frag"),
      (2L, "http://ex.com/p?utm_campaign=only"), // tracking-only query
      (3L, "Http://EX.com/CaseKept/Path"),       // path case preserved
      (4L, "ex.com/no-scheme?fbclid=1&q=2"),     // schemeless
      (5L, "https://ex.com/#justfrag")
    ).toDF("doc_id", "url")
    val out = Corpus.urlParts(in)
      .select("doc_id", "url_norm", "host", "domain").orderBy("doc_id")
      .as[(Long, String, String, String)].collect()
    assert(out(0)._2 === "https://www.ex.com/Path?id=5")
    assert(out(0)._3 === "www.ex.com" && out(0)._4 === "ex.com")
    assert(out(1)._2 === "http://ex.com/p")
    assert(out(2)._2 === "http://ex.com/CaseKept/Path")
    assert(out(3)._2 === "ex.com/no-scheme?q=2")
    assert(out(3)._3 === "") // no scheme → no host claim
    assert(out(4)._2 === "https://ex.com/")
  }

  test("stripBoilerplate: repeated segments removed, within-doc repeats count once") {
    // segWords=2, minDocs=2. "cookie banner" appears in docs 1,2,3 (twice
    // in doc 1 — must count ONE doc-frequency each, i.e. df=3 not 4);
    // doc 4 is pure boilerplate; doc 5 shares nothing.
    val in = Seq(
      (1L, "cookie banner cookie banner unique one"),
      (2L, "cookie banner body two"),
      (3L, "cookie banner body two tail"), // "body two" also df=2
      (4L, "cookie banner"),
      (5L, "totally fresh words here")
    ).toDF("doc_id", "text")
    val out = Corpus.stripBoilerplate(in, segWords = 2, minDocs = 2)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect()
    assert(out.map(_._1).toSeq === Seq(1L, 2L, 3L, 4L, 5L))
    // doc 1: 3 segments, both "cookie banner" dropped, "unique one" kept
    assert(out(0) === ((1L, 3L, 2L, "unique one")))
    // docs 2+3 share "body two" → dropped alongside "cookie banner"
    assert(out(1) === ((2L, 2L, 2L, "")))
    assert(out(2) === ((3L, 3L, 2L, "tail")))
    // fully-boilerplate doc comes back with empty text, not dropped
    assert(out(3) === ((4L, 1L, 1L, "")))
    // untouched doc round-trips verbatim
    assert(out(4) === ((5L, 2L, 0L, "totally fresh words here")))
  }

  test("stripBoilerplate: empty doc yields one empty segment and survives") {
    val in = Seq((1L, ""), (2L, "a b"), (3L, "a b")).toDF("doc_id", "text")
    val out = Corpus.stripBoilerplate(in, segWords = 2, minDocs = 2)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect()
    assert(out(0) === ((1L, 1L, 0L, ""))) // single "" segment, df=1, kept
    assert(out(1) === ((2L, 1L, 1L, "")))
    assert(out(2) === ((3L, 1L, 1L, "")))
  }

  test("temperatureMixture: α=½ flattens shares toward uniform, Σw = 1") {
    // token mass 90 vs 10 → raw shares .9/.1, tempered 3/(3+1)=.75/.25
    val in = Seq(
      (1L, "big", ("w " * 90).trim),
      (2L, "small", ("w " * 10).trim)
    ).toDF("doc_id", "source", "text")
    val out = Corpus.temperatureMixture(in).orderBy("source")
      .as[(String, Long, Long, Double, Double)].collect()
    val m = out.map(r => r._1 -> r).toMap
    assert(m("big") === (("big", 1L, 90L, 0.9, 0.75)))
    assert(m("small") === (("small", 1L, 10L, 0.1, 0.25)))
    // tempered is strictly flatter than raw on both ends
    assert(m("big")._5 < m("big")._4 && m("small")._5 > m("small")._4)
  }

  test("dsirWeights: target-like docs score above raw-common docs") {
    // target domain (is_target) speaks 'tgt'; the raw bulk speaks
    // 'bulk'. A candidate full of 'tgt' must outweigh one full of
    // 'bulk'; a mixed doc lands between them.
    val rows =
      (1L to 5L).map(i => (i, true, ("tgt " * 20).trim)) ++
      (6L to 25L).map(i => (i, false, ("bulk " * 20).trim)) ++
      Seq((26L, false, ("tgt " * 10 + "bulk " * 10).trim))
    val in = rows.toDF("doc_id", "is_target", "text")
    val w = Corpus.dsirWeights(in, col("is_target"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w(1L) > w(26L) && w(26L) > w(6L))
    assert(w(1L) > 0 && w(6L) < 0) // LLR sign: toward target vs away
    // same text ⇒ identical weight regardless of the target flag
    assert(w(6L) === w(25L))
  }

  test("topicDrift: L1 bounded by 2000, identical-mix strata score ~0") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val drift = Corpus.topicDrift(docs, emb, k = 4, iters = 1)
      .as[(String, Long)].collect().toMap
    assert(drift.nonEmpty)
    // |p - q|_1 over permille distributions is at most 2000
    assert(drift.values.forall(v => v >= 0L && v <= 2000L))
    // a corpus with ONE source has zero distance to the global mix
    // (up to floor-permille rounding on the same counts: exactly 0)
    val one = docs.withColumn("source", lit("only"))
    val d1 = Corpus.topicDrift(one, emb, k = 4, iters = 1)
      .as[(String, Long)].collect().toMap
    assert(d1 === Map("only" -> 0L))
  }

  test("mergeAggStates over any slicing equals the direct aggregate (incremental-MV law)") {
    val ev = Tables.events(spark, sf)
      .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
    val direct = Relational.aggState(ev, Seq(col("event_type")), col("cents"))
      .orderBy("event_type").collect().toSeq
    // 3-way modulo slicing, merged flat
    val flat = Relational.mergeAggStates(
      (0 to 2).map(i => Relational.aggState(ev.filter(col("event_id") % 3 === i),
        Seq(col("event_type")), col("cents"))), Seq("event_type"))
      .orderBy("event_type").collect().toSeq
    assert(flat === direct)
    // stepwise (yesterday's merged state + today's delta) — associativity
    val step1 = Relational.mergeAggStates(
      Seq(Relational.aggState(ev.filter(col("event_id") % 3 === 0),
        Seq(col("event_type")), col("cents")),
        Relational.aggState(ev.filter(col("event_id") % 3 === 1),
          Seq(col("event_type")), col("cents"))), Seq("event_type"))
    val stepwise = Relational.mergeAggStates(
      Seq(step1, Relational.aggState(ev.filter(col("event_id") % 3 === 2),
        Seq(col("event_type")), col("cents"))), Seq("event_type"))
      .orderBy("event_type").collect().toSeq
    assert(stepwise === direct)
  }

  test("snapshotDiff classifies insert/delete/update and drops same; null-safe") {
    val old = Seq((1L, Some("a"), Some(10L)), (2L, Some("b"), Some(20L)),
      (3L, None, Some(30L)), (4L, Some("d"), None)).toDF("k", "s", "v")
    val neu = Seq((2L, Some("b"), Some(21L)),          // update (v changed)
      (3L, None, Some(30L)),                            // same (null-safe equal)
      (4L, Some("d"), Some(40L)),                       // update (null → value)
      (5L, Some("e"), Some(50L))).toDF("k", "s", "v")   // insert; key 1 deleted
    val got = Relational.snapshotDiff(old, neu, Seq("k"), Seq("s", "v"))
      .as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "delete", 2L -> "update", 4L -> "update", 5L -> "insert"))
  }

  test("char-gram containment finds an excerpt and honors the posting governor") {
    val excerpt = "alpha beta gamma"
    val docs = Seq(
      (1L, excerpt),
      (2L, excerpt + " " + (1 to 40).map(i => s"w$i").mkString(" ")), // superset
      (3L, (41 to 80).map(i => s"z$i").mkString(" "))   // every 5-gram holds a 'z'
    ).toDF("doc_id", "text")
    val pairs = Dedup.charNgramContainmentAccounted(docs, Nil, thresholdPermille = 800)
      .pairs.select("doc_a", "doc_b", "cont_permille")
      .as[(Long, Long, Long)].collect().toSet
    // J(1,2) is low (12 of doc 2's ~150 grams), but containment = 12/12
    assert(pairs.contains((1L, 2L, 1000L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // governor: cap 1 drops every gram appearing in both docs from
    // the postings — the excerpt pair is lost, and the accounting says so
    val acc = Dedup.charNgramContainmentAccounted(docs, Nil, thresholdPermille = 800,
      maxPostings = 1)
    assert(acc.pairs.count() === 0L)
    assert(acc.droppedTokens.count() === excerpt.sliding(5).toSet.size.toLong)
    // the probe⋈postings stage must stay an EQUI-join even with no
    // strata — a same-attribute-id join key would degenerate to an
    // all-pairs product (caught here by plan shape, not just results)
    val plan = Dedup.charNgramContainmentAccounted(docs, Nil, thresholdPermille = 800)
      .pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("unimaxAllocation: hand-traced waterfill, cap binds small sources, spill flows up") {
    import spark.implicits._
    def docsOf(counts: (String, Int)*) =
      counts.map { case (s, n) => (s, ("w " * n).trim) }.toDF("source", "text")
        .withColumn("doc_id", monotonically_increasing_id())
    // sizes 10/100/1000, budget 100% (B=1110), cap 50%:
    //   A: fair 370, cap 5  → 5;  B: fair (1105)/2=552, cap 50 → 50;
    //   C: fair 1055, cap 500 → 500. Everyone hits the cap: 500‰ epochs.
    val half = Corpus.unimaxAllocation(docsOf("A" -> 10, "B" -> 100, "C" -> 1000),
        budgetPermille = 1000, maxEpochsPermille = 500)
      .orderBy("source")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(half === Seq(("A", 10L, 5L, 500L), ("B", 100L, 50L, 500L),
      ("C", 1000L, 500L, 500L)))
    // cap 2000‰: A capped at 20, B at 200, C fair-bound at 890 —
    // the budget the capped small sources could not absorb spills up.
    val spill = Corpus.unimaxAllocation(docsOf("A" -> 10, "B" -> 100, "C" -> 1000),
        budgetPermille = 1000, maxEpochsPermille = 2000)
      .orderBy("source")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(spill === Seq(("A", 10L, 20L, 2000L), ("B", 100L, 200L, 2000L),
      ("C", 1000L, 890L, 890L)))
    // invariants on the real corpus: Σ quota ≤ B, every quota ≤ cap,
    // epochs never exceed the cap permille
    val real = Corpus.unimaxAllocation(
        graft.sources.Tables.documents(spark, sf),
        budgetPermille = 900, maxEpochsPermille = 900)
      .as[(String, Long, Long, Long)].collect().toSeq
    val totalTok = real.map(_._2).sum
    assert(real.map(_._3).sum <= totalTok * 900 / 1000)
    assert(real.forall { case (_, c, q, e) => q <= c * 900 / 1000 && e <= 900 })
  }

  test("repeatValueCurve: exact decay recurrence, running effective total, " +
    "zero-token guard") {
    // source a: 10 whitespace tokens → v = 10,7,4,2,1,0,0,0 (each step
    // (v·700) div 1000), eff = 10,17,21,23,24,24,24,24,
    // marginal‰ = 1000,700,400,200,100,0,0,0; source z: empty text
    val docs = Seq(
      (1L, "one two three four five six", "a"),
      (2L, "seven eight nine ten", "a"),
      (3L, "", "z")
    ).toDF("doc_id", "text", "source")
    val got = Corpus.repeatValueCurve(docs)
      .orderBy($"source", $"epochs")
      .select("source", "unique_tokens", "epochs", "epoch_value",
        "effective_tokens", "marginal_permille")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    val a = got.filter(_._1 == "a")
    assert(a.map(_._4) === Seq(10L, 7L, 4L, 2L, 1L, 0L, 0L, 0L))
    assert(a.map(_._5) === Seq(10L, 17L, 21L, 23L, 24L, 24L, 24L, 24L))
    assert(a.map(_._6) === Seq(1000L, 700L, 400L, 200L, 100L, 0L, 0L, 0L))
    assert(a.forall(_._2 === 10L))
    val z = got.filter(_._1 == "z")
    assert(z.length === 8 && z.forall(r => r._2 === 0L && r._4 === 0L && r._6 === 0L),
      "zero-token stratum rides the guard, never divides by zero")
    // decay 1000 = lossless repetition; maxEpochs honored
    val flat = Corpus.repeatValueCurve(docs.filter($"source" === "a"),
      maxEpochs = 3, decayPermille = 1000)
      .select("epoch_value").as[Long].collect()
    assert(flat.toSeq === Seq(10L, 10L, 10L))
  }
}
