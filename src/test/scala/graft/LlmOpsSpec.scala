package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.sources.Tables

/** Invariant checks for the LLM-pipeline operators (dedup, similarity,
  * text analysis, multimodal). Cross-engine equality is covered by the
  * DuckDB oracle; these pin semantic invariants.
  */
class LlmOpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf)
  private lazy val emb = Tables.embeddings(spark, sf)

  test("exact dedup partitions the corpus") {
    val d = Dedup.exact(docs).agg(sum("n_copies")).as[Long].head()
    assert(d === docs.count())
  }

  test("minhash signature has one row per doc with shingles, u32 min per column") {
    val sh = Dedup.shingled(docs, 3)
    val sig = Dedup.minhashSignature(sh, 8)
    assert(sig.count() === sh.filter(size(col("shingles")) > 0).count())
    val r = sig.head()
    (0 until 8).foreach { i =>
      val v = r.getAs[Long](s"h$i")
      assert(v >= 0L && v < (1L << 32))
    }
  }

  test("numeric minhash signature plans HashAggregate, not SortAggregate") {
    val sig = Dedup.minhashSignature(Dedup.shingled(docs, 3), 8)
    val plan = sig.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), plan.take(2000))
    assert(!plan.contains("SortAggregate"), plan.take(2000))
  }

  test("hex_slice_long matches the hex prefix semantics") {
    import graft.functions.HexSliceLong.hex_slice_long
    val r = Seq("00000001ffffffffcafebabe00000000").toDF("h")
      .select(hex_slice_long(col("h"), 0).as("a"), hex_slice_long(col("h"), 8).as("b"),
        hex_slice_long(col("h"), 16).as("c"))
      .head()
    assert(r.getLong(0) === 1L)
    assert(r.getLong(1) === 0xffffffffL)
    assert(r.getLong(2) === 0xcafebabeL)
  }

  test("hex_slice_long equals Long.parseLong of the hex slice (randomized)") {
    import graft.functions.HexSliceLong.hex_slice_long
    val rnd = new scala.util.Random(42)
    val hexes = Seq.fill(200)(
      Seq.fill(32)("0123456789abcdef"(rnd.nextInt(16))).mkString)
    val df = hexes.toDF("h")
    for (pos <- Seq(0, 8, 16, 24)) {
      val got = df.select(hex_slice_long(col("h"), pos).as("v")).as[Long].collect()
      val want = hexes.map(h => java.lang.Long.parseLong(h.substring(pos, pos + 8), 16))
      assert(got.sameElements(want), s"pos $pos")
    }
  }

  test("identical texts are LSH candidates") {
    val twins = Seq((1L, "alpha beta gamma delta epsilon"), (2L, "alpha beta gamma delta epsilon"),
      (3L, "zeta eta theta iota kappa")).toDF("doc_id", "text")
    val pairs = Dedup.lshCandidatePairs(Dedup.minhashSignature(Dedup.shingled(twins, 3), 8))
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
  }

  test("jaccard of identical docs is 1000 permille; pairs respect blocking") {
    val d = Seq((1L, "a b c d", "s1", "en"), (2L, "a b c d", "s1", "en"),
      (3L, "a b c d", "s2", "en")).toDF("doc_id", "text", "source", "lang")
    val pairs = DedupReference.jaccardPairs(d, Seq("source", "lang"), 900).collect()
    assert(pairs.length === 1)
    assert(pairs.head.getAs[Long]("jac_permille") === 1000L)
  }

  test("connectedComponents resolves transitive chains to the minimum id") {
    // chain 1-3-2 (1 and 2 never paired directly) + isolated pair 7-9
    val pairs = Seq((1L, 3L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("connectedComponents of an empty pair set is empty (no NPE)") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.connectedComponents(empty).count() === 0L)
  }

  test("hex_slice_long is null-safe out of range and tolerates uppercase hex") {
    import graft.functions.HexSliceLong.hex_slice_long
    val r = Seq(("abc", "CAFEBABE")).toDF("short", "up")
      .select(hex_slice_long(col("short"), 0).as("a"),
        hex_slice_long(col("up"), -1).as("b"),
        hex_slice_long(col("up"), 0).as("c"))
      .head()
    assert(r.isNullAt(0)) // too short: null, not heap garbage
    assert(r.isNullAt(1)) // negative pos: null
    assert(r.getLong(2) === 0xcafebabeL)
  }

  test("connectedComponents converges on a long chain (diameter > 2)") {
    val chain = (1L to 12L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(chain).as[(Long, Long)].collect()
    assert(got.length === 12)
    assert(got.forall(_._2 == 1L))
  }

  test("keepBest keeps the highest-score member per cluster; ties to min id; singletons survive") {
    // cluster {1,2,3} (chain: 1-2, 2-3) → 2 wins on score;
    // 4 is a singleton → survives; {5,6} tie on score → 5 (min id) wins
    val sdocs = Seq((1L, 10L), (2L, 30L), (3L, 20L), (4L, 5L), (5L, 7L), (6L, 7L))
      .toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val kept = Dedup.keepBest(sdocs, pairs, col("score"))
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Array(2L, 4L, 5L))
  }

  test("keepBest differential: random graphs match a driver-side union-find argmax") {
    val rnd = new scala.util.Random(424242L)
    for (trial <- 1 to 3) {
      val n = 30
      val ids = (1L to n.toLong).toSeq
      val scores = ids.map(i => i -> rnd.nextInt(5).toLong).toMap // narrow range forces ties
      val pairs = Seq.fill(25)((rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1))
        .filter(p => p._1 != p._2)
      val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
      }
      val expected = ids.groupBy(find).values
        .map(members => members.maxBy(i => (scores(i), -i))).toSet
      val got = Dedup.keepBest(
          ids.map(i => (i, scores(i))).toDF("doc_id", "score"),
          pairs.toDF("doc_a", "doc_b"), col("score"))
        .select("doc_id").as[Long].collect().toSet
      assert(got === expected, s"trial $trial: pairs=$pairs scores=$scores")
    }
  }

  test("simhash16 is within [0, 65535] and equal texts hash equal") {
    val h = Dedup.simhash16(docs).agg(min("simhash16"), max("simhash16")).head()
    assert(h.getLong(0) >= 0L && h.getLong(1) <= 65535L)
    val d = Seq((1L, "x y z"), (2L, "x y z")).toDF("doc_id", "text")
    val hs = Dedup.simhash16(d).select("simhash16").as[Long].collect()
    assert(hs(0) === hs(1))
  }

  test("cosine of a vector with itself is 1") {
    val self = Similarity.nearDupPairs(
      emb.limit(1).union(emb.limit(1).withColumn("vec_id", col("vec_id") + 1000000)),
      "label", 0.99)
    val r = self.collect()
    assert(r.length === 1 && math.abs(r.head.getAs[Double]("cos") - 1.0) < 1e-9)
  }

  test("brute-force top-k returns k ranked neighbors per query") {
    val res = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 3), emb, 4)
    val byQuery = res.groupBy("query_id").count().as[(Long, Long)].collect().toMap
    assert(byQuery.values.forall(_ === 4L) && byQuery.size === 3)
    val ranks = res.filter(col("query_id") === 0).orderBy(col("rank")).select("rank")
      .as[Int].collect()
    assert(ranks.sameElements(Array(1, 2, 3, 4)))
  }

  test("ivf candidates never leave the query's cell") {
    val res = Similarity.ivfTopK(emb.filter(col("vec_id") < 5), emb, 3, "label")
    val labels = emb.select(col("vec_id"), col("label")).as[(Long, Int)].collect().toMap
    res.select("query_id", "cand_id").as[(Long, Long)].collect().foreach {
      case (q, c) => assert(labels(q.toInt) === labels(c.toInt))
    }
  }

  test("rp-lsh planes are deterministic and signatures stable") {
    assert(Similarity.rpPlane(0, 64).sameElements(Similarity.rpPlane(0, 64)))
    assert(!Similarity.rpPlane(0, 64).sameElements(Similarity.rpPlane(1, 64)))
    assert(Similarity.rpPlane(3, 64).forall(v => v >= -7.5 && v <= 7.5))
    val s1 = Similarity.rpLshSignature(emb.limit(20)).select("lsh_sig").as[Long].collect()
    val s2 = Similarity.rpLshSignature(emb.limit(20)).select("lsh_sig").as[Long].collect()
    assert(s1.sameElements(s2))
    assert(s1.forall(s => s >= 0 && s < (1L << 16)))
  }

  test("lsh ann candidates share the query's signature block") {
    val sigs = Similarity.rpLshSignature(emb)
      .select(col("vec_id"), shiftright(col("lsh_sig"), 8).as("b"))
      .as[(Long, Long)].collect().toMap
    Similarity.lshTopK(emb.filter(col("vec_id") < 5), emb, 3)
      .select("query_id", "cand_id").as[(Long, Long)].collect()
      .foreach { case (q, c) => assert(sigs(q) === sigs(c)) }
  }

  test("ivfTrain: k-means converges to deterministic centroids; assignment is total") {
    val cents = Similarity.ivfTrain(emb, k = 4, iters = 2)
    val rows = Similarity.ivfCentroidRows(cents).collect()
    val cells = rows.map(_.getAs[Long]("cell")).toSet
    assert(cells.subsetOf(Set(0L, 1L, 2L, 3L)) && cells.nonEmpty)
    assert(rows.length === cells.size * 64) // 64 dims per surviving cell
    // deterministic across runs
    val again = Similarity.ivfCentroidRows(Similarity.ivfTrain(emb, k = 4, iters = 2))
      .collect()
    assert(rows.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
    // every vector gets exactly one cell
    val assigned = Similarity.ivfAssign(emb, cents)
    assert(assigned.count() === emb.count())
    assert(assigned.select("vec_id").distinct().count() === emb.count())
    assert(assigned.select("cell").distinct().count().toInt <= 4)
  }

  test("ivfTrain iteration reduces (or keeps) total quantization error") {
    def totalCost(iters: Int): Double = {
      val cents = Similarity.ivfTrain(emb, k = 4, iters = iters)
      val q = emb.select(col("vec_id"), Similarity.quantize(col("embedding")).as("qv"))
      Similarity.ivfAssign(emb, cents).join(q, "vec_id").join(cents, "cell")
        .withColumn("d2", Similarity.dot(col("qv"), col("qv"))
          - lit(2d) * Similarity.dot(col("qv"), col("cv"))
          + Similarity.dot(col("cv"), col("cv")))
        .agg(sum(col("d2"))).head().getDouble(0)
    }
    assert(totalCost(2) <= totalCost(1))
  }

  test("quality permilles are in range") {
    TextAnalysis.qualityScore(docs).collect().foreach { r =>
      assert(r.getAs[Long]("stop_permille") >= 0 && r.getAs[Long]("stop_permille") <= 1000)
      assert(r.getAs[Long]("distinct_permille") > 0 && r.getAs[Long]("distinct_permille") <= 1000)
      assert(Set(0L, 250L, 500L, 750L, 1000L).contains(r.getAs[Long]("quality_score")))
    }
  }

  test("langid predicts a known language with positive hits") {
    val langs = docs.select("lang").distinct().as[String].collect().toSet
    TextAnalysis.langId(docs).collect().foreach { r =>
      assert(langs.contains(r.getAs[String]("pred_lang")))
      assert(r.getAs[Long]("hits") > 0)
    }
  }

  test("fingerprint is permutation-invariant") {
    val d = Seq((1L, "b a c"), (2L, "c b a")).toDF("doc_id", "text")
    val fps = TextAnalysis.fingerprint(d).select("fp").as[String].collect()
    assert(fps(0) === fps(1))
  }

  test("featurize: 16 normalized buckets, sums to 1, deterministic") {
    val f = Multimodal.featurize(Multimodal.asBlob(docs.limit(50))).collect()
    assert(f.length === 50)
    f.foreach { r =>
      val h = r.getSeq[Double](1)
      assert(h.length === 16)
      assert(math.abs(h.sum - 1.0) < 1e-9)
      assert(h.forall(v => v >= 0.0 && v <= 1.0))
    }
    val again = Multimodal.featurize(Multimodal.asBlob(docs.limit(50))).collect()
    assert(f.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("blob → featurize → ANN e2e: ranked neighbors over extracted features") {
    val feats = Multimodal.featurize(Multimodal.asBlob(docs))
      .withColumnRenamed("features", "embedding")
    val res = Similarity.bruteForceTopK(
      feats.filter(col("doc_id") < 3), feats, 5, idCol = "doc_id")
    val byQuery = res.groupBy("query_id").count().as[(Long, Long)].collect().toMap
    assert(byQuery.size === 3 && byQuery.values.forall(_ === 5L))
    // exact duplicate texts have identical features → cosine 1 at rank 1
    val twin = feats.limit(1)
      .union(feats.limit(1).withColumn("doc_id", col("doc_id") + 1000000))
    val self = Similarity.bruteForceTopK(twin.filter(col("doc_id") >= 1000000), twin, 1,
      idCol = "doc_id")
    assert(math.abs(self.select("cos").as[Double].head() - 1.0) < 1e-9)
  }

  test("dedupeAgainst drops exact and near cross-corpus duplicates, keeps novel docs") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),          // exact dup of 1
      (11L, "alpha beta gamma delta epsilon eta"),           // near dup of 1
      (12L, "completely different words entirely here now")) // novel
      .toDF("doc_id", "text")
    val kept = Dedup.dedupeAgainst(fresh, corpus, thresholdPermille = 700)
      .select("doc_id").as[Long].collect().toSet
    assert(!kept.contains(10L), "exact dup must drop")
    assert(!kept.contains(11L), "near dup must drop")
    assert(kept.contains(12L), "novel doc must survive")
  }

  test("sceneChanges numbers scenes at hash boundaries") {
    // 96 chars = 3 frames of 32; frames 0 and 1 identical, frame 2 differs
    val text = ("x" * 64) + ("y" * 32)
    val fr = Multimodal.frames(Seq((1L, text)).toDF("doc_id", "text"), 32, 4)
    val got = Multimodal.sceneChanges(fr).orderBy("frame_idx")
      .select("frame_idx", "is_cut", "scene_id").as[(Long, Long, Long)].collect()
    assert(got.toList === List((0L, 1L, 0L), (1L, 0L, 0L), (2L, 1L, 1L)))
  }

  test("frames cover payload prefix with correct hashes") {
    val d = Seq((1L, "a" * 70)).toDF("doc_id", "text")
    val fr = Multimodal.frames(d, 32, 4).orderBy("frame_idx").collect()
    assert(fr.length === 3) // 70 bytes → frames at 0, 32, 64
    assert(fr.map(_.getAs[Long]("frame_idx")).sameElements(Array(0L, 1L, 2L)))
  }

  test("hardNegatives never returns a same-label candidate, at most k per query") {
    val hn = Similarity.hardNegatives(emb.filter(col("vec_id") < 10), emb, k = 5)
      .join(emb.select(col("vec_id").as("query_id"), col("label").as("ql")), "query_id")
      .join(emb.select(col("vec_id").as("cand_id"), col("label").as("cl")), "cand_id")
    assert(hn.filter(col("ql") === col("cl")).count() === 0L)
    val perQ = hn.groupBy("query_id").count().agg(max("count")).as[Long].head()
    assert(perQ <= 5L)
    assert(hn.filter(col("cos") > 1.0001 || col("cos") < -1.0001).count() === 0L)
  }

  test("ngramNovelty: clone is fully stale, half-overlap is half stale, short docs drop") {
    val d = Seq(
      (0L, "a b c d"),  // grams "a b c","b c d" — first owner of both
      (1L, "a b c x"),  // "a b c" stale, "b c x" novel
      (2L, "a b c d"),  // exact clone of doc 0 — fully stale
      (3L, "z z")       // < 3 tokens — no grams, absent
    ).toDF("doc_id", "text")
    val got = TextAnalysis.ngramNovelty(d).orderBy("doc_id")
      .select("doc_id", "n_grams", "n_stale", "stale_permille")
      .as[(Long, Long, Long, Long)].collect().toList
    assert(got === List((0L, 2L, 0L, 0L), (1L, 2L, 1L, 500L), (2L, 2L, 2L, 1000L)))
  }

  test("recallAtK: truth against itself is 1000 everywhere; bounded in [0,1000]") {
    val q = emb.filter(col("vec_id") < 10)
    val truth = Similarity.bruteForceTopK(q, emb, k = 5)
    val self = Similarity.recallAtK(truth, q, emb, k = 5)
      .select("recall_permille").as[Long].collect()
    assert(self.length === 10 && self.forall(_ === 1000L))
    val ivf = Similarity.recallAtK(
      Similarity.ivfTopK(q, emb, k = 5, cellCol = "label"), q, emb, k = 5)
      .select("recall_permille").as[Long].collect()
    assert(ivf.forall(r => r >= 0L && r <= 1000L))
  }

  test("topicMix shares sum to the source totals, cells within the trained k") {
    val mix = graft.operators.Corpus.topicMix(docs, emb, k = 4, iters = 1)
    val bad = mix.filter(col("cell") < 0 || col("cell") >= 4 ||
      col("permille") < 0 || col("permille") > 1000).count()
    assert(bad === 0L)
    // every doc with an embedding lands in exactly one (source, cell)
    val counted = mix.agg(sum("cnt")).as[Long].head()
    val expected = docs.join(emb, docs("doc_id") === emb("vec_id")).count()
    assert(counted === expected)
  }

  test("rrfFuse: exact micro points, both-lists beats either single top, truncation drops") {
    val r1 = Seq((10L, 1L), (20L, 2L)).toDF("doc_id", "rank")
    val r2 = Seq((20L, 1L), (30L, 2L)).toDF("doc_id", "rank")
    val got = graft.operators.TextAnalysis.rrfFuse(Seq(r1, r2), k = 3)
      .as[(Long, Long, Long)].collect()
    def pt(rank: Long) = 1000000000L / (60L + rank)
    // doc 20 is rank 2 + rank 1 — must beat both single-list rank 1s
    assert(got.map(_._1).toSeq === Seq(20L, 10L, 30L))
    assert(got(0) === ((20L, pt(2) + pt(1), 2L)))
    assert(got(1) === ((10L, pt(1), 1L)))
    assert(got(2) === ((30L, pt(2), 1L)))
    // truncation: k = 1 keeps only the fused winner
    assert(graft.operators.TextAnalysis.rrfFuse(Seq(r1, r2), k = 1)
      .as[(Long, Long, Long)].collect().map(_._1).toSeq === Seq(20L))
  }
}
