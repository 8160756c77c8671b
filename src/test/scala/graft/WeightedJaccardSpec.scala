package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.functions.BagFunctions.{bag_overlap, token_counts}

/** Semantics of the weighted (multiset) Jaccard family:
  * [[graft.functions.TokenCounts]] / [[graft.functions.BagOverlap]]
  * differentially against driver-side references, and
  * [[Dedup.weightedJaccardPairsBanded]]'s discriminating behavior —
  * the reason the operator exists: pairs that are SET-identical but
  * multiplicity-divergent (template/spam shapes) score high on set
  * Jaccard and low on weighted Jaccard. Cross-engine equality of the
  * oracle query is the DuckDB gate's job. */
class WeightedJaccardSpec extends SparkSpec {
  import spark.implicits._

  test("token_counts: sorted run-length bags; null elements skipped") {
    val df = Seq(Tuple1(Seq("b", "a", "b", null, "c", "b"))).toDF("tk")
      .select(token_counts(col("tk")).as("bag"))
    val bag = df.selectExpr("inline(bag)").as[(String, Long)].collect().toSeq
    assert(bag === Seq(("a", 1L), ("b", 3L), ("c", 1L)),
      "bags must be token-sorted with exact multiplicities, nulls skipped")
  }

  test("bag_overlap ≡ map-based Σmin on random bags") {
    val rnd = new scala.util.Random(77)
    val vocab = Array.tabulate(12)(i => s"t$i")
    val rows = (0 until 50).map { i =>
      val a = Seq.fill(5 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.length)))
      val b = Seq.fill(5 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.length)))
      (i, a, b)
    }
    val got = rows.toDF("i", "a", "b")
      .select(col("i"), bag_overlap(token_counts(col("a")), token_counts(col("b"))).as("ov"))
      .as[(Int, Long)].collect().toMap
    rows.foreach { case (i, a, b) =>
      val ca = a.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val cb = b.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val want = (ca.keySet intersect cb.keySet).toSeq.map(t => math.min(ca(t), cb(t))).sum
      assert(got(i) === want, s"row $i: bag_overlap ${got(i)} != reference $want")
    }
  }

  test("weighted pairs: exact Σmin/Σmax values; set-identical count-divergent pair discriminated") {
    // doc 0/1: a planted near-identical pair (identical bags but one
    // swap) — high on BOTH measures. doc 2/3: SET-identical,
    // multiplicity-divergent (3 repeats one token 9×) — set-J = 1000,
    // weighted must drop below it. Disjoint fill vocabulary keeps
    // other pairs out.
    val base = (0 until 16).map(j => s"w$j")
    val d0 = base
    val d1 = base.updated(0, "x0")
    val d2 = Seq("p", "q", "r", "s") ++ (0 until 12).map(j => s"f$j")
    val d3 = Seq("p", "q", "r", "s", "p", "p", "p", "p", "p", "p", "p", "p") ++
      (0 until 12).map(j => s"f$j")
    val docs = Seq(
      (0L, "s0", "en", d0.mkString(" ")), (1L, "s0", "en", d1.mkString(" ")),
      (2L, "s0", "en", d2.mkString(" ")), (3L, "s0", "en", d3.mkString(" ")))
      .toDF("doc_id", "source", "lang", "text")
    val got = Dedup.weightedJaccardPairsBanded(docs, Seq("source", "lang"),
        thresholdPermille = 100).pairs
      .select(col("doc_a"), col("doc_b"), col("min_sum"), col("max_sum"),
        col("wjac_permille"))
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    // (0,1): Σmin = 15 shared singletons, Σmax = 16+16−15 = 17
    assert(got.contains((0L, 1L)), s"planted near-dup pair missing: $got")
    assert(got((0L, 1L)) === ((15L, 17L, 15L * 1000 / 17)),
      s"exact Σmin/Σmax mismatch for (0,1): ${got((0L, 1L))}")
    // (2,3): sets identical (set-J = 1000); bags: Σmin = 16,
    // Σmax = 16+24−16 = 24 → 666 permille — strictly discriminated
    assert(got.contains((2L, 3L)), s"set-identical pair missing: $got")
    assert(got((2L, 3L)) === ((16L, 24L, 666L)),
      s"weighted must discriminate repetition: ${got((2L, 3L))}")
    val setJ = DedupReference.jaccardPairs(docs, Seq("source", "lang"), 1000)
    assert(setJ.filter(col("doc_a") === 2 && col("doc_b") === 3).count() === 1,
      "sanity: (2,3) must be SET-identical at t=1000")
  }

  test("idf-weighted pairs: rare-anchor pair outscores common-anchor pair at equal set overlap") {
    import org.apache.spark.sql.functions._
    // two structurally identical pairs (8 of 9 tokens shared, fillers
    // each df=2) differing ONLY in the anchor token: 'zebra' df=2 vs
    // 'the' df=14 — idf weighting must rank the rare-anchor pair higher
    val fill = (p: String) => (1 to 7).map(i => s"$p$i").mkString(" ")
    val rows = Seq(
      (1L, s"zebra ${fill("a")} x1"), (2L, s"zebra ${fill("a")} x2"),
      (3L, s"the ${fill("b")} y1"), (4L, s"the ${fill("b")} y2")) ++
      (5L to 16L).map(i => (i, s"the c$i d$i"))
    val docs = rows.toDF("doc_id", "text").withColumn("src", lit("s"))
    val got = graft.operators.Dedup
      .idfJaccardPairsBanded(docs, Seq("src"), thresholdPermille = 1)
      .pairs.select("doc_a", "doc_b", "idfjac_permille")
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got.contains((1L, 2L)), s"banding missed the rare pair: $got")
    assert(got.contains((3L, 4L)), s"banding missed the common pair: $got")
    assert(got((1L, 2L)) > got((3L, 4L)),
      s"idf weighting failed to discriminate: $got")
  }

  test("weighted pairs ⊆ set candidates; values match a driver-side reference on testdata") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val got = Dedup.weightedJaccardPairsBanded(docs, Seq("source", "lang"),
        thresholdPermille = 400).pairs
      .select(col("doc_a"), col("doc_b"), col("min_sum"), col("max_sum"))
      .as[(Long, Long, Long, Long)].collect()
    assert(got.nonEmpty, "testdata should contain weighted pairs at t=400")
    val texts = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().toMap
    got.foreach { case (a, b, minSum, maxSum) =>
      def bag(s: String) = s.split(" ").filter(_.nonEmpty)
        .groupBy(identity).view.mapValues(_.length.toLong).toMap
      val (ca, cb) = (bag(texts(a)), bag(texts(b)))
      val wantMin = (ca.keySet intersect cb.keySet).toSeq
        .map(t => math.min(ca(t), cb(t))).sum
      val wantMax = ca.values.sum + cb.values.sum - wantMin
      assert((minSum, maxSum) === ((wantMin, wantMax)),
        s"pair ($a,$b): got ($minSum,$maxSum) want ($wantMin,$wantMax)")
    }
  }
}
