package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.Tables

/** Scale proofs for the BANDED Jaccard family
  * ([[Dedup.jaccardPairsBanded]] / [[Dedup.charNgramPairsBanded]]):
  *
  *  1. fidelity — banded pairs are a subset of the exhaustive
  *     fixed-stratum pairs (banding only ever REMOVES candidates) and
  *     realized recall at the threshold is near-total on real data;
  *  2. the scale bound — max LSH band-bucket population stays O(1) as
  *     a single stratum's population grows linearly; the fixed-stratum
  *     block, by contrast, IS the stratum and grows with the corpus.
  *
  * (Cross-engine equality of the banded queries is the DuckDB oracle's
  * job; this spec pins why the banded form is the one that survives
  * 100 TB.)
  */
class LshBlockingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf)

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("banded word-Jaccard pairs ⊆ exhaustive stratum pairs, recall ≥ 95% at t=900") {
    val exhaustive = pairSet(DedupReference.jaccardPairs(docs, Seq("source", "lang"), 900))
    val banded = pairSet(Dedup.jaccardPairsBanded(docs, Seq("source", "lang"), 900))
    assert(banded.subsetOf(exhaustive),
      s"banded emitted pairs the exhaustive form did not: ${(banded -- exhaustive).take(5)}")
    assert(exhaustive.nonEmpty, "testdata should contain near-dup pairs at t=900")
    val recall = banded.size.toDouble / exhaustive.size
    info(f"word-Jaccard banding recall at t=900: ${banded.size}/${exhaustive.size} = $recall%.4f")
    assert(recall >= 0.95, f"recall $recall%.4f below 0.95")
  }

  test("banded char-5-gram pairs ⊆ exhaustive stratum pairs, recall ≥ 95% at t=800") {
    val exhaustive = pairSet(DedupReference.charNgramPairs(docs, Seq("source", "lang"), 800, k = 5))
    val banded = pairSet(Dedup.charNgramPairsBanded(docs, Seq("source", "lang"), 800, k = 5))
    assert(banded.subsetOf(exhaustive),
      s"banded emitted pairs the exhaustive form did not: ${(banded -- exhaustive).take(5)}")
    val recall =
      if (exhaustive.isEmpty) 1.0 else banded.size.toDouble / exhaustive.size
    info(f"char-gram banding recall at t=800: ${banded.size}/${exhaustive.size} = $recall%.4f")
    assert(recall >= 0.95, f"recall $recall%.4f below 0.95")
  }

  test("banded pairs carry the exact verified inter/uni/jac_permille") {
    val r = Dedup.jaccardPairsBanded(docs, Seq("source", "lang"), 900)
      .filter(col("jac_permille") < 900 || col("uni") < col("inter"))
    assert(r.isEmpty, "every emitted pair must be exactly verified at the threshold")
  }

  // The scale claim itself: one fixed stratum, growing population of
  // DISTINCT documents. The stratum block grows linearly (it is the
  // population); the max band bucket must stay collision-bounded. The
  // generator grows the VOCABULARY with the corpus (Heaps' law — more
  // documents bring more distinct content): random-pair minhash
  // agreement then falls as the corpus grows, which is exactly why
  // band buckets stay bounded where a fixed stratum key cannot. (With
  // a vocabulary frozen while n grows, ANY similarity-based blocking
  // degrades — random-pair collision probability is constant, so
  // candidates are Θ(n²·p); that regime means near-identical corpus
  // growth, where dedup output, not blocking, is the product.) A
  // seeded generator keeps the assertion deterministic.
  private def synthDocs(n: Int): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(4242)
    val vocab = Array.fill(10 * n)("w" + rnd.nextInt(1000000))
    val rows = (0 until n).map { i =>
      val len = 30 + rnd.nextInt(50)
      val text = Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      (i.toLong, text)
    }
    rows.toDF("doc_id", "text")
      .withColumn("source", lit("s0")).withColumn("lang", lit("en"))
  }

  private def bandStats(d: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val sig = Dedup.minhashSignature(
      d.withColumn("shingles", array_distinct(Dedup.tokens(col("text"))))
        .select(col("doc_id"), col("shingles")))
    val maxBucket = Dedup.lshBuckets(sig, numHashes = 8, rowsPerBand = 2, "doc_id")
      .groupBy(col("band"), col("bv")).count()
      .agg(max(col("count"))).as[Long].head()
    val cands = Dedup.lshCandidatePairs(sig).count()
    (maxBucket, cands)
  }

  test("band buckets stay bounded while the stratum grows 4x (Heaps-law corpus)") {
    // One fixed stratum whose population grows 4x with DISTINCT docs.
    // The fixed-stratum block IS the stratum: its candidate count is
    // C(n,2) — 16x more pairs for 4x more docs. The band buckets hold
    // near-dups plus hash-accident collisions, whose probability FALLS
    // as the vocabulary grows: bucket sizes and candidate counts stay
    // bounded as the corpus scales.
    val (smallBucket, smallCands) = bandStats(synthDocs(400))
    val (bigBucket, bigCands) = bandStats(synthDocs(1600))
    val exhaustiveSmall = 400L * 399 / 2
    val exhaustiveBig = 1600L * 1599 / 2
    info(s"n=400:  max bucket $smallBucket, banded candidates $smallCands vs exhaustive $exhaustiveSmall")
    info(s"n=1600: max bucket $bigBucket, banded candidates $bigCands vs exhaustive $exhaustiveBig")
    // candidate reduction ≥ 1000x at the larger size
    assert(bigCands * 1000 <= exhaustiveBig,
      s"banded candidates $bigCands not ≪ exhaustive $exhaustiveBig")
    // bounded, not shrinking-relative-to-quadratic: absolute caps
    assert(bigCands <= math.max(smallCands * 4, 64),
      s"candidate count grew $smallCands -> $bigCands under Heaps-law growth")
    assert(bigBucket <= 8, s"band bucket grew to $bigBucket on 1600 distinct docs")
  }

  // Independent driver-side reference of the ENTIRE banded pipeline —
  // md5 via MessageDigest, hex slicing, per-doc minima, 4x2 banding,
  // strata+band candidates, exact Jaccard — so a silent divergence
  // anywhere in the Spark expression chain (slice offsets, digest
  // prefixes, band composition, PPJoin filter) fails against plain
  // Scala, not just against a DuckDB twin that might share the bug's
  // shape. Randomized over seeds with a small vocabulary to force
  // genuine near-dups and bucket collisions.
  private def referenceBanded(rows: Seq[(Long, String, String)],
                              threshold: Int,
                              numHashes: Int = 8): Set[(Long, Long, Long, Long, Long)] = {
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    def slice(hex: String, start: Int): Long =
      java.lang.Long.parseLong(hex.substring(start, start + 8), 16)
    final case class D(id: Long, strata: String, tset: Set[String],
                       sig: IndexedSeq[Long])
    val nBands = numHashes / 2
    val docs = rows.map { case (id, strata, text) =>
      val tset = text.split(" ").filter(_.nonEmpty).toSet
      val sig = (0 until numHashes).map { i =>
        tset.map { t =>
          // digest d: unprefixed for d=0, salted "4(d+1)|" after —
          // the minhashSignature prefix chain ("8|", "12|", "16|", …)
          val d = i / 4
          val digest = if (d == 0) md5hex(t) else md5hex(s"${4 * (d + 1)}|" + t)
          slice(digest, (i % 4) * 8)
        }.min
      }
      D(id, strata, tset, sig)
    }
    val out = for {
      a <- docs; b <- docs
      if a.id < b.id && a.strata == b.strata
      if (0 until nBands).exists(band =>
        a.sig(2 * band) == b.sig(2 * band) && a.sig(2 * band + 1) == b.sig(2 * band + 1))
      inter = (a.tset & b.tset).size.toLong
      uni = (a.tset | b.tset).size.toLong
      jac = inter * 1000 / uni
      if jac >= threshold
    } yield (a.id, b.id, inter, uni, jac)
    out.toSet
  }

  test("banded pipeline ≡ independent driver-side reference (randomized)") {
    for (seed <- Seq(7, 99, 2024)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Array.tabulate(30)(i => s"t$i")
      // base docs + mutated near-copies: tiny vocab forces real
      // overlap, mutations land above and below the threshold
      val base = (0 until 40).map { i =>
        val len = 8 + rnd.nextInt(10)
        (i.toLong, s"s${i % 2}", Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      val mutated = (0 until 20).map { i =>
        val (id, st, text) = base(rnd.nextInt(base.length))
        val toks = text.split(" ").toBuffer
        toks(rnd.nextInt(toks.length)) = vocab(rnd.nextInt(vocab.length))
        (1000L + i, st, toks.mkString(" "))
      }
      val rows = base ++ mutated
      val df = spark.createDataFrame(rows).toDF("doc_id", "source", "text")
        .withColumn("lang", lit("xx"))
      val got = Dedup.jaccardPairsBanded(df, Seq("source", "lang"), 700)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      val want = referenceBanded(rows, 700)
      assert(got === want,
        s"seed=$seed: spark-vs-reference diff ${(got diff want).take(3)} / ${(want diff got).take(3)}")
      assert(want.nonEmpty, s"seed=$seed produced no pairs — generator too weak")
    }
  }

  test("banded pipeline ≡ driver-side reference at the 16×8×2 operating point too") {
    // pins the digest-prefix derivation ("12|", "16|") the generalized
    // minhashSignature uses beyond the 8-hash default
    val rnd = new scala.util.Random(404)
    val vocab = Array.tabulate(30)(i => s"t$i")
    val base = (0 until 40).map { i =>
      val len = 8 + rnd.nextInt(10)
      (i.toLong, s"s${i % 2}", Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val mutated = (0 until 20).map { i =>
      val (_, st, text) = base(rnd.nextInt(base.length))
      val toks = text.split(" ").toBuffer
      toks(rnd.nextInt(toks.length)) = vocab(rnd.nextInt(vocab.length))
      (1000L + i, st, toks.mkString(" "))
    }
    val rows = base ++ mutated
    val df = spark.createDataFrame(rows).toDF("doc_id", "source", "text")
      .withColumn("lang", lit("xx"))
    val got = Dedup.jaccardPairsBanded(df, Seq("source", "lang"), 700,
        numHashes = 16, rowsPerBand = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val want = referenceBanded(rows, 700, numHashes = 16)
    assert(got === want,
      s"spark-vs-reference diff ${(got diff want).take(3)} / ${(want diff got).take(3)}")
    assert(want.nonEmpty, "generator produced no pairs at 16 hashes")
  }

  test("16×8×2 geometry buys recall at s≈0.6 over the 8×4×2 default (the dial works)") {
    // planted pairs at J ≈ 0.54–0.74 (the default geometry's weak
    // zone): 20-token docs with 3–6 tokens swapped. Exhaustive pairs
    // via the fixed-stratum form at t=500 are ground truth; measured
    // recall per geometry must track 1−(1−s^2)^bands.
    val rnd = new scala.util.Random(1717)
    val rows = (0 until 60).flatMap { i =>
      // disjoint per-doc vocabularies so only planted pairs collide
      val toks = Array.tabulate(20)(j => s"w${i}_$j")
      val k = 3 + rnd.nextInt(4) // 3..6 swaps → J = (20−k)/(20+k)
      val edited = toks.clone()
      (0 until k).foreach(j => edited(j) = s"x${i}_$j")
      Seq((i.toLong * 2, toks.mkString(" ")), (i.toLong * 2 + 1, edited.mkString(" ")))
    }
    val df = rows.toDF("doc_id", "text")
      .withColumn("source", lit("s0")).withColumn("lang", lit("en"))
    val exhaustive = pairSet(DedupReference.jaccardPairs(df, Seq("source", "lang"), 500))
    assert(exhaustive.size === 60, s"every planted pair is above t=500: $exhaustive")
    val got8 = pairSet(Dedup.jaccardPairsBanded(df, Seq("source", "lang"), 500))
    val got16 = pairSet(Dedup.jaccardPairsBanded(df, Seq("source", "lang"), 500,
      numHashes = 16, rowsPerBand = 2))
    assert(got8.subsetOf(exhaustive) && got16.subsetOf(exhaustive))
    val (r8, r16) = (got8.size / 60.0, got16.size / 60.0)
    // measured-vs-theoretical: J∈[0.538, 0.739] → survival 0.57–0.84
    // (4 bands) vs 0.82–0.97 (8 bands); pooled expectation ≈ 0.72 vs
    // 0.91 across the k-mix
    info(f"recall at s≈0.6: 8×4×2 = $r8%.3f (theory ≈ 0.72), 16×8×2 = $r16%.3f (theory ≈ 0.91)")
    assert(r16 > r8, f"more bands must not lower recall: $r16%.3f vs $r8%.3f")
    assert(r16 >= 0.80, f"16-hash recall $r16%.3f far below the ≈0.91 theory")
  }

  test("hot-bucket cap: a clone-heavy corpus degrades loudly, not quadratically") {
    // 200 exact clones (the un-exact-deduped pathological input) + one
    // genuine near-dup pair + filler. Clones share EVERY band, so each
    // band holds one 200-doc bucket; with the cap at 50 all four are
    // dropped and ACCOUNTED, clone-clone pairs vanish (bounded work),
    // and the cold-bucket near-dup pair still comes out.
    val clone = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val near = clone.replace("upsilon", "omega") // J = 19/21 ≈ 0.905
    val filler = (0 until 30).map(i =>
      (5000L + i, Array.tabulate(20)(j => s"f${i}_$j").mkString(" ")))
    val rows = (0 until 200).map(i => (i.toLong, clone)) ++
      Seq((3000L, near)) ++ filler
    val df = rows.toDF("doc_id", "text")
      .withColumn("source", lit("s0")).withColumn("lang", lit("en"))
    val r = Dedup.jaccardPairsBandedAccounted(df, Seq("source", "lang"), 900,
      maxBucket = 50)
    val pairs = pairSet(r.pairs)
    val clonePairs = pairs.filter { case (a, b) => a < 200 && b < 200 }
    assert(clonePairs.isEmpty,
      s"capped buckets must not emit clone-clone pairs, got ${clonePairs.size}")
    // the near-dup of the clone set pairs with clones THROUGH the hot
    // buckets only (identical minus one token still collides in every
    // band the clones own) — so with the clone mass dropped, no pairs
    // remain at all; what matters is the accounting below says WHY
    val acct = r.droppedBuckets.collect()
    assert(acct.length === 4, s"expected one dropped bucket per band, got ${acct.length}")
    val docsPerBucket = acct.map(_.getAs[Long]("bucket_docs")).toSet
    // the near-dup doc collides into some of the clone set's buckets
    // (19 of its 20 tokens are clone tokens), so buckets hold the 200
    // clones plus possibly doc 3000
    assert(docsPerBucket.subsetOf(Set(200L, 201L)),
      s"each dropped bucket should hold the clone mass, got $docsPerBucket")
    // same corpus WITHOUT the cap: the clone set pays C(200,2)+ pairs —
    // the work the cap bounds away
    val uncapped = pairSet(Dedup.jaccardPairsBanded(df, Seq("source", "lang"), 900,
      maxBucket = 100000))
    assert(uncapped.size >= 200L * 199 / 2,
      s"uncapped clone corpus should emit the full quadratic pair set, got ${uncapped.size}")
    // and CORRECTNESS-critical: at the default cap, testdata-scale
    // buckets are untouched — the oracle-checked queries see no drops
    val defaultAcct = Dedup.jaccardPairsBandedAccounted(
      Tables.documents(spark, sf), Seq("source", "lang"), 900).droppedBuckets
    assert(defaultAcct.isEmpty,
      "default cap must sit above real testdata bucket sizes")
  }

  test("governor cost curve: census stays near-linear from 10^3 to 10^5 clones") {
    // the adversarial-scale point the 200-clone test can't see: when
    // the hot mass is 100k docs, candidate generation must cost a
    // bucket census (map-side combinable → 4 surviving rows) plus a
    // broadcast anti-join — NOT the ~5·10^9 pairs the uncapped path
    // would explode. Measured curve goes to PERF.md.
    val clone = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    def corpus(n: Long) = spark.range(n)
      .select(col("id").as("doc_id"), lit(clone).as("text"),
        lit("s0").as("source"), lit("en").as("lang"))
      .unionByName(spark.range(n, n + 500)
        .select(col("id").as("doc_id"),
          concat_ws(" ", (0 until 5).map(j =>
            concat(lit(s"w$j"), col("id"))): _*).as("text"),
          lit("s0").as("source"), lit("en").as("lang")))
    def timedRun(n: Long): (Double, Long, Long) = {
      val t0 = System.nanoTime()
      val r = Dedup.jaccardPairsBandedAccounted(corpus(n), Seq("source", "lang"), 900)
      val nPairs = r.pairs.count()
      val dropped = r.droppedBuckets.agg(coalesce(sum("bucket_docs"), lit(0L)))
        .head().getLong(0)
      ((System.nanoTime() - t0) / 1e9, nPairs, dropped)
    }
    // (points sit ABOVE the 1000 default cap — at exactly 1000 the
    // bucket is not hot and the quadratic path legitimately runs)
    timedRun(2000) // warm-up: codegen + shuffle-machinery compile
    val pts = Seq(2000L, 10000L, 100000L).map { n =>
      val (t, p, d) = timedRun(n)
      info(f"clones=$n%7d: ${t}%5.1f s, pairs=$p, dropped_docs=$d")
      assert(p === 0L, s"clone mass must not emit pairs at n=$n")
      assert(d === 4 * n, s"accounting must report all 4 bands × $n clones, got $d")
      (n, t)
    }
    // near-linear: per-clone cost at 100k within 5x of the 10k point
    // (a quadratic explosion would be ~10x the work per clone; the
    // generous bound absorbs host noise, not algorithmic regressions)
    val per10k = pts(1)._2 / pts(1)._1
    val per100k = pts(2)._2 / pts(2)._1
    assert(per100k <= per10k * 5,
      f"per-clone census cost grew ${per100k / per10k}%.1fx from 10k to 100k clones")
  }

  test("banding still finds planted near-dups in the growing stratum") {
    // plant 20 near-dup pairs (1 token of ~60 edited ⇒ J ≈ 0.97) in a
    // 1600-doc single stratum; banding at t=900 must recover ≥ 95%
    val base = synthDocs(1600)
    val edited = base.filter(col("doc_id") < 20)
      .withColumn("doc_id", col("doc_id") + 100000L)
      .withColumn("text", concat(lit("zzedit "), expr("substring(text, instr(text, ' ') + 1)")))
    val planted = Dedup.jaccardPairsBanded(base.unionByName(edited),
        Seq("source", "lang"), 900)
      .filter(col("doc_b") >= 100000L)
    val found = planted.select(col("doc_b") - 100000L).as[Long].collect().toSet
    info(s"planted near-dups recovered: ${found.size}/20")
    assert(found.size >= 19, s"only ${found.size}/20 planted near-dups recovered")
  }

  test("jaccardVerifySets scores an explicit candidate-pair set") {
    val d = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "w x y z"))
      .toDF("doc_id", "text")
      .withColumn("tset", array_distinct(split(col("text"), " ")))
      .withColumn("tsz", size(col("tset")).cast("long"))
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("doc_a", "doc_b")
    val v = Dedup.jaccardVerifySets(d, pairs, 900).collect()
    assert(v.length === 1)
    assert(v.head.getAs[Long]("doc_a") === 1L && v.head.getAs[Long]("doc_b") === 2L)
    assert(v.head.getAs[Long]("jac_permille") === 1000L)
  }
}
