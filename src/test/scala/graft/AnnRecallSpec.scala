package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Measured ANN quality on CLUSTERED vectors: the approximate paths
  * must retrieve most of what brute force retrieves when neighbors
  * actually cluster — an ANN variant can be hash-correct per its own
  * oracle yet useless if its buckets don't catch true neighbors.
  *
  * The driver's `embeddings` testdata is uniform random (measured:
  * same-label and cross-label mean cosine are both ≈ 0), where NO
  * bucketing scheme can beat the probed-fraction baseline — recall
  * there is a property of the data, not the index. So this spec builds
  * deterministic clustered vectors (8 well-separated centers, small
  * per-id perturbation, fixed-seed — no run-to-run variance) and
  * measures recall@5 against brute force there.
  */
class AnnRecallSpec extends SparkSpec {
  import spark.implicits._

  private val dims = 64 // lshTopK's sign-RP planes are 64-dim
  private val nClusters = 8
  private val perCluster = 32

  /** 8 orthogonal-ish unit centers + deterministic noise. */
  private lazy val clustered = {
    val rnd = new scala.util.Random(42)
    val centers = Array.fill(nClusters, dims)(rnd.nextGaussian())
    val rows = for {
      c <- 0 until nClusters
      i <- 0 until perCluster
    } yield {
      val v = centers(c).map(_ + 0.15 * rnd.nextGaussian())
      ((c * perCluster + i).toLong, c.toLong, v.toSeq)
    }
    rows.toDF("vec_id", "label", "embedding")
  }

  /** IVF under trained cells: both sides assigned to their nearest
    * trained centroid, exact cosine top-k inside the cell. */
  private def ivfTopKTrained(queries: org.apache.spark.sql.DataFrame,
                             candidates: org.apache.spark.sql.DataFrame, k: Int,
                             cents: org.apache.spark.sql.DataFrame) = {
    val qc = queries.join(Similarity.ivfAssign(queries, cents), "vec_id")
    val cc = candidates.join(Similarity.ivfAssign(candidates, cents), "vec_id")
    Similarity.ivfTopK(qc, cc, k, "cell")
  }

  private def topkSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.select("query_id", "cand_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  private def recall(approx: Map[Long, Set[Long]], exact: Map[Long, Set[Long]]): Double = {
    val per = exact.map { case (q, t) =>
      approx.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }
    per.sum / per.size
  }

  test("label-cell IVF, trained IVF and LSH recall@5 vs brute force on clustered data") {
    val emb = clustered
    val queries = emb.filter(col("vec_id") % 16 === 0) // 16 queries across clusters
    val exact = topkSets(Similarity.bruteForceTopK(queries, emb, k = 5))
    assert(exact.size === 16)

    val ivf = topkSets(Similarity.ivfTopK(queries, emb, k = 5, cellCol = "label"))
    val rIvf = recall(ivf, exact)
    assert(rIvf >= 0.9, f"label-cell IVF recall@5 $rIvf%.2f below floor")

    val cents = Similarity.ivfTrain(emb, k = nClusters, iters = 4)
    val trained = topkSets(ivfTopKTrained(queries, emb, k = 5, cents))
    val rTrained = recall(trained, exact)
    assert(rTrained >= 0.8, f"trained-IVF recall@5 $rTrained%.2f below floor")

    val lsh = topkSets(Similarity.lshTopK(queries, emb, k = 5))
    val rLsh = recall(lsh, exact)
    // sign-RP with 8 planes: same-cluster vectors mostly share the
    // signature; the coarsest variant gets a lower floor, but a
    // bucketing bug (all-distinct / all-same signatures) still fails
    assert(rLsh >= 0.5, f"LSH recall@5 $rLsh%.2f below floor")
  }

  test("binary codes: two 32-bit words, Hamming ≡ hand-popcount, recall@5 on clustered data") {
    import graft.functions.HammingWords.hamming_words
    val emb = clustered
    // code shape: ⌈64/32⌉ = 2 words, every word within unsigned-32 range
    val thr = Similarity.binaryThresholds(emb)
    assert(thr.count() === 64L)
    val codes = Similarity.binaryCodes(emb, thr)
      .select("vec_id", "code").as[(Long, Seq[Long])].collect()
    assert(codes.forall(_._2.length === 2))
    assert(codes.forall(c => c._2.forall(w => w >= 0L && w <= 0xFFFFFFFFL)))
    // the native expression agrees with a scalar popcount
    val pairs = Seq((Seq(5L, 12L), Seq(3L, 12L))).toDF("a", "b")
      .select(hamming_words(col("a"), col("b"))).as[Long].head()
    assert(pairs === java.lang.Long.bitCount(5L ^ 3L).toLong)
    // recall with exact re-rank: sign bits keep same-cluster vectors
    // close in Hamming space; the 4k shortlist + exact re-rank must
    // recover most of the brute-force set
    val queries = emb.filter(col("vec_id") % 16 === 0)
    val exact = topkSets(Similarity.bruteForceTopK(queries, emb, k = 5))
    val bin = topkSets(Similarity.binaryTopK(queries, emb, k = 5, rerankFactor = 4))
    val r = recall(bin, exact)
    assert(r >= 0.6, f"binary recall@5 $r%.2f below floor")
    // Hamming between same-cluster codes is lower than cross-cluster
    // on average (the property that makes the shortlist work)
    val byId = codes.toMap
    def ham(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
    val sameC = for (i <- 0 until 8; j <- 1 until 8)
      yield ham(byId(i.toLong * perCluster), byId(i.toLong * perCluster + j))
    val crossC = for (i <- 0 until 8; j <- 0 until 8 if i != j)
      yield ham(byId(i.toLong * perCluster), byId(j.toLong * perCluster))
    assert(sameC.sum.toDouble / sameC.size < crossC.sum.toDouble / crossC.size)
  }

  test("pq: codebook shaped m×k, codes bounded, ADC top-k stays in the query's cluster") {
    import graft.operators.Similarity
    val m = 4; val k = 8
    val book = Similarity.pqTrain(clustered, m, k, iters = 3)
    val shape = book.select("sub", "cell").as[(Long, Long)].collect()
    assert(shape.forall { case (s, c) => s >= 0 && s < m && c >= 0 && c < k })
    assert(shape.map(_._1).toSet.size === m, "every subspace trained")
    val codes = Similarity.pqEncode(clustered, book, m)
    val codeRows = codes.select("codes").as[Seq[Long]].collect()
    assert(codeRows.forall(cs => cs.length == m && cs.forall(c => c >= 0 && c < k)))
    // 8-bit-per-vector codes are COARSE: within a cluster ADC ties, so
    // exact-neighbor recall is not the contract — cluster FIDELITY is:
    // the top-5 of a cluster-0 query must come from cluster 0 (ids<32)
    val top = Similarity.pqTopK(clustered.filter(col("vec_id") < 10), codes, book, m, k = 5)
      .select("cand_id").as[Long].collect()
    val purity = top.count(_ < perCluster).toDouble / top.length
    assert(purity >= 0.9, f"ADC top-k cluster purity $purity%.2f below floor")
  }

  test("uniform random data: recall ≈ probed fraction (negative control)") {
    val rnd = new scala.util.Random(7)
    val uni = (0L until 256L).map(i => (i, i % 8, Seq.fill(dims)(rnd.nextGaussian())))
      .toDF("vec_id", "label", "embedding")
    val queries = uni.filter(col("vec_id") < 8)
    val exact = topkSets(Similarity.bruteForceTopK(queries, uni, k = 5))
    val ivf = topkSets(Similarity.ivfTopK(queries, uni, k = 5, cellCol = "label"))
    val r = recall(ivf, exact)
    // probing 1 of 8 random cells can't recall much more than ~1/8 —
    // documents WHY the driver's uniform embeddings table is not a
    // recall benchmark (and guards the measurement itself)
    assert(r <= 0.5, f"recall $r%.2f on uniform data suggests the measurement is broken")
  }

  test("ivfTopKProbes: recall grows with nprobe; full probe equals brute force") {
    val emb = clustered
    val queries = emb.filter(col("vec_id") % 16 === 0)
    val cents = Similarity.ivfTrain(emb, k = nClusters, iters = 4)
    val exact = topkSets(Similarity.bruteForceTopK(queries, emb, k = 5))
    val r1 = recall(topkSets(ivfTopKTrained(queries, emb, 5, cents)), exact)
    val r2 = recall(topkSets(
      Similarity.ivfTopKProbes(queries, emb, 5, cents, nprobe = 2)), exact)
    assert(r2 >= r1, f"nprobe=2 recall $r2%.2f below nprobe=1 $r1%.2f")
    // probing every cell scores every candidate exactly once = brute force
    val rAll = topkSets(
      Similarity.ivfTopKProbes(queries, emb, 5, cents, nprobe = nClusters))
    assert(rAll === exact)
  }

  test("sq8: codes int8-bounded, max-|x| dim saturates, recall@5 ≈ brute force") {
    val emb = clustered
    val codes = Similarity.sq8Quantize(emb)
      .select("codes", "amax").as[(Seq[Byte], Long)].collect()
    codes.foreach { case (cs, amax) =>
      assert(cs.forall(c => c >= -127 && c <= 127))
      // the dimension holding amax maps to exactly ±127
      if (amax > 0) assert(cs.exists(c => c == 127 || c == -127))
    }
    // int8 is a fine quantization — asymmetric scoring should agree
    // with float brute force almost everywhere
    val queries = emb.filter(col("vec_id") % 16 === 0)
    val exact = topkSets(Similarity.bruteForceTopK(queries, emb, k = 5))
    val sq8 = topkSets(Similarity.sq8TopK(queries, emb, k = 5))
    val r = recall(sq8, exact)
    assert(r >= 0.9, f"sq8 recall@5 $r%.2f below floor")
  }

  test("semanticDedup: one representative per ε-ball, min id per cell survives") {
    val cents = Similarity.ivfTrain(clustered, k = nClusters, iters = 2)
    val surv = Similarity.semanticDedup(clustered, cents, minCos = 0.9)
    val survRows = surv.as[(Long, Long)].collect()
    // tight clusters at cos>=0.9 collapse hard — but never to nothing
    assert(survRows.nonEmpty && survRows.length < nClusters * perCluster / 2)
    // the smallest id of a cell has no smaller-id neighbor: always survives
    val asg = Similarity.ivfAssign(clustered, cents).as[(Long, Long)].collect()
    val survSet = survRows.map(_._1).toSet
    asg.groupBy(_._2).foreach { case (_, xs) =>
      assert(survSet.contains(xs.map(_._1).min))
    }
    // SemDeDup guarantee: no two survivors in one cell stay >= threshold
    // (if cos(a,b) >= t with a < b, b was a loser by construction)
    val joined = clustered.join(surv, "vec_id")
    assert(Similarity.nearDupPairs(joined, "cell", 0.9).isEmpty)
  }

  test("stored AnnModel round-trips: parquet-served IVFPQ ≡ fresh-trained") {
    val model = Similarity.annTrain(clustered, coarseK = nClusters, m = 4, pqK = 4, iters = 2)
    val dir = tempDir("graft_ann_model_spec")
    Similarity.writeAnnModel(model, dir)
    val back = Similarity.readAnnModel(spark, dir)
    assert(back.m === 4, "m must survive the round-trip (DedupIndex.k precedent)")
    val queries = clustered.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("query_id"), col("rnk"))
        .select(col("query_id"), col("cand_id"), col("rnk"), col("adc"))
        .collect().toSeq
    val fresh = rows(Similarity.ivfPqTopK(queries, clustered,
      model.coarse, model.codebook, m = 4, k = 5))
    val stored = rows(Similarity.ivfPqTopK(queries, clustered,
      back.coarse, back.codebook, back.m, k = 5))
    assert(stored === fresh, "stored-model serving must be bit-identical to fresh training")
  }

  test("stored AnnIndex (model + corpus codes) serves identically, corpus never re-read") {
    val index = Similarity.annIndexBuild(clustered, coarseK = nClusters,
      m = 4, pqK = 4, iters = 2)
    val dir = tempDir("graft_ann_index_spec")
    Similarity.writeAnnIndex(index, dir)
    val back = Similarity.readAnnIndex(spark, dir)
    val queries = clustered.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("query_id"), col("rnk"))
        .select(col("query_id"), col("cand_id"), col("rnk"), col("adc"))
        .collect().toSeq
    val fresh = rows(Similarity.ivfPqTopK(queries, clustered,
      index.model.coarse, index.model.codebook, m = 4, k = 5))
    val served = rows(Similarity.ivfPqTopKIndexed(queries, back, k = 5))
    assert(served === fresh, "indexed serving must be bit-identical to fresh training")
    // multi-probe: nprobe=1 degrades to single-cell serving; probing
    // every cell recovers exhaustive PQ ADC (pqTopK over all codes)
    val one = rows(Similarity.ivfPqTopKIndexedProbes(queries, back, k = 5, nprobe = 1))
    assert(one === served, "nprobe=1 must equal single-cell serving")
    val full = rows(Similarity.ivfPqTopKIndexedProbes(queries, back, k = 5,
      nprobe = nClusters))
    val exhaustive = rows(Similarity.pqTopK(queries,
      Similarity.pqEncode(clustered, index.model.codebook, m = 4),
      index.model.codebook, m = 4, k = 5))
    assert(full === exhaustive, "nprobe=#cells must recover exhaustive PQ ADC")
    // the serving plan reads the stored code table, not the corpus:
    // its scan set contains the index dir and nothing needs `embedding`
    // from the candidate side (query side legitimately reads it)
    val plan = Similarity.ivfPqTopKIndexed(queries, back, k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("encoded"), "serving must scan the stored code table")
  }

  test("residual IVFPQ: stored-index round-trip is exact; recall beats raw codes at equal budget") {
    val model = Similarity.annTrainResidual(clustered, coarseK = nClusters,
      m = 4, pqK = 4, iters = 2)
    val encoded = Similarity.annEncodeResidual(clustered, model)
    // a residual index round-trips through the UNCHANGED AnnIndex layout
    val dir = tempDir("graft_ann_resid_spec")
    Similarity.writeAnnIndex(Similarity.AnnIndex(model, encoded), dir)
    val back = Similarity.readAnnIndex(spark, dir)
    val queries = clustered.filter(col("vec_id") % 16 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("query_id"), col("rnk"))
        .select(col("query_id"), col("cand_id"), col("rnk"), col("adc"))
        .collect().toSeq
    val fresh = Similarity.ivfPqResidualTopK(queries, clustered, model, k = 5)
    val served = Similarity.ivfPqResidualScore(queries, back.encoded, back.model, k = 5)
    assert(rows(served) === rows(fresh),
      "stored residual index must serve bit-identically to fresh encoding")
    // equal (m, pqK) budget: the residual codebook spends its codes on
    // within-cell displacement, the raw codebook on absolute position —
    // residual recall must not fall below raw on cell-concentrated data
    val exact = topkSets(Similarity.bruteForceTopK(queries, clustered, k = 5))
    val raw = Similarity.annTrain(clustered, coarseK = nClusters, m = 4, pqK = 4, iters = 2)
    val rRaw = recall(topkSets(Similarity.ivfPqTopK(queries, clustered,
      raw.coarse, raw.codebook, m = 4, k = 5)), exact)
    val rRes = recall(topkSets(fresh), exact)
    info(f"recall@5 at m=4 pqK=4: raw=$rRaw%.2f residual=$rRes%.2f")
    assert(rRes >= rRaw,
      f"residual recall $rRes%.2f fell below raw-code recall $rRaw%.2f at equal budget")
    // the recall dial still works in residual space
    val r2 = recall(topkSets(Similarity.ivfPqResidualScore(queries, back.encoded,
      back.model, k = 5, nprobe = 2)), exact)
    assert(r2 >= rRes, f"nprobe=2 recall $r2%.2f below nprobe=1 $rRes%.2f")
    // at a production-ish code budget the gap opens: raw codes are
    // dominated by the cell position (within one cell most candidates
    // share a code and ADC ties), residual codes resolve displacement
    val raw16 = Similarity.annTrain(clustered, coarseK = nClusters, m = 4, pqK = 16, iters = 2)
    val res16 = Similarity.annTrainResidual(clustered, coarseK = nClusters,
      m = 4, pqK = 16, iters = 2)
    val rRaw16 = recall(topkSets(Similarity.ivfPqTopK(queries, clustered,
      raw16.coarse, raw16.codebook, m = 4, k = 5)), exact)
    val rRes16 = recall(topkSets(Similarity.ivfPqResidualTopK(queries, clustered,
      res16, k = 5)), exact)
    info(f"recall@5 at m=4 pqK=16: raw=$rRaw16%.2f residual=$rRes16%.2f")
    assert(rRes16 >= rRaw16,
      f"residual recall $rRes16%.2f below raw $rRaw16%.2f at pqK=16")
  }

  test("annEncode of a delta under the frozen model ≡ encoding the union") {
    // index built on 3/4 of the corpus; every 4th vector arrives as a
    // delta (IN-distribution — spread across all clusters; held-out
    // whole clusters would quantize garbage under the frozen codebook,
    // which is the documented RETRAIN trigger) and is encoded against
    // the frozen model. Base codes ∪ delta codes must equal encoding
    // the full corpus with that SAME model — the honest comparison: a
    // full rebuild would retrain on the union and converge to
    // different centroids.
    val head = clustered.filter(col("vec_id") % 4 =!= 3)
    val delta = clustered.filter(col("vec_id") % 4 === 3)
    val dir = tempDir("graft_ann_append_spec")
    Similarity.writeAnnIndex(Similarity.annIndexBuild(head,
      coarseK = nClusters, m = 4, pqK = 4, iters = 2), dir)
    val frozen = Similarity.readAnnModel(spark, dir)
    val stored = Similarity.readAnnIndex(spark, dir)
    val appended = stored.copy(encoded =
      stored.encoded.unionByName(Similarity.annEncode(delta, frozen)))
    def codeRows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cell"), col("codes").cast("array<long>"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
    assert(codeRows(appended.encoded) ===
      codeRows(Similarity.annEncode(clustered, frozen)),
      "appended code table must equal one-shot encoding of the union under the frozen model")
    // appended vectors are REACHABLE: across 16 queries, same-cluster
    // delta members (1/4 of every cell) show up in served top-5s
    val queries = clustered.filter(col("vec_id") % 16 === 0)
    val got = Similarity.ivfPqTopKIndexed(queries, appended, k = 5)
      .select(col("cand_id")).as[Long].collect().toSet
    assert(got.exists(_ % 4 === 3),
      s"serving after append must reach delta vectors, got $got")
  }

  test("a ragged query frame fails on its bad row, not only when the first row is bad") {
    val index = Similarity.annIndexBuild(clustered, coarseK = nClusters,
      m = 4, pqK = 4, iters = 2)
    // row 0 has the right width; row 1 is one value short
    val good = clustered.filter(col("vec_id") === 0L)
      .select(col("vec_id"), col("embedding"))
    val short = clustered.filter(col("vec_id") === 1L)
      .select(col("vec_id"), slice(col("embedding"), 1, dims - 1).as("embedding"))
    val ragged = good.unionByName(short).coalesce(1)
    for ((name, serve) <- Seq[(String, () => Any)](
        "ivfPqTopKIndexed" -> (() => Similarity.ivfPqTopKIndexed(ragged, index, k = 5).collect()),
        "ivfPqTopKIndexedProbes" ->
          (() => Similarity.ivfPqTopKIndexedProbes(ragged, index, k = 5, nprobe = 2).collect()))) {
      val e = intercept[Exception](serve())
      assert(e.getMessage.contains("query width"), s"$name: ${e.getMessage}")
    }
  }

  test("refine (exact re-rank) recall >= raw stored-index serving at equal k") {
    val index = Similarity.annIndexBuild(clustered, coarseK = nClusters,
      m = 4, pqK = 4, iters = 2)
    val dir = tempDir("graft_ann_refine_spec")
    Similarity.writeAnnIndex(index, dir)
    val back = Similarity.readAnnIndex(spark, dir)
    val queries = clustered.filter(col("vec_id") % 16 === 0)
    val exact = topkSets(Similarity.bruteForceTopK(queries, clustered, k = 5))
    val raw = recall(topkSets(
      Similarity.ivfPqTopKIndexed(queries, back, k = 5)), exact)
    val refined = recall(topkSets(
      Similarity.ivfPqTopKRefined(queries, back, clustered, k = 5, refine = 4)), exact)
    info(f"recall@5: raw stored serving=$raw%.2f refined(4x)=$refined%.2f")
    // the exact pass can only promote true neighbors already caught in
    // the widened ADC shortlist — recall must not fall below raw
    assert(refined >= raw,
      f"refined recall $refined%.2f fell below raw serving $raw%.2f")
    // refined output ranks by TRUE cosine: each query's scores are
    // non-increasing in rank
    import org.apache.spark.sql.Row
    Similarity.ivfPqTopKRefined(queries, back, clustered, k = 5, refine = 4)
      .orderBy(col("query_id"), col("rnk")).collect()
      .groupBy { case Row(q, _, _, _) => q }.values.foreach { rows =>
        val cs = rows.map(_.getAs[Double]("cos"))
        assert(cs.sameElements(cs.sortBy(-_)), s"cos not sorted: ${cs.toSeq}")
      }
  }

  test("k-means|| seeding: deterministic, spreads across clusters, beats min-id WCSS") {
    // the clustered fixture is the adversarial case for min-id seeding:
    // ids are ordered BY cluster (c·perCluster + i), so ivfTrain's k
    // smallest-id seeds all come from cluster 0 — exactly the
    // id/content correlation k-means|| exists to survive
    def wcssOf(cents: org.apache.spark.sql.DataFrame): Double = {
      val q = clustered.select(col("vec_id"),
        Similarity.quantize(col("embedding")).as("qv"))
      q.crossJoin(broadcast(cents))
        .withColumn("dd", Similarity.dot(col("qv"), col("qv"))
          - lit(2d) * Similarity.dot(col("qv"), col("cv"))
          + Similarity.dot(col("cv"), col("cv")))
        .groupBy(col("vec_id")).agg(min(col("dd")).as("d2"))
        .agg(sum(col("d2"))).head().getDouble(0)
    }
    val naive = Similarity.ivfTrain(clustered, k = nClusters, iters = 2)
    val pp = Similarity.ivfTrainPP(clustered, k = nClusters, l = 16, rounds = 3, iters = 2)
    val pp2 = Similarity.ivfTrainPP(clustered, k = nClusters, l = 16, rounds = 3, iters = 2)
    // engine-determinism: byte-identical centroids across runs
    val snap = (df: org.apache.spark.sql.DataFrame) =>
      df.select(col("cell"), col("cv")).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1).toSeq
    assert(snap(pp) === snap(pp2))
    assert(pp.count() === nClusters.toLong)
    // quality: oversampled seeding must strictly beat the k-lowest-ids
    // seeds here (those start inside ONE cluster)
    val (wNaive, wPp) = (wcssOf(naive), wcssOf(pp))
    assert(wPp < wNaive,
      s"k-means|| WCSS $wPp should beat min-id-seeded WCSS $wNaive on clustered data")
  }

  test("mmrTopK trades relevance for diversity on a hand-checkable greedy trace") {
    // q=[1,0]; c1=[1,0] (cos 1.0), c2=[.8,.6] (cos .8), c3=[.6,.8]
    // (cos .6); sim(c1,c2)=.8, sim(c1,c3)=.6, sim(c2,c3)=.96.
    // λ=300‰: round 1 picks c1 (pure relevance). Round 2 scores
    //   c2: 300·8000 − 700·8000 = −3,200,000
    //   c3: 300·6000 − 700·6000 = −2,400,000  → c3 (diverse) wins
    // even though plain top-2 would pick c2. Round 3 takes the
    // remaining c2.
    val cands = Seq(
      (1L, Seq(1.0, 0.0)),
      (2L, Seq(0.8, 0.6)),
      (3L, Seq(0.6, 0.8))).toDF("vec_id", "embedding")
    val q = Seq((0L, Seq(1.0, 0.0))).toDF("vec_id", "embedding")
    val got = Similarity.mmrTopK(q, cands, k = 3, shortlist = 3, lambdaPermille = 300)
      .orderBy("rnk")
      .select("query_id", "cand_id", "rel_m", "rnk")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq((0L, 1L, 10000L, 1L), (0L, 3L, 6000L, 2L), (0L, 2L, 8000L, 3L)))
    // plain top-2 relevance for contrast: c1 then c2
    val plain = Similarity.bruteForceTopK(q, cands, k = 2)
      .orderBy("rank").select("cand_id").as[Long].collect().toSeq
    assert(plain === Seq(1L, 2L))
  }

  test("truncatedTopK at full dim reproduces brute force; prefix shortlist rescues a prefix miss") {
    // full-dim prefix (dim = 64, shortlist = k) must BE brute force —
    // identical rounded cosines, identical tie-breaks
    val q = clustered.filter(col("vec_id") < 8)
    val full = Similarity.truncatedTopK(q, clustered, k = 5, dim = dims, shortlist = 5)
      .select("query_id", "cand_id", "rank", "cos")
      .orderBy("query_id", "rank").collect().toSeq
    val brute = Similarity.bruteForceTopK(q, clustered, k = 5)
      .select("query_id", "cand_id", "rank", "cos")
      .orderBy("query_id", "rank").collect().toSeq
    assert(full === brute)

    // hand-checkable rescue: on the 2-dim prefix, c2 out-scores c1,
    // but the exact full-dim re-rank restores c1 first.
    import spark.implicits._
    val cands = Seq(
      (1L, Seq(0.5, 0.0, 0.8)), // prefix cos 1.0 (tie), full cos high
      (2L, Seq(0.9, 0.0, -0.4)), // prefix cos 1.0 (tie), full cos lower
      (3L, Seq(-1.0, 0.1, 0.0))).toDF("vec_id", "embedding")
    val qq = Seq((0L, Seq(1.0, 0.0, 0.9))).toDF("vec_id", "embedding")
    val got = Similarity.truncatedTopK(qq, cands, k = 2, dim = 2, shortlist = 2)
      .orderBy("rank").select("cand_id").as[Long].collect().toSeq
    // prefix ranking alone would order (1, 2) by tie-break; full-dim
    // re-rank keeps c1 (aligned third dim) ahead of c2 (opposed)
    assert(got === Seq(1L, 2L))
  }

  test("semanticDecontaminate flags a planted near-copy of a benchmark vector, not clean ones") {
    import spark.implicits._
    // benchmark = first vector of each cluster; train = the rest.
    // Clustered fixture: same-cluster cosine is high by construction,
    // so same-cell train vectors near the benchmark flag; the screen
    // must NOT flag vectors of other clusters (cell block + threshold).
    val test = clustered.filter(col("vec_id") % perCluster === 0)
    val train = clustered.filter(col("vec_id") % perCluster =!= 0)
    val flagged = graft.operators.Similarity
      .semanticDecontaminate(train, test, minCos = 0.9, cellCol = "label")
      .as[(Long, Long, Double)].collect()
    assert(flagged.nonEmpty, "clustered same-cell vectors at cos>=0.9 must flag")
    // every flagged id shares a cluster with its benchmark (label blocking)
    val labels = clustered.select(col("vec_id"), col("label").cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(flagged.forall { case (id, hits, mc) =>
      hits >= 1 && mc >= 0.9 && labels.contains(id) })
    // benchmark ids themselves never appear on the train side
    assert(flagged.forall(_._1 % perCluster != 0))
  }

  test("dimRecall: full-dim recall is exactly 1000, truncated dims stay in range and rise on average") {
    val q = clustered.filter(col("vec_id") < 8)
    val rec = Similarity.dimRecall(q, clustered, k = 5, dims = Seq(8, 32, 64))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rec.length === 3 * 8)
    assert(rec.filter(_._1 == 64L).forall(_._4 == 1000L),
      "trunc_dim = D must reproduce the truth exactly")
    assert(rec.forall(r => r._4 >= 0L && r._4 <= 1000L))
    val mean8 = rec.filter(_._1 == 8L).map(_._4).sum / 8
    val mean32 = rec.filter(_._1 == 32L).map(_._4).sum / 8
    assert(mean32 >= mean8,
      s"mean recall should not fall as the prefix grows: d=8 → $mean8, d=32 → $mean32")
  }

  test("nprobeRecall on the stored flat index: monotone in nprobe, full probe = 1000") {
    import graft.sources.Tables
    val emb = Tables.embeddings(spark, sf)
    val dir = tempDir("ivfflat_recall")
    Similarity.writeIvfFlatIndex(Similarity.ivfFlatBuild(emb, k = 4, iters = 2), dir)
    val idx = Similarity.readIvfFlatIndex(spark, dir)
    val rec = Similarity.nprobeRecall(emb.filter(col("vec_id") < 8), idx,
        k = 5, nprobes = Seq(1, 2, 4))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(3)))
    assert(rec.length === 3 * 8)
    assert(rec.filter(_._1 == 4).forall(_._3 == 1000L),
      "nprobe = #cells is brute force — recall must pin at 1000")
    val byQuery = rec.groupBy(_._2)
    byQuery.foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._1).map(_._3)
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a <= b },
        s"query $q: recall must be monotone in nprobe, got ${sorted.toSeq}")
    }
  }
}
