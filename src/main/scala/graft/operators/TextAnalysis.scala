package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: token
  * counting, quality scoring, corpus-trained language ID, and document
  * fingerprinting.
  *
  * All ratios are emitted as integer permille (⌊n·1000/m⌋) — exact
  * integer arithmetic, so results are bit-stable across engines. All
  * per-document features are narrow expressions; only langid shuffles
  * (two aggregations + a broadcast profile join).
  */
object TextAnalysis {

  import Dedup.tokens

  /** Whitespace + regex ("BPE-ish": letter runs / digit runs / single
    * other) token counts. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_ws_tokens"),
      expr("size(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0))").cast("long").as("n_re_tokens"),
      length(col("text")).cast("long").as("n_chars_measured"),
      col("n_chars").as("n_chars_meta"))

  private val StopWords = Seq("the", "a", "an", "of", "to", "and", "in")

  /** Quality features + a composite integer score, appended to the
    * input columns. Pure narrow expressions — composes with streaming
    * sources (no join, no shuffle): the streaming quality gate is the
    * same code path as the batch one. */
  def withQualityScore(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val stopList = StopWords.map(w => s"'$w'").mkString(", ")
    docs
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_distinct", size(array_distinct(toks)).cast("long"))
      .withColumn("n_stop",
        expr(s"size(filter(filter(split(text, ' '), x -> x <> ''), x -> x IN ($stopList)))").cast("long"))
      // zero-token guard on every permille: an empty document scores 0
      // instead of dividing by zero (ANSI mode makes that an ERROR —
      // found by TextFuzzSpec; the gopherRules guards are the model)
      .withColumn("mean_tok_len_permille",
        when(col("n_tokens") > 0,
          floor(length(regexp_replace(col("text"), " ", "")) * 1000 / col("n_tokens"))
            .cast("long")).otherwise(lit(0L)))
      .withColumn("stop_permille",
        when(col("n_tokens") > 0,
          floor(col("n_stop") * 1000 / col("n_tokens")).cast("long")).otherwise(lit(0L)))
      .withColumn("distinct_permille",
        when(col("n_tokens") > 0,
          floor(col("n_distinct") * 1000 / col("n_tokens")).cast("long")).otherwise(lit(0L)))
      .withColumn("quality_score",
        (when(col("n_tokens").between(20, 1000), lit(250)).otherwise(lit(0)) +
         when(col("mean_tok_len_permille").between(3000, 9000), lit(250)).otherwise(lit(0)) +
         when(col("stop_permille").between(10, 400), lit(250)).otherwise(lit(0)) +
         when(col("distinct_permille") >= 300, lit(250)).otherwise(lit(0))).cast("long"))
  }

  /** Quality features + a composite integer score. Heuristics follow
    * the usual corpus-quality recipes (length band, mean token length,
    * stopword share, repetition). */
  def qualityScore(docs: DataFrame): DataFrame =
    withQualityScore(docs)
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"), col("n_stop"),
        col("mean_tok_len_permille"), col("stop_permille"), col("distinct_permille"),
        col("quality_score"))

  /** Model-based quality filtering — the linear-classifier slot of a
    * CCNet/fastText-style pipeline reduced to its scoring form:
    * logit_bp = bias + Σ w_f·x_f over the integer quality features of
    * [[withQualityScore]]. Weights are basis-point INTEGERS (a trained
    * model's float weights quantize into this form exactly like the
    * k-means centroids in [[Similarity.ivfTrain]]), so the logit is
    * exact, engine-portable, and the whole scorer is one narrow
    * codegen'd projection — no UDF, no model server in the scan path.
    * `keep` = logit ≥ threshold (kept as 0/1 for portability). */
  def modelQualityScore(docs: DataFrame, weightsBp: Map[String, Long],
                        biasBp: Long, keepThresholdBp: Long = 0L): DataFrame = {
    val known = Set("n_tokens", "n_distinct", "n_stop",
      "mean_tok_len_permille", "stop_permille", "distinct_permille")
    require(weightsBp.nonEmpty && weightsBp.keySet.subsetOf(known),
      s"unknown features: ${weightsBp.keySet -- known}")
    val logit = weightsBp.toSeq.sortBy(_._1).foldLeft(lit(biasBp).cast("long")) {
      case (acc, (f, w)) => acc + col(f) * lit(w)
    }
    withQualityScore(docs)
      .withColumn("logit_bp", logit.cast("long"))
      .withColumn("keep",
        when(col("logit_bp") >= keepThresholdBp, 1L).otherwise(0L))
  }

  /** Distributed closed-form least squares — the TRAINING counterpart
    * of [[modelQualityScore]]: fit `y ≈ w0 + w1·x1 + w2·x2` over
    * integer features by one aggregation pass of sufficient statistics
    * (Σx, Σx², Σxy — nine numbers total), then solve the 3×3 normal
    * equations by Cramer's rule in exact wide-integer arithmetic.
    * This is the canonical "train on 100 TB" shape: the data is
    * touched ONCE by a map-side-combinable aggregate whose state is
    * O(d²) regardless of row count — no gradient loop, no driver
    * materialization beyond one row.
    *
    * Exactness: per-row products are computed in long (safe for
    * |feature| < ~3·10⁹), the sums accumulate in DECIMAL(38,0) (safe
    * to ~10³⁸ — a long sum would already overflow at trillion-row ×
    * 10⁸-magnitude scale), and the Cramer determinants stay in
    * DECIMAL(38,0). Weights are emitted as exact integer RATIONALS
    * `w_num / w_den` rendered as strings — no float anywhere, so the
    * fit is bit-identical on any engine (the DuckDB twin runs the
    * same formula text over HUGEINT — see [[cramer3Sql]]). The
    * denominator is sign-normalized positive; ties in the data cannot
    * occur (the solution is unique iff `w_den != 0`; a singular
    * system — collinear features — yields `w_den = 0` rows rather
    * than a wrong answer). */
  def fitLinear(df: DataFrame, yCol: Column, x1: Column, x2: Column,
                names: (String, String, String) = ("intercept", "x1", "x2")): DataFrame = {
    val norm = fitDeterminants(df, yCol, x1, x2).selectExpr(
      "CAST(CASE WHEN det < 0 THEN -det0 ELSE det0 END AS STRING) AS w0_num",
      "CAST(CASE WHEN det < 0 THEN -det1 ELSE det1 END AS STRING) AS w1_num",
      "CAST(CASE WHEN det < 0 THEN -det2 ELSE det2 END AS STRING) AS w2_num",
      "CAST(abs(det) AS STRING) AS w_den")
    norm.selectExpr(
      s"stack(3, '${names._1}', w0_num, '${names._2}', w1_num, '${names._3}', w2_num) AS (feature, w_num)",
      "w_den")
  }

  /** The one-pass sufficient-statistics aggregate + Cramer
    * determinants behind [[fitLinear]] / [[linearResiduals]]: one row,
    * columns `det det0 det1 det2` (DECIMAL(38,0)). */
  private def fitDeterminants(df: DataFrame, yCol: Column, x1: Column,
                              x2: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val sums = df
      .select(yCol.cast("long").as("y"), x1.cast("long").as("x1"), x2.cast("long").as("x2"))
      .agg(
        sum(dec(lit(1L))).as("n"),
        sum(dec(col("x1"))).as("s1"), sum(dec(col("x2"))).as("s2"),
        sum(dec(col("x1") * col("x1"))).as("s11"),
        sum(dec(col("x1") * col("x2"))).as("s12"),
        sum(dec(col("x2") * col("x2"))).as("s22"),
        sum(dec(col("y"))).as("sy"),
        sum(dec(col("x1") * col("y"))).as("s1y"),
        sum(dec(col("x2") * col("y"))).as("s2y"))
    val f = cramer3Sql(c => s"CAST($c AS DECIMAL(38,0))")
    sums.selectExpr("*", s"${f("det")} AS det",
      s"${f("det0")} AS det0", s"${f("det1")} AS det1", s"${f("det2")} AS det2")
  }

  /** Apply the fitted model back to every row, exactly: residual
    * `r = y·den − (n0 + n1·x1 + n2·x2)` with den sign-normalized
    * positive, i.e. den·(y − ŷ) — same ORDERING as the float residual
    * but exact, engine-portable integers. The model (four DECIMAL(38)
    * values) is materialized on the driver and inlined as LITERALS —
    * the k-means-centroid pattern: model-small by construction, and it
    * keeps scoring a pure narrow projection (no join, not even a
    * broadcast, in the scan path — composes with streaming). Train on
    * 100 TB, score at wire speed. */
  def linearResiduals(df: DataFrame, yCol: Column, x1: Column, x2: Column,
                      idCol: String = "doc_id"): DataFrame = {
    val r = fitDeterminants(df, yCol, x1, x2)
      .select(col("det"), col("det0"), col("det1"), col("det2")).head()
    val s = if (r.getDecimal(0).signum >= 0) 1 else -1
    require(r.getDecimal(0).signum != 0, "singular system: collinear features")
    val Seq(den, n0, n1, n2) = (0 to 3).map(i =>
      if (s < 0) r.getDecimal(i).negate else r.getDecimal(i))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    df.select(col(idCol), yCol.cast("long").as("y"),
        x1.cast("long").as("x1"), x2.cast("long").as("x2"))
      .withColumn("resid",
        (dec(col("y")) * lit(den) -
          (lit(n0) + lit(n1) * dec(col("x1")) + lit(n2) * dec(col("x2"))))
          .cast("string"))
      .select(col(idCol), col("resid"))
  }

  /** The Cramer-rule formula TEXT for the 3×3 normal equations over
    * sufficient-statistic columns `n s1 s2 s11 s12 s22 sy s1y s2y`,
    * parameterized by the wide-integer cast (`DECIMAL(38,0)` on
    * Spark, `HUGEINT` on DuckDB) so both engines run literally the
    * same arithmetic. Keys: `det` (system determinant) and `det0..2`
    * (numerators for intercept, x1, x2). */
  def cramer3Sql(cast: String => String): Map[String, String] = {
    val Seq(n, s1, s2, s11, s12, s22, sy, s1y, s2y) =
      Seq("n", "s1", "s2", "s11", "s12", "s22", "sy", "s1y", "s2y").map(cast)
    Map(
      "det" -> s"($n*($s11*$s22 - $s12*$s12) - $s1*($s1*$s22 - $s12*$s2) + $s2*($s1*$s12 - $s11*$s2))",
      "det0" -> s"($sy*($s11*$s22 - $s12*$s12) - $s1*($s1y*$s22 - $s12*$s2y) + $s2*($s1y*$s12 - $s11*$s2y))",
      "det1" -> s"($n*($s1y*$s22 - $s12*$s2y) - $sy*($s1*$s22 - $s12*$s2) + $s2*($s1*$s2y - $s1y*$s2))",
      "det2" -> s"($n*($s11*$s2y - $s1y*$s12) - $s1*($s1*$s2y - $s1y*$s2) + $sy*($s1*$s12 - $s11*$s2))")
  }

  /** Encoding-corruption (mojibake) signal — the quality gate that
    * catches double-decoded UTF-8 and lossy transcodes before they
    * poison a training mix: per doc, counts of U+FFFD replacement
    * characters (a decoder already gave up) and of the classic
    * UTF-8-read-as-Latin-1 marker characters (Ã, Â, â — the lead
    * bytes 0xC3/0xC2/0xE2 shown as Latin-1), plus a combined permille
    * of characters. Pure narrow char-class regex counting (RE2-safe,
    * engine-portable), codegen'd, streaming-composable like the other
    * quality gates. */
  def mojibake(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    def countOf(cls: String) =
      length(regexp_replace(col(textCol), s"[^$cls]", "")).cast("long")
    docs
      .withColumn("n_chars_m", length(col(textCol)).cast("long"))
      .withColumn("n_replacement", countOf("�"))
      .withColumn("n_latin1_markers", countOf("ÃÂâ"))
      .withColumn("mojibake_permille",
        when(col("n_chars_m") === 0, 0L).otherwise(
          floor((col("n_replacement") + col("n_latin1_markers")) * 1000 /
            col("n_chars_m")).cast("long")))
      .select(col(idCol), col("n_chars_m").as("n_chars"),
        col("n_replacement"), col("n_latin1_markers"), col("mojibake_permille"))
  }

  /** The langid training pass (eager, aggregate-only): lang-level
    * token counts → top-N per lang → langs × profileSize rows on the
    * driver, returned as a broadcastable (cand_lang, t) frame. */
  private def langProfileDf(docs: DataFrame, profileSize: Int): DataFrame = {
    val spark = docs.sparkSession
    val freq = Partitioning.fanOut(docs)
      .select(col("lang"), explode(tokens(col("text"))).as("t"))
      .groupBy(col("lang"), col("t")).agg(count(lit(1)).as("cnt"))
    val profileRows = Relational.topNPerGroup(freq, Seq(col("lang")),
        Seq(col("cnt").desc, col("t")), profileSize)
      .select(col("lang"), col("t"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    import spark.implicits._
    profileRows.toDF("cand_lang", "t")
  }

  /** Corpus-trained language ID: build a top-`profileSize` token
    * profile per labeled language (training pass: one aggregation +
    * windowed top-N), then score every document by profile hits and
    * predict the argmax (hits desc, lang asc tie-break).
    *
    * The profile is tiny (langs × profileSize) — it is materialized on
    * the driver (like the k-means centroids in
    * [[Similarity.ivfTrain]]: legitimately model-small) and broadcast
    * back into the scoring join, which therefore never shuffles the
    * token table by profile key. The input is scanned twice (train +
    * score), both passes narrow-until-agg; at 100 TB two passes beat
    * retaining a corpus-sized (doc, token, count) cache in executor
    * storage, and the returned frame is fully lazy with NO retained
    * state — nothing for the caller to release. */
  def langId(docs: DataFrame, profileSize: Int = 20): DataFrame = {
    val profile = langProfileDf(docs, profileSize)
    // scoring pass (lazy): doc-level term frequencies × broadcast profile
    val dtf = Partitioning.fanOut(docs)
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
    val hits = dtf.join(broadcast(profile), Seq("t"))
      .groupBy(col("doc_id"), col("cand_lang")).agg(sum(col("c")).as("hits"))
    Relational.topNPerGroup(hits, Seq(col("doc_id")),
        Seq(col("hits").desc, col("cand_lang")), 1)
      .select(col("doc_id"), col("cand_lang").as("pred_lang"), col("hits"))
  }

  /** SPAN-level language segmentation — the mixed-language-document
    * operator doc-level [[langId]] cannot express (a page that is half
    * one language, half another, gets ONE doc label and the wrong half
    * is either mislabeled or thrown away): the token stream is cut
    * into fixed `windowTokens` windows, each window scored against the
    * corpus-trained profile (argmax hits, ties toward the smaller
    * language code; windows hitting NO profile → 'und'), and
    * contiguous same-language windows merge into spans
    * (gaps-and-islands, the [[Multimodal.silenceSegments]] recipe).
    * Downstream either splits docs at span boundaries or drops the
    * minority spans.
    *
    * Scale: the profile is model-small and broadcast ([[langId]]'s
    * training pass, shared); scoring shuffles once to the
    * (doc, window, lang) grain; the island windows partition by
    * (doc, lang) — bounded by a document's window count, never
    * corpus-wide. All-integer decisions → hash-exact oracle.
    *
    * Round-10 (guide §2.4): the window spine is DERIVED narrowly —
    * win_idx 0 … (n_tokens−1) div W is exactly the set the previous
    * `distinct` over the exploded token stream produced (window
    * indices are contiguous by construction), so the token stream is
    * shuffled once (the hits aggregation), not twice. */
  def langSpans(docs: DataFrame, profileSize: Int = 20,
                windowTokens: Int = 10): DataFrame = {
    require(windowTokens > 0, s"windowTokens must be positive, got $windowTokens")
    val profile = langProfileDf(docs, profileSize)
    val tok = Partitioning.fanOut(docs)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "t")))
      .withColumn("win_idx", expr(s"CAST(pos AS LONG) DIV $windowTokens"))
    val wins = Partitioning.fanOut(docs)
      .select(col("doc_id"), size(tokens(col("text"))).as("__n"))
      .filter(col("__n") > 0)
      .select(col("doc_id"),
        explode(sequence(lit(0L),
          expr(s"CAST((__n - 1) DIV $windowTokens AS LONG)"))).as("win_idx"))
    val hits = tok.join(broadcast(profile), Seq("t"))
      .groupBy(col("doc_id"), col("win_idx"), col("cand_lang"))
      .agg(count(lit(1)).as("hits"))
    val pred = Relational.topNPerGroup(hits, Seq(col("doc_id"), col("win_idx")),
        Seq(col("hits").desc, col("cand_lang")), 1)
      .select(col("doc_id"), col("win_idx"), col("cand_lang"))
    val labeled = wins.join(pred, Seq("doc_id", "win_idx"), "left")
      .withColumn("span_lang", coalesce(col("cand_lang"), lit("und")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"), col("span_lang")).orderBy(col("win_idx"))
    labeled
      .withColumn("__grp", col("win_idx") - row_number().over(w))
      .groupBy(col("doc_id"), col("span_lang"), col("__grp"))
      .agg(min(col("win_idx")).as("win_start"),
        max(col("win_idx")).as("win_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_lang"),
        col("win_start"), col("win_end"), col("n_windows"))
  }

  /** Out-of-vocabulary rate per document against the corpus's own
    * top-`vocabSize` token vocabulary — the coverage check run before
    * committing to a tokenizer vocab ("what share of each doc falls
    * outside the planned vocabulary"). The vocab is top-k (already
    * TakeOrderedAndProject, never a full sort) and broadcast; the
    * token stream shuffles once for the per-doc tally. */
  def oovRate(docs: DataFrame, vocabSize: Int, idCol: String = "doc_id"): DataFrame = {
    val tok = Partitioning.fanOut(docs)
      .select(col(idCol), explode(tokens(col("text"))).as("t"))
    val counts = tok.groupBy(col("t")).agg(count(lit(1)).as("cnt"))
    val vocab = Relational.topK(counts, Seq(col("cnt").desc, col("t")), vocabSize)
      .select(col("t")).withColumn("__in", lit(1L))
    tok.join(broadcast(vocab), Seq("t"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        (count(lit(1)) - coalesce(sum(col("__in")), lit(0L))).as("n_oov"))
      .withColumn("oov_permille",
        floor(col("n_oov") * 1000 / col("n_tokens")).cast("long"))
  }

  /** Corpus-trained bigram fluency proxy: each document scored by the
    * mean corpus frequency of its word bigrams — the integer-exact
    * stand-in for an n-gram language-model log-probability (documents
    * full of corpus-common transitions score high; garbled or
    * boilerplate-unique text scores low). Training and scoring read
    * the same exploded bigram stream shape: one groupBy(bigram) for
    * the counts, one equi-join keyed on the bigram, one groupBy(doc) —
    * all map-side combinable, no broadcast assumption (the bigram
    * vocabulary grows with the corpus, unlike the langid profile).
    * Docs with fewer than 2 tokens have no bigrams and are dropped —
    * they have no transitions to score. */
  def bigramFluency(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    import graft.functions.WordShingles.word_shingles
    val bg = Partitioning.fanOut(docs)
      .select(col(idCol), explode(word_shingles(col("text"), 2)).as("b"))
    val counts = bg.groupBy(col("b")).agg(count(lit(1)).as("cnt"))
    bg.join(counts, "b")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("cnt")).as("__s"))
      // exact while Σcnt < 2^53 (true far beyond 100 TB of text)
      .withColumn("mean_freq", floor(col("__s") / col("n_bigrams")).cast("long"))
      .drop("__s")
  }

  /** Per-document top-`k` terms by an integer-exact TF·IDF surrogate:
    * `score_micro = tf·1e6 DIV df` (term frequency over document
    * frequency, scaled; monotone in tf/df so the per-doc ranking
    * matches the classic tf·idf ordering for a fixed doc). Keeping the
    * weight rational-integer makes it bit-stable across engines —
    * same policy as the permille quality features.
    *
    * Shuffle shape: one groupBy on (doc, term) for tf, one groupBy on
    * term for df, and one equi-join keyed on the term. The df side is
    * vocabulary-sized — it grows with the corpus (Heaps' law), so it
    * is NOT broadcast (same reasoning as [[bigramFluency]]); the
    * per-doc top-k is a bounded WindowGroupLimit, never a full sort. */
  def tfIdfTopTerms(docs: DataFrame, k: Int, idCol: String = "doc_id"): DataFrame = {
    val tok = Partitioning.fanOut(docs)
      .select(col(idCol), explode(tokens(col("text"))).as("term"))
    val tf = tok.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "term")
      .withColumn("score_micro", expr("tf * 1000000 DIV df"))
    Relational.topNPerGroup(scored, Seq(col(idCol)),
        Seq(col("score_micro").desc, col("term")), k)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("score_micro"),
        col("rn").cast("long").as("rank"))
  }

  /** BM25 retrieval: top-`k` documents for a bag-of-words query, with
    * the standard k1=1.2, b=0.75 saturation/length normalization kept
    * in EXACT integer arithmetic so scores are engine-portable:
    *
    *   idf_milli     = ⌊1000·(2(N−df)+1)/(2df+1)⌋   (the Robertson
    *                   odds ratio without the log — same monotone
    *                   order in df, integer-exact)
    *   len_ratio     = ⌊1000·dl·N/T⌋                (dl/avgdl, scaled)
    *   contrib_milli = ⌊idf·22000·tf/(10000·tf + 3000 + 9·len_ratio)⌋
    *                   (the exact rational form of
    *                   tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)))
    *
    * Scale shape: the query-term list broadcasts into the token
    * stream FIRST, so everything downstream is proportional to the
    * postings of the query terms, not the corpus: tf is one
    * (doc, term) groupBy over matching tokens only, per-term df and
    * the corpus stats (N, T) are single-row/handful-of-rows frames
    * broadcast back, and the final top-k is TakeOrderedAndProject.
    * All integer division is DIV (never double `/`) — exact past
    * 2^53. */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int,
               idCol: String = "doc_id"): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK needs at least one query term")
    val spark = docs.sparkSession
    import spark.implicits._
    val q = queryTerms.distinct.toDF("term")
    val dl = docs.select(col(idCol), size(tokens(col("text"))).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_tokens"))
    val tf = Partitioning.fanOut(docs)
      .select(col(idCol), explode(tokens(col("text"))).as("term"))
      .join(broadcast(q), "term")
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val contrib = tf
      .join(broadcast(df), "term")
      .join(dl, idCol)
      .crossJoin(broadcast(stats))
      .withColumn("idf_milli",
        expr("(1000 * (2 * (n_docs - df) + 1)) DIV (2 * df + 1)"))
      .withColumn("len_ratio_milli", expr("(1000 * dl * n_docs) DIV total_tokens"))
      .withColumn("contrib_milli",
        expr("(idf_milli * 22000 * tf) DIV (10000 * tf + 3000 + 9 * len_ratio_milli)"))
    val perDoc = contrib.groupBy(col(idCol))
      .agg(sum(col("contrib_milli")).as("score_milli"),
        count(lit(1)).as("n_hit_terms"))
    Relational.topK(perDoc, Seq(col("score_milli").desc, col(idCol)), k)
  }

  /** Per-stratum ZIPF fit: OLS slope of ln(count) against ln(rank)
    * over each stratum's vocabulary — natural prose sits near −1
    * (Zipf's law); a slope far off marks template/boilerplate farms
    * (too flat: every token equally common) or key-smash (too steep)
    * — a corpus-level quality diagnostic per source, complementing
    * the per-document signals.
    *
    * Determinism: ln(rank)/ln(count) are quantized to ⌊10⁴·ln(m)⌋
    * BEFORE the regression (integer ln arguments, exact floor), and
    * the 1-D OLS runs on exact integer sufficient statistics
    * (n, Σx, Σy, Σxy, Σx²) — the closed form divides two exact
    * integers once at the end (exact to ~10⁶ types per stratum —
    * Σx² stays under 2⁶³; a web-scale stratum moves the sums to
    * DECIMAL(38)). Shape: one (stratum, token) count aggregation,
    * one per-stratum rank window (per-stratum sort — the
    * [[Corpus.lengthQuantiles]] posture), one aggregation to
    * stratum grain. Output: (stratum, n_types, slope_q4,
    * intercept_q4). */
  def zipfFit(docs: DataFrame, byCol: String = "source",
              textCol: String = "text"): DataFrame = {
    val counts = Partitioning.fanOut(docs)
      .select(col(byCol), explode(tokens(col(textCol))).as("w"))
      .groupBy(col(byCol), col("w")).agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(byCol)).orderBy(col("c").desc, col("w"))
    val xy = counts
      .withColumn("r", row_number().over(w).cast("long"))
      .withColumn("x", floor(log(col("r").cast("double")) * 10000d).cast("long"))
      .withColumn("y", floor(log(col("c").cast("double")) * 10000d).cast("long"))
    xy.groupBy(col(byCol))
      .agg(count(lit(1)).as("n_types"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .withColumn("__num", col("n_types") * col("sxy") - col("sx") * col("sy"))
      .withColumn("__den", col("n_types") * col("sxx") - col("sx") * col("sx"))
      .filter(col("__den") =!= 0)
      .withColumn("slope_q4", round(col("__num").cast("double") / col("__den"), 4))
      .withColumn("intercept_q4", round(
        (col("sy") - col("__num").cast("double") / col("__den") * col("sx")) /
          col("n_types") / 10000d, 4))
      .select(col(byCol), col("n_types"), col("slope_q4"), col("intercept_q4"))
  }

  /** Top-k collocations by pointwise mutual information (Church &
    * Hanks 1990): PMI(a,b) = ln(c_ab·N / (c_a·c_b)) over adjacent
    * word pairs — the association measure that surfaces multi-word
    * units ("san francisco", "vice versa") for tokenizer vocabularies
    * and phrase mining, where raw bigram frequency only surfaces
    * stopword pairs. `minCount` floors c_ab (PMI's known bias toward
    * hapax pairs).
    *
    * Determinism: ranking uses the EXACT integer quotient
    * ⌊10⁶·c_ab·N / (c_a·c_b)⌋ (PMI is monotone in the ratio, so the
    * order is identical — and a float sort key could tie-break
    * differently across engines); the reported pmi_q4 is
    * ln(c_ab·N) − ln(c_a·c_b) — integer ln arguments, products below
    * 2⁵³. Shape: one bigram and one unigram count aggregation, two
    * type-grain equi-joins, TakeOrderedAndProject top-k. */
  def pmiTop(docs: DataFrame, k: Int = 25, minCount: Int = 5,
             textCol: String = "text"): DataFrame = {
    import graft.functions.WordShingles.word_shingles
    val fanned = Partitioning.fanOut(docs)
    val bg = fanned
      .select(explode(word_shingles(col(textCol), 2)).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= minCount)
      .withColumn("w1", element_at(split(col("b"), " "), 1))
      .withColumn("w2", element_at(split(col("b"), " "), 2))
    val uni = fanned.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val n = uni.agg(coalesce(sum(col("c1")), lit(0L))).head().getLong(0)
    val scored = bg
      .join(uni.select(col("w").as("__u1"), col("c1").as("ca")), col("w1") === col("__u1"))
      .join(uni.select(col("w").as("__u2"), col("c1").as("cb")), col("w2") === col("__u2"))
      .withColumn("ratio_micro", expr(s"(cab * $n * 1000000) DIV (ca * cb)"))
      .withColumn("pmi_q4", round(
        log((col("cab") * lit(n)).cast("double")) -
          log((col("ca") * col("cb")).cast("double")), 4))
      .select(col("w1"), col("w2"), col("cab"), col("ratio_micro"), col("pmi_q4"))
    Relational.topK(scored, Seq(col("ratio_micro").desc, col("w1"), col("w2")), k)
  }

  /** Query-likelihood lexical ranking — total matched-term frequency
    * length-normalized in exact integer micro units,
    * ⌊10⁶·Σtf / dl⌋ — the idf-free second opinion to [[bm25TopK]]
    * (no rarity weighting, no saturation: a doc dense in ANY query
    * term ranks high). Same scale shape: query terms broadcast into
    * the postings scan first, so cost ∝ matching postings, and the
    * final top-k is TakeOrderedAndProject. */
  def queryLikelihoodTopK(docs: DataFrame, queryTerms: Seq[String], k: Int,
                          idCol: String = "doc_id"): DataFrame = {
    require(queryTerms.nonEmpty, "queryLikelihoodTopK needs at least one query term")
    val spark = docs.sparkSession
    import spark.implicits._
    val q = queryTerms.distinct.toDF("term")
    val dl = docs.select(col(idCol), size(tokens(col("text"))).cast("long").as("dl"))
    val tf = Partitioning.fanOut(docs)
      .select(col(idCol), explode(tokens(col("text"))).as("term"))
      .join(broadcast(q), "term")
      .groupBy(col(idCol)).agg(count(lit(1)).as("tf_total"))
    val scored = tf.join(dl, idCol)
      .withColumn("score_micro", expr("(1000000 * tf_total) DIV dl"))
    Relational.topK(scored.select(col(idCol), col("score_micro"), col("tf_total")),
      Seq(col("score_micro").desc, col(idCol)), k)
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Büttcher, SIGIR 2009):
    * combine truncated rankings from heterogeneous rankers by
    * Σ 1/(c + rank) — the standard hybrid-retrieval merge (lexical ⊕
    * lexical here; lexical ⊕ vector in a serving stack), robust
    * because it reads only RANKS, never the incomparable scores.
    * Integer-exact: each list contributes ⌊10⁹/(c + rank)⌋ micro
    * points (quantized RRF — same order as the real-valued form for
    * any c and rank ≤ 10⁴, and engine-portable). Items missing from
    * a list simply contribute nothing (fusion over truncated lists —
    * the published form). Input frames need (`idCol`, rank). Cost:
    * one union of k-row frames + one k-bounded aggregation — the
    * fusion itself is driver-trivial; the rankers dominate. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, c: Int = 60,
              idCol: String = "doc_id"): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    val u = rankings
      .map(_.select(col(idCol), col("rank").cast("long").as("rank")))
      .reduce(_ unionByName _)
      .withColumn("pt", expr(s"1000000000 DIV ($c + rank)"))
    val fused = u.groupBy(col(idCol))
      .agg(sum(col("pt")).as("rrf_micro"), count(lit(1)).as("n_lists"))
    Relational.topK(fused, Seq(col("rrf_micro").desc, col(idCol)), k)
  }

  /** BPE tokenizer training — the first `merges` merge steps of
    * byte-pair encoding over the corpus vocabulary, ENGINE-EXACT:
    * symbol-pair counts are exact integers weighted by word frequency,
    * and the winning pair per step is selected with a total ordering
    * (count desc, left asc, right asc), so the learned merge table is
    * bit-stable across engines and runs. (No end-of-word marker — the
    * plain-corpus form; a marker is one extra `concat` at the split.)
    *
    * Scale shape — the reason BPE trains fine on a cluster: the corpus
    * is touched ONCE (token explode → word-frequency groupBy into a
    * CACHED vocabulary-sized frame, released before return). Every
    * merge step then runs on the VOCABULARY: the prior merges applied
    * as chained narrow folds (`aggregate` HOF — the classic greedy
    * left-to-right BPE rewrite: carry the array, merge when
    * (last, next) equals the winning pair), adjacent-pair explode
    * weighted by word count, one map-side-combinable groupBy, and a
    * 1-ROW argmax materialized on the driver — the merge table is
    * model-small, exactly the k-means-centroid precedent in
    * [[Similarity.ivfTrain]]. Returns a local k-row frame
    * (merge_rank, left, right, merged, cnt) that downstream apply
    * ([[bpeEncode]]) constant-folds into its scan. */
  def bpeMerges(docs: DataFrame, merges: Int, textCol: String = "text"): DataFrame =
    bpeMergesFromWords(
      Partitioning.fanOut(docs)
        .select(explode(tokens(col(textCol))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("wcnt")),
      merges)

  /** [[bpeMerges]] from a prepared (word, wcnt) count table — the
    * shared-spine form [[tokenizerEval]] uses so the trio of trainers
    * pays ONE corpus token pass instead of one each. Identical output
    * (same counts, same argmax tie-break). */
  private[graft] def bpeMergesFromWords(words: DataFrame, merges: Int): DataFrame = {
    require(merges >= 1 && merges <= 8,
      s"merges must be in [1, 8] (statically unrolled folds), got $merges")
    import graft.functions.CharShingles.char_shingles
    val spark = words.sparkSession
    val vocab = words
      .select(col("wcnt").as("cnt"), char_shingles(col("word"), 1).as("syms"))
      .cache()
    try {
      val out = Seq.newBuilder[(Long, String, String, String, Long)]
      var folds = List.empty[(String, String)]
      var exhausted = false
      for (rank <- 1 to merges if !exhausted) {
        import graft.functions.MergePair.merge_pair
        val syms = folds.reverse.foldLeft(col("syms")) {
          case (inner, (l, r)) => merge_pair(inner, l, r)
        }
        val top = vocab
          .select(col("cnt"), syms.as("syms"))
          .where(size(col("syms")) >= 2)
          .select(col("cnt"), explode(expr(
            "transform(sequence(1, size(syms) - 1), " +
              "i -> struct(syms[i - 1] AS l, syms[i] AS r))")).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("cnt")).as("pair_cnt"))
          .orderBy(col("pair_cnt").desc, col("l"), col("r"))
          .limit(1).collect()
        if (top.isEmpty) exhausted = true // vocabulary fully merged
        else {
          val (l, r, cnt) = (top.head.getString(0), top.head.getString(1),
            top.head.getLong(2))
          out += ((rank.toLong, l, r, l + r, cnt))
          folds ::= (l, r)
        }
      }
      import spark.implicits._
      out.result().toDF("merge_rank", "left", "right", "merged", "cnt")
    } finally vocab.unpersist()
  }

  /** [[bpeMerges]] at PRODUCTION merge counts: the unrolled form nests
    * one fold expression per learned rank (analysis cost and
    * re-applied work grow with k², hence its k ≤ 8 cap); this form
    * MATERIALIZES the folded vocabulary each round (`localCheckpoint`,
    * previous round released — the [[Dedup.connectedComponents]]
    * discipline), so every round applies exactly ONE fold to an
    * already-merged symbol table.
    *
    * Pair counts are maintained INCREMENTALLY (the real-tokenizer
    * trick): merging (l,r) only changes counts of pairs adjacent to
    * its occurrences, so each round diffs the pair multisets of just
    * the words the merge actually rewrote (−cnt for their old pairs,
    * +cnt for their new ones) and folds the delta into a materialized
    * pair-count frame — the full vocabulary-wide pair explode +
    * shuffle happens ONCE, up front, not once per rank. Per-round
    * cost: a 1-row argmax collect off the pair frame, a
    * rewritten-words-only delta aggregate, and the vocabulary fold;
    * the CORPUS is scanned once, to build the word-count vocabulary —
    * Zipf's law keeps that table orders of magnitude smaller than the
    * token stream (`BpeScaleSpec` measures the near-linear-in-k
    * claim). The delta is exact integer arithmetic over the same
    * multisets a recount would see, so output is identical to
    * [[bpeMerges]] for any k both accept. */
  def bpeMergesIter(docs: DataFrame, merges: Int, textCol: String = "text",
                    loopPartitions: Int = 0): DataFrame = {
    require(merges >= 1, s"merges must be >= 1, got $merges")
    import graft.functions.CharShingles.char_shingles
    val spark = docs.sparkSession
    // the single corpus scan. `loopPartitions` sizes the per-round
    // vocabulary frame: the merge loop launches 2 jobs per rank, and a
    // Zipf vocabulary is orders of magnitude smaller than the corpus,
    // so inheriting the corpus partition count pays k×partitions empty
    // task overheads. 0 (the default) AUTO-SIZES from the vocabulary:
    // max(⌈|vocab| / 200k rows⌉, min(defaultParallelism, 4)) — the
    // rows term governs genuinely large vocabularies, the small floor
    // keeps the per-round pair-explode CPU-parallel (1 partition
    // measured ~13% slower than 4 on the sf0.1 corpus). The count runs
    // on the checkpointed first materialization (a vocab-sized job,
    // paid once) and applies as a narrow coalesce — no shuffle, and
    // every later round's checkpoint inherits the small count.
    // Explicit values override; results are partition-count
    // independent either way (the argmax tie-break is a total order).
    val built = Partitioning.fanOut(docs)
      .select(explode(tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(col("cnt"), char_shingles(col("word"), 1).as("syms"))
    var vocab = (if (loopPartitions > 0) built.repartition(loopPartitions) else built)
      .localCheckpoint()
    if (loopPartitions == 0) {
      val parts = vocab.rdd.getNumPartitions
      val byRows = (vocab.count() + 199999L) / 200000L
      val floor = math.min(spark.sparkContext.defaultParallelism, 4).toLong
      val target = math.max(byRows, floor).toInt
      // lazy narrow view — no re-materialization: round 1's checkpoint
      // lands at the small count, and the release walk still reaches
      // the original blocks through the coalesce
      if (target < parts) vocab = vocab.coalesce(target)
    }
    // signed adjacent-pair multiset of a symbol array. The size guard
    // matters: Spark's sequence(1, 0) yields a DESCENDING [1, 0], not
    // an empty array, so a fully-merged single-symbol word would index
    // syms[-1] without it.
    def pairD(symsCol: String, sign: String): String =
      s"CASE WHEN size($symsCol) >= 2 THEN " +
        s"transform(sequence(1, size($symsCol) - 1), " +
        s"i -> struct($symsCol[i - 1] AS l, $symsCol[i] AS r, CAST($sign AS BIGINT) AS d)) " +
        "ELSE CAST(array() AS array<struct<l:string,r:string,d:bigint>>) END"
    // Pair counts live on the DRIVER — the real-tokenizer architecture
    // (HF tokenizers / SentencePiece hold candidate-merge counts in
    // memory): the table is MODEL-scale — one entry per distinct
    // adjacent symbol pair, i.e. the candidate vocabulary — not
    // corpus-scale, so this is the same bounded-driver-state contract
    // as the collected merge table itself. One full pair aggregate
    // seeds it; each round folds in the rewritten-words-only delta.
    val pairCnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
    vocab
      .where(size(col("syms")) >= 2)
      .select(col("cnt"), explode(expr(
        "transform(sequence(1, size(syms) - 1), " +
          "i -> struct(syms[i - 1] AS l, syms[i] AS r))")).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("cnt")).as("pair_cnt"))
      .collect()
      .foreach(row => pairCnt((row.getString(0), row.getString(1))) = row.getLong(2))
    // argmax tie-break must replicate the engines' collation: Spark's
    // UTF8String and DuckDB both compare strings as unsigned UTF-8
    // bytes (code-point order); Java's String.compareTo is UTF-16
    // code-unit order, which DISAGREES above the BMP — compare bytes.
    def utf8Compare(x: String, y: String): Int =
      java.util.Arrays.compareUnsigned(
        x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        y.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def better(a: (String, String, Long), b: (String, String, Long)): Boolean =
      if (a._3 != b._3) a._3 > b._3
      else {
        val cl = utf8Compare(a._1, b._1)
        if (cl != 0) cl < 0 else utf8Compare(a._2, b._2) < 0
      }
    val out = Seq.newBuilder[(Long, String, String, String, Long)]
    var exhausted = false
    // Merges are applied to the checkpointed vocabulary LAZILY, in
    // batches: `pending` holds merges picked but not yet folded into a
    // materialization. Each round's delta job applies the ≤
    // CheckpointEvery pending folds on the fly (the same nesting depth
    // bpeMerges tolerates for ALL its ranks); every CheckpointEvery-th
    // round folds them in for real and re-checkpoints. This cuts the
    // dominant per-round cost — a full vocabulary write — by the batch
    // factor while keeping expression depth bounded.
    val CheckpointEvery = 8
    var pending = List.empty[(String, String)] // in application order
    def applyPending(c: Column): Column =
      pending.foldLeft(c) { case (acc, (pl, pr)) =>
        graft.functions.MergePair.merge_pair(acc, pl, pr)
      }
    // try/finally: a per-round collect()/localCheckpoint() failure
    // mid-loop must not leak the live round's checkpoint blocks for
    // the session lifetime (bpeMerges' cached-vocab discipline)
    try {
      for (rank <- 1 to merges if !exhausted) {
        if (pairCnt.isEmpty) exhausted = true // vocabulary fully merged
        else {
          var bst: (String, String, Long) = null
          pairCnt.foreach { case ((pl, pr), c) =>
            val cand = (pl, pr, c)
            if (bst == null || better(cand, bst)) bst = cand
          }
          val (l, r, cnt) = bst
          out += ((rank.toLong, l, r, l + r, cnt))
          // pair-count delta from ONLY the words this merge rewrites:
          // their old pairs leave with −cnt, their new pairs (around
          // the merged symbol) enter with +cnt — exact integer diff of
          // the same multisets a full recount would aggregate, folded
          // into the driver table. The collect is delta-sized
          // (distinct pairs touched this round), not vocabulary-sized.
          val cur = applyPending(col("syms"))
          vocab
            .select(col("cnt"), cur.as("syms"),
              graft.functions.MergePair.merge_pair(cur, l, r).as("msyms"))
            .where(col("syms") =!= col("msyms"))
            .select(explode(expr(
              s"concat(${pairD("syms", "-cnt")}, ${pairD("msyms", "cnt")})")).as("e"))
            .groupBy(col("e.l").as("l"), col("e.r").as("r"))
            .agg(sum(col("e.d")).as("d"))
            .collect()
            .foreach { row =>
              val key = (row.getString(0), row.getString(1))
              val v = pairCnt.getOrElse(key, 0L) + row.getLong(2)
              if (v > 0) pairCnt(key) = v else pairCnt.remove(key)
            }
          pending = pending :+ ((l, r))
          if (pending.size >= CheckpointEvery) {
            val next = vocab
              .select(col("cnt"), applyPending(col("syms")).as("syms"))
              .localCheckpoint() // eager — materialized before the release
            Caching.releaseLocalCheckpoints(vocab)
            vocab = next
            pending = Nil
          }
        }
      }
    } finally Caching.releaseLocalCheckpoints(vocab)
    import spark.implicits._
    out.result().toDF("merge_rank", "left", "right", "merged", "cnt")
  }

  /** Apply a learned BPE merge table ([[bpeMerges]] output) to the
    * corpus: every word's character sequence is folded through the
    * merges IN RANK ORDER (the standard apply rule), yielding per-doc
    * BPE token counts and the compression ratio vs raw characters —
    * the fertility check run before committing to a tokenizer.
    *
    * The merge table is model-small (k rows) and constant-folded into
    * the fold expression. The k chained folds run through the native
    * one-pass [[graft.functions.MergePair]] expression (the
    * aggregate-lambda HOF form allocates per element) once per
    * DISTINCT word —
    * Zipf's law makes the vocabulary orders of magnitude smaller than
    * the token stream — and the per-word BPE lengths join back keyed
    * on the word (vocabulary-sized side: keyed, not broadcast — the
    * [[bigramFluency]]/[[tfIdfTopTerms]] reasoning). Shuffles: one
    * (doc, word) groupBy, one word-keyed join, one per-doc sum. */
  def bpeEncode(docs: DataFrame, merges: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    val ranked = merges.select(col("merge_rank"), col("left"), col("right"))
      .collect().sortBy(_.getLong(0))
      .map(r => (r.getString(1), r.getString(2)))
    import graft.functions.CharShingles.char_shingles
    import graft.functions.MergePair.merge_pair
    val encoded = ranked.foldLeft(char_shingles(col("word"), 1)) {
      case (inner, (l, r)) => merge_pair(inner, l, r)
    }
    val dw = Partitioning.fanOut(docs)
      .select(col(idCol), explode(tokens(col(textCol))).as("word"))
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("n"))
    val wordLen = dw.select(col("word")).distinct()
      .withColumn("bpe_len", size(encoded).cast("long"))
    val perDoc = dw.join(wordLen, "word")
      .groupBy(col(idCol))
      .agg(sum(col("n") * col("bpe_len")).as("n_bpe_tokens"))
    docs.select(col(idCol),
      size(tokens(col(textCol))).cast("long").as("n_words"),
      length(regexp_replace(col(textCol), " ", "")).cast("long").as("n_chars"))
      .join(perDoc, Seq(idCol), "left")
      .withColumn("n_bpe_tokens", coalesce(col("n_bpe_tokens"), lit(0L)))
      .withColumn("compression_permille",
        when(col("n_bpe_tokens") > 0,
          expr("(n_chars * 1000) DIV n_bpe_tokens")).otherwise(lit(0L)))
  }

  /** Language-ID confusion matrix: the [[langId]] predictions tallied
    * against the labeled language — the eval run before trusting a
    * classifier at corpus scale. Docs with zero profile hits have no
    * prediction and are (deliberately) absent. One id-keyed join +
    * one small groupBy on (lang, pred_lang). */
  def langIdConfusion(docs: DataFrame, profileSize: Int = 20): DataFrame =
    langId(docs, profileSize)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))

  /** Gopher-style rule filter (Rae et al. 2021 §A1.1, the published
    * web-corpus quality rules, in exact integer permille form): word
    * count band, mean word length band, symbol-to-word ratio
    * ('#'/'…'), alphabetic-word share, and a minimum stop-word count.
    * Pure narrow expressions — composes with streaming sources like
    * [[withQualityScore]]; `keep` = every rule passes. */
  def gopherRules(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    gopherRulesOn(docs, idCol, textCol, keepInput = false)

  /** The Gopher gate as a NARROW filter: keep rows passing the rules,
    * all input columns intact, zero shuffle — the composition form
    * (joining [[gopherRules]]' id list back would shuffle twice for a
    * decision every row can make locally). */
  def gopherGate(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame =
    gopherRulesOn(docs, idCol, textCol, keepInput = true)
      .filter(col("keep") === 1L)
      .drop("n_words", "mean_word_len_permille", "symbol_permille",
        "alpha_word_permille", "n_stop", "keep")

  /** C4's line-level filtering rules (Raffel et al. 2020, the recipe
    * behind the C4/mC4 corpora) — the LINE-grain complement to the
    * word-grain [[gopherRules]]: a line survives iff it ends in
    * terminal punctuation (. ! ? ") AND carries ≥ `minWords` words;
    * the PAGE drops outright on code/boilerplate tells ("lorem ipsum",
    * '{') or when fewer than `minKeptLines` lines survive. Emits the
    * per-page census (n_lines, n_kept_lines, n_kept_words, flags,
    * keep) plus the md5 of the kept text so the gate's exact output is
    * pinned, not just its counts.
    *
    * Scale shape: pure narrow higher-order expressions over the text
    * column — zero shuffle, composes with the WARC → HTML extraction
    * chain (whose '\n'-joined block output is exactly this operator's
    * input grain). */
  def c4Rules(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text", minWords: Int = 4,
              minKeptLines: Int = 3): DataFrame = {
    val keptExpr = expr(
      s"""filter(split($textCol, '\n'),
         |  l -> size(filter(split(l, ' '), w -> w <> '')) >= $minWords
         |       AND substr(l, -1, 1) IN ('.', '!', '?', '"'))""".stripMargin)
    docs
      .withColumn("__kept", keptExpr)
      .withColumn("n_lines", size(split(col(textCol), "\n")).cast("long"))
      .withColumn("n_kept_lines", size(col("__kept")).cast("long"))
      .withColumn("n_kept_words",
        expr("""aggregate(__kept, 0L,
               |  (acc, l) -> acc + size(filter(split(l, ' '), w -> w <> '')))"""
          .stripMargin))
      .withColumn("has_lorem",
        (instr(lower(col(textCol)), "lorem ipsum") > 0).cast("long"))
      .withColumn("has_brace", (instr(col(textCol), "{") > 0).cast("long"))
      .withColumn("keep",
        (col("has_lorem") === 0L && col("has_brace") === 0L &&
          col("n_kept_lines") >= minKeptLines).cast("long"))
      .withColumn("kept_md5",
        md5(concat_ws("\n", col("__kept")).cast("binary")))
      .select(col(idCol), col("n_lines"), col("n_kept_lines"),
        col("n_kept_words"), col("has_lorem"), col("has_brace"),
        col("keep"), col("kept_md5"))
  }

  /** [[gopherRules]] with every input column retained (features +
    * `keep` appended, no filter) — the composition form for pipelines
    * that report the decision alongside upstream columns. Narrow. */
  def gopherFeatures(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame =
    gopherRulesOn(docs, idCol, textCol, keepInput = true)

  private def gopherRulesOn(docs: DataFrame, idCol: String,
                            textCol: String, keepInput: Boolean): DataFrame = {
    val toks = tokens(col(textCol))
    val stopList = StopWords.map(w => s"'$w'").mkString(", ")
    val withKeep = docs
      .withColumn("n_words", size(toks).cast("long"))
      .withColumn("mean_word_len_permille",
        when(col("n_words") > 0,
          expr(s"(length(replace($textCol, ' ', '')) * 1000) DIV n_words"))
          .otherwise(lit(0L)))
      .withColumn("symbol_permille",
        when(col("n_words") > 0,
          expr(s"(size(regexp_extract_all($textCol, '#|[.][.][.]', 0)) * 1000) " +
            "DIV n_words")).otherwise(lit(0L)))
      .withColumn("alpha_word_permille",
        when(col("n_words") > 0,
          expr(s"(size(filter(filter(split($textCol, ' '), w -> w <> ''), " +
            "w -> w rlike '[A-Za-z]')) * 1000) DIV n_words")).otherwise(lit(0L)))
      .withColumn("n_stop",
        expr(s"size(filter(filter(split($textCol, ' '), w -> w <> ''), " +
          s"w -> w IN ($stopList)))").cast("long"))
      .withColumn("keep",
        (col("n_words").between(50L, 100000L) &&
          col("mean_word_len_permille").between(3000L, 10000L) &&
          col("symbol_permille") <= 100L &&
          col("alpha_word_permille") >= 800L &&
          col("n_stop") >= 2L).cast("long"))
    if (keepInput) withKeep // all input columns + features + keep
    else withKeep.select(col(idCol), col("n_words"), col("mean_word_len_permille"),
      col("symbol_permille"), col("alpha_word_permille"), col("n_stop"),
      col("keep"))
  }

  /** Operating-point sweep for the composite quality gate: confusion
    * counts and precision/recall (permille) of `quality_score >= t`
    * against the Gopher-rules keep decision as reference label — one
    * row per threshold. This is how a 100 TB gate's cutoff gets
    * picked: ONE narrow corpus pass extracts both feature sets
    * (no self-join — the gopher expressions chain onto the scored
    * frame), each doc explodes into |thresholds| two-int rows, and one
    * map-side-combinable aggregate yields the sweep table. */
  def qualityThresholdSweep(docs: DataFrame,
                            thresholds: Seq[Int] = Seq(250, 500, 750, 1000)): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    val labeled = gopherRulesOn(withQualityScore(docs), "doc_id", "text",
        keepInput = true)
      .select(col("quality_score"), col("keep"))
    labeled
      .select(col("quality_score"), col("keep"),
        explode(array(thresholds.map(t => lit(t)): _*)).as("threshold"))
      .withColumn("pred", (col("quality_score") >= col("threshold")).cast("long"))
      .groupBy(col("threshold").cast("long").as("threshold"))
      .agg(
        sum(col("pred") * col("keep")).as("tp"),
        sum(col("pred") * (lit(1L) - col("keep"))).as("fp"),
        sum((lit(1L) - col("pred")) * col("keep")).as("fn"),
        sum((lit(1L) - col("pred")) * (lit(1L) - col("keep"))).as("tn"))
      .withColumn("precision_permille",
        when(col("tp") + col("fp") > 0, expr("(tp * 1000) DIV (tp + fp)"))
          .otherwise(lit(0L)))
      .withColumn("recall_permille",
        when(col("tp") + col("fn") > 0, expr("(tp * 1000) DIV (tp + fn)"))
          .otherwise(lit(0L)))
  }

  /** Deterministic document fingerprint: md5 over the sorted distinct
    * token set (order-insensitive content hash) plus set extremes.
    * Narrow — single expression per row. */
  def fingerprint(docs: DataFrame): DataFrame = {
    val tset = array_sort(array_distinct(tokens(col("text"))))
    // try_element_at: a zero-token document fingerprints with NULL
    // extremes instead of throwing under ANSI (`element_at` on an
    // empty array is an error; DuckDB's list index is NULL — found by
    // TextFuzzSpec, would have killed a 100 TB scan on its first
    // empty doc)
    docs.select(
      col("doc_id"),
      md5(array_join(tset, " ").cast("binary")).as("fp"),
      try_element_at(tset, lit(1)).as("tok_min"),
      try_element_at(tset, lit(-1)).as("tok_max"),
      size(tset).cast("long").as("n_distinct"))
  }

  /** Flesch–Kincaid grade level in EXACT integer millis (grade·1000):
    * `390·(words DIV-per sentences) + 11800·(syllables DIV-per words)
    * − 15590`, with syllables approximated as vowel GROUPS
    * (`[aeiouy]+` runs — the standard dictionary-free estimator) and
    * sentences as terminal-punctuation runs (`[.!?]+`, floored at 1
    * so a fragment is one sentence). Character-class-only regexes
    * (Java ≡ RE2 ≡ DuckDB), floor division, no floats — the quality
    * score's readability axis, entirely NARROW (per-row expressions,
    * streams/composes like [[gopherGate]]). */
  def readability(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    docs
      .withColumn("n_words", size(tokens(col(textCol))).cast("long"))
      .filter(col("n_words") > 0)
      .withColumn("n_sentences",
        greatest(size(expr(s"regexp_extract_all($textCol, '[.!?]+', 0)")).cast("long"),
          lit(1L)))
      .withColumn("n_syllables",
        size(expr(s"regexp_extract_all(lower($textCol), '[aeiouy]+', 0)")).cast("long"))
      .withColumn("fk_milli",
        expr("(390 * n_words) DIV n_sentences + (11800 * n_syllables) DIV n_words - 15590"))
      .select(col(idCol), col("n_words"), col("n_sentences"),
        col("n_syllables"), col("fk_milli"))

  /** Winnowed fingerprint statistics (Schleimer, Wilkerson & Aiken
    * 2003 — the MOSS local fingerprinting scheme): per document, the
    * distinct window-minimum 32-bit gram hashes selected by the native
    * [[graft.functions.WinnowFp]] expression, summarized as count +
    * set extremes + exact sum. Winnowing's contract is what makes it
    * the 100 TB fingerprint: any substring match of length
    * ≥ w + k − 1 is guaranteed to share a selected fingerprint (full
    * detection floor), while the expected selected density is only
    * 2/(w+1) of the grams — the inverted index
    * ([[Dedup.winnowPairs]]) is ~2/(w+1) the size of a full gram
    * index at the same guarantee. Entirely NARROW: the gram array,
    * hash sequence and window minima never exist as rows. */
  def winnowStats(docs: DataFrame, k: Int = 5, w: Int = 4,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import graft.functions.WinnowFp.winnow_fp
    Partitioning.fanOut(docs)
      .withColumn("__sl", winnow_fp(col(textCol), k, w))
      .filter(size(col("__sl")) > 0)
      .select(col(idCol),
        (length(col(textCol)) - lit(k - 1)).cast("long").as("n_grams"),
        size(col("__sl")).cast("long").as("n_selected"),
        element_at(col("__sl"), 1).as("min_fp"),
        element_at(col("__sl"), -1).as("max_fp"),
        aggregate(col("__sl"), lit(0L), (a, x) => a + x).as("sum_fp"))
  }

  /** Per-document lexical-diversity signals: token/type counts,
    * type–token ratio, and Shannon word entropy (nats) — the standard
    * "is this natural prose or key-smash/boilerplate" axis that the
    * permille quality features don't capture (a doc repeating one
    * token 40 times and a doc of 40 distinct tokens have the same
    * n_tokens but entropies 0 and ln 40).
    *
    * Entirely NARROW — a per-row expression, no shuffle, no state:
    * entropy is a per-document property, so at 100 TB it's a
    * wire-speed scan like the other quality columns. Per-type counts
    * come from run-length boundaries on the SORTED token array
    * (filter over index positions, O(1) `element_at` probes), so the
    * per-row cost is O(n log n) in document length — not the
    * O(types × tokens) of the naive count-each-distinct-type shape,
    * which degrades quadratically on high-diversity documents.
    *
    * Cross-engine determinism for the one float in the tree: with
    * per-type counts c and n = Σc, H = ln n − (Σ c·ln c)/n. The counts
    * are exact integers, `ln` over doubles is bit-identical on JVM and
    * DuckDB (both correctly rounded; verified bit-level on integer
    * arguments), and the Σ c·ln c fold runs over the SORTED count
    * multiset — one canonical summation order on every engine — so
    * the double is reproducible bit-for-bit before the final
    * `round(·, 4)` pins it for hashing. */
  def lexicalStats(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val tk = tokens(col(textCol))
    docs
      .select(col(idCol), size(tk).cast("long").as("n_tokens"),
        size(array_distinct(tk)).cast("long").as("n_types"),
        array_sort(tk).as("__s"))
      .where(col("n_tokens") > 0)
      // run ends: 1-based positions i where sorted(i) != sorted(i+1)
      // (plus the final position). `when` guards the i+1 probe so the
      // last element never indexes out of range.
      .withColumn("__ends",
        filter(sequence(lit(1), col("n_tokens").cast("int")), i =>
          when(i === col("n_tokens").cast("int"), lit(true))
            .otherwise(element_at(col("__s"), i) =!= element_at(col("__s"), i + 1))))
      // run lengths = pairwise differences of boundary positions —
      // the same per-type count multiset as counting each distinct
      // type, sorted identically, so the entropy fold below is
      // bit-identical to the DuckDB twin's.
      .withColumn("__c", sort_array(zip_with(
        col("__ends"),
        concat(array(lit(0)), slice(col("__ends"), lit(1), size(col("__ends")) - 1)),
        (e, st) => (e - st).cast("double"))))
      .withColumn("ttr_permille",
        floor(col("n_types") * 1000 / col("n_tokens")).cast("long"))
      .withColumn("entropy_q4", round(
        log(col("n_tokens").cast("double")) -
          aggregate(col("__c"), lit(0.0), (a, c) => a + c * log(c)) /
            col("n_tokens").cast("double"), 4))
      .drop("__s", "__ends", "__c")
  }

  /** Per-document perplexity under an add-one-smoothed bigram LM
    * trained on the corpus itself — the KenLM-style fluency filter of
    * CCNet/Gopher pipelines, self-trained so it needs no external
    * model: p(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁)+V). Output per doc: bigram
    * count, mean negative log-prob (nats) and its exp (perplexity),
    * both pinned at 4 decimals. Docs with < 2 tokens have no
    * transitions and are dropped ([[bigramFluency]] policy).
    *
    * Shuffle shape (round-10, guide §2.3 — the [[stupidBackoff]]
    * discipline): ONE count aggregation over one corpus pass covers
    * both orders (bigrams and unigrams ride one union stream,
    * order-prefixed "2:"/"1:" so they can never collide), replacing
    * two corpus scans + two aggregations; the per-bigram (c₁₂, c₁)
    * tuple is assembled at bigram-TYPE grain (one type-grain join on
    * w₁), so the heavy bigram TOKEN stream is shuffled once (its
    * single equi-join on b) instead of riding two consecutive joins;
    * then one groupBy(doc) fold. No model table is broadcast — both
    * grow with the corpus (Heaps' law). At 100 TB you'd Zipf-truncate
    * the LM to its top-K n-grams and broadcast THAT (the backoff mass
    * is a constant); the exact-join form here is the oracle-checkable
    * reference semantics.
    *
    * Determinism: all `ln` arguments are integers (c₁₂+1, c₁+V — the
    * ratio is decomposed as ln a − ln b so no float division feeds
    * `ln`), and the per-doc fold runs over the count pairs SORTED as
    * structs — one canonical order on every engine ([[lexicalStats]]
    * policy). */
  def bigramPerplexity(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    import graft.functions.WordShingles.word_shingles
    val fanned = Partitioning.fanOut(docs)
    val bg = fanned
      .select(col(idCol), explode(word_shingles(col("text"), 2)).as("b"))
    // one pass over the corpus, both orders; materialized once (feeds
    // the V scalar, the bigram table and the unigram table)
    val grams = fanned.select(explode(concat(
        transform(word_shingles(col("text"), 2), g => concat(lit("2:"), g)),
        transform(tokens(col("text")), w => concat(lit("1:"), w)))).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val bgCounts = grams.filter(col("g").startsWith("2:"))
      .select(substring(col("g"), 3, Int.MaxValue).as("b"), col("c").as("c12"))
    val uniCounts = grams.filter(col("g").startsWith("1:"))
      .select(substring(col("g"), 3, Int.MaxValue).as("w"), col("c").as("c1"))
    // vocabulary size: one scalar off the already-aggregated table,
    // inlined as a literal (the k-means-centroid pattern —
    // model-small by construction)
    val v = uniCounts.count()
    // full per-type tuple assembled at TYPE grain (w₁ of every bigram
    // type is a seen token, so the inner join keeps all types)
    val model = bgCounts
      .withColumn("w1", element_at(split(col("b"), " "), 1))
      .join(uniCounts, col("w1") === col("w"))
      .select(col("b"), col("c12"), col("c1"))
    bg
      .join(model, "b")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sort_array(collect_list(struct(col("c12"), col("c1")))).as("__p"))
      .withColumn("__nll",
        // parenthesized so the fold is a + (ln·−ln·): the identical
        // float-op order as the oracle's transform-then-reduce twin
        aggregate(col("__p"), lit(0.0), (a, p) =>
          a + (log((p.getField("c1") + lit(v)).cast("double")) -
            log((p.getField("c12") + lit(1L)).cast("double")))) /
          col("n_bigrams").cast("double"))
      .select(col(idCol), col("n_bigrams"),
        round(col("__nll"), 4).as("nll_q4"),
        round(exp(col("__nll")), 4).as("ppl_q4"))
  }

  /** Per-document perplexity under an interpolated KNESER–NEY bigram
    * LM (absolute discount D = 3/4) trained on the corpus itself —
    * the smoothing family real n-gram LMs ship (KenLM's default),
    * one rung above [[bigramPerplexity]]'s add-one: the unigram
    * backoff is replaced by the CONTINUATION probability, so words
    * frequent only inside fixed collocations ("Francisco") stop
    * inflating scores outside their contexts.
    *
    *   p(w₂|w₁) = (c₁₂ − D)/c₁ + D·N₁₊(w₁·)/c₁ · N₁₊(·w₂)/B
    *
    * with c₁ the CONTEXT count (Σ_w c(w₁ w) — so each conditional
    * sums to exactly 1), N₁₊(w₁·)/N₁₊(·w₂) the distinct-continuation
    * /-context type counts, and B the total number of distinct bigram
    * types. The LM scores its own training corpus, so every scored
    * bigram has c₁₂ ≥ 1 and the textbook max(c₁₂ − D, 0) is vacuous.
    *
    * Determinism (the [[bigramPerplexity]] discipline — D = 3/4 is
    * chosen to make it exact): each transition contributes
    * ln(4·c₁·B) − ln((4·c₁₂ − 3)·B + 3·N₁₊(w₁·)·N₁₊(·w₂)) — both
    * `ln` arguments exact integers — folded over the struct-sorted
    * count tuples in one canonical order on every engine.
    *
    * Shuffle shape (round-10, guide §2.3): one groupBy(bigram) over
    * the token stream for the type table, MATERIALIZED once (it
    * feeds the context/continuation aggregations, the B scalar and
    * the model join); the context/continuation tables aggregate THAT
    * table and join back at TYPE grain, assembling the full
    * per-bigram tuple (c₁₂, c₁, N₁₊(w₁·), N₁₊(·w₂)) into one model
    * table — so the heavy bigram TOKEN stream is shuffled exactly
    * once more (its single equi-join on b) instead of riding three
    * consecutive joins (b, then w₁, then w₂) as before; then one
    * groupBy(doc) fold. B is one scalar off the aggregated type
    * table (model-small pattern). Neither model table is broadcast —
    * both grow with the corpus (Heaps' law); at 100 TB you'd
    * Zipf-truncate to top-K types and broadcast that
    * ([[bigramPerplexity]] note). */
  def knPerplexity(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    import graft.functions.WordShingles.word_shingles
    val fanned = Partitioning.fanOut(docs)
    val bg = fanned
      .select(col(idCol), explode(word_shingles(col("text"), 2)).as("b"))
    val bgCounts = bg.groupBy(col("b")).agg(count(lit(1)).as("c12"))
      .withColumn("w1", element_at(split(col("b"), " "), 1))
      .withColumn("w2", element_at(split(col("b"), " "), 2))
      .localCheckpoint()
    val ctx = bgCounts.groupBy(col("w1").as("cw1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1f"))
    val cont = bgCounts.groupBy(col("w2").as("cw2"))
      .agg(count(lit(1)).as("n1p"))
    // total bigram types: one scalar off the aggregated type table
    val bTypes = bgCounts.count()
    // full per-type tuple assembled at TYPE grain (ctx/cont cover
    // every w1/w2 the type table holds, so the inner joins keep all)
    val model = bgCounts
      .join(ctx, col("w1") === col("cw1"))
      .join(cont, col("w2") === col("cw2"))
      .select(col("b"), col("c12"), col("c1"), col("n1f"), col("n1p"))
    bg
      .join(model, "b")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sort_array(collect_list(
          struct(col("c12"), col("c1"), col("n1f"), col("n1p")))).as("__p"))
      .withColumn("__nll",
        // parenthesized so the fold is a + (ln·−ln·): the identical
        // float-op order as the oracle's transform-then-reduce twin
        aggregate(col("__p"), lit(0.0), (a, p) =>
          a + (log((p.getField("c1") * lit(4L) * lit(bTypes)).cast("double")) -
            log(((p.getField("c12") * lit(4L) - lit(3L)) * lit(bTypes) +
              lit(3L) * p.getField("n1f") * p.getField("n1p")).cast("double")))) /
          col("n_bigrams").cast("double"))
      .select(col(idCol), col("n_bigrams"),
        round(col("__nll"), 4).as("kn_nll_q4"),
        round(exp(col("__nll")), 4).as("kn_ppl_q4"))
  }

  /** Stupid Backoff trigram scoring (Brants et al. 2007, "Large
    * Language Models in Machine Translation") on a HELD-OUT split:
    * the LM that actually runs at web scale — no discount mass to
    * normalize, just MLE ratios with a constant 0.4 backoff factor:
    *
    *   S(w₃|w₁w₂) = c₁₂₃/c₁₂           if c₁₂₃ > 0
    *              = 0.4 · S(w₃|w₂)     else
    *   S(w₃|w₂)   = c₂₃/c(w₂)          if c₂₃ > 0
    *              = 0.4 · S(w₃)        else
    *   S(w₃)      = c₃/N, and 0.4·(1/N) extra for an OOV w₃.
    *
    * Train/score on the SAME corpus would never back off (every
    * scored n-gram would be seen) — so the corpus splits by
    * `idCol % 2`: even ids train the count tables, odd ids are
    * scored, and all four tiers genuinely fire. Output per scored
    * doc: trigram count, per-tier hit counts (the backoff histogram
    * — a data-quality signal in itself: OOV-heavy docs are gibberish
    * or a language the training half lacks), and the mean negative
    * log-score (−ln S, nats) with its exp, pinned at 4 decimals.
    *
    * Determinism: 0.4 = 2/5, so every tier's contribution is a sum
    * of ln of EXACT INTEGERS (backoff adds (ln 5 − ln 2) per tier;
    * counts and N are integers) folded over struct-sorted tuples —
    * the [[bigramPerplexity]] discipline extended with missing
    * counts encoded as the −1 sentinel (nulls would sort
    * engine-dependently).
    *
    * Shuffle shape (round-10, guide §2.3): ONE count aggregation over
    * the training half covers all three n-gram orders — the grams of
    * the three orders ride one union stream, order-prefixed ("3:g",
    * "2:g", "1:w") so grams of different orders can never collide —
    * replacing three full train-half scans + three aggregations. The
    * five per-trigram lookups (t, both bigrams, both unigrams) run at
    * scored-trigram TYPE grain: each distinct trigram explodes to its
    * five (slot, key) probes, LEFT-joins the unified count table
    * once, and one pivot aggregation re-assembles the
    * (c₁₂₃, c₁₂, c₂₃, c₂, c₃) tuple — so the scored trigram TOKEN
    * stream is shuffled once (its single equi-join on t) instead of
    * riding five consecutive joins, then one groupBy(doc) fold. No
    * model table is broadcast (Heaps' law; Zipf-truncate and
    * broadcast at 100 TB — [[bigramPerplexity]] note); N is a scalar
    * off the aggregated count table. */
  def stupidBackoff(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    import graft.functions.WordShingles.word_shingles
    val fanned = Partitioning.fanOut(docs)
    val train = fanned.filter(col(idCol) % 2 === 0)
    val score = fanned.filter(col(idCol) % 2 === 1)
    // one pass over the training half, all three orders; materialized
    // once (feeds the N scalar and the model join)
    val cnt = train.select(explode(concat(
        transform(word_shingles(col("text"), 3), g => concat(lit("3:"), g)),
        transform(word_shingles(col("text"), 2), g => concat(lit("2:"), g)),
        transform(tokens(col("text")), w => concat(lit("1:"), w)))).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    // empty training half: sum aggregates to NULL, and a 0 would put
    // ln(0) in the OOV tier — floor at 1 (ln 1 = 0: the OOV penalty
    // degenerates to the pure backoff factor, every scored trigram
    // tier-4, finite and deterministic)
    val n = math.max(1L,
      cnt.filter(col("g").startsWith("1:"))
        .agg(coalesce(sum(col("c")), lit(0L))).head().getLong(0))
    val tg = score.select(col(idCol), explode(word_shingles(col("text"), 3)).as("t"))
    val probes = tg.select(col("t")).distinct()
      .withColumn("__ws", split(col("t"), " "))
      .select(col("t"), explode(array(
        struct(lit(1).as("slot"), concat(lit("3:"), col("t")).as("g")),
        struct(lit(2).as("slot"), concat(lit("2:"), concat_ws(" ",
          element_at(col("__ws"), 1), element_at(col("__ws"), 2))).as("g")),
        struct(lit(3).as("slot"), concat(lit("2:"), concat_ws(" ",
          element_at(col("__ws"), 2), element_at(col("__ws"), 3))).as("g")),
        struct(lit(4).as("slot"), concat(lit("1:"),
          element_at(col("__ws"), 2)).as("g")),
        struct(lit(5).as("slot"), concat(lit("1:"),
          element_at(col("__ws"), 3)).as("g")))).as("kv"))
      .select(col("t"), col("kv.slot").as("slot"), col("kv.g").as("g"))
    // pivot the five probes back to one row per scored trigram type;
    // each slot matches at most one count row, so max(when) IS the
    // looked-up value and the -1 sentinel marks a miss exactly like
    // the previous per-slot LEFT joins
    val model = probes.join(cnt, Seq("g"), "left")
      .groupBy(col("t"))
      .agg(coalesce(max(when(col("slot") === 1, col("c"))), lit(-1L)).as("c123"),
        coalesce(max(when(col("slot") === 2, col("c"))), lit(-1L)).as("c12"),
        coalesce(max(when(col("slot") === 3, col("c"))), lit(-1L)).as("c23"),
        coalesce(max(when(col("slot") === 4, col("c"))), lit(-1L)).as("c2"),
        coalesce(max(when(col("slot") === 5, col("c"))), lit(-1L)).as("c3"))
    // inner join: `model` holds every scored trigram type by
    // construction, so rows match the previous left-join chain 1:1
    val joined = tg.join(model, "t")
      .select(col(idCol), col("c123"), col("c12"), col("c23"),
        col("c2"), col("c3"))
    val bo = log(lit(5.0)) - log(lit(2.0))
    def contrib(p: Column): Column = {
      val c123 = p.getField("c123"); val c12 = p.getField("c12")
      val c23 = p.getField("c23"); val c2 = p.getField("c2")
      val c3 = p.getField("c3")
      when(c123 > 0, log(c12.cast("double")) - log(c123.cast("double")))
        .when(c23 > 0, bo + (log(c2.cast("double")) - log(c23.cast("double"))))
        .when(c3 > 0, bo * lit(2.0) + (log(lit(n).cast("double")) - log(c3.cast("double"))))
        .otherwise(bo * lit(3.0) + log(lit(n).cast("double")))
    }
    // per-row backoff tier (1 = trigram hit … 4 = OOV), counted with
    // plain conditional sums — only the float fold needs the sorted
    // struct list
    val tiered = joined.withColumn("__tier",
      when(col("c123") > 0, 1L).when(col("c23") > 0, 2L)
        .when(col("c3") > 0, 3L).otherwise(4L))
    tiered
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_trigrams"),
        sum((col("__tier") === 1L).cast("long")).as("n_tri_hit"),
        sum((col("__tier") === 2L).cast("long")).as("n_bi_hit"),
        sum((col("__tier") === 3L).cast("long")).as("n_uni_hit"),
        sum((col("__tier") === 4L).cast("long")).as("n_oov"),
        sort_array(collect_list(struct(col("c123"), col("c12"), col("c23"),
          col("c2"), col("c3")))).as("__p"))
      .withColumn("__nll",
        aggregate(col("__p"), lit(0.0), (a, p) => a + contrib(p)) /
          col("n_trigrams").cast("double"))
      .select(col(idCol), col("n_trigrams"), col("n_tri_hit"), col("n_bi_hit"),
        col("n_uni_hit"), col("n_oov"),
        round(col("__nll"), 4).as("sb_nll_q4"),
        round(exp(col("__nll")), 4).as("sb_ppl_q4"))
  }

  /** CCNet-style perplexity bucketing: each stratum's documents are
    * split into `nBuckets` equal-population perplexity bands
    * (head/middle/tail at the default 3) under the self-trained bigram
    * LM ([[bigramPerplexity]]), and the tail — the least-fluent band,
    * where boilerplate, mojibake and gibberish concentrate — is marked
    * for drop (`keep = bucket < nBuckets`). Per-STRATUM banding is the
    * point (CCNet buckets per language): an absolute threshold would
    * gut whichever stratum's LM fit is worst.
    *
    * The band assignment is `ntile` over a window PARTITIONED by the
    * stratum with the total order (ppl, id) — deterministic and
    * oracle-exact, but a per-stratum sort. At 100 TB replace the exact
    * ntile with two narrow passes: `approx_percentile(ppl,
    * [1/b .. (b-1)/b])` per stratum (map-side-combinable sketch,
    * driver-small boundaries), then a broadcast range lookup — same
    * decision to sketch precision, no sort. The exact form here is the
    * oracle-checkable reference semantics; docs with < 2 tokens carry
    * no LM evidence and are dropped with them
    * ([[bigramPerplexity]]'s policy). */
  def perplexityBuckets(docs: DataFrame, nBuckets: Int = 3,
                        strataCol: String = "source",
                        idCol: String = "doc_id"): DataFrame = {
    require(nBuckets >= 2, s"need at least 2 buckets, got $nBuckets")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(strataCol)).orderBy(col("ppl_q4"), col(idCol))
    docs.select(col(idCol), col(strataCol))
      .join(bigramPerplexity(docs, idCol), idCol)
      .withColumn("bucket", ntile(nBuckets).over(w).cast("long"))
      .withColumn("keep", col("bucket") < nBuckets)
  }

  /** WordPiece-style subword VOCABULARY selection — the second
    * tokenizer family next to [[bpeMerges]] (BPE grows pieces by
    * merging; WordPiece picks them by corpus frequency and segments by
    * greedy longest match). Candidates are every substring of length
    * 1..`maxLen` at every position of every distinct word, weighted by
    * word frequency (overlapping occurrences count — the positional
    * sum both engines reproduce exactly); the vocab is the top-`k` by
    * (count desc, piece) UNIONed with all single characters (coverage:
    * greedy segmentation always progresses). All-integer, so the
    * DuckDB twin is hash-exact.
    *
    * Scale shape: one shuffle to the distinct-word grain, the
    * substring explosion runs at word-vocabulary size (Heaps-law
    * sublinear in corpus), one hash-agg on the piece, and the top-k is
    * TakeOrderedAndProject — never a full sort. */
  def wordpieceVocab(docs: DataFrame, k: Int = 48, maxLen: Int = 4,
                     textCol: String = "text"): DataFrame =
    wordpieceVocabFromWords(
      Partitioning.fanOut(docs)
        .select(explode(tokens(col(textCol))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("wcnt")),
      k, maxLen)

  /** [[wordpieceVocab]] from a prepared (word, wcnt) count table —
    * the shared-spine form ([[tokenizerEval]]). Identical output. */
  private[graft] def wordpieceVocabFromWords(words: DataFrame, k: Int,
                                             maxLen: Int): DataFrame = {
    require(k > 0 && maxLen >= 1, s"bad wordpiece params k=$k maxLen=$maxLen")
    val pieces = words
      .select(col("word"), col("wcnt"),
        explode(sequence(lit(1), length(col("word")))).as("i"))
      .select(col("word"), col("wcnt"), col("i"),
        explode(sequence(lit(1), lit(maxLen))).as("l"))
      .filter(col("i") + col("l") - 1 <= length(col("word")))
      .select(col("word").substr(col("i"), col("l")).as("piece"), col("wcnt"))
      .groupBy(col("piece")).agg(sum(col("wcnt")).as("cnt"))
    val topk = pieces.orderBy(col("cnt").desc, col("piece")).limit(k)
    val chars = pieces.filter(length(col("piece")) === 1)
    topk.unionByName(chars).groupBy(col("piece")).agg(max(col("cnt")).as("cnt"))
  }

  /** The greedy longest-match skip-fold: state (pos, cnt) over
    * character positions 1..len; a position not equal to the cursor
    * passes through, the cursor consumes the longest vocab piece
    * (maxLen..1), unknown chars consume one position. Pure integers —
    * the DuckDB twin runs the identical fold. Shared by
    * [[wordpieceEncode]] and [[tokenizerEval]] (distinct-word grain). */
  private def wpFoldLen(word: Column, vlit: Column, maxLen: Int): Column =
    aggregate(
      sequence(lit(1), length(word)),
      struct(lit(1).as("pos"), lit(0).as("cnt")),
      (st, i) => {
        val pos = st.getField("pos"); val cnt = st.getField("cnt")
        def adv(l: Int): Column = struct((pos + l).as("pos"), (cnt + 1).as("cnt"))
        val longestFirst = (maxLen to 2 by -1).foldLeft(Option.empty[Column]) {
          case (acc, l) =>
            val cond = (pos + l - 1 <= length(word)) &&
              array_contains(vlit, word.substr(pos, lit(l)))
            Some(acc.fold(when(cond, adv(l)))(_.when(cond, adv(l))))
        }.map(_.otherwise(adv(1))).getOrElse(adv(1)) // single chars + unk both consume 1
        when(i =!= pos, st).otherwise(longestFirst)
      },
      st => st.getField("cnt").cast("long"))

  /** Greedy longest-match segmentation under a [[wordpieceVocab]]
    * table — WordPiece INFERENCE (MaxMatch): at each position consume
    * the longest vocab piece (maxLen..1), unknown characters consume
    * one position as an unk token. Per doc: word count, wordpiece
    * token count, chars-per-token compression — the fertility numbers
    * a context-window budget actually needs ([[Corpus.packBy]]
    * composes).
    *
    * Determinism & parity: the match loop is a pure integer fold over
    * character positions (state = (pos, count); a position not equal
    * to the cursor passes through — the same skip-fold the DuckDB twin
    * runs), so both engines segment identically with no floats
    * anywhere. The fold evaluates per DISTINCT word ([[bpeEncode]]'s
    * grain — vocabulary-sized, not corpus-sized), with the vocab
    * driver-collected (model-small by construction) and inlined as a
    * literal array. */
  def wordpieceEncode(docs: DataFrame, vocab: DataFrame, maxLen: Int = 4,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val vs = vocab.select(col("piece")).collect().map(_.getString(0)).sorted.toSeq
    val vlit = typedlit(vs)
    def wpLen(word: Column): Column = wpFoldLen(word, vlit, maxLen)
    val dw = Partitioning.fanOut(docs)
      .select(col(idCol), explode(tokens(col(textCol))).as("word"))
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("n"))
    val wordLen = dw.select(col("word")).distinct()
      .withColumn("wp_len", wpLen(col("word")))
    val perDoc = dw.join(wordLen, "word")
      .groupBy(col(idCol)).agg(sum(col("n") * col("wp_len")).as("n_wp_tokens"))
    docs.select(col(idCol),
      size(tokens(col(textCol))).cast("long").as("n_words"),
      length(regexp_replace(col(textCol), " ", "")).cast("long").as("n_chars"))
      .join(perDoc, Seq(idCol), "left")
      .withColumn("n_wp_tokens", coalesce(col("n_wp_tokens"), lit(0L)))
      .withColumn("compression_permille",
        when(col("n_wp_tokens") > 0,
          floor(col("n_chars") * 1000 / col("n_wp_tokens")).cast("long"))
          .otherwise(lit(0L)))
  }

  /** POSITIONAL WordPiece vocabulary — the real WordPiece semantic
    * ([[wordpieceVocab]]'s position-blind form is the simpler cousin):
    * a substring occurring at a word START and the same substring
    * occurring mid-word are DIFFERENT vocabulary entries (the
    * "##"-prefix distinction), competing in one frequency pool — "ing"
    * may earn its continuation slot while never earning a start slot.
    * Top-`k` over (piece, at_start) candidates by (count desc, piece,
    * at_start desc), UNIONed with all single chars in both positions
    * (coverage). All-integer, hash-exact oracle. */
  def wordpieceVocabPositional(docs: DataFrame, k: Int = 48, maxLen: Int = 4,
                               textCol: String = "text"): DataFrame = {
    require(k > 0 && maxLen >= 1, s"bad wordpiece params k=$k maxLen=$maxLen")
    val words = Partitioning.fanOut(docs)
      .select(explode(tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wcnt"))
    val pieces = words
      .select(col("word"), col("wcnt"),
        explode(sequence(lit(1), length(col("word")))).as("i"))
      .select(col("word"), col("wcnt"), col("i"),
        explode(sequence(lit(1), lit(maxLen))).as("l"))
      .filter(col("i") + col("l") - 1 <= length(col("word")))
      .select(col("word").substr(col("i"), col("l")).as("piece"),
        when(col("i") === 1, lit(1L)).otherwise(lit(0L)).as("at_start"),
        col("wcnt"))
      .groupBy(col("piece"), col("at_start")).agg(sum(col("wcnt")).as("cnt"))
    val topk = pieces.orderBy(col("cnt").desc, col("piece"), col("at_start").desc).limit(k)
    val chars = pieces.filter(length(col("piece")) === 1)
    topk.unionByName(chars)
      .groupBy(col("piece"), col("at_start")).agg(max(col("cnt")).as("cnt"))
  }

  /** Greedy longest-match under a POSITIONAL vocabulary: the cursor at
    * position 1 matches against the start-entries, everywhere else
    * against the continuation-entries — [[wordpieceEncode]]'s fold
    * with two literal piece sets switched on the cursor. Same
    * distinct-word grain, same integer-exact parity contract. */
  def wordpieceEncodePositional(docs: DataFrame, vocab: DataFrame, maxLen: Int = 4,
                                idCol: String = "doc_id",
                                textCol: String = "text"): DataFrame = {
    val rows = vocab.select(col("piece"), col("at_start")).collect()
    val vStart = typedlit(rows.filter(_.getLong(1) == 1L).map(_.getString(0)).sorted.toSeq)
    val vCont = typedlit(rows.filter(_.getLong(1) == 0L).map(_.getString(0)).sorted.toSeq)
    def wpLen(word: Column): Column =
      aggregate(
        sequence(lit(1), length(word)),
        struct(lit(1).as("pos"), lit(0).as("cnt")),
        (st, i) => {
          val pos = st.getField("pos"); val cnt = st.getField("cnt")
          def adv(l: Int): Column = struct((pos + l).as("pos"), (cnt + 1).as("cnt"))
          def contains(l: Int): Column =
            when(pos === 1, array_contains(vStart, word.substr(pos, lit(l))))
              .otherwise(array_contains(vCont, word.substr(pos, lit(l))))
          val longestFirst = (maxLen to 2 by -1).foldLeft(Option.empty[Column]) {
            case (acc, l) =>
              val cond = (pos + l - 1 <= length(word)) && contains(l)
              Some(acc.fold(when(cond, adv(l)))(_.when(cond, adv(l))))
          }.map(_.otherwise(adv(1))).getOrElse(adv(1))
          when(i =!= pos, st).otherwise(longestFirst)
        },
        st => st.getField("cnt").cast("long"))
    val dw = Partitioning.fanOut(docs)
      .select(col(idCol), explode(tokens(col(textCol))).as("word"))
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("n"))
    val wordLen = dw.select(col("word")).distinct()
      .withColumn("wp_len", wpLen(col("word")))
    val perDoc = dw.join(wordLen, "word")
      .groupBy(col(idCol)).agg(sum(col("n") * col("wp_len")).as("n_wp_tokens"))
    docs.select(col(idCol),
      size(tokens(col(textCol))).cast("long").as("n_words"),
      length(regexp_replace(col(textCol), " ", "")).cast("long").as("n_chars"))
      .join(perDoc, Seq(idCol), "left")
      .withColumn("n_wp_tokens", coalesce(col("n_wp_tokens"), lit(0L)))
      .withColumn("compression_permille",
        when(col("n_wp_tokens") > 0,
          floor(col("n_chars") * 1000 / col("n_wp_tokens")).cast("long"))
          .otherwise(lit(0L)))
  }

  /** Unigram-LM (SentencePiece-style) piece vocabulary: candidate
    * pieces are every substring of length 1..`maxLen` of every
    * distinct word (overlapping positions count, weighted by word
    * frequency — the same grid as [[wordpieceVocab]]); each piece is
    * scored freq × len (the integer-exact stand-in for the unigram
    * log-likelihood: both favor pieces that cover many characters
    * often — the real trainer's EM prune re-weights this same seed
    * set), and the vocab is the top-`v` by (score desc, piece)
    * UNIONed with all single characters (coverage: Viterbi always
    * has a path). All-integer → hash-exact DuckDB twin.
    *
    * Scale shape: identical to [[wordpieceVocab]] — one shuffle to
    * the distinct-word grain, substring grid at word-vocabulary size
    * (Heaps-law sublinear), one piece hash-agg, top-v as
    * TakeOrderedAndProject. */
  def unigramVocab(docs: DataFrame, v: Int = 64, maxLen: Int = 4,
                   textCol: String = "text"): DataFrame =
    unigramVocabFromWords(
      Partitioning.fanOut(docs)
        .select(explode(tokens(col(textCol))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("wcnt")),
      v, maxLen)

  /** [[unigramVocab]] from a prepared (word, wcnt) count table — the
    * shared-spine form ([[tokenizerEval]]). Identical output. */
  private[graft] def unigramVocabFromWords(words: DataFrame, v: Int,
                                           maxLen: Int): DataFrame = {
    require(v > 0 && maxLen >= 1 && maxLen <= 8,
      s"bad unigram params v=$v maxLen=$maxLen")
    val pieces = words
      .select(col("word"), col("wcnt"),
        explode(sequence(lit(1), length(col("word")))).as("i"))
      .select(col("word"), col("wcnt"), col("i"),
        explode(sequence(lit(1), lit(maxLen))).as("l"))
      .filter(col("i") + col("l") - 1 <= length(col("word")))
      .select(col("word").substr(col("i"), col("l")).as("piece"), col("wcnt"))
      .groupBy(col("piece")).agg(sum(col("wcnt")).as("cnt"))
      .withColumn("score", (col("cnt") * length(col("piece"))).cast("long"))
    val topv = pieces.orderBy(col("score").desc, col("piece")).limit(v)
    val chars = pieces.filter(length(col("piece")) === 1)
    topv.unionByName(chars).groupBy(col("piece"))
      .agg(max(col("cnt")).as("cnt"), max(col("score")).as("score"))
  }

  /** Viterbi dynamic program over one word under a piece→score map:
    * dp[i] = best segmentation of the first i characters under the
    * LEXICOGRAPHIC objective (fewest pieces, then highest Σ piece
    * scores, then longer final piece) — the integer-exact stand-in
    * for unigram max-likelihood: log-probs penalize every extra
    * piece, so the ML segmentation is fewest-pieces-first with
    * probability mass breaking ties (a pure "maximize Σ freq·len"
    * objective degenerates to all-singles, since single chars carry
    * the largest counts). Candidates at position i are the vocab
    * pieces of length 1..maxLen ending there, with out-of-vocab
    * single characters allowed at score 0 (coverage). The argmax
    * compares struct(−np, tot, len) — the same lexicographic struct
    * max the DuckDB twin evaluates, bit-identical. Returns
    * struct(np, tot). */
  private def unigramViterbi(word: Column, scoreMap: Column, maxLen: Int): Column =
    aggregate(
      sequence(lit(1), length(word)),
      array(struct(lit(0L).as("np"), lit(0L).as("tot"))),
      (dp, i) => {
        val cands = (1 to maxLen).map { l =>
          val piece = word.substr(i - l + 1, lit(l))
          val sc0 = element_at(scoreMap, piece)
          val sc = if (l == 1) coalesce(sc0, lit(0L)) else sc0
          val prev = element_at(dp, i - l + 1)
          when(lit(l) <= i && sc.isNotNull,
            struct(
              (-(prev.getField("np") + 1L)).as("m"),
              (prev.getField("tot") + sc).as("t"),
              lit(l.toLong).as("l")))
        }
        val best = array_max(array(cands: _*)) // nulls (guarded branches) skipped
        concat(dp, array(struct((-best.getField("m")).as("np"),
          best.getField("t").as("tot"))))
      },
      dp => element_at(dp, -1))

  /** OPTIMAL segmentation under a [[unigramVocab]] table — the
    * unigram-LM inference (SentencePiece Viterbi), completing the
    * tokenizer trio: BPE merges greedily by learned rule order,
    * WordPiece matches greedily longest-first, unigram DP-solves each
    * word for the globally optimal segmentation (fewest pieces, score
    * tie-break — greedy MaxMatch does NOT always achieve the minimum:
    * a long first match can orphan the tail into singles that two
    * mid-length pieces would have avoided). Per doc: word count,
    * optimal piece count, total score, chars-per-piece compression.
    *
    * Same grain discipline as [[wordpieceEncode]]: the DP runs once
    * per DISTINCT word (vocabulary-sized, not corpus-sized), the
    * vocab rides driver-collected as a map literal (model-small by
    * construction), per-doc numbers come from one join-back +
    * aggregation. The DuckDB twin replays the DP as a recursive CTE
    * carrying the dp arrays — identical integers end to end. */
  def unigramEncode(docs: DataFrame, vocab: DataFrame, maxLen: Int = 4,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val pairs = vocab.select(col("piece"), col("score")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val scoreMap = typedlit(pairs)
    val dw = Partitioning.fanOut(docs)
      .select(col(idCol), explode(tokens(col(textCol))).as("word"))
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("n"))
    val wordDp = dw.select(col("word")).distinct()
      .withColumn("__dp", unigramViterbi(col("word"), scoreMap, maxLen))
      .select(col("word"), col("__dp.tot").as("w_tot"), col("__dp.np").as("w_np"))
    val perDoc = dw.join(wordDp, "word")
      .groupBy(col(idCol))
      .agg(sum(col("n") * col("w_np")).as("n_pieces"),
        sum(col("n") * col("w_tot")).as("total_score"))
    docs.select(col(idCol),
      size(tokens(col(textCol))).cast("long").as("n_words"),
      length(regexp_replace(col(textCol), " ", "")).cast("long").as("n_chars"))
      .join(perDoc, Seq(idCol), "left")
      .withColumn("n_pieces", coalesce(col("n_pieces"), lit(0L)))
      .withColumn("total_score", coalesce(col("total_score"), lit(0L)))
      .withColumn("compression_permille",
        when(col("n_pieces") > 0,
          floor(col("n_chars") * 1000 / col("n_pieces")).cast("long"))
          .otherwise(lit(0L)))
  }

  /** The tokenizer BAKE-OFF (BPE merge-order, WordPiece greedy,
    * unigram optimal) over ONE shared spine (round-10, guide §2.3/
    * §2.4): the three standalone chains each rebuilt the same
    * (doc, word, n) table and the same (word, wcnt) vocabulary from
    * their own corpus token pass — six corpus-grain passes and six
    * token-grain shuffles for one bake-off. Here the corpus is
    * tokenized ONCE into a materialized (doc, word, n) table; the
    * word-count vocabulary derives from it (Σ per-doc n ≡ the direct
    * count, exactly), all three trainers run off that shared table
    * ([[bpeMergesFromWords]] / [[wordpieceVocabFromWords]] /
    * [[unigramVocabFromWords]] — identical models by construction),
    * and all three per-word length folds land in ONE pass over the
    * distinct-word frame with ONE join-back + per-doc aggregation.
    * Output rows/values are identical to joining the three standalone
    * operators (same folds, same integers, same all-docs
    * left-join + coalesce-0 semantics), proven by the
    * corpus_tokenizer_eval oracle hash. */
  def tokenizerEval(docs: DataFrame, merges: Int = 3, wpK: Int = 48,
                    uniV: Int = 64, maxLen: Int = 4,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import graft.functions.CharShingles.char_shingles
    import graft.functions.MergePair.merge_pair
    // ONE corpus token pass; the table feeds the vocabulary rollup,
    // the encode join-back, and (through the rollup) all trainers
    val dw = Partitioning.fanOut(docs)
      .select(col(idCol), explode(tokens(col(textCol))).as("word"))
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val words = dw.groupBy(col("word")).agg(sum(col("n")).as("wcnt"))
      .localCheckpoint()
    // trainers (each driver-materializes its model-small table)
    val ranked = bpeMergesFromWords(words, merges)
      .select(col("merge_rank"), col("left"), col("right"))
      .collect().sortBy(_.getLong(0)).map(r => (r.getString(1), r.getString(2)))
    val wpPieces = wordpieceVocabFromWords(words, wpK, maxLen)
      .select(col("piece")).collect().map(_.getString(0)).sorted.toSeq
    val uniScores = unigramVocabFromWords(words, uniV, maxLen)
      .select(col("piece"), col("score")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // all three per-word folds in one distinct-word pass
    val bpeLen = ranked.foldLeft(char_shingles(col("word"), 1)) {
      case (inner, (l, r)) => merge_pair(inner, l, r)
    }
    val wordLen = words.select(col("word"))
      .withColumn("bpe_len", size(bpeLen).cast("long"))
      .withColumn("wp_len", wpFoldLen(col("word"), typedlit(wpPieces), maxLen))
      .withColumn("uni_np",
        unigramViterbi(col("word"), typedlit(uniScores), maxLen).getField("np"))
    val perDoc = dw.join(wordLen, "word")
      .groupBy(col(idCol))
      .agg(sum(col("n") * col("bpe_len")).as("n_bpe_tokens"),
        sum(col("n") * col("wp_len")).as("n_wp_tokens"),
        sum(col("n") * col("uni_np")).as("n_uni_pieces"))
    docs.select(col(idCol),
      size(tokens(col(textCol))).cast("long").as("n_words"),
      length(regexp_replace(col(textCol), " ", "")).cast("long").as("n_chars"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_words"), col("n_chars"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"),
        coalesce(col("n_wp_tokens"), lit(0L)).as("n_wp_tokens"),
        coalesce(col("n_uni_pieces"), lit(0L)).as("n_uni_pieces"))
  }

  /** N-gram novelty: per document, how many of its distinct word
    * k-grams were already seen in an EARLIER document (smaller id —
    * ingest order), as an integer-permille staleness share. The
    * RefinedWeb/Gopher "fraction of duplicated n-grams" quality
    * signal at corpus (not document) scope: high staleness = the doc
    * is mostly re-hashed text even when no single pair passes the
    * near-dup threshold.
    *
    * Scale shape: shingling is narrow ([[Dedup.shingled]] native
    * expression); the only wide stages are gram-grain — one
    * HashAggregate per distinct (doc, gram), one min-owner aggregate
    * per gram, and one equi-join back on the gram, all on the same
    * hashed key (AQE coalesces/splits skewed grams). No all-pairs
    * anything; cost is linear in total grams. At 100 TB you'd hash
    * the gram to a 64-bit key before the shuffle to keep rows narrow
    * — here grams are short and engines must agree bit-for-bit. */
  def ngramNovelty(docs: DataFrame, k: Int = 3,
                   idCol: String = "doc_id"): DataFrame = {
    val grams = Dedup.shingled(docs, k)
      .select(col(idCol), explode(col("shingles")).as("g"))
      .distinct()
    val owner = grams.groupBy(col("g")).agg(min(col(idCol)).as("__owner"))
    grams.join(owner, "g")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__owner") < col(idCol), 1L).otherwise(0L)).as("n_stale"))
      .withColumn("stale_permille",
        floor(col("n_stale") * lit(1000L) / col("n_grams")).cast("long"))
  }

  /** Suffix array by prefix doubling (Manber–Myers, O(n log² n)) over
    * a CODEPOINT array (not UTF-16 code units — surrogate-pair slicing
    * and lone-surrogate ordering would desync the oracle's
    * codepoint-based substr/length/ordering on non-BMP text): ranks
    * start as codepoint values and double the compared prefix each
    * round — no O(n²) suffix comparisons, so full documents (not just
    * oracle-capped slices) are fine. */
  private[graft] def suffixArray(s: Array[Int]): Array[Int] = {
    val n = s.length
    if (n == 0) return Array.emptyIntArray
    var rank = Array.tabulate(n)(i => s(i))
    var sa = Array.range(0, n)
    var k = 1
    while (k < n) {
      val kk = k
      val r = rank
      def key(i: Int): (Int, Int) = (r(i), if (i + kk < n) r(i + kk) else -1)
      sa = sa.sortBy(key)
      val next = new Array[Int](n)
      next(sa(0)) = 0
      var i = 1
      while (i < n) {
        next(sa(i)) = next(sa(i - 1)) + (if (key(sa(i)) == key(sa(i - 1))) 0 else 1)
        i += 1
      }
      rank = next
      if (rank(sa(n - 1)) == n - 1) k = n // all ranks distinct: done
      else k <<= 1
    }
    sa
  }

  /** Kasai's LCP array: lcp(i) = longest common prefix of suffixes
    * sa(i−1) and sa(i), O(n) total. */
  private[graft] def lcpArray(s: Array[Int], sa: Array[Int]): Array[Int] = {
    val n = s.length
    val lcp = new Array[Int](n)
    val inv = new Array[Int](n)
    var i = 0
    while (i < n) { inv(sa(i)) = i; i += 1 }
    var h = 0
    i = 0
    while (i < n) {
      if (inv(i) > 0) {
        val j = sa(inv(i) - 1)
        while (i + h < n && j + h < n && s(i + h) == s(j + h)) h += 1
        lcp(inv(i)) = h
        if (h > 0) h -= 1
      } else h = 0
      i += 1
    }
    lcp
  }

  /** Longest repeated substring of the codepoints `cps` (occurrences
    * may overlap): (length, lexicographically smallest repeat of that
    * length), or (0, "") when every substring is unique. Max over the
    * LCP array; every maximal repeat surfaces as an adjacent suffix
    * pair.
    * Length, slicing and tie-break ordering are all in CODEPOINTS so
    * non-BMP text (surrogate pairs) agrees with the oracle's
    * codepoint semantics. */
  private[graft] def longestRepeatOfCps(cps: Array[Int]): (Int, String) = {
    val n = cps.length
    if (n < 2) return (0, "")
    val sa = suffixArray(cps)
    val lcp = lcpArray(cps, sa)
    var maxL = 0
    var i = 1
    while (i < n) { if (lcp(i) > maxL) maxL = lcp(i); i += 1 }
    if (maxL == 0) return (0, "")
    var bestOff = -1
    i = 1
    while (i < n) {
      if (lcp(i) == maxL) {
        val off = sa(i)
        if (bestOff < 0) bestOff = off
        else {
          // codepoint-lexicographic compare of cps[off,off+maxL) vs best
          var j = 0
          var cmp = 0
          while (cmp == 0 && j < maxL) {
            cmp = Integer.compare(cps(off + j), cps(bestOff + j))
            j += 1
          }
          if (cmp < 0) bestOff = off
        }
      }
      i += 1
    }
    (maxL, new String(cps, bestOff, maxL))
  }

  /** Degenerate-repetition screen: per document, the longest substring
    * that occurs at least twice (overlaps count) within the first
    * `maxChars` characters — the sharpest form of the Gopher/RefinedWeb
    * repetition signals (those count duplicated LINES or n-grams at a
    * fixed grain; the LRS finds the repeat at ANY grain, catching
    * looped generation and copy-pasted boilerplate a fixed-n screen
    * straddles). Suffix array + Kasai LCP per row — O(len·log² len),
    * narrow, ZERO shuffle; `maxChars` exists so the brute-force SQL
    * oracle stays replayable, not as an algorithmic cap (pass
    * Int.MaxValue for whole documents). */
  def longestRepeat(docs: DataFrame, maxChars: Int = 200,
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("lrs_len", LongType, nullable = false),
      StructField("lrs", StringType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    docs.select(col(idCol), col(textCol)).mapPartitions { it =>
      it.map { r =>
        val s0 = if (r.isNullAt(1)) "" else r.getString(1)
        // the cap counts CODEPOINTS (oracle substr semantics) — a
        // UTF-16 slice could split a surrogate pair at the boundary
        val cps0 = s0.codePoints().toArray
        val cps = if (cps0.length > maxChars)
          java.util.Arrays.copyOf(cps0, maxChars) else cps0
        val (len, lrs) = longestRepeatOfCps(cps)
        org.apache.spark.sql.Row(r.getLong(0), len.toLong, lrs)
      }
    }(enc)
  }

  /** Unicode NFC normalization audit: per document, whether the text
    * is already NFC, codepoint counts before/after, and the NFC form
    * itself (hash it downstream to pin the normalized BYTES). A web
    * corpus mixes precomposed and combining-mark encodings of the
    * same visible text — exact dedup, shingle hashes and tokenizers
    * all fracture on the difference, so normalize-or-flag is a
    * standard ingest gate (and the audit measures how much of a
    * corpus needs it).
    *
    * Scale shape: narrow per-row JVM map, zero shuffle — composes
    * into any scan. Uses `java.text.Normalizer` (the JDK's Unicode
    * NFC, stable across versions for assigned codepoints; DuckDB's
    * utf8proc agrees — the oracle hash-checks that cross-engine). */
  def nfcAudit(docs: DataFrame, textCol: String = "text",
               idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("is_nfc", LongType, nullable = false),
      StructField("cp_raw", LongType, nullable = false),
      StructField("cp_nfc", LongType, nullable = false),
      StructField("nfc_text", StringType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    docs.select(col(idCol), col(textCol)).mapPartitions { it =>
      it.map { r =>
        val s = if (r.isNullAt(1)) "" else r.getString(1)
        val nfc = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
        org.apache.spark.sql.Row(r.getLong(0), if (s == nfc) 1L else 0L,
          s.codePointCount(0, s.length).toLong,
          nfc.codePointCount(0, nfc.length).toLong, nfc)
      }
    }(enc)
  }
}
