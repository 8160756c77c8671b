package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines:
  * exact, MinHash+LSH, SimHash, and blocked n-gram Jaccard.
  *
  * Scale design notes:
  *  - shingling / hashing / signatures are all *narrow* (array
  *    expressions inside whole-stage codegen, no shuffle until the
  *    single groupBy per doc);
  *  - candidate generation is a band-bucket equi-join (shuffle keyed on
  *    the band hash — collision buckets only), never an all-pairs
  *    product;
  *  - exact Jaccard verification runs only on blocked/candidate pairs.
  *  - hashes are md5-based (portable, deterministic across engines and
  *    runs — no seed state on executors).
  */
object Dedup {

  /** Whitespace tokens, empties dropped. Narrow expression. */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  /** Exact dedup: group identical texts, keep the smallest id.
    * One hash-shuffle on the (hashed) text; at 100 TB you'd groupBy
    * md5(text) rather than the full text to keep shuffle rows small —
    * we group by the hash and keep min/count only. */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .select(md5(col(textCol).cast("binary")).as("text_hash"), col(idCol))
      .groupBy(col("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Word k-gram shingles as an array column via the native one-pass
    * [[graft.functions.WordShingles]] expression (no shuffle; the
    * higher-order-function formulation was ~20x slower and a window/
    * lead formulation would shuffle the token stream). Documents
    * shorter than k tokens get an empty array — explode drops them. */
  def shingled(docs: DataFrame, k: Int = 3, textCol: String = "text"): DataFrame = {
    import graft.functions.WordShingles.word_shingles
    Partitioning.fanOut(docs)
      .withColumn("shingles", word_shingles(col(textCol), k))
  }

  /** MinHash signature: `numHashes` independent 32-bit permutations
    * carved out of ⌈numHashes/4⌉ md5 digests per shingle — digest 0 is
    * md5(shingle), digest d ≥ 1 is md5("4(d+1)|" + shingle) (so the
    * 8-hash default uses md5(shingle) and md5("8|"+shingle)), 4 ×
    * 32-bit slices each; h_i(doc) = numeric min of slice_{i mod 4} of
    * digest_{i div 4}. One digest per FOUR hashes instead of one per
    * hash: the md5 calls dominate signature cost. Slices are parsed to
    * LONG by the native [[graft.functions.HexSliceLong]] expression so
    * the groupBy plans a HashAggregate (fixed-width buffers) — min
    * over the raw hex STRING slice falls back to SortAggregate, a
    * per-group sort at 100 TB. One explode + one groupBy(doc) with
    * `numHashes` min-aggregates (map-side combinable).
    *
    * @param numHashes signature width; a positive multiple of 4 (each
    *   md5 digest yields exactly four 32-bit slices). More hashes buy
    *   banding recall at lower similarity — see [[jaccardPairsBanded]].
    * @param carryCols columns riding the per-doc aggregation. INVARIANT:
    *   every carry column must be FUNCTIONALLY DEPENDENT on `idCol`
    *   (one value per doc — e.g. blocking strata of the doc). The
    *   groupBy keys on (id, carry*): a non-id-functional column splits
    *   one document's shingles across several groups and silently
    *   produces wrong per-band minima. Carrying id-functional columns
    *   here costs nothing in the hash map and saves the caller an
    *   id-keyed join-back. */
  def minhashSignature(shingled: DataFrame, numHashes: Int = 8,
                       idCol: String = "doc_id",
                       carryCols: Seq[String] = Nil): DataFrame = {
    import graft.functions.HexSliceLong.hex_slice_long
    require(numHashes >= 4 && numHashes % 4 == 0,
      s"numHashes must be a positive multiple of 4 (one md5 digest per 4 slices), got $numHashes")
    val nDigests = numHashes / 4
    val ex = (0 until nDigests).foldLeft(
      shingled.select(col(idCol) +: explode(col("shingles")).as("sh") +: carryCols.map(col): _*)
    ) { (df, d) =>
      // digest 0 unprefixed, digest d salted with "4(d+1)|" — the
      // 8-hash prefix chain ("8|") predates the generalization and is
      // pinned by the DuckDB oracles, so the formula extends it
      // ("12|", "16|", …) rather than renumbering
      val dig = if (d == 0) md5(col("sh").cast("binary"))
                else md5(concat(lit(s"${4 * (d + 1)}|"), col("sh")).cast("binary"))
      df.withColumn(s"m$d", dig)
    }
    val aggs = (0 until numHashes).map { i =>
      min(hex_slice_long(col(s"m${i / 4}"), (i % 4) * 8)).as(s"h$i")
    }
    ex.groupBy((idCol +: carryCols).map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Banded LSH: band value = the `rowsPerBand` consecutive numeric
    * signature rows joined as a decimal string, self-join on
    * (band, bandValue) to produce candidate pairs (a < b). The join key
    * is the band value — only true bucket collisions meet, so the
    * shuffle is proportional to docs×bands, not docs². No hashing of
    * the band value: the 32-bit minhash slices already are hashes, and
    * a short concat key shuffles cheaper than an md5 over it. */
  def lshCandidatePairs(sig: DataFrame, numHashes: Int = 8, rowsPerBand: Int = 2,
                        idCol: String = "doc_id"): DataFrame = {
    val buckets = lshBuckets(sig, numHashes, rowsPerBand, idCol)
    val left = buckets.select(col("doc").as("doc_a"), col("band"), col("bv"))
    val right = buckets.select(col("doc").as("doc_b"), col("band"), col("bv"))
    left.join(right, Seq("band", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** Token-set Jaccard pairs (exact Jaccard on distinct-token arrays,
    * pairs ≥ threshold permille, integer arithmetic end to end) under a
    * SCALE-CORRECT block key: a candidate pair must share `strataCols`
    * AND collide in at least one MinHash LSH band computed over the
    * very set whose Jaccard is verified.
    *
    * Why this exists: blocking on fixed strata alone (e.g.
    * (source, lang) with a fixed 20×5 cross) means block population
    * grows LINEARLY with the corpus and intra-block pair work
    * QUADRATICALLY — correct on a test SF, an outage at 100 TB. Adding
    * the band bucket makes block size governed by hash-collision
    * probability (buckets hold near-dups plus O(1) random collisions
    * regardless of corpus size), so pair-generation cost scales with
    * the true near-dup density, not the stratum census. `strataCols`
    * may be empty for a pure-LSH sweep.
    *
    * Semantics become MinHash-LSH candidate generation + exact
    * verification (the standard near-dedup recipe): a pair at true
    * Jaccard s survives banding with probability 1−(1−s^r)^b — with
    * the default 4 bands × 2 rows that is 99.87% at s = 0.9 and 98.3%
    * at s = 0.8. `LshBlockingSpec` measures realized recall against
    * the exhaustive stratum form, proves the block-size bound, and
    * differentially checks the whole pipeline against a driver-side
    * reference implementation.
    *
    * Hot-bucket cap: IDENTICAL texts share every band, so a corpus
    * with massive exact duplication concentrates one bucket per clone
    * set and would pay quadratic verification there. The operator now
    * ENFORCES a population cap (`maxBucket`): buckets above it are
    * dropped from candidate generation entirely and surfaced as
    * accounting (see [[jaccardPairsBandedAccounted]] /
    * [[BandedPairs.droppedBuckets]]) — the operator degrades LOUDLY,
    * not quadratically, when handed an un-exact-deduped corpus. A pair
    * also colliding in a cold bucket still survives; only pairs whose
    * EVERY collision is hot are lost, and those are precisely the
    * clone sets [[exact]] dedup collapses (run it first — the curation
    * jobs do).
    *
    * @param numHashes / @param rowsPerBand the banding geometry —
    *   bands = numHashes/rowsPerBand, survival at true Jaccard s is
    *   1−(1−s^rows)^bands. The 8×2 default puts the s-curve knee near
    *   0.85; recall at lower similarity needs more bands (e.g. 16
    *   hashes × 2 rows = 8 bands: 99.5% at s = 0.7 where the default
    *   gives 93%) — `LshBlockingSpec` measures both operating points.
    * @param maxBucket bucket-population cap. A kept bucket pays at
    *   most C(maxBucket, 2) candidate pairs; buckets above it are
    *   dropped and accounted. Default 1000 (≤ ~500k verify pairs per
    *   hot bucket). */
  def jaccardPairsBanded(docs: DataFrame, strataCols: Seq[String],
                         thresholdPermille: Int, idCol: String = "doc_id",
                         numHashes: Int = 8, rowsPerBand: Int = 2,
                         maxBucket: Int = DefaultMaxBucket): DataFrame =
    jaccardPairsBandedAccounted(docs, strataCols, thresholdPermille, idCol,
      numHashes, rowsPerBand, maxBucket).pairs

  /** [[jaccardPairsBanded]] returning the drop accounting alongside
    * the pairs. */
  def jaccardPairsBandedAccounted(docs: DataFrame, strataCols: Seq[String],
                                  thresholdPermille: Int, idCol: String = "doc_id",
                                  numHashes: Int = 8, rowsPerBand: Int = 2,
                                  maxBucket: Int = DefaultMaxBucket): BandedPairs =
    bandedPairsOn(docs, array_distinct(tokens(col("text"))), strataCols,
      thresholdPermille, idCol, numHashes, rowsPerBand, maxBucket)

  /** Character n-gram Jaccard pairs: [[jaccardPairsBanded]] over
    * distinct char k-gram sets instead of word-token sets — catches
    * near-dups that word-level misses (punctuation/casing edits,
    * inserted whitespace). The minhash runs over the char k-gram set
    * itself, so banding
    * recall tracks the char-gram similarity being verified. Same
    * geometry/cap knobs as [[jaccardPairsBanded]]. */
  def charNgramPairsBanded(docs: DataFrame, strataCols: Seq[String],
                           thresholdPermille: Int, k: Int = 5,
                           idCol: String = "doc_id",
                           numHashes: Int = 8, rowsPerBand: Int = 2,
                           maxBucket: Int = DefaultMaxBucket): DataFrame =
    charNgramPairsBandedAccounted(docs, strataCols, thresholdPermille, k, idCol,
      numHashes, rowsPerBand, maxBucket).pairs

  /** [[charNgramPairsBanded]] returning the drop accounting. */
  def charNgramPairsBandedAccounted(docs: DataFrame, strataCols: Seq[String],
                                    thresholdPermille: Int, k: Int = 5,
                                    idCol: String = "doc_id",
                                    numHashes: Int = 8, rowsPerBand: Int = 2,
                                    maxBucket: Int = DefaultMaxBucket): BandedPairs = {
    import graft.functions.CharShingles.char_shingles
    bandedPairsOn(docs, array_distinct(char_shingles(col("text"), k)), strataCols,
      thresholdPermille, idCol, numHashes, rowsPerBand, maxBucket)
  }

  /** IDF-WEIGHTED set Jaccard (the SpotSigs/weighted-resemblance
    * variant): J_w(A,B) = Σ_{t∈A∩B} w(t) / Σ_{t∈A∪B} w(t) with
    * per-token global rarity weights — two docs sharing rare content
    * words score high even when their (weightless) stopword overlap
    * is thin, and boilerplate-only overlap scores LOW because
    * boilerplate tokens are corpus-frequent. The weight is the
    * integer Robertson odds idf of [[TextAnalysis.bm25TopK]],
    * w = ⌊1000·(2(N−df)+1)/(2df+1)⌋ — monotone in df, exact, no
    * floats anywhere.
    *
    * Candidates come from the SAME banded-LSH stage as
    * [[jaccardPairsBanded]] (collision-bounded, governor, drop
    * accounting); only verification differs: the candidate pairs are
    * broadcast into the weighted postings scan (token grain ⋈ df
    * table), so verification cost is Σ|pair token sets| — pair-
    * bounded, never corpus-quadratic. Returns (doc_a, doc_b,
    * w_inter, w_union, idfjac_permille). */
  def idfJaccardPairsBanded(docs: DataFrame, strataCols: Seq[String],
                            thresholdPermille: Int, idCol: String = "doc_id",
                            numHashes: Int = 8, rowsPerBand: Int = 2,
                            maxBucket: Int = DefaultMaxBucket): BandedPairs = {
    require(thresholdPermille >= 1, "thresholdPermille must be >= 1")
    val base = Partitioning.fanOut(docs)
      .withColumn("tset", array_distinct(tokens(col("text"))))
      .select(col(idCol) +: col("tset") +: strataCols.map(col): _*)
    val (cands0, hot) = bandedCandidatesOn(base, strataCols, idCol,
      numHashes, rowsPerBand, maxBucket)
    // Materialize the candidate list once (pair-list-sized, the
    // containment-index discipline), repartitioned BEFORE the
    // checkpoint: AQE coalesces the distinct output to its (small)
    // byte size, and a 2-task checkpoint would cap the per-pair
    // verification merges below at 2 cores (guide §2.5: AQE sizes by
    // bytes, not downstream CPU).
    val cands = cands0
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .localCheckpoint()
    val tok = base.select(col(idCol), explode(col("tset")).as("t"))
    // N is one scalar off the doc spine (the model-small precedent)
    val nDocs = base.select(col(idCol)).distinct().count()
    val w = tok.groupBy(col("t")).agg(count(lit(1)).as("df"))
      .withColumn("w", expr(s"(1000 * (2 * ($nDocs - df) + 1)) DIV (2 * df + 1)"))
      .select(col("t"), col("w"))
    // Verification IN-ROW (round-10, guide §2.3/§2.4 — the exploded
    // pair-token stream leaves the plan entirely): each doc carries
    // its SORTED (t, w) table (sort_array(collect_list(struct)) — t
    // distinct per doc, so the sort key is t in UTF8 binary order,
    // the fp_weighted_inter merge comparator) plus its total weight,
    // built in ONE doc-grain aggregation of the weighted postings.
    // Attached to the pair by the two equi-joins every other verifier
    // uses, the intersection weight is one zero-allocation two-pointer
    // merge per pair and the union weight is inclusion-exclusion:
    // w_union = Σ_A w + Σ_B w − w_inter — the same exact integers as
    // the previous union-grain pass (tset distinct per doc, w
    // functionally dependent on t), without shuffling Σ(|A|+|B|)
    // (pair, token, w) rows per candidate through a union-grain
    // exchange and two aggregations.
    // materialized once: the doc table feeds BOTH pair sides, and
    // without the checkpoint the whole tok ⋈ df-agg subtree plans
    // twice (the tw-checkpoint discipline of the previous form, moved
    // to the smaller doc grain)
    val docw = tok.join(w, "t")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("t"), col("w")))).as("tws"),
        sum(col("w")).as("wsum"))
      .localCheckpoint()
    val pairs = cands
      .join(docw.select(col(idCol).as("doc_a"), col("tws").as("twa"),
        col("wsum").as("wsa")), "doc_a")
      .join(docw.select(col(idCol).as("doc_b"), col("tws").as("twb"),
        col("wsum").as("wsb")), "doc_b")
      .withColumn("w_inter",
        graft.functions.FpSet.fp_weighted_inter(col("twa"), col("twb")))
      .withColumn("w_union", col("wsa") + col("wsb") - col("w_inter"))
      .withColumn("idfjac_permille",
        floor(col("w_inter") * 1000 / col("w_union")).cast("long"))
      .filter(col("idfjac_permille") >= thresholdPermille)
      .select(col("doc_a"), col("doc_b"), col("w_inter"), col("w_union"),
        col("idfjac_permille"))
    BandedPairs(pairs, hot)
  }

  /** Edit-distance near-dup pairs for SHORT text (titles, queries,
    * headlines — the grain where token-set measures are too coarse
    * and character edits are the real signal): banded char-gram LSH
    * candidates ([[charNgramPairsBanded]]'s stage, collision-bounded
    * + governor), then exact Levenshtein verification at distance
    * ≤ `maxDist`. Two pre-filters prune before the O(|a|·|b|) DP:
    * the LENGTH filter (||a|−|b|| ≤ maxDist is necessary) and the
    * banding itself (low-gram-overlap pairs never become
    * candidates — at maxDist ≪ |text| every true pair shares most
    * grams, so LSH recall holds). Verification uses the engine's
    * `levenshtein` (the standard DP — identical values on any
    * engine). Returns (doc_a, doc_b, dist). */
  def editDistancePairs(docs: DataFrame, strataCols: Seq[String],
                        maxDist: Int, k: Int = 3, idCol: String = "doc_id",
                        numHashes: Int = 8, rowsPerBand: Int = 2,
                        maxBucket: Int = DefaultMaxBucket): BandedPairs = {
    require(maxDist >= 0, "maxDist must be >= 0")
    import graft.functions.CharShingles.char_shingles
    val base = Partitioning.fanOut(docs)
      .withColumn("tset", array_distinct(char_shingles(col("text"), k)))
      .select(col(idCol) +: col("tset") +: col("text") +: strataCols.map(col): _*)
    val (cands, hot) = bandedCandidatesOn(base, strataCols, idCol,
      numHashes, rowsPerBand, maxBucket)
    val txt = base.select(col(idCol), col("text"),
      length(col("text")).as("__len"))
    val pairs = cands
      .join(txt.select(col(idCol).as("doc_a"), col("text").as("ta"),
        col("__len").as("la")), "doc_a")
      .join(txt.select(col(idCol).as("doc_b"), col("text").as("tb"),
        col("__len").as("lb")), "doc_b")
      .filter(abs(col("la") - col("lb")) <= maxDist)
      .withColumn("dist", levenshtein(col("ta"), col("tb")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("dist"))
    BandedPairs(pairs, hot)
  }

  /** Default [[jaccardPairsBanded]] bucket cap — see its scaladoc. */
  val DefaultMaxBucket: Int = 1000

  /** Banded near-dup pairs plus the hot-bucket drop accounting:
    * `pairs` is the verified pair set; `droppedBuckets` has one row
    * per LSH bucket whose population exceeded the cap —
    * (band, bv, strata…, bucket_docs) — so a caller (or monitoring)
    * sees exactly which clone mass was excluded and how many docs it
    * held, instead of the operator silently absorbing quadratic work.
    * Both frames are lazy; materializing `droppedBuckets` costs one
    * pass over the signature buckets. */
  final case class BandedPairs(pairs: DataFrame, droppedBuckets: DataFrame)

  private def bandedPairsOn(docs: DataFrame, tsetExpr: Column,
                            strataCols: Seq[String], thresholdPermille: Int,
                            idCol: String, numHashes: Int, rowsPerBand: Int,
                            maxBucket: Int): BandedPairs = {
    val base = Partitioning.fanOut(docs)
      .withColumn("tset", tsetExpr)
      .withColumn("tsz", size(col("tset")).cast("long"))
      .select(col(idCol) +: col("tset") +: col("tsz") +: strataCols.map(col): _*)
    val (cands, hot) = bandedCandidatesOn(base, strataCols, idCol,
      numHashes, rowsPerBand, maxBucket)
    BandedPairs(
      jaccardVerifySetsFull(base.select(col(idCol), col("tset"), col("tsz")),
        cands, thresholdPermille, idCol),
      hot)
  }

  /** Candidate generation shared by the set-Jaccard and weighted-
    * Jaccard banded families: minhash signature over `tset` (strata
    * riding the aggregation), band buckets, hot-bucket cap, strata ∧
    * band self-join, distinct. `base` must carry (`idCol`, `tset`,
    * strata…); extra columns ride through untouched for the caller's
    * verification stage. Returns (candidate pairs, dropped-bucket
    * accounting). */
  private def bandedCandidatesOn(base: DataFrame, strataCols: Seq[String],
                                 idCol: String, numHashes: Int, rowsPerBand: Int,
                                 maxBucket: Int): (DataFrame, DataFrame) = {
    require(maxBucket >= 2, s"maxBucket must be >= 2 (a bucket of 2 is one pair), got $maxBucket")
    // signature over the verification set itself (docs with an empty
    // set produce no signature rows — they cannot pair in the
    // exhaustive form either); strata ride the signature aggregation
    // so candidate generation needs no join-back
    val sig = minhashSignature(
      base.select(col(idCol) +: col("tset").as("shingles") +: strataCols.map(col): _*),
      numHashes = numHashes, idCol = idCol, carryCols = strataCols)
    val buckets = lshBuckets(sig, numHashes, rowsPerBand, idCol,
      keepCols = strataCols)
    // Hot-bucket cap: population per (band, bv, strata) bucket first —
    // the same key the self-join shuffles on, and the signature
    // aggregate beneath is one exchange reused by both passes. Hot
    // buckets are FEW by construction (each holds ≥ maxBucket docs, so
    // ≤ n·bands/maxBucket of them exist), so the exclusion join
    // broadcasts the hot key set and stays narrow on the bucket
    // stream — no sort, no second shuffle of the buckets.
    val bucketKey = "band" +: "bv" +: strataCols
    val hot = buckets.groupBy(bucketKey.map(col): _*)
      .agg(count(lit(1)).as("bucket_docs"))
      .filter(col("bucket_docs") > maxBucket)
    val kept = buckets.join(broadcast(hot.select(bucketKey.map(col): _*)),
      bucketKey, "left_anti")
    val a = kept.select(col("doc").as("doc_a") +: col("band") +: col("bv") +:
      strataCols.map(col): _*)
    val b = kept.select(col("doc").as("doc_b") +: col("band").as("band_b") +:
      col("bv").as("bv_b") +: strataCols.map(c => col(c).as(s"__b_$c")): _*)
    val cond = (Seq(col("band") === col("band_b"), col("bv") === col("bv_b")) ++
      strataCols.map(c => col(c) === col(s"__b_$c"))).reduce(_ && _) &&
      col("doc_a") < col("doc_b")
    // distinct BEFORE the token-set joins: a pair colliding in several
    // bands must pay verification once, not once per band
    (a.join(b, cond).select(col("doc_a"), col("doc_b")).distinct(), hot)
  }

  /** Weighted (multiset) Jaccard near-dup pairs:
    * J_w(A,B) = Σ_t min(a_t,b_t) / Σ_t max(a_t,b_t) over token BAGS —
    * the generalized Jaccard that set-Jaccard collapses: a doc that
    * repeats one paragraph 10× and a doc containing it once are
    * set-identical but bag-dissimilar, and spam/template corpora are
    * where that distinction pays. Σmax is never materialized:
    * Σmax = |A| + |B| − Σmin over raw token totals.
    *
    * Scale shape: candidates come from the SAME set-LSH banding as
    * [[jaccardPairsBanded]] (minhash over distinct tokens — the
    * standard recipe: candidate on set similarity, verify the
    * weighted measure; J_w ≤ J_set on token sets is NOT generally
    * true, but near-dup bags share near-identical supports, so
    * set-band recall carries). Verification is per-pair in-row: bags
    * are built once per doc by the native one-pass `token_counts`
    * (no token-grain shuffle) and Σmin is the native `bag_overlap`
    * two-pointer merge — O(|A|+|B|) per candidate, zero allocation.
    * The PPJoin length prefilter holds with multiplicity totals
    * (Σmin ≤ min(|A|,|B|), Σmax ≥ max(|A|,|B|)). Same hot-bucket
    * governor; drop accounting via the returned [[BandedPairs]]. */
  def weightedJaccardPairsBanded(docs: DataFrame, strataCols: Seq[String],
                                 thresholdPermille: Int, idCol: String = "doc_id",
                                 numHashes: Int = 8, rowsPerBand: Int = 2,
                                 maxBucket: Int = DefaultMaxBucket): BandedPairs = {
    require(thresholdPermille >= 1, "thresholdPermille must be >= 1")
    import graft.functions.BagFunctions.token_counts
    val base = Partitioning.fanOut(docs)
      .withColumn("__tk", tokens(col("text")))
      .withColumn("tset", array_distinct(col("__tk")))
      .withColumn("bag", token_counts(col("__tk")))
      .withColumn("tot", size(col("__tk")).cast("long"))
      .select(col(idCol) +: col("tset") +: col("bag") +: col("tot") +:
        strataCols.map(col): _*)
    val (cands, hot) = bandedCandidatesOn(base, strataCols, idCol,
      numHashes, rowsPerBand, maxBucket)
    BandedPairs(
      weightedVerifyBags(base.select(col(idCol), col("bag"), col("tot")),
        cands, thresholdPermille, idCol),
      hot)
  }

  /** Weighted (multiset) Jaccard verification over an explicit
    * candidate-pair set and precomputed bags (`idCol`, bag, tot) —
    * the bag-measure twin of [[jaccardVerifySets]], shared by the
    * batch banded operator and the stored-index probes. Per-pair
    * in-row: Σmin is the native `bag_overlap` two-pointer merge,
    * Σmax = totA + totB − Σmin; PPJoin length filter on multiplicity
    * totals prunes before the O(|A|+|B|) merge scan. */
  def weightedVerifyBags(withBags: DataFrame, pairs: DataFrame,
                         thresholdPermille: Int,
                         idCol: String = "doc_id"): DataFrame = {
    import graft.functions.BagFunctions.bag_overlap
    pairs
      .join(withBags.select(col(idCol).as("doc_a"), col("bag").as("ba"),
        col("tot").as("tota")), "doc_a")
      .join(withBags.select(col(idCol).as("doc_b"), col("bag").as("bb"),
        col("tot").as("totb")), "doc_b")
      // PPJoin length filter on multiplicity totals — prune before the
      // O(|A|+|B|) merge scan
      .filter(col("tota") * 1000 >= lit(thresholdPermille) * col("totb") &&
              col("totb") * 1000 >= lit(thresholdPermille) * col("tota"))
      .withColumn("min_sum", bag_overlap(col("ba"), col("bb")))
      .withColumn("max_sum", col("tota") + col("totb") - col("min_sum"))
      .withColumn("wjac_permille",
        floor(col("min_sum") * 1000 / col("max_sum")).cast("long"))
      .filter(col("wjac_permille") >= thresholdPermille)
      .select(col("doc_a"), col("doc_b"), col("min_sum"), col("max_sum"),
        col("wjac_permille"))
  }

  /** Containment (excerpt) near-dup pairs:
    * C(A,B) = |A∩B| / min(|A|,|B|) ≥ t — the asymmetric measure that
    * catches a small document quoted INSIDE a large one, which Jaccard
    * structurally misses (a 50-token excerpt of a 5000-token doc has
    * J ≈ 0.01 but C = 1.0). The curation use: drop boilerplate
    * fragments and syndicated excerpts that survive both exact and
    * Jaccard dedup.
    *
    * Candidate generation is the canonical PREFIX FILTER
    * (AllPairs/PPJoin, Bayardo et al., WWW 2007) — NOT the minhash
    * banding of [[jaccardPairsBanded]], because set-LSH recall tracks
    * Jaccard and a contained excerpt has low Jaccard by construction.
    * Tokens are globally ordered by (corpus frequency asc, token
    * fingerprint):
    * any pair with overlap o ≥ ⌈t·min⌉ must share one of the smaller
    * doc's first |S| − ⌈t·|S|⌉ + 1 tokens in that order (else the
    * overlap is too small — the prefix-filter theorem), so each doc
    * publishes only its ~(1−t)·|S| RAREST tokens as probe keys and
    * the full corpus publishes an inverted-index posting per token.
    * Probe ⋈ postings on the token yields every qualifying pair in
    * either orientation.
    *
    * Scale shape: one token-grain count aggregation (map-side
    * combinable) reused by a token-grain join; one doc-grain window
    * for per-doc rarity ranks (partitioned by doc — no global
    * window); the probe⋈postings equi-join keys on the RAREST tokens
    * of each doc, so posting lists are short by construction. The
    * governor: tokens with global frequency > `maxPostings` never
    * serve as posting keys (`droppedTokens` accounting) — the
    * frequent-token quadratic blowup is cut off loudly, and only
    * pairs whose EVERY shared prefix token is ultra-frequent can be
    * lost (docs made entirely of stopwords — exactly what a quality
    * gate drops first). `strataCols` conjoin the probe⋈postings key
    * (candidates must share the strata — same discipline as
    * [[jaccardPairsBanded]]; pass Nil for a corpus-wide sweep).
    * Verification is per-pair in-row `array_intersect` on the
    * (already materialized) distinct-gram sets.
    *
    * The sets are char k-gram sets: this excerpt detector survives
    * token-poor/agglutinative text and a SMALL shared vocabulary (on a
    * corpus drawn from few distinct words, word-SET containment is
    * near-vacuous: most sets are subsets of most others; char grams
    * keep the universe large enough that containment means shared
    * SUBSTANCE, not shared vocabulary). */
  def charNgramContainmentAccounted(docs: DataFrame, strataCols: Seq[String],
                                    thresholdPermille: Int, k: Int = 5,
                                    idCol: String = "doc_id",
                                    maxPostings: Int = 10000): ContainmentPairs = {
    import graft.functions.CharShingles.char_shingles
    containmentPairsOn(docs, array_distinct(char_shingles(col("text"), k)),
      strataCols, thresholdPermille, idCol, maxPostings)
  }

  private def containmentPairsOn(docs: DataFrame, tsetExpr: Column,
                                 strataCols: Seq[String], thresholdPermille: Int,
                                 idCol: String, maxPostings: Int): ContainmentPairs = {
    require(thresholdPermille >= 1 && thresholdPermille <= 1000,
      s"thresholdPermille in [1,1000], got $thresholdPermille")
    // The ENTIRE pipeline runs on 32-bit gram FINGERPRINTS
    // (hex_slice_long of md5, the minhash slice), not gram strings:
    // frequency counts, the rarity ordering, posting keys and
    // verification all key on 8-byte longs instead of UTF8Strings —
    // smaller shuffles, cheaper sorts. A 32-bit collision merges two
    // grams for EVERY stage consistently (counts, prefix rank, set
    // size and intersection alike — ~|S|²/2³³ ≈ 10⁻⁵ per document,
    // far below the permille threshold grid); the oracle hashes
    // identically so results stay bit-exact cross-engine.
    // The per-doc hashed-set relation is the AllPairs materialized
    // index, built NARROW in one pass: `fp32_set` fingerprints,
    // dedups and sorts the gram array in-row, so no token-grain rows
    // ever exist on the build path (the explode → md5 → collect_set
    // formulation paid a 1M-row exchange plus an ObjectHashAggregate,
    // measured as the dominant query cost). FIVE downstream subtrees
    // read the index (token rebuild → counts → postings, the prefix
    // window, and both verification joins) and Spark's ReuseExchange
    // cannot deduplicate them (each consumer prunes a different
    // column set, so the exchanges differ) — `localCheckpoint` (the
    // repo's iterative-loop convention) pins the index once; it is
    // doc-grain × distinct-gram fingerprints (longs), the same
    // footprint AllPairs/PPJoin materializes on any engine. Callers
    // that loop call Caching.releaseLocalCheckpoints on the returned
    // frames when done.
    import graft.functions.FpSet.fp32_set
    val hsets = Partitioning.fanOut(docs)
      .withColumn("tset", tsetExpr)
      .filter(size(col("tset")) >= 1)
      .withColumn("hs", fp32_set(col("tset")))
      .withColumn("hsz", size(col("hs")).cast("long"))
      .select(col(idCol) +: col("hs") +: col("hsz") +: strataCols.map(col): _*)
      .localCheckpoint()
    // token grain rebuilt from the (deduplicated) hashed sets — narrow
    val tokh = hsets.select(col(idCol) +: col("hsz") +: strataCols.map(col) :+
      explode(col("hs")).as("gh"): _*)
    val cnt = tokh.groupBy(col("gh")).agg(count(lit(1)).as("c"))
    val dropped = cnt.filter(col("c") > maxPostings)
    val tokc = tokh.join(cnt, "gh")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("c"), col("gh"))
    val ranked = tokc.withColumn("rn", row_number().over(w).cast("long"))
    // prefix length |S| − ⌈t·|S|⌉ + 1, ceil in exact integers
    val pref = ranked.filter(col("rn") <=
        col("hsz") - floor((lit(thresholdPermille.toLong) * col("hsz") + 999L) / 1000L) + 1L)
      .select(col(idCol).as("__p") +: col("gh") +: col("hsz").as("__psz") +:
        strataCols.map(col): _*)
    // the posting side renames EVERY shared column (key included):
    // both frames derive from `tokc`, so an unrenamed pref("gh") ===
    // post("gh") would resolve to the same attribute id — a trivially
    // true predicate that silently degenerates the index probe into
    // an all-pairs product
    val post = tokc.select(col(idCol).as("__q") +: col("gh").as("__qg") +: col("c") +:
        col("hsz").as("__qsz") +: strataCols.map(c => col(c).as(s"__q_$c")): _*)
      .filter(col("c") <= maxPostings)
    // PPJoin orientation: overlap ≥ ⌈t·min(|P|,|Q|)⌉ forces a prefix
    // hit on the SMALLER set, so only the smaller side's prefix needs
    // to probe — the (size, id)-lexicographic predicate picks exactly
    // one orientation per unordered pair, halving candidate
    // generation vs probing both ways (the old `__p =!= __q`).
    val cand = pref.join(post,
        (Seq(col("gh") === col("__qg"),
          col("__psz") < col("__qsz") ||
            (col("__psz") === col("__qsz") && col("__p") < col("__q"))) ++
          strataCols.map(c => col(c) === col(s"__q_$c"))).reduce(_ && _))
      .select(least(col("__p"), col("__q")).as("doc_a"),
        greatest(col("__p"), col("__q")).as("doc_b"))
      .distinct()
    val pairs = cand
      .join(hsets.select(col(idCol).as("doc_a"), col("hs").as("ha"),
        col("hsz").as("sza")), "doc_a")
      .join(hsets.select(col(idCol).as("doc_b"), col("hs").as("hb"),
        col("hsz").as("szb")), "doc_b")
      // per-pair hot path: `hs` is sorted-distinct by construction
      // (fp32_set), so |A∩B| is the zero-allocation two-pointer
      // fp_inter_count — size(array_intersect(...)) built a hash set
      // AND materialized the intersection array per candidate pair
      // just to take its length (measured as the dominant cost of the
      // verification stage). Identical count on sorted-distinct input.
      .withColumn("inter", graft.functions.FpSet.fp_inter_count(col("ha"), col("hb")))
      .withColumn("minsz", least(col("sza"), col("szb")))
      .withColumn("cont_permille", floor(col("inter") * 1000 / col("minsz")).cast("long"))
      .filter(col("cont_permille") >= thresholdPermille)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("minsz"),
        col("cont_permille"))
    ContainmentPairs(pairs, dropped)
  }

  /** Verified containment pairs plus the frequency-governor
    * accounting: `droppedTokens` has one row per token FINGERPRINT
    * (`gh`, the 32-bit gram hash the whole pipeline keys on) excluded
    * from the inverted index for exceeding `maxPostings` global
    * frequency — the loud-degradation twin of
    * [[BandedPairs.droppedBuckets]]. */
  final case class ContainmentPairs(pairs: DataFrame, droppedTokens: DataFrame)

  /** Near-dup candidate pairs over WINNOWED fingerprints (Schleimer
    * et al. 2003): each document contributes only its winnow-selected
    * 32-bit gram hashes ([[TextAnalysis.winnowStats]] — expected
    * density 2/(w+1), full detection of substring matches
    * ≥ w + k − 1), and pairs sharing at least `minShared` selected
    * fingerprints surface with their shared count. The plagiarism /
    * excerpt detector at index scale: vs the full-gram inverted index
    * ([[charNgramContainmentAccounted]]) the posting list is ~2/(w+1)
    * the size for the same guarantee floor.
    *
    * Scale shape: narrow in-row selection (no token-grain exchange on
    * the build), one fingerprint-grain count for the frequency
    * governor (map-side combinable), the governed equi-self-join on
    * the fingerprint, one pair-grain count. Fingerprints above
    * `maxPostings` document frequency are excluded from the index —
    * the [[ContainmentPairs]] loud-degradation discipline (a
    * boilerplate gram shared by everything would otherwise quadratic
    * the join); the drop is surfaced in the returned accounting
    * frame. The cap is the scale bound: candidate-join work is
    * ≤ |distinct fingerprints| · maxPostings² rows at ANY corpus
    * size — collision-bounded, never population-bounded. */
  def winnowPairs(docs: DataFrame, k: Int = 5, w: Int = 4,
                  minShared: Int = 2, maxPostings: Int = 10000,
                  idCol: String = "doc_id",
                  textCol: String = "text"): ContainmentPairs = {
    import graft.functions.WinnowFp.winnow_fp
    val fps = Partitioning.fanOut(docs)
      .select(col(idCol), explode(winnow_fp(col(textCol), k, w)).as("fp"))
    val cnt = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
    val dropped = cnt.filter(col("df") > maxPostings)
    val kept = fps.join(cnt.filter(col("df") <= maxPostings), "fp")
    val a = kept.select(col("fp"), col(idCol).as("doc_a"))
    val b = kept.select(col("fp").as("__fp"), col(idCol).as("doc_b"))
    val pairs = a.join(b, col("fp") === col("__fp") && col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    ContainmentPairs(pairs, dropped)
  }

  /** Winnowed-fingerprint EXCERPT index: the corpus-side twin of
    * [[winnowPairs]] — postings are each document's winnow-selected
    * 32-bit gram hashes (expected density 2/(w+1) of the grams,
    * substring matches ≥ w+k−1 guaranteed caught), so the index is a
    * fraction of a full gram index at the same detection floor. (k, w) ride with the postings so a probe can
    * never diverge from what the postings were built with — the
    * [[DedupIndex]] discipline. */
  final case class WinnowIndex(postings: DataFrame, k: Int, w: Int)

  def buildWinnowIndex(docs: DataFrame, k: Int = 5, w: Int = 4,
                       idCol: String = "doc_id",
                       textCol: String = "text"): WinnowIndex = {
    import graft.functions.WinnowFp.winnow_fp
    WinnowIndex(
      Partitioning.fanOut(docs)
        .select(col(idCol).as("doc_id"), explode(winnow_fp(col(textCol), k, w)).as("fp")),
      k, w)
  }

  /** Excerpt detection of a DELTA against a corpus index: new docs
    * sharing ≥ `minShared` winnowed fingerprints with an indexed
    * document surface as (new_id, index_id, n_shared) —
    * plagiarism/excerpt lineage against corpus history. The delta
    * winnows with the INDEX's (k, w); the postings census governs
    * document frequency (fingerprints above `maxPostings` never join),
    * so the probe join is ≤ |delta fps| + |fps|·cap·(delta side) —
    * collision-bounded. */
  def excerptAgainstIndex(newDocs: DataFrame, index: WinnowIndex,
                          minShared: Int = 3, maxPostings: Int = 10000,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    import graft.functions.WinnowFp.winnow_fp
    val dfp = Partitioning.fanOut(newDocs)
      .select(col(idCol).as("new_id"),
        explode(winnow_fp(col(textCol), index.k, index.w)).as("fp"))
    val cnt = index.postings.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
    val kept = index.postings.join(cnt, "fp")
      .filter(col("__df") <= maxPostings)
      .select(col("fp"), col("doc_id").as("index_id"))
    dfp.join(kept, "fp")
      .groupBy(col("new_id"), col("index_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Shared band-bucket projection for LSH joins. Package-visible so
    * specs can assert bucket-size bounds directly. `keepCols` are
    * carried through (narrow) for callers whose join key includes
    * strata. */
  private[graft] def lshBuckets(sig: DataFrame, numHashes: Int, rowsPerBand: Int,
                                idCol: String,
                                keepCols: Seq[String] = Nil): DataFrame = {
    require(rowsPerBand >= 1 && numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must divide evenly into rows-per-band ($rowsPerBand) bands")
    val nBands = numHashes / rowsPerBand
    val bandStructs = (0 until nBands).map { b =>
      val parts = (0 until rowsPerBand)
        .map(r => col(s"h${b * rowsPerBand + r}").cast("string"))
      struct(lit(b).as("band"), concat_ws("|", parts: _*).as("bv"))
    }
    sig.select(col(idCol) +: explode(array(bandStructs: _*)).as("bk") +: keepCols.map(col): _*)
      .select(col(idCol).as("doc") +: col("bk.band").as("band") +:
        col("bk.bv").as("bv") +: keepCols.map(col): _*)
  }

  /** Cross-corpus LSH candidates: (doc_a from `sigNew`, doc_b from
    * `sigCorpus`) sharing a band bucket. Same shuffle shape as the
    * self-join form — keyed on the band value, never all-pairs. */
  def lshCandidatePairsAcross(sigNew: DataFrame, sigCorpus: DataFrame,
                              numHashes: Int = 8, rowsPerBand: Int = 2,
                              idCol: String = "doc_id"): DataFrame = {
    val a = lshBuckets(sigNew, numHashes, rowsPerBand, idCol)
      .select(col("doc").as("doc_a"), col("band"), col("bv"))
    val b = lshBuckets(sigCorpus, numHashes, rowsPerBand, idCol)
      .select(col("doc").as("doc_b"), col("band"), col("bv"))
    a.join(b, Seq("band", "bv")).select(col("doc_a"), col("doc_b")).distinct()
  }

  /** A near-dup index over a corpus: distinct content hashes (exact
    * dedup), minhash signatures (LSH candidates) and distinct-token
    * sets with sizes (Jaccard verification). The frames are plain
    * DataFrames, so a deployment may store them or re-derive them. */
  final case class DedupIndex(hashes: DataFrame, signatures: DataFrame,
                              tokenSets: DataFrame, k: Int)

  /** Build the [[DedupIndex]] for `corpus` (all parts lazy).
    * The shingle size `k` is RECORDED in the index: delta signatures
    * must be built with the same k or LSH band values collide only at
    * random and near-dups pass silently — [[dedupeAgainstIndex]] reads
    * it from the index rather than trusting the caller to remember. */
  def buildIndex(corpus: DataFrame, k: Int = 3, textCol: String = "text",
                 idCol: String = "doc_id"): DedupIndex =
    DedupIndex(
      corpus.select(md5(col(textCol).cast("binary")).as("__h")).distinct(),
      minhashSignature(shingled(corpus, k, textCol), idCol = idCol),
      tokenSets(corpus, idCol, textCol),
      k)

  /** Incremental dedup — the daily-delta workflow: drop `newDocs` that
    * duplicate the EXISTING `corpus`, exactly (content hash anti-join)
    * or nearly (cross-corpus LSH candidates, Jaccard-verified).
    * Returns the surviving new docs. New-vs-new duplicates are NOT
    * handled here (run [[exact]]/[[lshCandidatePairs]] within the
    * batch first); ids must be distinct across the two frames.
    *
    * This convenience form recomputes the corpus index per run; the
    * production shape is [[dedupeAgainstIndex]] over a stored
    * [[DedupIndex]] (same code path — this is a one-liner over it). */
  def dedupeAgainst(newDocs: DataFrame, corpus: DataFrame, thresholdPermille: Int,
                    k: Int = 3, textCol: String = "text",
                    idCol: String = "doc_id",
                    bloomFpp: Option[Double] = Some(0.01)): DataFrame =
    dedupeAgainstIndex(newDocs, buildIndex(corpus, k, textCol, idCol),
      thresholdPermille, textCol, idCol, bloomFpp)

  /** [[dedupeAgainst]] against a prebuilt (typically parquet-stored)
    * [[DedupIndex]] — the corpus is never rescanned: the delta's
    * hashes anti-join the stored hash set, the delta's signatures
    * LSH-join the stored signatures, and verification joins the stored
    * token sets. Shuffle ∝ delta + collision candidates. The delta's
    * shingle size comes from the INDEX (`index.k`) — not a parameter,
    * so it cannot silently diverge from what the stored signatures
    * were built with. */
  def dedupeAgainstIndex(newDocs: DataFrame, index: DedupIndex,
                         thresholdPermille: Int,
                         textCol: String = "text", idCol: String = "doc_id",
                         bloomFpp: Option[Double] = Some(0.01)): DataFrame = {
    val newHashed = newDocs.withColumn("__h", md5(col(textCol).cast("binary")))
    // With a stored 100 TB-corpus index, the delta-vs-hashes anti-join
    // would shuffle the INDEX side. A Bloom filter of the (small)
    // delta's hashes broadcast into a narrow prune drops every index
    // hash that cannot match first — sound for LEFT ANTI because Bloom
    // has no false negatives: every real match survives the prune, so
    // exactly the same delta rows are eliminated. `bloomFpp = None`
    // restores the fully-lazy plan (the prune pays two delta-sized
    // driver jobs up front).
    val hashSide = bloomFpp match {
      case Some(fpp) => bloomPruned(index.hashes, newHashed.select(col("__h")), "__h", fpp)
      case None => index.hashes
    }
    val exactNew = newHashed.join(hashSide, Seq("__h"), "left_anti").drop("__h")
    val cands = lshCandidatePairsAcross(
      minhashSignature(shingled(exactNew, index.k, textCol), idCol = idCol),
      index.signatures, idCol = idCol)
    // ids are distinct across delta and corpus (documented), so the
    // shared verifier works over the union of both sides' token sets —
    // one implementation of the PPJoin-filtered Jaccard check, not two
    val verified = jaccardVerifySets(
        tokenSets(exactNew, idCol, textCol).unionByName(index.tokenSets),
        cands, thresholdPermille)
      .select(col("doc_a").as(idCol)).distinct()
    exactNew.join(verified, Seq(idCol), "left_anti")
  }

  /** Distinct-token sets + sizes per doc — the verification features a
    * [[DedupIndex]] stores. */
  private def tokenSets(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    Partitioning.fanOut(docs)
      .withColumn("tset", array_distinct(tokens(col(textCol))))
      .withColumn("tsz", size(col("tset")).cast("long"))
      .select(col(idCol), col("tset"), col("tsz"))

  /** Exact Jaccard verification over an explicit candidate-pair set
    * (`doc_a`, `doc_b`) and precomputed token sets (`idCol`, tset,
    * tsz): keep pairs ≥ threshold. Integer permille arithmetic
    * end-to-end (engine-exact). */
  def jaccardVerifySets(withSets: DataFrame, pairs: DataFrame,
                        thresholdPermille: Int,
                        idCol: String = "doc_id"): DataFrame =
    jaccardVerifySetsFull(withSets, pairs, thresholdPermille, idCol)
      .select(col("doc_a"), col("doc_b"), col("jac_permille"))

  /** [[jaccardVerifySets]] keeping `inter`/`uni` — the schema the
    * blocked-pair operators emit. */
  private def jaccardVerifySetsFull(withSets: DataFrame, pairs: DataFrame,
                                    thresholdPermille: Int,
                                    idCol: String): DataFrame = {
    // sets are sorted ONCE PER DOC at the projection (array_sort =
    // UTF8 binary order) so the per-pair intersection is the
    // zero-allocation fp_inter_count two-pointer merge instead of
    // array_intersect's per-pair hash set + materialized array —
    // identical count on distinct inputs, and the verification stage
    // was the measured hot path (guide §1.2 step 2: per-task work)
    pairs
      .join(withSets.select(col(idCol).as("doc_a"),
        array_sort(col("tset")).as("ta"), col("tsz").as("sza")), "doc_a")
      .join(withSets.select(col(idCol).as("doc_b"),
        array_sort(col("tset")).as("tb"), col("tsz").as("szb")), "doc_b")
      // PPJoin length filter: prune before the O(|A|+|B|) intersection
      .filter(col("sza") * 1000 >= lit(thresholdPermille) * col("szb") &&
              col("szb") * 1000 >= lit(thresholdPermille) * col("sza"))
      .withColumn("inter", graft.functions.FpSet.fp_inter_count(col("ta"), col("tb")))
      .withColumn("uni", col("sza") + col("szb") - col("inter"))
      .withColumn("jac_permille", floor(col("inter") * 1000 / col("uni")).cast("long"))
      .filter(col("jac_permille") >= thresholdPermille)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("uni"), col("jac_permille"))
  }

  /** 16-bit SimHash over tokens: bit j of the hash is the sign of the
    * token-count-weighted ±1 vote of bit j of md5(token) (first 16 of
    * the 128 md5 bits). One explode + one groupBy(doc) with 16 integer
    * sums — map-side combinable, portable across engines. */
  def simhash16(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    import graft.functions.HexPrefix16.hex_prefix16
    val tok = Partitioning.fanOut(docs)
      .select(col(idCol), explode(tokens(col("text"))).as("t"))
      .withColumn("v16", hex_prefix16(md5(col("t").cast("binary"))))
    // bit j of the oracle's nibble decomposition: nibble j/4 is hex
    // digit j/4 (v16 bits 12-4*(j/4)..), bit j%4 within it
    val votes = (0 until 16).map { j =>
      val shift = 12 - 4 * (j / 4) + (j % 4)
      sum(shiftright(col("v16"), shift).bitwiseAND(lit(1)) * 2 - 1).as(s"s$j")
    }
    val sig = tok.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
    val hash = (0 until 16).map { j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    sig.select(col(idCol), hash.as("simhash16"))
  }

  /** Connected components over a near-duplicate pair set: each doc in
    * any pair gets `component` = the smallest doc id reachable through
    * pairs (transitive closure) — the exact cluster-representative
    * rule, vs the linear "drop the greater of each pair" approximation
    * the curation job defaults to.
    *
    * Min-label propagation with POINTER DOUBLING (each round a node
    * takes the min of its own label, its neighbors' labels, and its
    * label's label), so rounds are O(log diameter) — long chains
    * converge in a handful of rounds, not diameter-many. Each round's
    * result is `localCheckpoint`ed: an iterative DataFrame loop that
    * keeps stacking lazy plans grows its lineage per round and
    * eventually OOMs the PLANNER (caught by the long-chain spec) —
    * lineage truncation per iteration is mandatory for driver-looped
    * algorithms at any scale. Round k-1's checkpoint blocks are
    * unpersisted as soon as round k materializes (and the symmetrized
    * edge list after the loop) — at 100 TB a retained round is a full
    * node-label copy in executor storage. Only the FINAL round's
    * blocks back the returned frame; release them with
    * [[Caching.releaseLocalCheckpoints]] once consumed. Per round: one
    * shuffle-join on the edge list + one map-side-combinable min per
    * node. Singleton docs (no pairs) are not emitted — they represent
    * themselves. */
  def connectedComponents(pairs: DataFrame, aCol: String = "doc_a",
                          bCol: String = "doc_b"): DataFrame = {
    val edges = pairs.select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
    val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      .distinct().localCheckpoint()
    // round 0 fused into init: label = min(self, direct neighbors)
    var labels = sym.groupBy(col("u").as("node")).agg(min(col("v")).as("nmin"))
      .select(col("node"), least(col("node"), col("nmin")).as("component"))
      .localCheckpoint()
    if (labels.isEmpty) {
      Caching.releaseLocalCheckpoints(sym)
      return labels.select(col("node").as("doc_id"), col("component"))
    }
    // convergence by the monotone label sum: labels only ever decrease,
    // so an unchanged sum IS the fixpoint. The sum rides the round's
    // OWN checkpoint materialization as an observed metric (guide §1 /
    // Spark Observation API — no second scan, no extra job per round);
    // the old form paid a separate agg job after every checkpoint.
    // sum over ZERO rows is SQL null — coalesce (the empty case above
    // never reaches here, but keep the guard).
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum(col("component")), lit(0L))).head().getLong(0)
    var prevSum = labelSum(labels)
    var done = false
    var round = 0
    while (!done) {
      round += 1
      val neighborMin = sym
        .join(labels.select(col("node").as("v"), col("component").as("vl")), "v")
        .groupBy(col("u").as("node")).agg(min(col("vl")).as("nmin"))
      val labelOfLabel = labels
        .select(col("node").as("component"), col("component").as("ll"))
      val obs = org.apache.spark.sql.Observation(s"cc_round_$round")
      val next = labels
        .join(neighborMin, Seq("node"), "left")
        .join(labelOfLabel, Seq("component"), "left")
        .select(col("node"), least(
          col("component"),
          coalesce(col("nmin"), col("component")),
          coalesce(col("ll"), col("component"))).as("component"))
        .observe(obs, coalesce(sum(col("component")), lit(0L)).as("label_sum"))
        .localCheckpoint() // eager — materialized before the release below
      val s = obs.get("label_sum").asInstanceOf[Long]
      done = s == prevSum
      prevSum = s
      Caching.releaseLocalCheckpoints(labels)
      labels = next
    }
    Caching.releaseLocalCheckpoints(sym)
    labels.select(col("node").as("doc_id"), col("component"))
  }

  /** INCREMENTAL maintenance of a [[connectedComponents]] map — the
    * missing incremental twin: aggregates, distinct counts, the dedup
    * index and the ANN index all maintain by delta; this maintains the
    * near-dup component map the same way, so a daily ingest never
    * recomputes the corpus graph. `stored` is a previous
    * (doc_id, component) result; `deltaPairs` are NEW edges (between
    * new docs, old docs, or both). Returns the map equal to
    * recomputing over history ∪ delta (the hash-checked law).
    *
    * Shape — the classic super-node contraction: each stored component
    * is already a proven connected blob, so project every delta
    * endpoint onto its stored label (new docs label themselves) and
    * run [[connectedComponents]] on the CONTRACTED delta graph — a
    * graph of delta-size, not corpus-size. Labels are min doc ids, so
    * a merged super-component's label is the min over its member
    * labels ∪ new doc ids ≡ the true min reachable doc id; only
    * components actually touched by a delta edge can change. Cost:
    * the super-node CC is ∝ delta edges; applying the (delta-sized,
    * BROADCAST) relabel map to the stored frame is one narrow pass —
    * no corpus-sized shuffle, no old edges read. The old edge list is
    * never needed because a component's internal connectivity can
    * only grow — deletions would need [[connectedComponents]] over
    * the surviving edges (document, don't guess). */
  def componentsUpdate(stored: DataFrame, deltaPairs: DataFrame,
                       aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    val edges = deltaPairs
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .localCheckpoint() // read the (possibly expensive) pair plan once
    val labels = stored.select(col("doc_id").cast("long").as("doc_id"),
      col("component").cast("long").as("component"))
    // slice the CORPUS-sized stored map down to the delta's endpoints
    // by broadcasting the (delta-sized) endpoint set — the big side
    // streams, nothing corpus-sized is ever shuffled or broadcast
    val endpoints = edges.select(col("u").as("doc_id"))
      .union(edges.select(col("v").as("doc_id"))).distinct()
    val touched = labels.join(broadcast(endpoints), Seq("doc_id")).localCheckpoint()
    val uLab = touched.select(col("doc_id").as("u"), col("component").as("__ul"))
    val vLab = touched.select(col("doc_id").as("v"), col("component").as("__vl"))
    // contracted delta graph: endpoints → stored label, unseen → self
    val contracted = edges
      .join(broadcast(uLab), Seq("u"), "left")
      .join(broadcast(vLab), Seq("v"), "left")
      .select(coalesce(col("__ul"), col("u")).as("doc_a"),
        coalesce(col("__vl"), col("v")).as("doc_b"))
    val superCC = connectedComponents(contracted).localCheckpoint()
    // old rows: relabel via the delta-sized map (component → new label);
    // untouched components miss the broadcast join and pass through
    val relabel = superCC
      .select(col("doc_id").as("component"), col("component").as("__nl"))
    val oldRows = labels.join(broadcast(relabel), Seq("component"), "left")
      .select(col("doc_id"), coalesce(col("__nl"), col("component")).as("component"))
    // new docs: delta endpoints not in the stored map label themselves
    // in the contracted graph, so their super-node row IS their row
    val newRows = endpoints
      .join(broadcast(touched.select(col("doc_id"))), Seq("doc_id"), "left_anti")
      .join(superCC, Seq("doc_id"))
      .select(col("doc_id"), col("component"))
    oldRows.unionByName(newRows)
  }

  /** Keep-best dedup: collapse each near-duplicate cluster to its
    * HIGHEST-QUALITY member instead of the smallest id — the form
    * curation actually wants ("of these five near-copies, keep the one
    * with the best quality score, not the one crawled first").
    * `scoreCol` is any integer-valued quality expression over `docs`
    * (e.g. `size(tokens(col("text")))` or the composite score of
    * [[TextAnalysis.withQualityScore]]); ties break to the smallest
    * id, so the winner is total-ordered and deterministic.
    *
    * Shape: [[connectedComponents]] over the pair set (O(log diameter)
    * rounds), a left join to attach labels (singletons — docs in no
    * pair — represent themselves via coalesce), one map-side-
    * combinable max(struct(score, -id)) per component, and a semi-join
    * back onto the corpus. No window over the corpus, no all-pairs
    * work beyond the pair set itself. Returns the surviving docs with
    * all input columns intact.
    *
    * Like [[connectedComponents]], the returned frame is backed by the
    * FINAL propagation round's localCheckpoint blocks — release them
    * with [[Caching.releaseLocalCheckpoints]] (it walks the join plan)
    * once consumed (`CacheHygieneSpec` proves the path). */
  def keepBest(docs: DataFrame, pairs: DataFrame, scoreCol: Column,
               idCol: String = "doc_id"): DataFrame = {
    val comps = connectedComponents(pairs)
    val labeled = docs
      .select(col(idCol), scoreCol.cast("long").as("__score"))
      .join(comps.withColumnRenamed("doc_id", idCol), Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
    val winners = labeled
      .groupBy(col("component"))
      .agg(max(struct(col("__score").as("s"), (-col(idCol)).as("nid"))).as("b"))
      .select((-col("b.nid")).as(idCol))
    docs.join(winners, Seq(idCol), "left_semi")
  }

  /** SimHash near-dup pairs: block on the signature's high byte (two
    * docs within hamming distance ≤ 8 of each other on the high bits
    * usually share it; a production sweep uses multiple bit-slices as
    * blocks), then filter blocks by exact Hamming distance via the
    * native codegen'd [[graft.functions.HammingDistance]] expression.
    * The join is an equi-join on the block key — no all-pairs scan. */
  def simhashPairs(sig: DataFrame, maxDistance: Int,
                   idCol: String = "doc_id"): DataFrame = {
    import graft.functions.HammingDistance.hamming64
    val a = sig.select(col(idCol).as("doc_a"), col("simhash16").as("sig_a"),
      shiftright(col("simhash16"), 8).as("block"))
    val b = sig.select(col(idCol).as("doc_b"), col("simhash16").as("sig_b"),
      shiftright(col("simhash16"), 8).as("block"))
    a.join(b, Seq("block"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", hamming64(col("sig_a"), col("sig_b")))
      .filter(col("hamming") <= maxDistance)
      .select(col("doc_a"), col("doc_b"), col("sig_a"), col("sig_b"), col("hamming"))
  }

  /** Cross-document repeated-SPAN detection — the distributed form of
    * exact-substring training-data dedup (find every maximal run of
    * ≥ `spanTokens` consecutive tokens that also appears verbatim in
    * another document; suffix arrays do this single-node, the
    * equi-join below does it on a cluster):
    *
    *  1. every document emits its `spanTokens`-grams WITH POSITION
    *     (narrow: one `transform(sequence)` per row);
    *  2. grams occurring in ≥ 2 DISTINCT docs survive (one two-phase
    *     groupBy on the gram — self-repetition inside one doc is
    *     excluded on purpose; [[graft.operators.Corpus.repetition]]
    *     measures that);
    *  3. surviving positions merge into maximal spans per doc by the
    *     gaps-and-islands trick (`pos − row_number` keys an island;
    *     consecutive shared grams = one span), so an N-token shared
    *     passage reports once, not N−L+1 times.
    *
    * Shuffles: gram groupBy + gram-keyed survivor join (the honest
    * cost — gram cardinality ~ token count), then a per-doc window
    * whose partition is one document's shared grams (bounded by doc
    * length). Returns one row per doc that shares ≥ 1 span:
    * span/coverage counts + `repeated_permille` for gating. */
  def repeatedSpans(docs: DataFrame, spanTokens: Int = 8,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(spanTokens >= 2, s"spanTokens must be >= 2, got $spanTokens")
    import org.apache.spark.sql.expressions.Window
    val L = spanTokens
    val grams = Partitioning.fanOut(docs)
      .select(col(idCol), tokens(col(textCol)).as("ts"))
      .where(size(col("ts")) >= L)
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(0, size(ts) - $L), i -> concat_ws(' ', slice(ts, i + 1, $L)))"))
        .as(Seq("pos", "gram")))
    val shared = grams.groupBy(col("gram"))
      .agg(countDistinct(col(idCol)).as("nd"))
      .where(col("nd") >= 2).select("gram")
    val hits = grams.join(shared, "gram").select(col(idCol), col("pos"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val spans = hits
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col(idCol), col("grp"))
      .agg(min(col("pos")).as("s"), max(col("pos")).as("e"),
        count(lit(1)).as("n_grams"))
    // covered_tokens must count DISTINCT positions: two separate gram
    // runs with a gap < L still overlap in token coverage (a span is
    // maximal in gram space, its ±L−1 token footprint is not)
    val perDoc = spans.groupBy(col(idCol))
      .agg(sum(col("n_grams")).as("n_shared_grams"),
        count(lit(1)).as("n_spans"),
        max(col("e") - col("s") + lit(L)).cast("long").as("max_span_tokens"),
        collect_list(struct(col("s"), col("e"))).as("__spans"))
      .withColumn("covered_tokens",
        size(array_distinct(flatten(expr(
          s"transform(__spans, sp -> sequence(sp.s, sp.e + ${L - 1}))"))))
          .cast("long"))
      .drop("__spans")
    val dl = docs.select(col(idCol), size(tokens(col(textCol))).cast("long").as("n_tokens"))
    perDoc.join(dl, Seq(idCol))
      .select(col(idCol), col("n_shared_grams"), col("n_spans"),
        col("covered_tokens"), col("max_span_tokens"), col("n_tokens"))
      .withColumn("repeated_permille", expr("covered_tokens * 1000 DIV n_tokens"))
  }

  /** The removal half of exact-substring dedup ([[repeatedSpans]] is
    * the detection half): every maximal cross-doc repeated span keeps
    * its CANONICAL occurrence — the one in the smallest doc_id
    * containing the gram — and is stripped everywhere else, then each
    * document's text is rebuilt from its surviving tokens (the
    * "deduplicate training data" recipe: keep one copy of every long
    * verbatim passage).
    *
    * Shape: the same gram equi-join + islands merge as
    * [[repeatedSpans]]; the merged spans then come back to the
    * document as ONE id-keyed join of a per-doc span list (bounded by
    * doc length), and the rebuild is a narrow array expression —
    * tokens never shuffle. Emits every doc (n_removed = 0 when
    * untouched) with the md5 of the rebuilt text, so the output stays
    * row-compact at any scale. */
  def stripRepeatedSpans(docs: DataFrame, spanTokens: Int = 8,
                         idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    withSpanCover(docs, spanTokens, idCol, textCol)
      .select(col(idCol),
        size(col("__ts")).cast("long").as("n_tokens"),
        size(col("__cov")).cast("long").as("n_removed"),
        md5(expr("concat_ws(' ', transform(__kept, x -> x.tok))").cast("binary"))
          .as("clean_md5"))

  private def withSpanCover(docs: DataFrame, spanTokens: Int,
                            idCol: String, textCol: String): DataFrame = {
    require(spanTokens >= 2, s"spanTokens must be >= 2, got $spanTokens")
    import org.apache.spark.sql.expressions.Window
    val L = spanTokens
    val grams = Partitioning.fanOut(docs)
      .select(col(idCol), tokens(col(textCol)).as("ts"))
      .where(size(col("ts")) >= L)
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(0, size(ts) - $L), i -> concat_ws(' ', slice(ts, i + 1, $L)))"))
        .as(Seq("pos", "gram")))
    val canon = grams.groupBy(col("gram"))
      .agg(min(col(idCol)).as("min_doc"), countDistinct(col(idCol)).as("nd"))
      .where(col("nd") >= 2).select(col("gram"), col("min_doc"))
    val rem = grams.join(canon, "gram")
      .where(col(idCol) =!= col("min_doc")).select(col(idCol), col("pos"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val spans = rem
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col(idCol), col("grp"))
      .agg(min(col("pos")).as("s"), max(col("pos")).as("e"))
    val spanList = spans.groupBy(col(idCol))
      .agg(collect_list(struct(col("s"), col("e"))).as("__spans"))
    docs.withColumn("__ts", tokens(col(textCol)))
      .join(spanList, Seq(idCol), "left")
      // distinct: gram runs separated by a gap < L overlap in coverage
      .withColumn("__cov", array_distinct(coalesce(
        flatten(expr(s"transform(__spans, sp -> sequence(sp.s, sp.e + ${L - 1}))")),
        array().cast("array<int>"))))
      .withColumn("__kept", expr(
        "filter(transform(__ts, (tok, i) -> struct(i AS i, tok AS tok)), " +
          "x -> NOT array_contains(__cov, x.i))"))
  }

  /** Narrow Bloom prune of `big` by the key set of `keys` (the small
    * side, distributed `bloom_filter_agg` build collected as ONE
    * model-sized binary, then a constant `might_contain` probe). No
    * false negatives: both sides key on the same `xxhash64`, so every
    * `big` row whose key appears in `keys` survives. Native Catalyst
    * expressions end to end — the probe stays inside whole-stage
    * codegen on the corpus scan (the former ScalaUDF here broke
    * codegen at exactly the hot point the prune exists to keep cheap;
    * `PlanShapeSpec` now bans ScalaUDF on this path). */
  private def bloomPruned(big: DataFrame, keys: DataFrame, keyCol: String,
                          fpp: Double): DataFrame = {
    val n = math.max(keys.count(), 1L)
    // optimal bit count for the target fpp: ceil(-n·ln(p) / ln(2)²)
    val bits = math.max(64L,
      math.ceil(-n * math.log(fpp) / (math.log(2.0) * math.log(2.0))).toLong)
    val bf = keys.select(bloomFilterAgg(xxhash64(col(keyCol)), n, bits).as("bf"))
      .head.getAs[Array[Byte]]("bf")
    big.where(mightContain(bf, xxhash64(col(keyCol))))
  }

  /** Spark's runtime-filter Bloom expressions, which have no public SQL
    * name: the aggregate that builds a filter of `bits` bits for `n`
    * keys, and the probe of a built filter. */
  private[graft] def bloomFilterAgg(key: Column, n: Long, bits: Long): Column =
    GraftColumnBridge.column(new BloomFilterAggregate(
      GraftColumnBridge.expression(key), Literal(n), Literal(bits)).toAggregateExpression())
  private[graft] def mightContain(bf: Array[Byte], key: Column): Column =
    GraftColumnBridge.column(BloomFilterMightContain(Literal(bf), GraftColumnBridge.expression(key)))
}
