package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-management operators for training-data pipelines: splits,
  * sampling, repetition metrics, PII scrubbing, vocabulary.
  *
  * Scale design:
  *  - splits and samples are pure narrow filters on a portable
  *    md5-derived bucket — no shuffle, no RNG state on executors,
  *    reproducible across engines and re-runs (the property a
  *    train/test split must have: a doc's split NEVER changes when the
  *    corpus grows);
  *  - repetition and PII metrics are per-row array/regex expressions
  *    inside whole-stage codegen;
  *  - vocabulary is one hash-shuffle on the token plus a driver-merged
  *    global top-k (TakeOrderedAndProject — never a full sort).
  */
object Corpus {

  /** Deterministic bucket in [0, buckets): first 32 bits of
    * md5(salt || id) mod buckets, via the codegen'd
    * [[graft.functions.HexSliceLong]]. Engine-portable (DuckDB twin is
    * the strpos nibble sum over the same digest). Different `salt`
    * values give independent bucketings — split and sample decisions
    * must not correlate. */
  def hashBucket(id: Column, buckets: Int, salt: String = ""): Column = {
    import graft.functions.HexSliceLong.hex_slice_long
    hex_slice_long(md5(concat(lit(salt), id.cast("string")).cast("binary")), 0) % buckets
  }

  /** Deterministic train/val/test split. A doc's assignment depends
    * only on its id — stable under corpus growth, re-partitioning and
    * re-runs, unlike `randomSplit` (which is seed- AND partition-
    * dependent). Narrow. */
  def split(docs: DataFrame, idCol: String = "doc_id",
            trainPermille: Int = 900, valPermille: Int = 50): DataFrame = {
    require(trainPermille + valPermille <= 1000, "split permilles exceed 1000")
    docs
      .withColumn("bucket", hashBucket(col(idCol), 1000, "split|"))
      .withColumn("split",
        when(col("bucket") < trainPermille, "train")
          .when(col("bucket") < trainPermille + valPermille, "val")
          .otherwise("test"))
  }

  /** Cluster-aware train/val/test split: the standard [[split]] leaks
    * evaluation signal when near-duplicate documents straddle splits (a
    * test doc whose near-copy sits in train is effectively memorized) —
    * here the hash decision is taken on the near-dup CLUSTER
    * representative, so every member of a cluster lands in the same
    * split, and a document with no near-dup (the overwhelming majority)
    * hashes on its own id — identical assignment to [[split]], so
    * adopting leakage-safety does not reshuffle the unclustered corpus.
    *
    * `pairs` is any symmetric near-dup pair frame (banded Jaccard,
    * SimHash, embedding cosine, …). Scale: the component labeling is
    * [[graft.operators.Dedup.connectedComponents]] (log-round pointer
    * doubling over the pair graph — bounded by DUPLICATED docs, a small
    * fraction of the corpus); the label join is one keyed shuffle
    * (broadcast under AQE when the dup set is small); the split
    * decision itself stays a narrow deterministic hash. */
  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame, idCol: String = "doc_id",
                       trainPermille: Int = 900, valPermille: Int = 50): DataFrame = {
    require(trainPermille + valPermille <= 1000, "split permilles exceed 1000")
    val comp = graft.operators.Dedup.connectedComponents(pairs)
      .select(col("doc_id").as("__cid"), col("component").as("__component"))
    docs.join(comp, docs(idCol) === col("__cid"), "left")
      .withColumn("component", coalesce(col("__component"), col(idCol).cast("long")))
      .drop("__cid", "__component")
      .withColumn("bucket", hashBucket(col("component"), 1000, "split|"))
      .withColumn("split",
        when(col("bucket") < trainPermille, "train")
          .when(col("bucket") < trainPermille + valPermille, "val")
          .otherwise("test"))
  }

  /** Stratified deterministic sample: keep a row iff its hash bucket
    * falls under its stratum's keep-rate (permille). The tool for
    * corpus composition ("20% of crawl, 100% of books"): rates are
    * data, the decision is a narrow filter, and the same doc is kept
    * or dropped identically on every run and engine. */
  def stratifiedSample(docs: DataFrame, strataCol: String,
                       ratesPermille: Map[String, Int], defaultPermille: Int,
                       idCol: String = "doc_id"): DataFrame = {
    val rate = ratesPermille.foldLeft(lit(defaultPermille)) { case (acc, (k, v)) =>
      when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    docs.filter(hashBucket(col(idCol), 1000, "sample|") < rate)
  }

  /** Epoch-style mixture upsampling for training mixes: per-stratum
    * weight in PERMILLE where weights may exceed 1000 — weight 2500
    * emits every doc of that stratum twice outright plus a
    * deterministic 500‰ chance of a third copy. The fractional copy is
    * hash-bucketed on (id, copy_idx), so the mixture is stable across
    * runs, engines and corpus growth (same guarantees as
    * [[stratifiedSample]], which this generalizes: weights ≤ 1000
    * degrade to it with copy_idx ≡ 0). The "books × 2.5, crawl × 0.8"
    * operator of LLM data recipes; `copy_idx` stays in the output so
    * downstream shuffles and pack steps see distinct rows. Narrow:
    * sequence + explode + filter, no shuffle. */
  def upsample(docs: DataFrame, strataCol: String,
               weightsPermille: Map[String, Int], defaultPermille: Int,
               idCol: String = "doc_id"): DataFrame = {
    require(defaultPermille >= 0 && weightsPermille.values.forall(_ >= 0),
      "mixture weights must be non-negative permille")
    val w = weightsPermille.foldLeft(lit(defaultPermille)) { case (acc, (k, v)) =>
      when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    docs
      .withColumn("__w", w.cast("long"))
      .filter(col("__w") > 0)
      .withColumn("copy_idx",
        explode(sequence(lit(0L), floor((col("__w") + 999) / 1000) - 1)))
      .filter((col("copy_idx") + 1) * 1000 <= col("__w") ||
        hashBucket(concat_ws("#", col(idCol).cast("string"),
          col("copy_idx").cast("string")), 1000, "mix|") < col("__w") % 1000)
      .drop("__w")
  }

  /** Fixed-SIZE stratified sample: exactly min(k, |stratum|) docs per
    * stratum, chosen by the deterministic hash-bucket order (so the
    * choice is stable under corpus growth for the docs that stay).
    * The eval-set builder: "exactly 1000 docs per source". One shuffle
    * on the stratum key; rows beyond k never leave the window filter. */
  def sampleKPerStratum(docs: DataFrame, strataCol: String, k: Int,
                        idCol: String = "doc_id"): DataFrame = {
    Relational.topNPerGroup(
      docs.withColumn("__b", hashBucket(col(idCol), 1000000, "ksample|")),
      Seq(col(strataCol)), Seq(col("__b"), col(idCol)), k, rankCol = "__rn")
      .drop("__b", "__rn")
  }

  /** Gopher-style repetition metrics: duplicate-token and duplicate-
    * 2-gram fractions (permille). High values flag boilerplate /
    * degenerate documents. All-narrow: array expressions via the
    * native word_shingles, no shuffle. */
  def repetition(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    import graft.functions.WordShingles.word_shingles
    Partitioning.fanOut(docs)
      .select(col(idCol),
        Dedup.tokens(col(textCol)).as("toks"),
        word_shingles(col(textCol), 2).as("grams"))
      .select(col(idCol),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct_tokens"),
        size(col("grams")).cast("long").as("n_2grams"),
        size(array_distinct(col("grams"))).cast("long").as("n_distinct_2grams"))
      .withColumn("dup_token_permille",
        when(col("n_tokens") > 0,
          floor((col("n_tokens") - col("n_distinct_tokens")) * 1000 / col("n_tokens")))
          .otherwise(0L).cast("long"))
      .withColumn("dup_2gram_permille",
        when(col("n_2grams") > 0,
          floor((col("n_2grams") - col("n_distinct_2grams")) * 1000 / col("n_2grams")))
          .otherwise(0L).cast("long"))
  }

  /** Benchmark decontamination: drop every training doc that shares
    * ANY word n-gram with the eval set — the strict membership rule
    * (one leaked n-gram disqualifies the doc), which is a different
    * predicate from near-dedup's whole-document similarity.
    *
    * Scale shape: the eval n-gram set is tiny relative to training
    * data (benchmarks are small by definition) — broadcast it; the
    * training-side n-gram stream then never shuffles, and the
    * LEFT SEMI probe marks a doc on its first hit. */
  def decontaminate(train: DataFrame, eval: DataFrame, n: Int = 13,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import graft.functions.WordShingles.word_shingles
    val evalGrams = Partitioning.fanOut(eval)
      .select(explode(word_shingles(col(textCol), n)).as("g")).distinct()
    val contaminated = Partitioning.fanOut(train)
      .select(col(idCol), explode(word_shingles(col(textCol), n)).as("g"))
      .join(broadcast(evalGrams), Seq("g"), "left_semi")
      .select(col(idCol)).distinct()
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Contamination REPORT — the audit twin of [[decontaminate]]: per
    * training doc, how many of its n-grams appear in the eval set
    * (distinct grams, so a repeated leaked sentence counts once) and
    * the contaminated share in permille. Zero-hit docs are included
    * (left join) — the report covers the whole corpus, not just the
    * flagged tail. Same scale shape as the drop form: eval grams
    * broadcast, training grams never shuffle for the probe; one
    * groupBy(doc) for the tally. */
  def contaminationReport(train: DataFrame, eval: DataFrame, n: Int = 13,
                          idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import graft.functions.WordShingles.word_shingles
    val evalGrams = Partitioning.fanOut(eval)
      .select(explode(word_shingles(col(textCol), n)).as("g")).distinct()
      .withColumn("__hit", lit(1L))
    val perDoc = Partitioning.fanOut(train)
      .select(col(idCol), explode(word_shingles(col(textCol), n)).as("g"))
      .distinct() // count each leaked gram once per doc
      .join(broadcast(evalGrams), Seq("g"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_contaminated"))
    train.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"))
      .withColumn("contamination_permille",
        when(col("n_grams") === 0, lit(0L))
          .otherwise(floor(col("n_contaminated") * 1000 / col("n_grams"))).cast("long"))
  }

  /** Text normalization: strip markup tags, lowercase, collapse runs
    * of whitespace, trim — the standard pre-tokenization cleanup.
    * Narrow per-row regex/string work (RE2-and-Java-compatible
    * patterns); adds `norm_text` next to the original. */
  def normalizeText(docs: DataFrame, textCol: String = "text",
                    stripMarkup: Boolean = true, lowercase: Boolean = true,
                    collapseWhitespace: Boolean = true): DataFrame = {
    var c: Column = col(textCol)
    if (stripMarkup) c = regexp_replace(c, "<[^>]*>", " ")
    if (lowercase) c = lower(c)
    if (collapseWhitespace) c = trim(regexp_replace(c, "[ \\t\\r\\n]+", " "))
    docs.withColumn("norm_text", c)
  }

  /** Conservative char-class-only patterns: identical semantics under
    * Java regex (Spark) and RE2 (DuckDB) — no backrefs, no lookaround. */
  val emailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern: String = "\\+?[0-9][0-9 -]{7,}[0-9]"

  /** PII scrub: count and redact email addresses and phone-like
    * numbers. Redaction order is fixed (emails first) so the output is
    * deterministic. Narrow per-row regex work. */
  def piiScrub(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      size(regexp_extract_all(col(textCol), lit(emailPattern), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(col(textCol), lit(phonePattern), lit(0)))
        .cast("long").as("n_phones"),
      regexp_replace(regexp_replace(col(textCol), emailPattern, "[EMAIL]"),
        phonePattern, "[PHONE]").as("scrubbed"))

  /** Payment-card-number detection with LUHN checksum validation —
    * the PII class [[piiScrub]]'s patterns can't express (a 16-digit
    * run is only sensitive when the checksum says it's a real card
    * number; scrubbing every digit run would destroy ids, timestamps,
    * hashes): candidates are contiguous 13–19 digit runs, each
    * validated by the Luhn fold (double every second digit from the
    * right, fold >9 to d−9, sum ≡ 0 mod 10 — all exact integers, so
    * the DuckDB twin is hash-exact), and only VALID numbers are
    * replaced in the scrubbed text. Fully narrow — regex + in-row
    * folds, streaming-composable like the other scrubbers. */
  def luhnScan(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    def luhnSql(v: String): String =
      s"""(aggregate(transform(sequence(1, length($v)),
         |  i -> CASE WHEN i % 2 = 0 THEN
         |         CASE WHEN CAST(substr(reverse($v), i, 1) AS INT) * 2 > 9
         |              THEN CAST(substr(reverse($v), i, 1) AS INT) * 2 - 9
         |              ELSE CAST(substr(reverse($v), i, 1) AS INT) * 2 END
         |       ELSE CAST(substr(reverse($v), i, 1) AS INT) END),
         |  0, (a, x) -> a + x) % 10) = 0""".stripMargin
    docs
      .withColumn("__cands", expr(s"regexp_extract_all($textCol, '[0-9]{13,19}', 0)"))
      .withColumn("__valid", expr(s"filter(__cands, v -> ${luhnSql("v")})"))
      .select(col(idCol),
        size(col("__cands")).cast("long").as("n_cc_candidates"),
        size(col("__valid")).cast("long").as("n_cc_valid"),
        expr(s"aggregate(__valid, $textCol, (acc, v) -> replace(acc, v, '[CC]'))")
          .as("scrubbed"))
  }

  /** Tracking query parameters stripped by [[normalizeUrl]] —
    * char-class-only alternation (Java regex == RE2). */
  val trackingParamPattern: String = "(utm_[A-Za-z]+|fbclid|gclid)"

  /** Canonical URL form for web-corpus curation (the dedup key of a
    * crawl pipeline): lowercase the scheme+host (path/query case is
    * significant, host case is not), drop the fragment, drop tracking
    * parameters wherever they sit in the query string, repair the
    * separator chain. Pure narrow regex work, every pattern
    * RE2-and-Java compatible, fixed pass order → deterministic and
    * engine-portable. */
  def normalizeUrl(u: Column): Column = {
    // 1. lowercase scheme://host only
    val lowered = concat(
      lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*://[A-Za-z0-9.-]+)", 1)),
      regexp_replace(u, "^[A-Za-z][A-Za-z0-9+.-]*://[A-Za-z0-9.-]+", ""))
    // 2. drop the fragment
    val noFrag = regexp_replace(lowered, "#.*$", "")
    // 3. unify separators to '&', drop tracking params anywhere in the
    //    chain, restore the first separator to '?'
    val amp = regexp_replace(noFrag, "\\?", "&")
    val noTrack = regexp_replace(amp, s"&$trackingParamPattern=[^&]*", "")
    val restoreQ = regexp_replace(noTrack, "^([^&]*)&", "$1?")
    // 4. trailing empty separator
    regexp_replace(restoreQ, "[?&]$", "")
  }

  /** Normalized URL + host + registered domain (last two host labels —
    * the public-suffix list is a lookup-table refinement at
    * production; the two-label rule is its deterministic stand-in).
    * All narrow. */
  def urlParts(docs: DataFrame, urlCol: String = "url"): DataFrame =
    docs
      .withColumn("url_norm", normalizeUrl(col(urlCol)))
      .withColumn("host",
        regexp_extract(col("url_norm"), "^[a-z][a-z0-9+.-]*://([a-z0-9.-]+)", 1))
      .withColumn("domain",
        regexp_extract(col("host"), "([a-z0-9-]+\\.[a-z0-9-]+)$", 1))

  /** URL-quality gate — the crawl-frontier heuristic every web-corpus
    * build runs BEFORE fetching/keeping a page (robots-adjacent
    * hygiene: the URL alone predicts junk with high precision). Exact
    * integer scoring so the DuckDB oracle replays it bit-for-bit:
    * start at 1000 permille and subtract fixed penalties for
    *  - deep paths (> 4 segments: calendar/faceted-navigation traps),
    *  - parameter explosions (≥ 3 query params: search/filter pages),
    *  - session-id patterns (infinite URL spaces for one document),
    *  - non-document extensions (media/binary/asset payloads),
    *  - spam-heavy TLD classes,
    *  - over-long paths (> 80 chars — generated link mazes),
    * clamped at 0; `keep` = score ≥ 500. Every regex is a literal
    * alternation / char class (Java == RE2 semantics), every signal
    * is also emitted so downstream policies can re-weight without
    * re-parsing. Pure narrow expressions — composes with the frontier
    * scan at zero shuffles. */
  def urlQuality(docs: DataFrame, urlCol: String = "url"): DataFrame = {
    val u = col(urlCol)
    val host = lower(regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    val path = regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    val query = regexp_extract(u, "\\?([^#]*)", 1)
    val out = docs
      .withColumn("host", host)
      .withColumn("__path", path)
      .withColumn("__query", query)
      .withColumn("path_depth",
        (length(col("__path")) -
          length(regexp_replace(col("__path"), "/", ""))).cast("long"))
      .withColumn("n_params",
        when(col("__query") === "", lit(0L))
          .otherwise(size(org.apache.spark.sql.functions.split(
            col("__query"), "&")).cast("long")))
      .withColumn("has_session",
        (lower(col("__query")).rlike("(^|&)(sid|sessionid|phpsessid|jsessionid)=") ||
          lower(col("__path")).rlike("[0-9a-f]{24}")).cast("long"))
      .withColumn("bad_ext",
        lower(col("__path"))
          .rlike("[.](jpg|jpeg|png|gif|zip|exe|css|js|ico|svg|mp4|mp3)$")
          .cast("long"))
      .withColumn("bad_tld",
        col("host").rlike("[.](click|top|xxx|gq|tk|loan)$").cast("long"))
      .withColumn("long_path",
        (length(col("__path")) > 80).cast("long"))
      .withColumn("url_score",
        greatest(lit(0L),
          lit(1000L)
            - when(col("path_depth") > 4, 150L).otherwise(0L)
            - when(col("n_params") >= 3, 150L).otherwise(0L)
            - col("has_session") * 300L
            - col("bad_ext") * 400L
            - col("bad_tld") * 300L
            - col("long_path") * 100L))
      .withColumn("keep", (col("url_score") >= 500L).cast("long"))
    out.drop("__path", "__query")
  }

  /** Per-domain document cap — the anti-domination rule of web corpora
    * ("no single site exceeds k docs"): deterministic hash-order
    * selection within each registered domain, stable under corpus
    * growth. One shuffle on the domain (WindowGroupLimit keeps ≤ k
    * rows per group per partition before it). */
  def capPerDomain(docs: DataFrame, k: Int, urlCol: String = "url",
                   idCol: String = "doc_id"): DataFrame =
    sampleKPerStratum(urlParts(docs, urlCol), "domain", k, idCol)

  /** Greedy contiguous sequence packing: assign docs (in id order
    * within a shard) to fixed token-budget packs —
    * `pack_id = ⌊tokens_before_this_doc / budget⌋`. The batch-composer
    * step of a pretraining pipeline. One shuffle on the shard key;
    * packing is inherently sequential WITHIN a shard, so the shard
    * column is the scale unit (source, split, or a hash bucket at
    * 100 TB). A doc longer than the budget overflows its pack rather
    * than being split — the standard greedy trade-off. */
  def pack(docs: DataFrame, budgetTokens: Long, shardCol: String = "source",
           idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(budgetTokens > 0, "token budget must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    docs
      .withColumn("n_tokens", size(Dedup.tokens(col(textCol))).cast("long"))
      .withColumn("__cum", sum(col("n_tokens")).over(w))
      .withColumn("pack_id",
        floor((col("__cum") - col("n_tokens")) / budgetTokens).cast("long"))
      .drop("__cum")
  }

  /** [[pack]] under an EXPLICIT per-doc token-count frame
    * (`idCol`, `tokensCol`) — the production form: packing budgets are
    * denominated in the training tokenizer's tokens, not whitespace
    * words (a 512-token budget measured in words overflows a 512-token
    * context window by the fertility factor). Compose with
    * [[graft.operators.TextAnalysis.bpeEncode]]'s `n_bpe_tokens` for
    * learned-tokenizer packing. Same shapes as [[pack]]: one keyed
    * join + one per-shard running sum. */
  def packBy(docs: DataFrame, counts: DataFrame, budgetTokens: Long,
             tokensCol: String, shardCol: String = "source",
             idCol: String = "doc_id"): DataFrame = {
    require(budgetTokens > 0, "token budget must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    docs.select(col(idCol), col(shardCol))
      .join(counts.select(col(idCol), col(tokensCol)), idCol)
      .withColumn("__cum", sum(col(tokensCol)).over(w))
      .withColumn("pack_id",
        floor((col("__cum") - col(tokensCol)) / budgetTokens).cast("long"))
      .drop("__cum")
  }

  /** Reproducible global training order: every doc gets the
    * deterministic pseudorandom sort key md5(seed‖id) — same
    * hash-derived discipline as [[split]], so the epoch order is
    * identical on every run, engine and cluster size, with zero
    * driver/RNG state. The 100 TB shape: `repartitionByRange` on the
    * key + `sortWithinPartitions` yields a TOTALLY ordered output
    * across files (range partition i precedes i+1) without ever
    * computing a global row number — a single-partition window for
    * positions is exactly what this avoids. Different `seed` per epoch
    * gives independent orders. */
  def shuffleOrder(docs: DataFrame, seed: String,
                   idCol: String = "doc_id", partitions: Int = 0): DataFrame = {
    import graft.functions.HexSliceLong.hex_slice_long
    val keyed = docs.withColumn("shuf_key",
      hex_slice_long(md5(concat(lit(s"shuf|$seed|"),
        col(idCol).cast("string")).cast("binary")), 0))
    val n = if (partitions > 0) partitions
            else docs.sparkSession.sessionState.conf.numShufflePartitions
    keyed.repartitionByRange(n, col("shuf_key"), col(idCol))
      .sortWithinPartitions(col("shuf_key"), col(idCol))
  }

  /** Curriculum ordering for training: deterministic global order by
    * (difficulty band ASC, epoch-shuffle hash) — easy-to-hard ACROSS
    * bands, reproducibly shuffled WITHIN each band. Same guarantees
    * and shape as [[shuffleOrder]] (one range exchange, no global
    * window): a new seed per epoch re-shuffles within bands while the
    * curriculum itself stays fixed. `bandCol` is any integer
    * difficulty signal (token-length decile, inverted quality band,
    * a model-scored loss bucket). */
  def curriculum(docs: DataFrame, bandCol: Column, seed: String,
                 idCol: String = "doc_id", partitions: Int = 0): DataFrame = {
    import graft.functions.HexSliceLong.hex_slice_long
    val keyed = docs
      .withColumn("band", bandCol.cast("long"))
      .withColumn("shuf_key",
        hex_slice_long(md5(concat(lit(s"curr|$seed|"),
          col(idCol).cast("string")).cast("binary")), 0))
    val n = if (partitions > 0) partitions
            else docs.sparkSession.sessionState.conf.numShufflePartitions
    keyed.repartitionByRange(n, col("band"), col("shuf_key"), col(idCol))
      .sortWithinPartitions(col("band"), col("shuf_key"), col(idCol))
  }

  /** CCNet/RefinedWeb-style boilerplate removal, adapted to corpora
    * without line structure: segment each document into consecutive
    * `segWords`-word windows, count ACROSS the corpus how many
    * distinct documents each segment occurs in, and strip every
    * segment that appears in ≥ `minDocs` documents (navigation chrome,
    * license headers, cookie banners — anything repeated verbatim).
    * On newline-structured text, pass the line split as the segment
    * unit instead; the counting/stripping shape is identical.
    *
    * Scale shape: one explode of the segment stream + one
    * hash-shuffle on the segment for the document-frequency count
    * (map-side combinable after the per-doc `distinct`); the common
    * set is by definition the small tail of the frequency
    * distribution, so it broadcasts and the corpus-sized segment
    * stream never shuffles again for the probe. Reassembly is a
    * per-doc sort of its own bounded segment list. Returns every
    * input doc (fully-boilerplate docs come back with empty
    * `clean_text` — dropping them is a separate quality-filter
    * decision). */
  def stripBoilerplate(docs: DataFrame, segWords: Int = 4, minDocs: Int = 3,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(segWords > 0 && minDocs > 1, "segWords must be >0, minDocs >1")
    val seg = Partitioning.fanOut(docs)
      .select(col(idCol), Dedup.tokens(col(textCol)).as("__tk"))
      .select(col(idCol), posexplode_outer(
        transform(
          sequence(lit(0), greatest(ceil(size(col("__tk")) / lit(segWords)), lit(1)) - 1),
          i => concat_ws(" ", slice(col("__tk"), i * segWords + 1, lit(segWords)))))
        .as(Seq("seg_idx", "seg")))
    // document frequency per segment; `distinct` first so a segment
    // repeated WITHIN one doc counts that doc once
    val common = seg.select(col(idCol), col("seg")).distinct()
      .groupBy(col("seg")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs)
      .withColumn("__common", lit(1))
    seg.join(broadcast(common.select(col("seg"), col("__common"))), Seq("seg"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_segments"),
        coalesce(sum(col("__common")), lit(0L)).cast("long").as("n_dropped"),
        array_join(
          transform(
            array_sort(collect_list(when(col("__common").isNull,
              struct(col("seg_idx"), col("seg"))))),
            s => s.getField("seg")),
          " ").as("clean_text"))
  }

  /** Sliding-window sequence chunking: split each document's token
    * stream into training sequences of `chunkTokens` tokens advancing
    * by `strideTokens` (stride < chunk ⇒ overlap) — the doc→sequence
    * step before packing. Chunk count = ⌈max(n−chunk,0)/stride⌉ + 1
    * (computed in integer arithmetic: (x+stride−1) div stride — no
    * float ceil), so the final partial chunk is kept and short docs
    * yield exactly one chunk; empty docs yield none. Fully narrow:
    * tokens → start offsets → posexplode → direct slices, no shuffle
    * at any scale. */
  def chunk(docs: DataFrame, chunkTokens: Int, strideTokens: Int,
            idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(chunkTokens > 0 && strideTokens > 0 && strideTokens <= chunkTokens,
      "need 0 < stride <= chunk")
    val n = size(col("__tk"))
    val nch = floor((greatest(n - chunkTokens, lit(0)) + (strideTokens - 1))
      / lit(strideTokens)).cast("long") + 1
    val starts = when(n === 0, array().cast("array<bigint>"))
      .otherwise(transform(sequence(lit(0L), nch - 1), i => i * strideTokens))
    Partitioning.fanOut(docs)
      .withColumn("__tk", Dedup.tokens(col(textCol)))
      .select(col(idCol), col("__tk"),
        posexplode(starts).as(Seq("chunk_idx", "__s")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        least(lit(chunkTokens.toLong), size(col("__tk")) - col("__s")).cast("long")
          .as("n_chunk_tokens"),
        concat_ws(" ", slice(col("__tk"), col("__s") + 1, lit(chunkTokens)))
          .as("chunk_text"))
  }

  /** CONTENT-DEFINED chunking (the FastCDC/rsync idea on token
    * streams): a chunk boundary falls after token i wherever the
    * 32-bit fingerprint of the last `window` tokens ≡ 0 (mod
    * `modulus`) — expected chunk length ≈ `modulus` tokens, and the
    * boundary depends ONLY on local content. That is the property
    * fixed-stride [[chunk]] lacks: insert one token near the top of a
    * document and every fixed chunk downstream shifts (all hashes
    * change, sub-document dedup finds nothing), while CDC boundaries
    * resynchronize at the first post-edit boundary and every later
    * chunk hashes identically — the sub-document dedup that survives
    * boilerplate injection and near-miss edits.
    *
    * Output one row per chunk: (doc, chunk_idx, n_chunk_tokens,
    * chunk_md5, stale) with `stale` = 1 iff the same chunk content
    * first appears in an earlier document ([[TextAnalysis
    * .ngramNovelty]]'s first-seen discipline at chunk grain).
    *
    * Shape (round-10): chunking is ONE NARROW pass — the native
    * [[graft.functions.CdcChunks]] expression streams each doc's
    * tokens through the windowed fingerprint and the running chunk
    * hash in-row and emits the chunk table directly (the posexplode
    * position is the chunk index), so the token-grain explode, the
    * per-doc window-sum SORT and the (doc, chunk) re-assembly
    * aggregation of the previous composed form are gone from the
    * plan. The only shuffles left are chunk-grain: the stale-marker
    * groupBy(chunk_md5) + equi-join. */
  def cdcChunks(docs: DataFrame, window: Int = 4, modulus: Int = 32,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(window >= 1 && modulus >= 2, "need window >= 1 and modulus >= 2")
    import graft.functions.CdcChunks.cdc_chunks
    val ch = Partitioning.fanOut(docs)
      .withColumn("__tk", Dedup.tokens(col(textCol)))
      .filter(size(col("__tk")) >= 1)
      .select(col(idCol),
        posexplode(cdc_chunks(col("__tk"), window, modulus)).as(Seq("chunk_idx", "__ch")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        col("__ch.n_chunk_tokens").as("n_chunk_tokens"),
        col("__ch.chunk_md5").as("chunk_md5"))
    val owner = ch.groupBy(col("chunk_md5")).agg(min(col(idCol)).as("__owner"))
    ch.join(owner, "chunk_md5")
      .select(col(idCol), col("chunk_idx"), col("n_chunk_tokens"), col("chunk_md5"),
        when(col("__owner") < col(idCol), 1L).otherwise(0L).as("stale"))
  }

  /** Global top-k vocabulary: one hash-shuffle on the token (map-side
    * combinable count), then TakeOrderedAndProject for the global
    * top-k (per-partition partial top-k + k-row driver merge, never a
    * full sort). Rank is a window over the k surviving rows only. */
  def vocabulary(docs: DataFrame, k: Int, textCol: String = "text"): DataFrame = {
    val counts = Partitioning.fanOut(docs)
      .select(explode(Dedup.tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val top = Relational.topK(counts, Seq(col("cnt").desc, col("token")), k)
    // unpartitioned window over k rows only (top-k already applied) —
    // the WindowExec "No Partition Defined" warning is bounded by k,
    // not data size
    top.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("token"))).cast("long"))
  }

  /** Exact per-stratum token-length order statistics (min / p50 / p90
    * / p99 / max) — the length-distribution audit run per source
    * before setting sequence-packing budgets. The p-th quantile is the
    * ORDER STATISTIC at 1-based position ⌊(n−1)·p⌋+1 (no
    * interpolation), so every reported value is an actual document
    * length — integer-exact and engine-portable, unlike interpolated
    * `percentile`.
    *
    * Cost: one window sort partitioned by the stratum (a per-source
    * distributed sort — with billions of docs per source you'd switch
    * to `percentile_approx`; the exact path is the oracle-checkable
    * contract and right up to ~10⁸ docs per stratum) plus one count
    * per stratum joined back broadcast (strata are few). */
  def lengthQuantiles(docs: DataFrame, byCol: String = "source",
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dl = docs.select(col(byCol), col(idCol),
      size(Dedup.tokens(col(textCol))).cast("long").as("n_tokens"))
    val w = Window.partitionBy(col(byCol)).orderBy(col("n_tokens"), col(idCol))
    val ranked = dl.withColumn("rn", row_number().over(w).cast("long"))
    val cnts = dl.groupBy(col(byCol)).agg(count(lit(1)).as("n_docs"))
    def at(p: Int): Column =
      max(when(col("rn") === expr(s"((n_docs - 1) * $p) DIV 100 + 1"), col("n_tokens")))
    ranked.join(broadcast(cnts), byCol)
      .groupBy(col(byCol))
      .agg(max(col("n_docs")).as("n_docs"),
        min(col("n_tokens")).as("min_tokens"),
        at(50).as("p50_tokens"), at(90).as("p90_tokens"), at(99).as("p99_tokens"),
        max(col("n_tokens")).as("max_tokens"))
  }

  /** Cross-source lexical-overlap matrix: for every pair of sources,
    * KMV-sketch estimates of their distinct word-`n`-gram union,
    * intersection and Jaccard ([[Relational.kmvOverlap]]) — the
    * "how much does source A overlap source B" audit that decides
    * whether two crawls are worth mixing, at sketch cost. The
    * corpus is read once to build the per-source bottom-k sketch
    * (one shuffle); all pairwise math is O(#sources² · k),
    * independent of corpus size — the only way this question is
    * answerable at 100 TB, where the exact per-pair distinct join
    * would be #sources² corpus scans. */
  def sourceOverlap(docs: DataFrame, k: Int = 64, n: Int = 3,
                    byCol: String = "source",
                    textCol: String = "text"): DataFrame = {
    import graft.functions.WordShingles.word_shingles
    val grams = docs.select(col(byCol),
      explode(word_shingles(col(textCol), n)).as("g"))
    Relational.kmvOverlap(
      Relational.kmvState(grams, Seq(col(byCol)), col("g"), k), byCol, k)
      .withColumnRenamed("key_a", "source_a")
      .withColumnRenamed("key_b", "source_b")
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw doc
    * by how much more likely its hashed-unigram features are under a
    * TARGET domain than under the raw corpus,
    * `log w(x) = Σ_f c_f(x) · (ln p̂_target(f) − ln p̂_raw(f))`, with
    * add-one-smoothed bucket distributions over `buckets` hashed
    * features. Resampling the raw corpus ∝ w reshapes it toward the
    * target domain — the standard pretraining-data targeting move.
    *
    * `isTarget` marks the target-domain exemplar docs (they stay in
    * the raw estimate too, as in the paper's raw = full-corpus
    * denominator).
    *
    * Scale shape (round-10, guide §2.3): one explode +
    * groupBy(doc, bucket) for the per-doc feature counts — the ONLY
    * corpus-sized shuffle and the only corpus scan: the global bucket
    * distributions are DERIVED from the materialized (doc, bucket)
    * table (Σ per-doc counts ≡ the token-grain count, exactly),
    * where the previous form re-scanned and re-shuffled the whole
    * token stream a second time for them. The two global tables are
    * `buckets` rows — broadcast, never shuffled; scoring is a
    * broadcast join + narrow fold. The global totals ride the
    * broadcast table (max over a 64-row side), not a driver collect.
    *
    * Determinism: `ln` arguments are integers only (counts + 1,
    * totals + buckets — ratios decomposed as ln differences), the
    * per-doc fold runs over buckets SORTED by bucket id, and the
    * result is pinned at 4 decimals ([[TextAnalysis.lexicalStats]]
    * policy). Feature hashing uses the engine-portable
    * [[hashBucket]]. */
  def dsirWeights(docs: DataFrame, isTarget: Column, buckets: Int = 64,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val tok = Partitioning.fanOut(docs)
      .select(col(idCol), isTarget.as("__t"),
        explode(Dedup.tokens(col(textCol))).as("w"))
      .select(col(idCol), col("__t"), hashBucket(col("w"), buckets, "dsir|").as("f"))
    // __t is functionally dependent on the doc id, so the extra
    // grouping key does not change the grain; materialized once — it
    // feeds both the global-bucket derivation and the scoring join
    val perDoc = tok.groupBy(col(idCol), col("__t"), col("f"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    // Σ of per-doc counts per bucket ≡ the token-grain counts (same
    // integers); null __t contributes 0 to ct exactly as the previous
    // sum(cast(null as long)) skipped it
    val global = perDoc.groupBy(col("f"))
      .agg(sum(col("c")).as("cr"),
        sum(when(col("__t"), col("c")).otherwise(0L)).as("ct"))
    import org.apache.spark.sql.expressions.Window
    val totals = global
      .withColumn("tr", sum(col("cr")).over(Window.partitionBy()))
      .withColumn("tt", sum(col("ct")).over(Window.partitionBy()))
    perDoc
      .join(broadcast(totals), "f")
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_feats"), max(col("tr")).as("__tr"),
        max(col("tt")).as("__tt"),
        sort_array(collect_list(struct(col("f"), col("c"), col("ct"), col("cr"))))
          .as("__b"))
      .withColumn("dsir_logw_q4", round(
        aggregate(col("__b"), lit(0.0), (a, p) =>
          a + p.getField("c").cast("double") *
            (log((p.getField("ct") + lit(1L)).cast("double")) -
              log((col("__tt") + lit(buckets.toLong)).cast("double")) -
              log((p.getField("cr") + lit(1L)).cast("double")) +
              log((col("__tr") + lit(buckets.toLong)).cast("double")))), 4))
      .select(col(idCol), col("n_feats"), col("dsir_logw_q4"))
  }

  /** Temperature-scaled multinomial mixture weights over strata — the
    * mT5/XLM-R low-resource-upsampling rule `w_i ∝ p_i^α` at α = ½,
    * where p_i is stratum i's share of corpus tokens. α = ½ keeps the
    * exponent inside IEEE-exact `sqrt` (correctly rounded on every
    * engine, unlike a general `pow`), so the whole table is
    * bit-reproducible; raw and tempered shares are pinned at 4
    * decimals.
    *
    * Scale shape: one groupBy(stratum) over the corpus (map-side
    * combinable), then all arithmetic on the STRATA-CARDINALITY table
    * — the single-row collect_list fold is over |strata| structs, not
    * data. The Σ√p normalizer folds in sorted stratum order — one
    * canonical float summation order per engine. */
  /** UniMax budget allocation (Chung et al. 2023): distribute a token
    * budget across sources as uniformly as possible subject to a
    * per-source epoch cap — the fairer alternative to temperature
    * sampling that never over-repeats a small source. Greedy
    * waterfill over sources ASCENDING by size: each source takes
    * `min(cap, remaining DIV sources_left)` where
    * `cap = n_tokens · maxEpochsPermille ‰`; budget a capped (small)
    * source cannot absorb spills to the larger sources after it.
    * All integer arithmetic (floor division), `(n_tokens, source)`
    * ascending order — engine-exact; the DuckDB oracle replays the
    * fold as a recursive CTE.
    *
    * Scale shape: per-source token totals are ONE map-side-combinable
    * aggregate over the corpus; the waterfill itself runs driver-side
    * over the |sources|-row model — the [[Similarity.ivfTrain]]
    * centroid discipline (driver state is model-sized by
    * construction, never data-sized). Output: one row per source with
    * its quota and realized epochs (permille). */
  def unimaxAllocation(docs: DataFrame, budgetPermille: Int = 900,
                       maxEpochsPermille: Int = 900,
                       strataCol: String = "source",
                       textCol: String = "text"): DataFrame = {
    require(budgetPermille >= 1, "budgetPermille >= 1")
    require(maxEpochsPermille >= 1, "maxEpochsPermille >= 1")
    val session = docs.sparkSession
    val rows = Partitioning.fanOut(docs)
      .groupBy(col(strataCol))
      .agg(sum(size(Dedup.tokens(col(textCol))).cast("long")).as("n_tokens"))
      .select(col(strataCol).cast("string"), col("n_tokens"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (s, n) => (n, s) }
    val total = rows.map(_._2).sum
    var remaining = total * budgetPermille / 1000
    val n = rows.length
    val out = rows.zipWithIndex.map { case ((s, c), idx) =>
      val fair = remaining / (n - idx)
      val cap = c * maxEpochsPermille / 1000
      val quota = math.min(cap, fair)
      remaining -= quota
      (s, c, quota, if (c > 0) quota * 1000 / c else 0L)
    }
    import session.implicits._
    out.toSeq.toDF(strataCol, "n_tokens", "quota_tokens", "epochs_permille")
  }

  /** Repeated-epoch VALUE curve (the data-constrained-scaling readout,
    * after Muennighoff et al. 2023, "Scaling Data-Constrained Language
    * Models": repeated data decays in value roughly geometrically):
    * per stratum, epoch k of the same tokens is priced at
    *
    *   v₁ = U,   v_k = (v_{k−1} · decayPermille) div 1000
    *
    * (exact integer recurrence, engine-portable), with the running
    * effective-token total and each epoch's marginal value in permille
    * of U — the decision table for "how many epochs is this source
    * worth before fresh data beats repeating". Complements
    * [[unimaxAllocation]]: UniMax splits a budget ACROSS sources under
    * an epoch cap; this prices repetition WITHIN a source so the cap
    * itself can be chosen (read the knee where marginal_permille drops
    * below taste).
    *
    * Scale shape: one token-count aggregate per stratum, then
    * `maxEpochs` rows per stratum with ≤8-step integer folds and one
    * tiny per-stratum window — everything after the corpus scan is
    * stratum-grain (thousands of rows, not documents). */
  def repeatValueCurve(docs: DataFrame, maxEpochs: Int = 8,
                       decayPermille: Int = 700,
                       strataCol: String = "source",
                       textCol: String = "text"): DataFrame = {
    require(maxEpochs >= 1 && maxEpochs <= 64, "maxEpochs in [1, 64]")
    require(decayPermille >= 0 && decayPermille <= 1000, "decayPermille in [0, 1000]")
    val u = Partitioning.fanOut(docs)
      .groupBy(col(strataCol))
      .agg(sum(size(Dedup.tokens(col(textCol))).cast("long")).as("unique_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol)).orderBy(col("epochs"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    u.select(col(strataCol), col("unique_tokens"),
        explode(sequence(lit(1L), lit(maxEpochs.toLong))).as("epochs"))
      // sequence(2, 1) is DESCENDING in Spark — guard the 1-epoch row
      .withColumn("epoch_value",
        when(col("epochs") === 1, col("unique_tokens")).otherwise(
          expr(s"aggregate(sequence(2L, epochs), unique_tokens, " +
            s"(acc, x) -> (acc * ${decayPermille}L) div 1000L)")))
      .withColumn("effective_tokens", sum(col("epoch_value")).over(w))
      .withColumn("marginal_permille",
        when(col("unique_tokens") > 0,
          expr("(epoch_value * 1000) div unique_tokens")).otherwise(lit(0L)))
  }

  def temperatureMixture(docs: DataFrame, strataCol: String = "source",
                         textCol: String = "text"): DataFrame = {
    val per = Partitioning.fanOut(docs)
      .groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(Dedup.tokens(col(textCol))).cast("long")).as("n_tokens"))
    per
      .agg(sort_array(collect_list(
        struct(col(strataCol), col("n_docs"), col("n_tokens")))).as("__s"))
      .withColumn("__tot",
        aggregate(col("__s"), lit(0L), (a, p) => a + p.getField("n_tokens")))
      .withColumn("__z",
        aggregate(col("__s"), lit(0.0), (a, p) =>
          a + sqrt(p.getField("n_tokens").cast("double") / col("__tot").cast("double"))))
      .select(explode(col("__s")).as("p"), col("__tot"), col("__z"))
      .select(col("p").getField(strataCol).as(strataCol),
        col("p").getField("n_docs").as("n_docs"),
        col("p").getField("n_tokens").as("n_tokens"),
        round(col("p").getField("n_tokens").cast("double") /
          col("__tot").cast("double"), 4).as("share_q4"),
        round(sqrt(col("p").getField("n_tokens").cast("double") /
          col("__tot").cast("double")) / col("__z"), 4).as("temp_share_q4"))
  }

  /** Topic-mixture audit: per-(source × embedding-cluster) document
    * counts + per-source permille shares, under a k-means quantizer
    * trained on the corpus embeddings ([[Similarity.ivfTrain]] —
    * integer-exact Lloyd, so the DuckDB twin replays the identical
    * model). The data-curation transparency table: "what topics does
    * each source actually contribute?" — the cluster column is the
    * same coarse cell an IVF ANN index already maintains, so at 100 TB
    * this audit is a free by-product of index building.
    *
    * Scale shape: centroid assignment is a broadcast (k centroids)
    * against the never-shuffled embedding scan; the doc↔vector join
    * broadcasts the (id, cell) pairs when small or hash-joins on the
    * id otherwise; the final groupBy is map-side combinable at
    * (source, cell) grain. Shares are integer permille (floor) — no
    * float division to disagree across engines. */
  def topicMix(docs: DataFrame, emb: DataFrame, k: Int, iters: Int,
               strataCol: String = "source",
               docIdCol: String = "doc_id", vecIdCol: String = "vec_id"): DataFrame = {
    val cents = Similarity.ivfTrain(emb, k, iters, idCol = vecIdCol)
    val asg = Similarity.ivfAssign(emb, cents, idCol = vecIdCol)
    val joined = Partitioning.fanOut(docs)
      .select(col(docIdCol), col(strataCol))
      .join(asg, col(docIdCol) === col(vecIdCol))
    val per = joined.groupBy(col(strataCol), col("cell"))
      .agg(count(lit(1)).as("cnt"))
    val tot = per.groupBy(col(strataCol)).agg(sum(col("cnt")).as("__n"))
    per.join(tot, strataCol)
      .select(col(strataCol), col("cell"), col("cnt"),
        floor(col("cnt") * lit(1000L) / col("__n")).cast("long").as("permille"))
  }

  /** Topical-anomaly score per stratum: L1 distance (in permille)
    * between each stratum's [[topicMix]] cell distribution and the
    * corpus-wide cell distribution — the outlier-source detector a
    * curation run logs next to the mix audit ("which sources are
    * topically unlike the corpus"). Missing (stratum, cell)
    * combinations count their full corpus share (a source covering no
    * docs of a topic IS distance on that topic), via a stratum ×
    * cell dense grid — k·|strata| rows, metadata-sized.
    *
    * Exact integers end to end: both distributions are floor-permille
    * over counts, the L1 sum is over ≤ k terms per stratum. Same
    * scale shape as [[topicMix]] plus one cross join of two
    * metadata-sized frames. */
  def topicDrift(docs: DataFrame, emb: DataFrame, k: Int, iters: Int,
                 strataCol: String = "source",
                 docIdCol: String = "doc_id", vecIdCol: String = "vec_id"): DataFrame = {
    val mix = topicMix(docs, emb, k, iters, strataCol, docIdCol, vecIdCol)
    val global = mix.groupBy(col("cell")).agg(sum(col("cnt")).as("gcnt"))
      .withColumn("__g", sum(col("gcnt")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      // unpartitioned window over ≤ k rows (cell grain) — bounded by
      // the model size, not the data
      .select(col("cell"), floor(col("gcnt") * lit(1000L) / col("__g"))
        .cast("long").as("g_permille"))
    val grid = mix.select(col(strataCol)).distinct().crossJoin(broadcast(global))
    grid.join(mix.select(col(strataCol), col("cell"), col("permille")),
        Seq(strataCol, "cell"), "left")
      .withColumn("permille", coalesce(col("permille"), lit(0L)))
      .groupBy(col(strataCol))
      .agg(sum(abs(col("permille") - col("g_permille"))).as("l1_permille"))
      .select(col(strataCol), col("l1_permille"))
  }
}
