package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup
import graft.streaming.SideCar

/** Continuous ingestion with a PERSISTENT dedup index — the piece the
  * watermark-horizon forms cannot give: every micro-batch is deduped
  * against the ENTIRE corpus history (exact content hash + LSH near-
  * dup), not just the horizon, because the "state" is the parquet
  * [[Dedup.DedupIndex]], not executor memory.
  *
  *   batch k:  in-batch dedup (exact keep-min-id + LSH/Jaccard linear
  *             pass — new-vs-new) → [[Dedup.dedupeAgainstIndex]]
  *             against the stored index (new-vs-history) → survivors
  *             appended to the corpus, their hashes/signatures/token
  *             sets appended to the index.
  *
  * Consistency: survivors land by the [[SideCar]] contract (partition
  * overwrite keyed on run id and micro-batch id), so the corpus
  * output is exactly-once. Index appends are retried at-least-once,
  * which is harmless by construction: duplicate hash rows change no
  * anti-join result and duplicate signatures only re-propose the same
  * candidates.
  *
  * Scale: each batch pays shuffle ∝ batch + collision candidates; the
  * index is never rescanned as a whole except the hash anti-join
  * (hash-keyed, and at 100 TB that side is a bucketed/partitioned
  * table — the frames come from parquet either way).
  */
object IncrementalDedupJob {

  /** True iff `path` exists on whatever filesystem the path names —
    * java.io.File would silently report false for hdfs://…/s3a://…
    * paths and skip history dedup forever. */
  private def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  // First-ever batch seeds an EMPTY index from the batch's own schema
  // (limit 0) via Dedup.writeIndex — one place owns the index layout,
  // and writeIndex writes the meta sentinel LAST, so `meta` existing
  // implies all three data dirs are readable; a crash mid-init just
  // re-runs init with no orphaned data rows. Seeding from the batch
  // (not a hardcoded (Long, String) frame) keeps the seed parquet
  // footers type-identical to every later append.

  /** One micro-batch (also the nightly-batch entry point — same code
    * path both modes). Writes the surviving docs and extends the
    * index; `k` applies only when this call CREATES the index —
    * afterwards the stored `index.k` governs every run (a mixed-k
    * signature store would defeat LSH silently).
    *
    * Crash-recovery invariant: the index appends run signatures →
    * token sets → hashes, with the HASH append last. The hash set is
    * what step 3's anti-join consults, so a replayed batch recomputes
    * the same survivors unless their hashes committed — and the hash
    * append committing implies the other two already did. A crash
    * between the corpus write and the index appends heals the same
    * way: the streaming checkpoint only commits the batch after
    * foreachBatch returns, so restart replays it and the partition
    * overwrite makes the corpus write idempotent. */
  def process(batch: DataFrame, runId: String, batchId: Long,
              indexDir: String, outDir: String,
              thresholdPermille: Int, k: Int,
              idCol: String = "doc_id", textCol: String = "text",
              minQuality: Long = 0L,
              maxMojibakePermille: Long = 1000L): Map[String, Long] = {
    val spark = batch.sparkSession
    if (batch.isEmpty) return Map.empty
    if (!pathExists(spark, s"$indexDir/meta"))
      Dedup.writeIndex(
        Dedup.buildIndex(batch.select(col(idCol), col(textCol)).limit(0),
          k, textCol, idCol), indexDir)
    val index = Dedup.readIndex(spark, indexDir)
    val nIn = batch.count()
    // 0. quality gate (off by default): composite-score floor +
    // encoding-corruption ceiling — the same narrow gates the batch
    // curation job applies, here per ingestion delta. Applied BEFORE
    // any dedup work so junk never pays shingling cost.
    require(minQuality <= 0L || textCol == "text",
      "the quality gate's feature extractor reads the 'text' column")
    val gated =
      if (minQuality <= 0L && maxMojibakePermille >= 1000L) batch
      else if (minQuality <= 0L)
        // mojibake ceiling alone: the permille expression is
        // textCol-parameterized and the composite score (which hard-codes
        // 'text', hence the require above) is never computed — a
        // mojibake-only gate neither pays the score pass nor restricts
        // the column name.
        batch.filter(
          graft.operators.TextAnalysis.mojibakePermille(col(textCol)) <= maxMojibakePermille)
      else graft.operators.TextAnalysis.withQualityScore(batch)
        .filter(col("quality_score") >= minQuality &&
          graft.operators.TextAnalysis.mojibakePermille(col(textCol)) <= maxMojibakePermille)
        .select(batch.columns.map(col): _*)
    val gatedC = gated.cache()
    val nGated = gatedC.count()
    // 1. in-batch exact dedup: keep each content hash's smallest id
    val keep = Dedup.exact(gatedC, textCol, idCol).select(col("keep_id").as(idCol))
    val exactDeduped = gatedC.join(keep, idCol).cache()
    val nExact = exactDeduped.count()
    // 2. in-batch near-dedup: linear pass drops the greater id of each
    // verified pair (cluster representative = smallest id); shingle
    // size = the INDEX's k, so in-batch and vs-history agree
    val sig = Dedup.minhashSignature(
      Dedup.shingled(exactDeduped, index.k, textCol), idCol = idCol)
    val losers = Dedup.jaccardVerify(exactDeduped,
        Dedup.lshCandidatePairs(sig, idCol = idCol), thresholdPermille, idCol, textCol)
      .select(col("doc_b").as(idCol)).distinct()
    val batchClean = exactDeduped.join(losers, Seq(idCol), "left_anti")
    val nClean = batchClean.count()
    // 3. history dedup against the persistent index
    val survivors = Dedup.dedupeAgainstIndex(batchClean, index,
        thresholdPermille, textCol, idCol).cache()
    val nSurvivors = survivors.count()
    // 4. exactly-once corpus append: the batch owns its partition
    SideCar.write(survivors, runId, batchId, outDir)
    survivors.unpersist()
    exactDeduped.unpersist()
    gatedC.unpersist()
    // 5. extend the index with the accepted docs — hashes LAST (see
    // crash-recovery invariant above). The delta is REBUILT FROM THE
    // COMMITTED CORPUS PARTITION, not from `survivors`: survivors'
    // lineage reads the index paths, and appending to a path
    // invalidates every cached plan that reads it — the later appends
    // would silently recompute survivors against an index containing
    // the batch's own just-appended signatures (every doc self-matches
    // as a near-dup → empty recompute → rows lost). Reading back the
    // written partition also means the index describes exactly what
    // the corpus committed.
    val written = SideCar.committed(spark, outDir, runId, batchId)
      .drop("run_id", "batch_id")
    val idx = Dedup.buildIndex(written, index.k, textCol, idCol)
    idx.signatures.write.mode("append").parquet(s"$indexDir/signatures")
    idx.tokenSets.write.mode("append").parquet(s"$indexDir/token_sets")
    idx.hashes.write.mode("append").parquet(s"$indexDir/hashes")
    // per-batch funnel for monitoring/alerting: each stage's survivor
    // count, in pipeline order (counts ride the cached frames the
    // stages materialize anyway)
    Map(
      "docs_in" -> nIn,
      "after_quality_gate" -> nGated,
      "after_exact_dedup" -> nExact,
      "after_near_dedup" -> nClean,
      "after_history_dedup" -> nSurvivors)
  }

  /** Streaming entry: runs [[process]] per micro-batch. */
  def start(docs: DataFrame, runId: String, indexDir: String, outDir: String,
            checkpoint: String,
            thresholdPermille: Int = 950, k: Int = 3,
            minQuality: Long = 0L, maxMojibakePermille: Long = 1000L): StreamingQuery =
    SideCar.start(docs, checkpoint) { (batch, batchId) =>
      process(batch, runId, batchId, indexDir, outDir, thresholdPermille, k,
        minQuality = minQuality, maxMojibakePermille = maxMojibakePermille)
    }

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(kk, v) => kk -> v }.toMap
    val builder = SparkSession.builder()
      .appName("incremental-dedup")
      .config("spark.sql.session.timeZone", "UTC")
    if (!new org.apache.spark.SparkConf().contains("spark.master"))
      builder.master("local[*]")
    val spark = builder.getOrCreate()
    val schema = spark.read.parquet(a("--in")).schema
    val docs = spark.readStream.schema(schema).parquet(a("--in"))
    val q = start(docs, a.getOrElse("--run-id", "run0"),
      a("--index"), a("--out"), a("--checkpoint"),
      a.getOrElse("--jaccard-permille", "950").toInt,
      a.getOrElse("--k", "3").toInt)
    q.awaitTermination()
  }
}
