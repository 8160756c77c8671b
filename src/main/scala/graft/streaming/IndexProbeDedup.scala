package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup

/** Streaming near-dedup against the PERSISTENT signature index — the
  * composition that closes the lambda split the watermark forms leave
  * open: [[graft.operators.Dedup.exactStreaming]] /
  * [[graft.operators.Dedup.nearDupPairsStreaming]] catch duplicates
  * WITHIN the watermark horizon with bounded executor state, and this
  * operator catches duplicates of the ENTIRE indexed corpus history by
  * LSH-probing the stored [[graft.operators.Dedup.DedupIndex]] once
  * per micro-batch (the batch [[graft.operators.Dedup.dedupeAgainstIndex]]
  * shape inside `foreachBatch` — exact hash anti-join, cross-corpus
  * band candidates, Jaccard verification).
  *
  * Unlike [[graft.jobs.IncrementalDedupJob]] this is a READ-ONLY
  * probe: the index is never extended, so it runs as a detection
  * side-car (shadow-mode evaluation, duplicate-rate monitoring, or
  * filtering a stream whose ingestion is owned elsewhere). Each doc
  * gets a verdict — `unique`, `dup_exact_index` (content hash already
  * indexed) or `dup_near_index` (band collision verified ≥ threshold).
  *
  * Exactly-once by the [[SideCar]] contract; the probe is stateless
  * across batches (the "state" is the parquet index), so a replayed
  * batch recomputes identical verdicts.
  *
  * Scale: per batch, shuffle ∝ batch + collision candidates. The
  * index hash side stays unshuffled through the same Bloom prune the
  * batch path uses; signatures meet the delta only on band-bucket
  * keys. Re-reading the index per batch is a metadata open — the
  * frames are lazy over parquet, and a nightly
  * [[graft.operators.Dedup.compactIndex]] keeps the file count flat.
  */
object IndexProbeDedup {

  /** One micro-batch (usable directly as the nightly-batch entry
    * point): write per-doc verdicts for `batch` against the index at
    * `indexDir`, returning the committed verdict counts.
    * `weighted = true` verifies candidates with the repetition-aware
    * multiset-Jaccard measure against the index's stored bags
    * ([[Dedup.dedupeAgainstIndexWeighted]]) instead of set Jaccard. */
  def process(batch: DataFrame, runId: String, batchId: Long,
              indexDir: String, outDir: String, thresholdPermille: Int,
              idCol: String = "doc_id", textCol: String = "text",
              weighted: Boolean = false): Map[String, Long] =
    SideCar.process(batch, runId, batchId, outDir, Map.empty[String, Long])(
      verdicts(_, indexDir, thresholdPermille, idCol, textCol, weighted))(
      SideCar.verdictCounts)

  /** Streaming entry: lands each micro-batch's verdicts. */
  def start(docs: DataFrame, runId: String, indexDir: String, outDir: String,
            checkpoint: String, thresholdPermille: Int = 900,
            idCol: String = "doc_id", textCol: String = "text",
            weighted: Boolean = false): StreamingQuery =
    SideCar.startLanding(docs, runId, outDir, checkpoint)(
      verdicts(_, indexDir, thresholdPermille, idCol, textCol, weighted))

  private def verdicts(batch: DataFrame, indexDir: String, thresholdPermille: Int,
                       idCol: String, textCol: String, weighted: Boolean): DataFrame = {
    val index = Dedup.readIndex(batch.sparkSession, indexDir)
    // exact verdicts from the hash set; near verdicts = dropped by the
    // full probe but not exact — one shared dedupeAgainstIndex pass
    // owns candidate generation and verification (shingle size comes
    // from the stored index.k, never a parameter)
    val exact = batch
      .withColumn("__h", md5(col(textCol).cast("binary")))
      .join(index.hashes, Seq("__h"), "left_semi")
      .select(col(idCol)).withColumn("__v", lit("dup_exact_index"))
    val survivors =
      if (weighted) Dedup.dedupeAgainstIndexWeighted(batch, index,
        thresholdPermille, textCol, idCol)
      else Dedup.dedupeAgainstIndex(batch, index, thresholdPermille,
        textCol, idCol)
    val unique = survivors
      .select(col(idCol)).withColumn("__v", lit("unique"))
    batch.select(col(idCol))
      .join(exact.unionByName(unique), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__v"), lit("dup_near_index")).as("verdict"))
  }
}
