package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Similarity

/** Streaming SEMANTIC near-dup detection against the persistent
  * IVF-Flat index — the third probe of the side-car trio: where
  * [[IndexProbeDedup]] answers "is this document a (near-)textual
  * copy of anything indexed" and [[WinnowProbeStream]] answers "does
  * it CONTAIN a span of anything indexed", this one answers the
  * question both miss — "does it SAY the same thing as anything
  * indexed" (paraphrases, translations re-worded, template rewrites)
  * by exact-cosine-probing each micro-batch's embeddings against the
  * stored [[graft.operators.Similarity.IvfFlatIndex]]
  * ([[graft.operators.Similarity.ivfFlatScore]] inside
  * `foreachBatch`). The flat index keeps full-precision vectors
  * precisely so this threshold verdict carries NO quantization error
  * budget — a PQ-reconstructed cosine near the threshold would be
  * undecidable.
  *
  * Verdicts: `semantic_dup_index` (with the best-matching index
  * vector and its exact cosine in millis) or `unique`. Exactly-once
  * by the [[SideCar]] contract; the probe is stateless across batches
  * (the state IS the parquet index), so a replayed batch recomputes
  * identical verdicts.
  *
  * Scale per batch: centroids broadcast for probe selection, the
  * probe set (batch × nprobe rows) broadcasts into the cell table —
  * the corpus side never shuffles; scoring work is bounded by
  * batch × (corpus/cells × nprobe), the IVF pruning contract.
  * Recall is the nprobe dial, same as every IVF serving path. */
object SemanticProbeStream {

  /** One micro-batch (usable directly as a nightly-batch entry
    * point): verdicts for `batch` (idCol + vecCol) against the index
    * at `indexDir`, returning the committed verdict counts. */
  def process(batch: DataFrame, runId: String, batchId: Long,
              indexDir: String, outDir: String, minCos: Double,
              nprobe: Int = 1, idCol: String = "vec_id",
              vecCol: String = "embedding"): Map[String, Long] =
    SideCar.process(batch, runId, batchId, outDir, Map.empty[String, Long])(
      verdicts(_, indexDir, minCos, nprobe, idCol, vecCol))(SideCar.verdictCounts)

  /** Streaming entry: lands each micro-batch's verdicts. */
  def start(vecs: DataFrame, runId: String, indexDir: String, outDir: String,
            checkpoint: String, minCos: Double, nprobe: Int = 1,
            idCol: String = "vec_id", vecCol: String = "embedding"): StreamingQuery =
    SideCar.startLanding(vecs, runId, outDir, checkpoint)(
      verdicts(_, indexDir, minCos, nprobe, idCol, vecCol))

  private def verdicts(batch: DataFrame, indexDir: String, minCos: Double,
                       nprobe: Int, idCol: String, vecCol: String): DataFrame = {
    val index = Similarity.readIvfFlatIndex(batch.sparkSession, indexDir)
    val hits = Similarity.ivfFlatScore(batch, index, nprobe, idCol, vecCol)
      .filter(col("cos") >= minCos)
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("cand_id"))))
      .filter(col("__rn") === 1)
      .select(col("query_id").as(idCol), col("cand_id").as("match_id"),
        floor(col("cos") * 1000).cast("long").as("cos_millis"))
    batch.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        when(col("match_id").isNotNull, lit("semantic_dup_index"))
          .otherwise(lit("unique")).as("verdict"),
        col("match_id"), coalesce(col("cos_millis"), lit(0L)).as("cos_millis"))
  }
}
