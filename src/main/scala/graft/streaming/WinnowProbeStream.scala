package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup

/** Streaming EXCERPT detection against the persistent winnow index —
  * the [[IndexProbeDedup]] side-car pattern over
  * [[graft.operators.Dedup.WinnowIndex]]: each micro-batch winnows its
  * documents with the index's stored (k, w) and probes the postings
  * for corpus-history excerpt overlap
  * ([[graft.operators.Dedup.excerptAgainstIndex]] inside
  * `foreachBatch`). Where the near-dedup probe answers "is this
  * document a (near-)copy of anything indexed", this one answers the
  * asymmetric question Jaccard misses — "does this document CONTAIN a
  * span of anything indexed" (quotes, wrapped articles, template
  * reuse) — at the winnowed 2/(w+1) index density with the
  * ≥ w + k − 1 substring-match guarantee.
  *
  * Verdicts: `excerpt_of_index` (with the strongest-overlap index doc
  * and its shared-fingerprint count) or `unique`. Exactly-once by the
  * [[SideCar]] contract; the probe itself is stateless across batches
  * (the state IS the parquet index), so a replayed batch recomputes
  * identical verdicts.
  *
  * Scale per batch: delta-side winnowing is narrow (native one-pass
  * expression), the postings census is map-side-combinable, and the
  * governed fingerprint join is collision-bounded — shuffle ∝ batch +
  * collision candidates, never corpus. */
object WinnowProbeStream {

  /** One micro-batch (usable directly as a nightly-batch entry
    * point): verdicts for `batch` against the index at `indexDir`,
    * returning the committed verdict counts. */
  def process(batch: DataFrame, runId: String, batchId: Long,
              indexDir: String, outDir: String, minShared: Int = 3,
              maxPostings: Int = 10000, idCol: String = "doc_id",
              textCol: String = "text"): Map[String, Long] =
    SideCar.process(batch, runId, batchId, outDir, Map.empty[String, Long])(
      verdicts(_, indexDir, minShared, maxPostings, idCol, textCol))(
      SideCar.verdictCounts)

  /** Streaming entry: lands each micro-batch's verdicts. */
  def start(docs: DataFrame, runId: String, indexDir: String, outDir: String,
            checkpoint: String, minShared: Int = 3, maxPostings: Int = 10000,
            idCol: String = "doc_id", textCol: String = "text"): StreamingQuery =
    SideCar.startLanding(docs, runId, outDir, checkpoint)(
      verdicts(_, indexDir, minShared, maxPostings, idCol, textCol))

  private def verdicts(batch: DataFrame, indexDir: String, minShared: Int,
                       maxPostings: Int, idCol: String, textCol: String): DataFrame = {
    val index = Dedup.readWinnowIndex(batch.sparkSession, indexDir)
    val hits = Dedup.excerptAgainstIndex(batch, index, minShared, maxPostings,
        idCol, textCol)
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("new_id"))
          .orderBy(col("n_shared").desc, col("index_id"))))
      .filter(col("__rn") === 1)
      .select(col("new_id").as(idCol), col("index_id"), col("n_shared"))
    batch.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        when(col("index_id").isNotNull, lit("excerpt_of_index"))
          .otherwise(lit("unique")).as("verdict"),
        col("index_id"), coalesce(col("n_shared"), lit(0L)).as("n_shared"))
  }
}
