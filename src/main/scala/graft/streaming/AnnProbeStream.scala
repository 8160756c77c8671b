package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Similarity

/** Streaming ANN serving against the STORED IVFPQ index — the
  * [[IndexProbeDedup]] architecture applied to similarity search:
  * a stream of query vectors is answered per micro-batch by
  * multi-probe ADC over the persisted
  * [[graft.operators.Similarity.AnnIndex]]
  * ([[graft.operators.Similarity.ivfPqTopKIndexedProbes]]), so
  * real-time retrieval (semantic search over a fixed corpus snapshot,
  * online near-dup screening of incoming embeddings, retrieval
  * augmentation) runs with the BATCH serving semantics exactly — one
  * code path, spec-proven parity.
  *
  * READ-ONLY side-car, like the dedup probe: the index is never
  * extended here (ingestion owns that via
  * [[graft.operators.Similarity.annIndexAppend]] and nightly
  * [[graft.operators.Similarity.compactAnnIndex]] — results reflect
  * each batch's current on-disk snapshot, so an append lands in
  * serving at the next micro-batch, no restart).
  *
  * Exactly-once by the [[SideCar]] contract; the probe is stateless
  * across batches (the "state" IS the parquet index), so a replayed
  * batch recomputes identical hits.
  *
  * Scale: per batch, cost is the query-side broadcasts (probe set =
  * batch×nprobe rows, ADC tables batch×m×pqK×nprobe) + one
  * (cell, code) equi-join against the code table — queries never
  * touch corpus embeddings. Re-opening the index per batch is a
  * parquet metadata open over lazy frames.
  */
object AnnProbeStream {

  /** One micro-batch (usable directly as a batch entry point): serve
    * top-k for `batch` from the index at `indexDir`, write the hit
    * list exactly-once, return the committed hit-row count. */
  def process(batch: DataFrame, runId: String, batchId: Long,
              indexDir: String, outDir: String, k: Int, nprobe: Int,
              idCol: String = "vec_id", vecCol: String = "embedding"): Long =
    SideCar.process(batch, runId, batchId, outDir, 0L)(
      hits(_, indexDir, k, nprobe, idCol, vecCol))(_.count())

  /** Streaming entry: lands each micro-batch's hit list. */
  def start(queries: DataFrame, runId: String, indexDir: String, outDir: String,
            checkpoint: String, k: Int = 5, nprobe: Int = 2,
            idCol: String = "vec_id", vecCol: String = "embedding"): StreamingQuery =
    SideCar.startLanding(queries, runId, outDir, checkpoint)(
      hits(_, indexDir, k, nprobe, idCol, vecCol))

  private def hits(batch: DataFrame, indexDir: String, k: Int, nprobe: Int,
                   idCol: String, vecCol: String): DataFrame =
    Similarity.ivfPqTopKIndexedProbes(batch,
      Similarity.readAnnIndex(batch.sparkSession, indexDir), k, nprobe, idCol, vecCol)
}
