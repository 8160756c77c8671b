package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Multimodal

/** Streaming perceptual-image dedup against the PERSISTENT hash index —
  * the [[IndexProbeDedup]] side-car pattern on the multimodal axis:
  * each micro-batch of image blobs decodes (pure-JVM BMP/JPEG), hashes
  * (aHash gray block mesh) and pigeonhole-probes the stored
  * [[graft.operators.Multimodal.buildImageIndex]] table, yielding one
  * verdict per document:
  *
  *  - `dup_exact_image`   — an indexed image with the IDENTICAL hash
  *    (hamming 0: same content up to the hash's invariances);
  *  - `dup_near_image`    — within `maxDistance` bits of an indexed
  *    hash (band collision verified with the native `hamming64`);
  *  - `unique`            — decodable, no indexed hash within range;
  *  - `undecodable`       — the decode gate refused the payload (the
  *    codec seam: truncated/foreign/progressive bytes never throw).
  *
  * READ-ONLY probe (detection side-car: shadow-mode evaluation,
  * duplicate-rate monitoring, or filtering a stream whose index
  * ingestion is owned by a nightly [[Multimodal.appendImageIndex]] +
  * [[Multimodal.compactImageIndex]] job).
  *
  * Exactly-once by the [[SideCar]] contract; the probe is stateless
  * across batches (the "state" IS the parquet index), so a replayed
  * batch recomputes identical verdicts.
  *
  * Scale: per batch, shuffle ∝ batch + band-collision candidates —
  * the stored hash side meets the delta only on (band, slice) keys,
  * and the index is 16 bytes/doc, so even a 100 TB image corpus probes
  * at GB-scale index reads.
  */
object ImageProbeStream {

  /** One micro-batch (usable directly as a nightly-batch entry point):
    * write per-doc verdicts for `batch` (doc_id, blob) against the
    * index at `indexDir`, returning the committed verdict counts. */
  def process(batch: DataFrame, runId: String, batchId: Long,
              indexDir: String, outDir: String, maxDistance: Int = 1,
              grid: Int = 8, idCol: String = "doc_id"): Map[String, Long] =
    SideCar.process(batch, runId, batchId, outDir, Map.empty[String, Long])(
      verdicts(_, indexDir, maxDistance, grid, idCol))(SideCar.verdictCounts)

  /** Streaming entry: lands each micro-batch's verdicts. */
  def start(blobs: DataFrame, runId: String, indexDir: String, outDir: String,
            checkpoint: String, maxDistance: Int = 1, grid: Int = 8,
            idCol: String = "doc_id"): StreamingQuery =
    SideCar.startLanding(blobs, runId, outDir, checkpoint)(
      verdicts(_, indexDir, maxDistance, grid, idCol))

  private def verdicts(batch: DataFrame, indexDir: String, maxDistance: Int,
                       grid: Int, idCol: String): DataFrame = {
    val index = Multimodal.readImageIndex(batch.sparkSession, indexDir)
    val hashes = Multimodal.imageAHash(batch, grid)
      .select(col(idCol), col("ahash"))
    val best = Multimodal.aHashProbe(hashes, index, maxDistance)
      .groupBy(col("probe_id")).agg(min(col("hamming")).as("__minh"))
    batch.select(col(idCol))
      .join(hashes.select(col(idCol)).withColumn("__dec", lit(1)), Seq(idCol), "left")
      .join(best, col(idCol) === col("probe_id"), "left")
      .select(col(idCol),
        when(col("__dec").isNull, "undecodable")
          .when(col("__minh") === 0, "dup_exact_image")
          .when(col("__minh").isNotNull, "dup_near_image")
          .otherwise("unique").as("verdict"))
  }
}
