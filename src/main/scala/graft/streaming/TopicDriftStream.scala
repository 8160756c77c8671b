package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Similarity

/** Streaming topic-drift monitor: per micro-batch, incoming
  * embeddings are assigned to a FROZEN k-means quantizer's cells
  * (the same integer-exact model [[Similarity.ivfTrain]] emits and
  * `corpus_topic_mix` audits) and the per-cell histogram is persisted
  * exactly-once — the ingest-side data-drift alarm: when a batch's
  * cell mix shifts against the training-time mix, the corpus IS
  * changing before any downstream model sees it.
  *
  * READ-ONLY side-car over the centroid parquet ([[AnnProbeStream]]
  * architecture): retraining owns the model directory; a new model
  * lands in monitoring at the next micro-batch, no restart.
  *
  * Exactly-once by the [[SideCar]] contract; assignment is stateless
  * across batches, so a replayed batch recomputes an identical
  * histogram.
  *
  * Scale: assignment is a broadcast of the (k×dims, driver-small by
  * construction) centroid table against the never-shuffled batch
  * scan; the histogram is one map-side-combinable groupBy at cell
  * grain (≤ k rows out per batch).
  */
object TopicDriftStream {

  /** One micro-batch (usable directly as a batch entry point):
    * assign `batch` under the centroids at `centroidsDir`, write the
    * (cell, cnt, permille) histogram exactly-once, return the batch
    * row count the committed histogram holds. */
  def process(batch: DataFrame, runId: String, batchId: Long,
              centroidsDir: String, outDir: String,
              idCol: String = "vec_id", vecCol: String = "embedding"): Long =
    SideCar.process(batch, runId, batchId, outDir, 0L)(
      histogram(_, centroidsDir, idCol, vecCol))(
      _.agg(sum(col("cnt"))).head().getLong(0))

  /** Streaming entry: lands each micro-batch's histogram. */
  def start(vectors: DataFrame, runId: String, centroidsDir: String,
            outDir: String, checkpoint: String,
            idCol: String = "vec_id", vecCol: String = "embedding"): StreamingQuery =
    SideCar.startLanding(vectors, runId, outDir, checkpoint)(
      histogram(_, centroidsDir, idCol, vecCol))

  private def histogram(batch: DataFrame, centroidsDir: String,
                        idCol: String, vecCol: String): DataFrame = {
    val asg = Similarity.ivfAssign(batch,
      batch.sparkSession.read.parquet(centroidsDir), idCol, vecCol)
    val total = asg.count()
    asg.groupBy(col("cell"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("permille", floor(col("cnt") * 1000 / lit(total)).cast("long"))
  }
}
