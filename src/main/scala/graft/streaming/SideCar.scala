package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sinks.Sinks

/** The skeleton every `foreachBatch` side-car shares, written once.
  *
  * Exactly-once by partition overwrite: a side-car lands each
  * micro-batch's rows tagged with (`run_id`, `batch_id`) through
  * [[Sinks.upsertPartitions]], so a replayed micro-batch (same id after
  * a crash) overwrites the partition it wrote before instead of
  * appending a second copy; the streaming checkpoint commits the batch
  * only after the write returns. `runId` must be stable across
  * restarts of one logical run (same checkpoint) and distinct between
  * runs sharing an output directory, because batch ids restart at 0
  * per checkpoint.
  *
  * [[startLanding]] only lands. [[process]] (a side-car's batch entry
  * point) lands and then tallies the COMMITTED partition, so the counts
  * it returns describe what the sink holds, not what was computed. */
object SideCar {

  /** `foreachBatch` over `stream`, checkpointed at `checkpoint`. */
  def start(stream: DataFrame, checkpoint: String)
           (perBatch: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .foreachBatch(perBatch)
      .option("checkpointLocation", checkpoint)
      .start()

  /** Overwrite the (`runId`, `batchId`) partition of `outDir` with `rows`. */
  def write(rows: DataFrame, runId: String, batchId: Long, outDir: String): Unit =
    Sinks.upsertPartitions(
      rows.withColumn("run_id", lit(runId)).withColumn("batch_id", lit(batchId)),
      outDir, Seq("run_id", "batch_id"))

  /** The rows `outDir` holds for (`runId`, `batchId`). */
  def committed(spark: SparkSession, outDir: String, runId: String,
                batchId: Long): DataFrame =
    spark.read.parquet(outDir)
      .filter(col("run_id") === runId && col("batch_id") === batchId)

  /** Land `rows(batch)`; an empty batch writes nothing and returns false. */
  private def land(batch: DataFrame, runId: String, batchId: Long, outDir: String)
                  (rows: DataFrame => DataFrame): Boolean = {
    val nonEmpty = !batch.isEmpty
    if (nonEmpty) write(rows(batch), runId, batchId, outDir)
    nonEmpty
  }

  /** [[start]] that lands `rows` of each micro-batch under `runId`. */
  def startLanding(stream: DataFrame, runId: String, outDir: String, checkpoint: String)
                  (rows: DataFrame => DataFrame): StreamingQuery =
    start(stream, checkpoint)(land(_, runId, _, outDir)(rows))

  /** One micro-batch as a batch call: land, then `tally` the committed
    * partition; `empty` when the batch has no rows. */
  def process[T](batch: DataFrame, runId: String, batchId: Long, outDir: String,
                 empty: T)(rows: DataFrame => DataFrame)(tally: DataFrame => T): T =
    if (land(batch, runId, batchId, outDir)(rows))
      tally(committed(batch.sparkSession, outDir, runId, batchId))
    else empty

  /** Rows per `verdict` value. */
  def verdictCounts(committed: DataFrame): Map[String, Long] =
    committed.groupBy(col("verdict")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
}
