package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Multimodal, TextAnalysis, WebExtract}

/** Streaming web-corpus ingest — the `corpus_e2e_web` chain as an
  * exactly-once side-car: each micro-batch of crawl WARC blobs runs
  * verified framing → HTTP envelope + Content-Encoding decode → HTML
  * main-content extraction → Gopher features, yielding one verdict row
  * per input document:
  *
  *  - (keep = 1, n_kept, n_words, text_md5)   — gated training text;
  *  - (keep = 0, ...)                         — parsed but below the
  *    quality bar (features tell which rule failed downstream);
  *  - (keep = 0, n_kept = -1)                 — the archive/envelope
  *    refused (truncated WARC, lying HTTP length, bad coding) or no
  *    text/html response present: the stream's accounting covers the
  *    corpus, not just the parseable part.
  *
  * Exactly-once by the [[SideCar]] contract; the chain is stateless
  * across batches (identical bytes → identical verdicts on replay),
  * so the batch query and this side-car are the same code
  * path and must agree row-for-row ([[graft.MultimodalStreamSpec]]'s
  * parity discipline, proven in `WebIngestStreamSpec`).
  *
  * Scale: the whole chain is narrow (decode → extract → score per
  * row); the only shuffle is the per-batch verdict write.
  */
object WebIngestStream {

  /** One micro-batch (usable directly as a nightly-batch entry point):
    * write per-doc verdicts for `batch` (doc_id, blob), returning the
    * committed keep/drop/refused counts. */
  def process(batch: DataFrame, runId: String, batchId: Long,
              outDir: String, idCol: String = "doc_id"): Map[String, Long] =
    SideCar.process(batch, runId, batchId, outDir, Map.empty[String, Long])(
      verdicts(_, idCol))(committed => SideCar.verdictCounts(committed.select(
        when(col("n_kept") < 0, "refused")
          .when(col("keep") === 1, "keep").otherwise("drop").as("verdict"))))

  /** Streaming entry: lands each micro-batch's verdicts. */
  def start(blobs: DataFrame, runId: String, outDir: String,
            checkpoint: String, idCol: String = "doc_id"): StreamingQuery =
    SideCar.startLanding(blobs, runId, outDir, checkpoint)(verdicts(_, idCol))

  private def verdicts(batch: DataFrame, idCol: String): DataFrame = {
    val bodies = Multimodal.warcHttpBodies(batch)
      .filter(col("content_type") === "text/html")
    val extracted = WebExtract.htmlExtract(bodies, htmlCol = "body_text")
    val flat = extracted.withColumn("flat",
      regexp_replace(col("text"), "\n", " "))
    val scored = TextAnalysis.gopherFeatures(flat, textCol = "flat")
      .select(col(idCol), col("n_kept"), col("n_words"), col("keep"),
        md5(col("text").cast("binary")).as("text_md5"))
    batch.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_kept"), lit(-1L)).as("n_kept"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("keep"), lit(0L)).as("keep"),
        coalesce(col("text_md5"), lit("")).as("text_md5"))
  }
}
