package graft

import graft.operators.Multimodal

/** Streaming web ingest: stream ≡ batch parity against the
  * corpus_e2e_web chain, refused-blob accounting, replay idempotence. */
class WebIngestStreamSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("streaming web ingest ≡ corpus_e2e_web on identical bytes; refusals " +
    "verdict; replay overwrites its own partition") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("webingest").toString
    val outDir = s"$dir/verdicts"

    // 12 ids cover content-coding × transport × np × keep-threshold
    val fixture = (0L until 12L).map(id => (id, Multimodal.webWarcBytes(id)))
    val truncated = Multimodal.webWarcBytes(3L).dropRight(5)
    val garbage = Array.tabulate[Byte](24)(i => (i * 53 + 1).toByte)

    val mem = MemoryStream[(Long, Array[Byte])]
    val q = graft.streaming.WebIngestStream.start(
      mem.toDF().toDF("doc_id", "blob"), "r1", outDir, s"$dir/ckpt")
    try {
      mem.addData(fixture.take(6): _*)
      q.processAllAvailable()
      mem.addData(fixture.drop(6): _*)
      mem.addData((100L, truncated), (101L, garbage))
      q.processAllAvailable()
    } finally q.stop()

    def verdicts(): Map[Long, (Long, Long, Long, String)] =
      spark.read.parquet(outDir)
        .select("doc_id", "n_kept", "n_words", "keep", "text_md5")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap

    val got = verdicts()
    assert(got.size === 14, s"every input row gets one verdict, got ${got.size}")
    // parity: the BATCH query over the same documents computes the same
    // (n_kept, n_words, keep, text_md5) — same code path by design
    val batch = SparkEntry.queries("corpus_e2e_web")(spark, sf)
      .filter(col("doc_id") < 12)
      .select("doc_id", "n_kept", "n_words", "keep", "text_md5")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(batch.size === 12)
    for ((id, v) <- batch) assert(got(id) === v, s"parity id=$id")
    // keep varies with np (np=2 → 44–46 words < 50 → drop; np≥3 → keep
    // unless another rule fails): both verdicts must occur
    assert(got.filter(_._1 < 12).values.map(_._3).toSet === Set(0L, 1L))
    // refused rows: truncated WARC and garbage get the sentinel
    assert(got(100L) === ((-1L, 0L, 0L, "")))
    assert(got(101L) === ((-1L, 0L, 0L, "")))

    // exactly-once: replaying a (run, batch) overwrites, never appends
    graft.streaming.WebIngestStream.process(
      fixture.take(6).toDF("doc_id", "blob"), "r1", batchId = 0L, outDir)
    assert(verdicts().size === 14, "replayed batch must not double-append")
    // a fresh run accumulates alongside
    val stats = graft.streaming.WebIngestStream.process(
      Seq((200L, Multimodal.webWarcBytes(7L))).toDF("doc_id", "blob"),
      "r2", 0L, outDir)
    assert(verdicts().size === 15)
    assert(stats.values.sum === 1L)
  }

  test("an empty micro-batch returns no counts and writes no partition") {
    import spark.implicits._
    val outDir = java.nio.file.Files.createTempDirectory("webingest_empty")
      .resolve("verdicts")
    val stats = graft.streaming.WebIngestStream.process(
      Seq.empty[(Long, Array[Byte])].toDF("doc_id", "blob"), "r1", 3L,
      outDir.toString)
    assert(stats.isEmpty)
    assert(!java.nio.file.Files.exists(outDir), "an empty batch writes no partition")
  }
}
