package graft

import graft.operators.Multimodal

/** Streaming modality router: batch ≡ streaming parity over the
  * all-container mixed corpus, unknown/refused verdicts, replay
  * idempotence, multi-run accumulation. */
class MultimodalStreamSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("streaming router ≡ batch router on the mixed corpus; unknowns and " +
    "refusals verdict; replay overwrites its own partition") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("mmstream").toString
    val outDir = s"$dir/verdicts"

    // the all-branch mixed fixture (ids 0..15 hit every container
    // twice) + a corrupt TIFF (recognized magic, refused parse) + pure
    // garbage (unknown magic)
    val fixture = Multimodal.syntheticMixedBlobs((0L until 16L).toDF("doc_id"))
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    // a truncated TIFF: magic recognized, strict parse refuses
    val corrupt = Multimodal.tiffBytes(3L, 5, 4, 3,
      bigEndian = false, rowsPerStrip = 2).dropRight(3)
    val garbage = Array.tabulate[Byte](32)(i => (i * 41 + 7).toByte)

    val mem = MemoryStream[(Long, Array[Byte])]
    val q = graft.streaming.ModalityRouterStream.start(
      mem.toDF().toDF("doc_id", "blob"), "r1", outDir, s"$dir/ckpt")
    try {
      mem.addData(fixture.take(8).toSeq: _*)
      q.processAllAvailable()
      mem.addData(fixture.drop(8).toSeq: _*)
      mem.addData((100L, corrupt), (101L, garbage))
      q.processAllAvailable()
    } finally q.stop()

    def verdicts(): Map[Long, (String, Long, Long)] =
      spark.read.parquet(outDir)
        .select("doc_id", "format", "verified", "units")
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap

    val got = verdicts()
    assert(got.size === 18, s"every input row gets one verdict, got ${got.size}")
    // parity: streaming verdicts ≡ the batch router on identical bytes
    val batchRows = Multimodal.routeInventory(
        fixture.toSeq.toDF("doc_id", "blob"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    for ((id, v) <- batchRows)
      assert(got(id) === v, s"parity id=$id")
    // expected formats by the fixture's id%8 rule, all verified
    val expected = Map(0 -> "tiff", 1 -> "warc", 2 -> "zip", 3 -> "mp3",
      4 -> "adpcm", 5 -> "gif", 6 -> "jpeg", 7 -> "png")
    for ((id, (f, v, _)) <- got if id < 16)
      assert(f === expected((id % 8).toInt) && v === 1L, s"id=$id got $f/$v")
    // recognized-but-refused and unknown verdicts
    assert(got(100L) === (("tiff", 0L, 0L)), s"got ${got(100L)}")
    assert(got(101L) === (("unknown", 0L, 0L)))

    // exactly-once: replaying a (run, batch) overwrites, never appends
    val stats = graft.streaming.ModalityRouterStream.process(
      (fixture.take(8).toSeq).toDF("doc_id", "blob"), "r1", batchId = 0L, outDir)
    assert(verdicts().size === 18, "replayed batch must not double-append")
    assert(stats.values.sum === 8L)
    // a fresh run accumulates alongside
    graft.streaming.ModalityRouterStream.process(
      Seq((200L, fixture(0)._2)).toDF("doc_id", "blob"), "r2", 0L, outDir)
    val all = verdicts()
    assert(all.size === 19 && all(200L)._1 === "tiff")
  }

  test("an empty micro-batch returns no counts and writes no partition") {
    import spark.implicits._
    val outDir = java.nio.file.Files.createTempDirectory("mmstream_empty")
      .resolve("verdicts")
    val stats = graft.streaming.ModalityRouterStream.process(
      Seq.empty[(Long, Array[Byte])].toDF("doc_id", "blob"), "r1", 3L,
      outDir.toString)
    assert(stats.isEmpty)
    assert(!java.nio.file.Files.exists(outDir), "an empty batch writes no partition")
  }
}
