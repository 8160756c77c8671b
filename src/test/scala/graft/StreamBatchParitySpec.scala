package graft

import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.streaming.Windows

/** Streaming/batch duality on REAL data: the watermarked streaming
  * session aggregation over the events parquet must produce exactly
  * the batch result — the property that lets one library serve both
  * the reference's streaming job and its backfill.
  */
class StreamBatchParitySpec extends SparkSpec {
  import spark.implicits._

  test("streaming session_window over events parquet equals the batch sessions") {
    val raw = Tables.table(spark, sf, "events")
    val dir = java.nio.file.Paths.get(tempDir("sessstream"))
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    // second-truncated event time from either physical `ts` encoding:
    // long epoch nanos (floored in exact integers) or a timestamp
    val tsSec = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        expr("(ts - pmod(ts, 1000000000)) div 1000000000")
      case _ => unix_seconds(col("ts").cast("timestamp"))
    }
    val stream = spark.readStream.schema(raw.schema).parquet(dir.toString)
      .withColumn("ts_evt", timestamp_seconds(tsSec).cast("timestamp"))
    val agg = Windows.sessions(stream, "ts_evt", "user_id", "6 hours", "0 seconds")
    // session_window aggregation forbids update mode; complete mode is
    // fine here (the memory sink holds the final merged sessions)
    val q = agg.writeStream.outputMode("complete").format("memory")
      .queryName("sess_parity_out").start()
    q.processAllAvailable(); q.stop()
    val streaming = spark.table("sess_parity_out")
      .select(col("user_id"), col("sess_start").cast("long"),
        col("sess_end").cast("long"), col("n_events"))
      .as[(Long, Long, Long, Long)].collect().toSet

    val batch = Windows.sessions(
        Tables.events(spark, sf).withColumn("ts", col("ts").cast("timestamp")),
        "ts", "user_id", "6 hours", "0 seconds")
      .select(col("user_id"), col("sess_start").cast("long"),
        col("sess_end").cast("long"), col("n_events"))
      .as[(Long, Long, Long, Long)].collect().toSet

    assert(streaming === batch)
    assert(streaming.nonEmpty)
  }
}
