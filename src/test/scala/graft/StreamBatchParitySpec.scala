package graft

import org.apache.spark.sql.functions._

import graft.sources.{Files, Tables}
import graft.streaming.Windows

/** Streaming/batch duality on REAL data: the watermarked streaming
  * tumbling aggregation over the events parquet must produce exactly
  * the batch groupBy result — the property that lets one library
  * serve both the reference's streaming job and its backfill.
  */
class StreamBatchParitySpec extends SparkSpec {
  import spark.implicits._

  test("streaming tumbling window over events parquet equals the batch aggregate") {
    val raw = Tables.table(spark, sf, "events") // ts: nanos long OR timestamp
    // the streaming file source wants a directory of files
    val dir = java.nio.file.Paths.get(tempDir("evstream"))
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = Files.parquetStream(spark, dir.toString, raw.schema)
      .withColumn("ts_evt",
        Tables.secondTimestamp(col("ts"), raw.schema("ts").dataType).cast("timestamp"))
    val agg = Windows.tumbling(stream, "ts_evt", "event_type", "1 hour", "0 seconds")
    val q = agg.writeStream.outputMode("update").format("memory")
      .queryName("parity_out").start()
    q.processAllAvailable(); q.stop()
    val streaming = spark.table("parity_out")
      .select(col("win_start").cast("long"), col("event_type"), col("n"),
        round(col("sum_value"), 2))
      .as[(Long, String, Long, Double)].collect().toSet

    val batch = Tables.events(spark, sf)
      .groupBy(date_trunc("hour", col("ts")).cast("timestamp").cast("long").as("win_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .as[(Long, String, Long, Double)].collect().toSet

    assert(streaming === batch)
    assert(streaming.nonEmpty)
  }

  test("streaming session_window over events parquet equals the batch sessions") {
    val raw = Tables.table(spark, sf, "events")
    val dir = java.nio.file.Paths.get(tempDir("sessstream"))
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = Files.parquetStream(spark, dir.toString, raw.schema)
      .withColumn("ts_evt",
        Tables.secondTimestamp(col("ts"), raw.schema("ts").dataType).cast("timestamp"))
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
