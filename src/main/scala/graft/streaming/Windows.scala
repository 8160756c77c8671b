package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-time windowed aggregation and sessionization for streams —
  * the watermark-bounded ops the reference declared EventTime for but
  * never used (Main.java:50, SURVEY.md §2.1).
  *
  * State posture at scale: watermarks bound every state store; the
  * grouping key includes the window, so state partitions by
  * (key, window) and expires as the watermark passes — no unbounded
  * keyed state, no TTL knobs.
  */
object Windows {

  /** Gap-based session windows per user via the native
    * `session_window` (dynamic-gap state handled by Spark's session
    * store; batch twin is Relational.sessionize). */
  def sessions(events: DataFrame, tsCol: String, userCol: String,
               gap: String, maxLateness: String): DataFrame =
    events
      .withWatermark(tsCol, maxLateness)
      .groupBy(session_window(col(tsCol), gap).as("win"), col(userCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col(userCol), col("win.start").as("sess_start"),
        col("win.end").as("sess_end"), col("n_events"))

  /** Sliding-window rates (the dashboard "last N minutes" view). */
  def sliding(events: DataFrame, tsCol: String, keyCol: String,
              windowLen: String, slide: String, maxLateness: String): DataFrame =
    events
      .withWatermark(tsCol, maxLateness)
      .groupBy(window(col(tsCol), windowLen, slide).as("win"), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("win.start").as("win_start"), col("win.end").as("win_end"),
        col(keyCol), col("n"))
}
