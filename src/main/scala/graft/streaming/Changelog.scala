package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Keyed changelog compaction with explicit state — the Spark-native
  * replacement for the reference's retract stream + REPLACE-INTO sink
  * (O11/O15): per key, keep the newest version and emit a row only
  * when the winner changes (an upsert changelog, dedup'd at the
  * source instead of at the database).
  *
  * Two streaming compactors share these semantics: [[compact]] keeps
  * each key's state forever, [[compactExpiring]] expires it on an
  * event-time TTL. [[compactBatch]] is their batch twin.
  *
  * State is one (version, payload-hash) pair per key, partitioned by
  * key across executors — at 100 TB of stream the state size is bound
  * by live keys, not events.
  */
object Changelog {

  final case class VersionedEvent(key: Long, version: Long, payload: String)
  final case class TimedVersionedEvent(key: Long, version: Long, payload: String,
                                       ts: java.sql.Timestamp)
  final case class KeyState(version: Long, payload: String)
  final case class ExpiringKeyState(version: Long, payload: String, maxTsMs: Long)

  /** flatMapGroupsWithState worker: emit the event iff it advances the
    * key's version (ties broken toward first-seen, matching
    * last-writer-wins upsert replay idempotence). */
  def compact(events: Dataset[VersionedEvent]): Dataset[VersionedEvent] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[VersionedEvent], state: GroupState[KeyState]) =>
          val newest = it.reduceOption((a, b) => if (b.version > a.version) b else a)
          newest match {
            case Some(e) if !state.exists || e.version > state.get.version =>
              state.update(KeyState(e.version, e.payload))
              Iterator.single(e)
            case _ => Iterator.empty
          }
      }
  }

  /** [[compact]] with bounded state: each key's dedup state expires once
    * the event-time watermark passes (last event time + `ttlMs`). At
    * 100 TB of churning keys, NoTimeout state grows with every key ever
    * seen — an event-time TTL caps it at the keys active within the TTL
    * window. Trade-off: an event for a key arriving later than the TTL
    * is re-emitted even if stale; choose `ttlMs` larger than the
    * source's maximum disorder (the idempotent upsert sink keyed on a
    * version column still converges downstream). */
  def compactExpiring(events: Dataset[TimedVersionedEvent], watermarkDelay: String,
                      ttlMs: Long): Dataset[TimedVersionedEvent] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, it: Iterator[TimedVersionedEvent], state: GroupState[ExpiringKeyState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // one pass: newest by version (the compaction winner) AND
            // max event time (the expiry anchor — tracked in state so a
            // LATE event can never pull the expiry backward)
            var newest: Option[TimedVersionedEvent] = None
            var maxTs = if (state.exists) state.get.maxTsMs else Long.MinValue
            it.foreach { e =>
              if (newest.forall(_.version < e.version)) newest = Some(e)
              maxTs = math.max(maxTs, e.ts.getTime)
            }
            val out = newest match {
              case Some(e) if !state.exists || e.version > state.get.version =>
                state.update(ExpiringKeyState(e.version, e.payload, maxTs))
                Iterator.single(e)
              case Some(_) =>
                // stale version, but still activity: refresh the anchor
                state.update(state.get.copy(maxTsMs = maxTs))
                Iterator.empty
              case None => Iterator.empty
            }
            // clamp to watermark+1: a fully-late batch whose ts+ttl is
            // already behind the watermark would make
            // setTimeoutTimestamp throw
            if (newest.isDefined) {
              state.setTimeoutTimestamp(
                math.max(maxTs + ttlMs, state.getCurrentWatermarkMs() + 1))
            }
            out
          }
      }
  }

  /** Batch twin of [[compact]] for replay/backfill: one row per
    * (possibly composite) key, newest version wins (same semantics as
    * Relational.latestByKey). */
  def compactBatch(events: DataFrame, keyCols: Seq[String], versionCol: String): DataFrame =
    graft.operators.Relational.latestByKey(events,
      keyCols.map(col), Seq(col(versionCol)))

  /** Single-key convenience form. */
  def compactBatch(events: DataFrame, keyCol: String, versionCol: String): DataFrame =
    compactBatch(events, Seq(keyCol), versionCol)
}
