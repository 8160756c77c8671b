package graft.streaming

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Keyed changelog compaction with explicit state — the Spark-native
  * replacement for the reference's retract stream + REPLACE-INTO sink
  * (O11/O15): per key, keep the newest version and emit a row only
  * when the winner changes (an upsert changelog, dedup'd at the
  * source instead of at the database).
  *
  * Two streaming compactors share these semantics: [[compact]] keeps
  * each key's state forever, [[compactExpiring]] expires it on an
  * event-time TTL. [[compactBatch]] is their stateless twin for one
  * micro-batch — the sort-free compactor the CDC sink runs per
  * `foreachBatch` (`Relational.latestByKey` stays the batch-suite
  * form, a `row_number` window).
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
    * source's maximum disorder. Downstream,
    * [[graft.sinks.JdbcUpsertSink]] does not guard on versions: a
    * re-emitted stale event overwrites the newer row it reaches. */
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

  /** Micro-batch compactor — the stateless twin of [[compact]] that
    * the CDC sink runs on every `foreachBatch`: one row per (possibly
    * composite) key, the row with the greatest `versionCol` wins. On
    * batches whose versions are unique per key it keeps exactly the
    * rows of `Relational.latestByKey`, the batch-suite form.
    *
    * Sort-free: one hash exchange on the key puts all rows of a key in
    * one partition (AQE may coalesce whole partitions, never split a
    * key), then one pass per partition keeps the newest row per key in
    * a hash map and emits its values. No window, so no sort and no
    * Tungsten sort page per micro-batch; the map holds one row per
    * distinct key of its partition. Rows of a key stay in one output
    * partition, so [[graft.sinks.JdbcUpsertSink.write]]'s
    * per-partition transactions never contend on a key.
    *
    * Versions order by their own type: integral, date, timestamp or
    * (binary-collated) string; a null version loses to any other. Any
    * other version type fails with an `IllegalArgumentException` when
    * the plan is built. Keys group by value as `partitionBy` does:
    * nulls together, `-0.0` with `0.0`, NaN with NaN.
    *
    * Ties are replay-stable: among rows of one key with equal versions
    * (Canal's `es` is whole-second, so they happen), the greater row
    * under a fixed order of the remaining columns wins — compared in
    * schema order, nulls lowest, numbers by value, strings and binaries
    * by their bytes, booleans, dates and timestamps naturally, nested
    * values by their rendering. The winner depends on neither the
    * partitioning nor the arrival order, so a replayed micro-batch
    * upserts the same row. */
  def compactBatch(events: DataFrame, keyCols: Seq[String], versionCol: String): DataFrame = {
    val schema = events.schema
    val versionIdx = schema.fieldIndex(versionCol)
    schema(versionIdx).dataType match {
      case ByteType | ShortType | IntegerType | LongType | DateType | TimestampType |
           TimestampNTZType =>
      case s: StringType if s.collationId == StringType.collationId =>
      case t => throw new IllegalArgumentException(
        s"compactBatch: version column '$versionCol' is ${t.simpleString}; " +
          "expected an integral, date, timestamp or string column")
    }
    val keyIdx = keyCols.map(schema.fieldIndex).toArray
    val keyTypes = keyIdx.map(schema(_).dataType)
    keyIdx.zip(keyTypes).foreach {
      case (i, s: StringType) if s.collationId != StringType.collationId =>
        throw new IllegalArgumentException(s"compactBatch: key column " +
          s"'${schema(i).name}' is ${s.simpleString}; keys must compare by value")
      case _ =>
    }
    // the version first, then every other non-key column: the tie-break
    val orderIdx = versionIdx +: schema.indices
      .filterNot(i => i == versionIdx || keyIdx.contains(i)).toArray
    val orderTypes = orderIdx.map(schema(_).dataType)
    events.repartition(keyCols.map(col): _*).mapPartitions { rows: Iterator[Row] =>
      val order = orderTypes.map(valueOrder)
      def key(r: Row): Any =
        if (keyIdx.length == 1) groupValue(r.get(keyIdx(0)), keyTypes(0))
        else ArraySeq.tabulate[Any](keyIdx.length)(j => groupValue(r.get(keyIdx(j)), keyTypes(j)))
      def newer(a: Row, b: Row): Boolean = {
        var j = 0
        var c = 0
        while (c == 0 && j < orderIdx.length) {
          c = order(j)(a.get(orderIdx(j)), b.get(orderIdx(j)))
          j += 1
        }
        c > 0
      }
      val newest = mutable.HashMap.empty[Any, Row]
      rows.foreach { r =>
        val k = key(r)
        newest.get(k) match {
          case Some(cur) if !newer(r, cur) =>
          case _ => newest.update(k, r)
        }
      }
      newest.valuesIterator
    }(Encoders.row(schema))
  }

  /** A key value as a hash-map key with `partitionBy`'s grouping:
    * binaries by content, floating point by bits after folding -0.0
    * into 0.0 (NaN bits are canonical). */
  private def groupValue(v: Any, t: DataType): Any = (v, t) match {
    case (null, _) => null
    case (d: java.lang.Double, DoubleType) => java.lang.Double.doubleToLongBits(d + 0.0)
    case (f: java.lang.Float, FloatType) => java.lang.Float.floatToIntBits(f + 0.0f)
    case (b: Array[Byte], BinaryType) => ArraySeq.unsafeWrapArray(b)
    case _ => v
  }

  /** Total order on one column's `Row` values, nulls lowest. */
  private def valueOrder(t: DataType): (Any, Any) => Int = {
    val nonNull: (Any, Any) => Int = t match {
      case ByteType | ShortType | IntegerType | LongType => (a, b) =>
        java.lang.Long.compare(a.asInstanceOf[Number].longValue, b.asInstanceOf[Number].longValue)
      case FloatType | DoubleType => (a, b) =>
        java.lang.Double.compare(a.asInstanceOf[Number].doubleValue, b.asInstanceOf[Number].doubleValue)
      case _: StringType => (a, b) =>
        UTF8String.fromString(a.asInstanceOf[String])
          .binaryCompare(UTF8String.fromString(b.asInstanceOf[String]))
      case BinaryType => (a, b) =>
        java.util.Arrays.compareUnsigned(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
      case BooleanType | _: DecimalType | DateType | TimestampType | TimestampNTZType => (a, b) =>
        a.asInstanceOf[Comparable[Any]].compareTo(b)
      case _ => (a, b) => String.valueOf(a).compareTo(String.valueOf(b))
    }
    (a, b) =>
      if (a == null) { if (b == null) 0 else -1 }
      else if (b == null) 1
      else nonNull(a, b)
  }

  /** Single-key convenience form. */
  def compactBatch(events: DataFrame, keyCol: String, versionCol: String): DataFrame =
    compactBatch(events, Seq(keyCol), versionCol)
}
