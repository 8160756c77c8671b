package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Cdc

/** Streaming maintenance of a stored upsert table — the reference's
  * WHOLE job (CDC changelog → continuously-current result table,
  * Main.java:43–151) with the engine owning the table: each
  * micro-batch of keyed I/U/D rows is applied via
  * [[Cdc.applyDeltaStored]], which prunes to the batch's hash
  * buckets, merges bucket-locally and overwrites only those
  * partitions. Per batch the work is O(touched buckets), never the
  * table.
  *
  * Exactly-once WITHOUT a transaction log: a foreachBatch retry
  * replays the SAME batch, and [[Cdc.mergeInto]] of a fixed delta is
  * idempotent (same upserts, same deletes) — so at-least-once
  * delivery converges to the exactly-once state. This is a different
  * mechanism from the side-cars' per-segment overwrite
  * ([[StateStream]]): merge idempotence instead of segment isolation,
  * because an upsert table has no additive state to double-count. */
object UpsertStream {

  /** Streaming entry: foreachBatch over a changelog stream carrying
    * the table's columns plus (`opCol`, `seqCol`). The table at `dir`
    * must have been created by [[Cdc.initUpsertTable]] with the same
    * `keys`/`numBuckets`. */
  def start(changelog: DataFrame, dir: String, checkpoint: String,
            keys: Seq[String], numBuckets: Int,
            opCol: String = "op", seqCol: String = "seq"): StreamingQuery =
    SideCar.start(changelog, checkpoint) { (batch, _) =>
      Cdc.applyDeltaStored(batch.sparkSession, dir, batch, keys,
        numBuckets, opCol, seqCol)
    }
}
