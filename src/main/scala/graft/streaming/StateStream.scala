package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Relational

/** Streaming maintenance for ANY mergeable profile state: each
  * micro-batch is folded to its PARTIAL state
  * by the caller-supplied builder ([[Relational.histogramState]],
  * [[Relational.cmsState]], [[Relational.kmvState]],
  * [[Relational.aggState]], [[Relational.distinctStateExact]] — any
  * frame whose merge is a plain re-aggregation) and landed in the
  * segmented store under `seg=(run id, batch id)`
  * ([[Relational.appendState]]), so a foreachBatch retry overwrites
  * its own partition — exactly-once even for the NON-idempotent
  * count/sum states, the house rule. Readers call
  * [[Relational.readMergedState]] with the state's own merge at any
  * moment for the profile over everything ingested so far; a
  * periodic [[Relational.compactStateStore]] keeps the store at
  * O(state), not O(state × batches).
  *
  * Scale per batch: whatever the builder costs on batch-sized input
  * (every state in the family is one narrow projection + a map-side-
  * combinable aggregate); the stored state never rescans history. */
object StateStream {

  /** One micro-batch (usable directly as a nightly-batch entry
    * point): land `batch`'s partial state built by `state`. */
  def process(batch: DataFrame, runId: String, batchId: Long, dir: String)
             (state: DataFrame => DataFrame): Unit = {
    if (!batch.isEmpty)
      Relational.appendState(state(batch), dir, s"$runId-$batchId")
  }

  /** Streaming entry: lands each micro-batch's partial state. `runId`
    * must be stable across RESTARTS of the same logical run (same
    * checkpoint) and distinct between runs sharing `dir`. */
  def start(events: DataFrame, runId: String, dir: String, checkpoint: String)
           (state: DataFrame => DataFrame): StreamingQuery =
    SideCar.start(events, checkpoint)(process(_, runId, _, dir)(state))
}
