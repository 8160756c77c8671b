package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** The reference's CDC-ETL pipeline semantics (SURVEY.md §2 O3–O10)
  * re-expressed over the harness's `events` change feed:
  * filter → parse → project → dimension-enrich → time-predicate →
  * occupancy aggregation.
  *
  * The `events` table plays the binlog stream (event_id = binlog id,
  * event_type = op type, props = payload JSON, user_id = FK into the
  * customer dimension); customer⋈nation⋈region plays the reference's
  * 3-table room/location/region dimension
  * (CreateJDBCInputFormat.java:28–31).
  */
object Cdc {

  /** O3: conjunctive op-type selection on the change feed. */
  def filterOps(events: DataFrame, ops: Seq[String]): DataFrame =
    events.filter(col("event_type").isin(ops: _*))

  /** O4: payload JSON → typed columns via `from_json` (never regex,
    * never string concat — the declarative form Catalyst can prune). */
  def parseProps(events: DataFrame): DataFrame =
    events.withColumn("k",
      from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k"))

  /** The pre-joined dimension (reference O7): customer → nation →
    * region, left joins, projected to the enrichment columns. Small
    * enough to broadcast — exactly the reference's ship-the-dim
    * strategy, minus the hand-written SQL pushdown. */
  def dimension(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    val r = Tables.region(spark, sfDir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"), "left")
      .select(c("c_custkey"), c("c_name"), c("c_mktsegment"),
        n("n_name").as("nation"), r("r_name").as("region"))
  }

  /** O9: the core stream⋈dimension LEFT equi-join. The dimension side
    * is broadcast (BroadcastHashJoinExec) so the unbounded side never
    * shuffles — the property that keeps this join alive at 100 TB of
    * stream. */
  def enrich(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), events("user_id") === dim("c_custkey"), "left")

  /** O10: "active at T" — the reference's commented meeting-in-progress
    * predicate (Main.java:104–106), normalized from its (invalid)
    * chained comparison to a conjunction, with a *fixed* probe
    * timestamp instead of wall clock so results are deterministic and
    * retry-safe (the reference's LOCALTIMESTAMP is not). Interval end =
    * ts + round(value) minutes. */
  def activeAt(events: DataFrame, probe: String): DataFrame = {
    val t = lit(probe).cast("timestamp_ntz")
    events.filter(col("ts") <= t &&
      t < col("ts") + expr("make_dt_interval(0, 0, cast(round(value) as int), 0)"))
  }

  /** MERGE INTO as a batch operator — apply a keyed I/U/D changelog to
    * a snapshot, the generic form of the reference's entire egress
    * (REPLACE-INTO upsert = I/U, SinkToMySQL.java:35; DELETE handling
    * the reference omits, README.md:275): per key the HIGHEST-`seqCol`
    * delta row wins (last-writer, [[Relational.latestByKey]]), then
    * op `D` drops the key, anything else upserts the delta row's
    * value columns; untouched target rows pass through. `target` must
    * be keyed-unique (it is a snapshot); `delta` must carry the
    * target's columns plus (`opCol`, `seqCol`); (key, seq) pairs must
    * be unique per op for determinism.
    *
    * Scale shape: one window shuffle on the DELTA (delta-sized) plus
    * one full-outer equi-join shuffle on the key — the unavoidable
    * cost of touching every key once. */
  def mergeInto(target: DataFrame, delta: DataFrame, keys: Seq[String],
                opCol: String = "op", seqCol: String = "seq"): DataFrame = {
    val valueCols = target.columns.filterNot(keys.contains).toSeq
    require(valueCols.nonEmpty, "target needs at least one non-key column")
    require((keys ++ valueCols :+ opCol :+ seqCol).forall(delta.columns.contains),
      "delta must carry the target schema plus op/seq columns")
    val latest = Relational.latestByKey(delta, keys.map(col), Seq(col(seqCol)))
      .select(keys.map(col) ++ valueCols.map(c => col(c).as(s"__new_$c")) :+
        col(opCol).as("__op"): _*)
    target.join(latest, keys, "full_outer")
      .filter(col("__op").isNull || col("__op") =!= "D")
      .select(keys.map(col) ++ valueCols.map(c =>
        when(col("__op").isNotNull, col(s"__new_$c")).otherwise(col(c)).as(c)): _*)
  }

  /** Change-data-feed GENERATION — [[mergeInto]]'s inverse: diff two
    * snapshots into the keyed I/U/D changelog that replays old → new
    * (the feed a downstream [[mergeInto]] consumer ingests when the
    * upstream system only publishes snapshots).
    * Verdicts come from [[Relational.snapshotDiff]]; I/U rows carry the
    * NEW snapshot's payload, D rows null payloads. Round-trip law
    * `mergeInto(old, changelogFrom(old, new)) ≡ new` is spec-proven.
    * Cost: the diff's full-outer key join plus one payload equi-join —
    * O(snapshot) shuffles, the honest snapshot-diff price. */
  def changelogFrom(oldSnap: DataFrame, newSnap: DataFrame, keys: Seq[String],
                    opCol: String = "op", seqCol: String = "seq"): DataFrame = {
    val valueCols = oldSnap.columns.filterNot(keys.contains).toSeq
    require(valueCols.nonEmpty, "snapshots need at least one non-key column")
    val diff = Relational.snapshotDiff(oldSnap, newSnap, keys, valueCols)
    val ud = diff.filter(col("change") =!= "delete")
      .join(newSnap, keys)
      .select(keys.map(col) ++ valueCols.map(col) ++ Seq(
        when(col("change") === "insert", "I").otherwise("U").as(opCol),
        lit(1).as(seqCol)): _*)
    val dels = diff.filter(col("change") === "delete")
      .select(keys.map(col) ++ valueCols.map(c =>
        lit(null).cast(oldSnap.schema(c).dataType).as(c)) ++ Seq(
        lit("D").as(opCol), lit(1).as(seqCol)): _*)
    ud.unionByName(dels)
  }

  /** The README's business goal the reference never coded: per-region
    * occupancy/reservation rate (README.md:10). Here: per-nation open
    * order share. Pure two-phase hash aggregate (map-side partials),
    * one shuffle on the group key. */
  def occupancyRate(orders: DataFrame, customer: DataFrame): DataFrame = {
    val j = orders.join(customer, orders("o_custkey") === customer("c_custkey"))
    j.groupBy(col("c_nationkey"))
      .agg(
        sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("n_open"),
        count(lit(1)).as("n_orders"))
      .withColumn("open_rate", round(col("n_open") * lit(1.0) / col("n_orders"), 4))
  }
}
