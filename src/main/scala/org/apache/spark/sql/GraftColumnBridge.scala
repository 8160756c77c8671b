package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{Repartition, Sort}

/** Package-private bridge into the classic Column ↔ Expression
  * conversions (`org.apache.spark.sql.classic.ExpressionUtils` is
  * `private[sql]`): the path every native graft expression takes into
  * a Column — the `graft.functions` forms, Spark's Bloom expressions
  * in `Dedup`, and [[graft.streaming.HeldDimension]]'s lookup, whose
  * constructor carries a held dimension no SQL name could. A Column
  * built here holds its expression class from the start, so it needs
  * no function registry and works on any session. Also the one place
  * a graft frame is rebuilt from a rewritten logical plan
  * (`classic.Dataset.ofRows` is `private[sql]` too). */
object GraftColumnBridge {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** `df` with its root global `Sort` placed over `Repartition(1)`, so
    * it plans `Exchange SinglePartition` instead of range partitioning
    * and runs no range-bounds sampling job — when the sum of its leaf
    * relations' `sizeInBytes` is at most
    * `spark.sql.autoBroadcastJoinThreshold`, the line under which Spark
    * already ships a whole relation to every task (-1 turns the rewrite
    * off). Any other frame comes back as it is. Same rows, same order:
    * only the sort's partitioning changes. */
  def singlePartitionSort(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val plan = ds.queryExecution.analyzed
    plan match {
      case s: Sort if s.global =>
        val threshold = ds.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
        val leaves = plan.collectLeaves().map(_.stats.sizeInBytes).sum
        if (threshold >= 0 && leaves <= threshold)
          classic.Dataset.ofRows(ds.sparkSession,
            s.copy(child = Repartition(1, shuffle = true, s.child)))
        else df
      case _ => df
    }
  }
}
