package graft

import org.apache.spark.sql.DataFrame

/** Plan-quality checks over the executed plan — the PERF.md plan
  * audits as code, so a regression (a broadcast that silently becomes
  * a shuffle, a HashAggregate that falls back to SortAggregate, an
  * accidental cartesian) fails a spec instead of surviving until
  * someone re-reads an `.explain`. String-shape checks, the same
  * convention `PlanShapeSpec` uses inline.
  */
object PlanLint {

  /** Human-readable violations (empty = clean).
    *
    * @param maxExchanges upper bound on shuffle exchanges
    *   (`ReusedExchange` nodes don't count — reuse is the point);
    * @param allowSortAggregate SortAggregate is a scale smell on hot
    *   paths (no codegen'd hash map; sorts every group);
    * @param allowCartesian CartesianProduct / BroadcastNestedLoopJoin
    *   are O(|L|·|R|) — at 100 TB that is an outage, not a plan. */
  def violations(df: DataFrame, maxExchanges: Int = Int.MaxValue,
                 allowSortAggregate: Boolean = true,
                 allowCartesian: Boolean = false): Seq[String] = {
    val plan = df.queryExecution.executedPlan.toString
    val b = Seq.newBuilder[String]
    if (!allowCartesian &&
        (plan.contains("CartesianProduct") || plan.contains("BroadcastNestedLoopJoin")))
      b += "cartesian: CartesianProduct/BroadcastNestedLoopJoin in plan"
    if (!allowSortAggregate && plan.contains("SortAggregate"))
      b += "sort-aggregate: SortAggregate on a path expected to hash-aggregate"
    // Only SHUFFLE exchanges count against the budget: a
    // BroadcastExchange is the cheap alternative we WANT plans to pick,
    // and charging it would pad budgets until a real shuffle regression
    // hides inside the slack. Shuffle nodes render as
    // "Exchange hashpartitioning/rangepartitioning/SinglePartition/…";
    // broadcast nodes as "BroadcastExchange"; reused ones as
    // "ReusedExchange".
    val exchanges = plan.linesIterator
      .count(l => l.contains("Exchange ") && !l.contains("BroadcastExchange") &&
        !l.contains("ReusedExchange"))
    if (exchanges > maxExchanges)
      b += s"exchanges: $exchanges shuffle exchanges, budget $maxExchanges"
    b.result()
  }
}
