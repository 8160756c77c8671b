package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}

/** Session-wide strict mode against accidental cartesian products:
  * an analysis CHECK rule (injected by [[GraftExtensions]], gated on
  * `spark.graft.failOnCartesian`) that rejects condition-free
  * inner/cross joins at analysis time — before any execution, with the
  * offending plan in the message. Intended for shared-cluster sessions
  * where one unkeyed join from an ad-hoc notebook would fan out
  * |L|·|R|; explicit range joins (non-equi CONDITIONS) stay legal. */
class CartesianGuard(spark: SparkSession) extends (LogicalPlan => Unit) {
  override def apply(plan: LogicalPlan): Unit =
    if (spark.conf.get(CartesianGuard.Flag, "false").toBoolean)
      plan.foreach {
        case j: Join if j.condition.isEmpty &&
            (j.joinType == Inner || j.joinType == Cross) =>
          throw new IllegalStateException(
            s"${CartesianGuard.Flag}: condition-free ${j.joinType} join (cartesian product). " +
              s"Add a join condition, or unset ${CartesianGuard.Flag}.\n${j.toString.take(1000)}")
        case _ => ()
      }
}

object CartesianGuard {
  val Flag = "spark.graft.failOnCartesian"
}
