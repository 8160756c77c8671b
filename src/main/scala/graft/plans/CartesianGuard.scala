package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.rules.Rule

/** Session-wide strict mode against accidental cartesian products:
  * an optimizer rule that rewrites nothing (injected by
  * [[GraftExtensions]], gated on `spark.graft.failOnCartesian`) and
  * rejects condition-free inner/cross joins before any execution, with
  * the offending plan in the message. Intended for shared-cluster
  * sessions where one unkeyed join from an ad-hoc notebook would fan
  * out |L|·|R|; explicit range joins (non-equi CONDITIONS) stay legal.
  * It reads the optimized plan, as Spark's own `CheckCartesianProducts`
  * does: the Dataset API analyzes a using-join (`a.join(b, Seq("k"))`)
  * once without its condition, so a check on analyzed plans would
  * reject every such join. */
class CartesianGuard(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (spark.conf.get(CartesianGuard.Flag, "false").toBoolean)
      plan.foreach {
        case j: Join if j.condition.isEmpty &&
            (j.joinType == Inner || j.joinType == Cross) =>
          throw new IllegalStateException(
            s"${CartesianGuard.Flag}: condition-free ${j.joinType} join (cartesian product). " +
              s"Add a join condition, or unset ${CartesianGuard.Flag}.\n${j.toString.take(1000)}")
        case _ => ()
      }
    plan
  }
}

object CartesianGuard {
  val Flag = "spark.graft.failOnCartesian"
}
