package graft.tools

import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive._
import org.apache.spark.sql.execution.exchange._

/** Walks an executed (final adaptive) plan tree node by node — structural
  * plan checks (PlanSpec's scan budget, `x_skew_uniqueness`'s skew-join
  * probe) traverse the tree because plan strings get truncated. Does NOT
  * descend into ReusedExchange (that subtree is the shared one, counted
  * once at its definition site). */
object SuitePlanProbe {
  def walk(p: SparkPlan): Seq[SparkPlan] = {
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case _: ReusedExchangeExec    => Seq.empty
      case _                        => p.children
    }
    // subqueries (scalar/in-subquery/dynamic-pruning) wrap plans of their
    // own — a scan hiding inside one must count against the scan budget
    p +: (kids ++ p.subqueries).flatMap(walk)
  }
}
