package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan, Offset, Project, Repartition, Sort, Tail}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: a global `Sort` whose input is within one task's worth
  * ([[graft.Checkpoints.fitsOneTask]]) sorts locally in one partition,
  * `Sort(global = false, Repartition(1, shuffle = false, child))`. A sort
  * within a single partition is a total order, so rows and their order
  * are unchanged; the plan loses the range exchange's sampling job and
  * its shuffle stage, a fixed cost that every oracle-checked query pays,
  * since each ends in a total ORDER BY.
  *
  * Left alone: a streaming sort (its plan belongs to the stream's
  * stateful operators), and a sort that a `Limit`, `Offset` or `Tail`
  * reaches through projections, which the planner turns into a bounded
  * top-k (`TakeOrderedAndProject`).
  */
object OneTaskSort extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case _: GlobalLimit | _: LocalLimit | _: Offset | _: Tail =>
      plan.mapChildren(keepSort)
    case s @ Sort(_, true, child, _)
        if !child.isStreaming && graft.Checkpoints.fitsOneTask(child) =>
      s.copy(global = false,
        child = Repartition(1, shuffle = false, apply(child)))
    case _ => plan.mapChildren(apply)
  }

  /** Below a limit: projections and the sort they reach stay as they are. */
  private def keepSort(plan: LogicalPlan): LogicalPlan = plan match {
    case _: Project => plan.mapChildren(keepSort)
    case _: Sort => plan.mapChildren(apply)
    case _ => apply(plan)
  }

  /** Idempotent live-session install; `SparkEntry.queries` calls it
    * before every build, and both SQL binders of
    * `graft.functions.GraftFunctions` install it too. */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
}
