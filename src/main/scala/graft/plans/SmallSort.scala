package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Repartition, Sort}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: a small ordered result sorts in one task.
  *
  * A global `Sort` plans a `RangePartitioning` exchange, and the range
  * bounds come from a separate sampling job that computes the sort's
  * input a second time — for an interactive page of a few hundred rows
  * that job is most of the query's fixed cost (a sink round-trip reads
  * the file it just wrote twice). Under the size Spark already trusts
  * for a broadcast (`spark.sql.autoBroadcastJoinThreshold`; -1 turns
  * both off), the result's ORDER BY — the outermost global Sort, reached
  * from the root through `Project`s only — becomes
  * `Sort(global, Repartition(1, shuffle = true, child))`: one
  * `Exchange SinglePartition` and a one-task sort, no sampling job. Rows
  * and their order are unchanged (a total order sorts the same in one
  * partition as across range partitions).
  *
  * Left alone: a Sort under `Limit`/`Offset` (it stays
  * `TakeOrderedAndProject`), interior sorts, streaming plans, and a
  * child that already is one partition, so a second application changes
  * nothing. The estimate is Spark's size-only one: a join's is the
  * product of its inputs and an explode's undercounts its fan-out.
  */
object SmallSort extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming) plan else rewrite(plan)

  private def rewrite(plan: LogicalPlan): LogicalPlan = plan match {
    case p: Project =>
      val c = rewrite(p.child)
      if (c eq p.child) p else p.copy(child = c)
    case s @ Sort(_, true, child, _) if !onePartition(child) &&
        child.stats.sizeInBytes <= conf.autoBroadcastJoinThreshold =>
      s.copy(child = Repartition(1, shuffle = true, child))
    case other => other
  }

  private def onePartition(plan: LogicalPlan): Boolean = plan match {
    case Repartition(1, _, _) => true
    case _ => false
  }

  /** Installs the rule in `session` once: the registry calls this before
    * every query, so sessions built without
    * `spark.sql.extensions=graft.GraftExtensions` get it too.
    */
  def setup(session: SparkSession): Unit = {
    val exp = session.experimental
    exp.synchronized {
      if (!exp.extraOptimizations.contains(SmallSort))
        exp.extraOptimizations = exp.extraOptimizations :+ SmallSort
    }
  }
}
