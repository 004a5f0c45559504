package graft.plans

import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf

/** Optimizer rule: a global sort whose input is no larger than AQE's
  * coalesce floor (`spark.sql.adaptive.coalescePartitions.minPartitionSize`)
  * sorts in one task. `Sort(order, global = true, child)` becomes
  * `Sort(order, global = true, Repartition(1, shuffle = false, child))`:
  * `SinglePartition` satisfies the sort's `OrderedDistribution`, so the
  * planner adds no range exchange, and the `RangePartitioner` boundary
  * job (which re-runs the sort's input) never runs. Rows and order are
  * unchanged. Under the floor the coalescer would have read the range
  * shuffle as one partition anyway, and the stage that the coalesce
  * folds into the sort reads no more than that estimate; the rule
  * removes a sampling job and a shuffle stage.
  *
  * It is injected twice (GraftExtensions): as an optimizer rule, where
  * file and local relations give the sizes, and as an AQE runtime
  * optimizer rule, where a materialized query stage gives its measured
  * size, so a sort over an aggregate of any input finishes in one task
  * once the aggregate's shuffle shows that its output is small.
  *
  * It fires only when the size is trustworthy: every node between the
  * sort and the nearest materialized stage or file/local relation must
  * estimate its size as an upper bound (see [[bounded]]). A generator or
  * object operator can grow its rows past any estimate, and an explicit
  * `repartition`/`repartitionByRange` keeps the spread it asks for.
  * Streaming plans and sorts under a limit (planned as
  * TakeOrderedAndProject) are left alone.
  *
  * The hand-placed `coalesce(1).sortWithinPartitions` finishes in the
  * query registry stay: they encode a cardinality bound that holds by
  * construction (|routes|, |hours|, |dates|), whatever the input size,
  * and no statistic shows that bound at sf1, where the inputs are far
  * above the floor.
  */
object SmallSortFinish extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming) plan else finish(plan, underLimit = false)

  private def finish(p: LogicalPlan, underLimit: Boolean): LogicalPlan = p match {
    case s @ Sort(_, true, child, _) if !underLimit && finishes(child) =>
      s.copy(child = Repartition(1, shuffle = false, finish(child, underLimit = false)))
    case _: GlobalLimit | _: LocalLimit | _: Offset | _: Tail =>
      p.mapChildren(finish(_, underLimit = true))
    // Limit(Project(Sort)) plans as TakeOrderedAndProject too
    case _: Project => p.mapChildren(finish(_, underLimit))
    case _ => p.mapChildren(finish(_, underLimit = false))
  }

  /** Whether a global sort of `input` finishes in one task: its size
    * estimate is an upper bound and at most the coalesce floor. */
  private def finishes(input: LogicalPlan): Boolean =
    bounded(input) &&
      input.stats.sizeInBytes <= conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)

  /** Whether `p`'s size estimate is an upper bound on its output: each
    * operator below keeps or shrinks its rows (a join's default estimate
    * is the product of its sides), and each leaf is measured. */
  private def bounded(p: LogicalPlan): Boolean = p match {
    case q: LogicalQueryStage =>
      if (q.isMaterialized) !spread(q.logicalPlan) else bounded(q.logicalPlan)
    case r: LogicalRelation => r.relation.isInstanceOf[HadoopFsRelation]
    case _: LocalRelation => true
    case _: Project | _: Filter | _: Aggregate | _: Window | _: Join | _: Union |
         _: Deduplicate | _: Distinct | _: Sort | _: SubqueryAlias =>
      p.children.forall(bounded)
    case _ => false
  }

  private def spread(p: LogicalPlan): Boolean = p match {
    case _: RepartitionOperation | _: RebalancePartitions => true
    case _ => false
  }
}
