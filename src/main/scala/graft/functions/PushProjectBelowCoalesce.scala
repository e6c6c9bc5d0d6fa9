package graft.functions

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Repartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{PROJECT, REPARTITION_OPERATION}

/** Moves a deterministic `Project` below a non-shuffling `Repartition`
  * (`coalesce(n)`), the way Spark's own rules move a `Filter` there.
  *
  * A coalesce changes which partition a row is in and nothing else, so a
  * deterministic projection gives the same rows on either side of it. Below
  * it, a projection over a local relation folds into the relation's rows on
  * the driver (`ConvertToLocalRelation`) instead of running in a generated
  * class, which is what keeps a selection's box predicates and flag columns
  * out of code generation when `GraftQC` works on a loaded series
  * (coalesced to one partition so that its aggregates plan no exchange).
  * A projection with a nondeterministic expression (`rand()`,
  * `monotonically_increasing_id()`, `spark_partition_id()`,
  * `input_file_name()`) can depend on the partition, and stays above.
  */
object PushProjectBelowCoalesce extends Rule[LogicalPlan] {
  def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsAllPatterns(PROJECT, REPARTITION_OPERATION)) {
      case Project(list, r @ Repartition(_, false, child)) if list.forall(_.deterministic) =>
        r.copy(child = Project(list, child))
    }
}
