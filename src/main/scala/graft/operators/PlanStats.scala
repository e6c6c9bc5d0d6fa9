package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** The one scale decision. An operator that has a plain form for small
  * inputs and a decomposed, persisted or skew-safe form for corpora asks
  * [[atScale]] once, on the frame it was handed, and takes the large form
  * exactly when the answer is yes.
  *
  * Invariant: the reading is the size of the relations the frame is
  * computed from, as the planner knows it before any job runs, and nothing
  * that runs later moves it. It is the sum of the stat bytes of the plan's
  * distinct leaf relations (parquet file bytes, local rows, checkpoints).
  * A relation read more than once, as in an operator's join with its own
  * per-key aggregate, counts once. A persisted frame counts as the leaves
  * of the plan it caches, whether or not its blocks have been materialized
  * and whether or not the frames it was built from were: warming a memo
  * changes neither its consumers' reading nor the branch they take. Join
  * and aggregate OUTPUT stats are never read: without CBO column stats
  * Catalyst multiplies join children, so they are not a size.
  *
  * The threshold is `spark.graft.memoSide.minLeafBytes` (default 16 MiB),
  * below which the persist / checkpoint / census constants of the large
  * forms cost more than the work they remove (OPTIMIZATION_r19.md). A
  * deployment sets it; 0 forces every operator onto its large form.
  */
private[graft] object PlanStats {
  /** The reading: stat bytes of the plan's distinct leaves, saturating at
    * Long.Max. */
  def leafStatBytes(df: DataFrame): Long =
    relations(df.queryExecution.optimizedPlan).distinctBy(_.canonicalized)
      .map(_.stats.sizeInBytes).sum.min(BigInt(Long.MaxValue)).toLong

  /** The leaves of `plan`, with each persisted frame replaced by the leaves
    * of the plan it caches. */
  private def relations(plan: LogicalPlan): Seq[LogicalPlan] =
    plan.collectLeaves().flatMap {
      case cached: InMemoryRelation => relations(cached.cacheBuilder.logicalPlan)
      case leaf => Seq(leaf)
    }

  /** The threshold, in bytes. */
  def minLeafBytes(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.memoSide.minLeafBytes")
      .map(_.toLong).getOrElse(16L * 1024 * 1024)

  /** Whether `df` takes the large form of a size-dispatched operator. */
  def atScale(df: DataFrame): Boolean =
    leafStatBytes(df) >= minLeafBytes(df.sparkSession)
}
