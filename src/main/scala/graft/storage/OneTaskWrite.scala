package graft.storage

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, RebalancePartitions, Repartition, Sort, V2WriteCommand}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.REBALANCE_PARTITIONS
import org.apache.spark.sql.internal.SQLConf

/** A V2 write whose input fits one advisory partition runs in one task.
  *
  * The catalog's writers ([[GraftWriteBuilder]], the merge-on-read and
  * position-delete delta writes in [[GraftRowLevel]]) ask for a
  * non-strict clustered distribution, which Spark plans as a
  * `RebalancePartitions` under the write: a shuffle, and under AQE a job
  * of its own. On an input of at most one advisory partition AQE
  * coalesces that rebalance to one task anyway, so this rule plans the
  * one task directly: the rebalance (also under a non-global `Sort`)
  * becomes a narrow `Coalesce 1`. The files are the same, since the
  * writer splits files by partition value within a task.
  *
  * The size test is [[graft.ops.Pin.partitions]] over the input's
  * estimated `sizeInBytes`, at the write's advisory size (the table's
  * `write.advisory-partition-bytes`, else
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes`). An input above it
  * keeps the rebalance and AQE's splitting of a hot value; a strict
  * distribution (`RepartitionByExpression`), a rebalance with a required
  * partition count and V1 writes are never touched. Installed by
  * [[graft.Engine.tune]] as an extra optimization, so it runs after
  * Spark's `V2Writes` has planned the distribution. */
object OneTaskWrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformDownWithPruning(_.containsPattern(REBALANCE_PARTITIONS)) {
      case w: V2WriteCommand => w.query match {
        case s @ Sort(_, false, r: RebalancePartitions, _) if fits(r) =>
          w.withNewQuery(s.copy(child = oneTask(r)))
        case r: RebalancePartitions if fits(r) => w.withNewQuery(oneTask(r))
        case _ => w
      }
    }

  private def fits(r: RebalancePartitions): Boolean =
    r.optNumPartitions.isEmpty && graft.ops.Pin.partitions(r.child.stats.sizeInBytes,
      r.optAdvisoryPartitionSize.getOrElse(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))) == 1

  private def oneTask(r: RebalancePartitions): LogicalPlan =
    Repartition(1, shuffle = false, r.child)
}
