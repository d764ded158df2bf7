package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.SQLConfHelper
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, NamedExpression, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, LeafNode, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning}
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.internal.SQLConf

/**
 * Planner rule: a global sort computes its input once.
 *
 * A global `Sort` plans as `SortExec` over a range-partitioning exchange,
 * and the exchange's `RangePartitioner` picks its bounds by running the
 * child in a sampling job before the shuffle-map stage runs it again. For
 * a child that does real work (tile assembly, per-cell kernels, codecs,
 * joins) that is the whole pre-sort pipeline twice. This strategy plans
 * such a sort in one of two ways.
 *
 * When adaptive execution re-plans the sort over finished query stages and
 * their measured output is small, the sort runs in one task: `SortExec`
 * over `CoalesceExec(1)`. That is the single sorted partition AQE's
 * `CoalesceShufflePartitions` would shrink the range shuffle to anyway,
 * without the sampling job, the range shuffle or a checkpoint. It fires
 * when all of these hold:
 *  - every leaf under the sort is a materialized query stage, and none is
 *    the sort's own range shuffle (after a sort over a bare scan runs it);
 *  - no `Generate` sits between those stages and the sort (its size
 *    estimate is its child's, however many rows it emits);
 *  - the child's size, refined by the stages' runtime statistics, fits the
 *    partition size coalescing targets: `minPartitionSize` when coalescing
 *    favours parallelism, else `advisoryPartitionSizeInBytes`. No conf of
 *    its own; with AQE or coalescing off it never fires.
 * A wrong estimate costs the sort its parallelism, never its result.
 *
 * Otherwise the sort plans as `SortExec` over [[MaterializeSortInputExec]],
 * which lazily local-checkpoints the child's rows: the sampling job
 * computes and stores them, and the map stage reads the stored blocks
 * back. That cuts the lineage, which the one-task plan does not.
 *
 * The child does no real work when it is only `Filter`s and `Project`s
 * that keep or rename columns over a leaf (a file or DSv2 scan, a
 * `LocalRelation`, a `LogicalRDD`); such a sort is left to Spark's own
 * planning. A `Project` that computes a value counts as work: per-row
 * tokenizers, codecs and regexes over a scan are what the sampler would
 * otherwise run twice. A finished adaptive-execution query stage is
 * judged by the logical plan it replaced, so the decision stays the same
 * when AQE re-plans the sort over finished stages. `sortWithinPartitions`
 * is not global, and `limit` over a sort is planned as
 * TakeOrderedAndProject before this rule sees the sort.
 */
object MaterializeSortInput extends SparkStrategy with SQLConfHelper {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _) if fitsOneTask(child) =>
      SortExec(order, global = true, CoalesceExec(1, planLater(child))) :: Nil
    case Sort(order, true, child, _) if doesWork(child) =>
      SortExec(order, global = true, MaterializeSortInputExec(planLater(child))) :: Nil
    case _ => Nil
  }

  private def fitsOneTask(child: LogicalPlan): Boolean =
    child.collectLeaves().forall {
      case q: LogicalQueryStage => q.isMaterialized &&
        !q.physicalPlan.exists(_.outputPartitioning.isInstanceOf[RangePartitioning])
      case _ => false
    } && child.find(_.isInstanceOf[Generate]).isEmpty &&
      coalesceTargetBytes.exists(child.stats.sizeInBytes <= _)

  /** The partition size AQE's `CoalesceShufflePartitions` packs a small
    * shuffle into: `minPartitionSize` when it spreads the shuffle over a
    * minimum number of partitions (parallelism first, or an explicit
    * `minPartitionNum` above 1), else the advisory size; None when it does
    * not coalesce. */
  private def coalesceTargetBytes: Option[Long] =
    if (!conf.coalesceShufflePartitionsEnabled) None
    else {
      val spreads = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM)
        .map(_ > 1).getOrElse(conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
      Some(conf.getConf(
        if (spreads) SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE
        else SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    }

  private def doesWork(p: LogicalPlan): Boolean = p match {
    case Project(exprs, c) => !exprs.forall(keepsColumn) || doesWork(c)
    case Filter(_, c) => doesWork(c)
    case q: LogicalQueryStage => doesWork(q.logicalPlan)
    case _: LeafNode => false
    case _ => true
  }

  private def keepsColumn(e: NamedExpression): Boolean = e match {
    case _: Attribute => true
    case Alias(_: Attribute, _) => true
    case _ => false
  }
}

/**
 * The child's rows, copied into a lazily local-checkpointed RDD
 * (MEMORY_AND_DISK). The blocks stay in the block manager until the RDD
 * is unpersisted or garbage-collected, and the checkpoint cuts lineage:
 * a lost executor's blocks are not recomputed.
 */
case class MaterializeSortInputExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] =
    child.execute().map(_.copy()).localCheckpoint()

  override protected def withNewChildInternal(c: SparkPlan): MaterializeSortInputExec =
    copy(child = c)
}
