package graft.ops

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange,
  ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.internal.SQLConf

/** AQE query-stage preparation rule: a global sort whose input AQE
  * would coalesce to ONE partition anyway sorts in one task.
  *
  * `orderBy` plans `Sort(global) ← Exchange(rangepartitioning)`. The
  * range exchange costs a `RangePartitioner` sampling job and a shuffle
  * map stage; when the input is small, `CoalesceShufflePartitions`
  * then merges the shuffle back into a single partition, so both jobs
  * are thrown-away work. This rule plans `Sort(global) ← Coalesce(1)`
  * instead — same rows, same order, one task, no sample job, no shuffle.
  *
  * It fires only when both hold:
  *  - size: Spark's estimate of the sort input is at most the total
  *    shuffle size AQE's coalescing always merges into one partition —
  *    `coalescePartitions.minPartitionSize` when it keeps parallelism
  *    (`parallelismFirst` or an explicit `minPartitionNum` above 1), else
  *    the larger of that and `advisoryPartitionSizeInBytes`. With
  *    coalescing or final-stage coalescing off it never fires.
  *  - operators: every operator below the sort, down to materialized
  *    query stages, keeps its output within its size estimate — scans,
  *    project, filter, aggregates, windows, joins, union, expand, limits,
  *    sorts and exchanges. A materialized stage's estimate is its exact
  *    runtime size. A `Generate`, typed lambda, Python or unknown node
  *    keeps the range exchange: a fan-out from a tiny seed is estimated
  *    at its seed's size and must not collapse onto one task — AQE
  *    would not undo it later, since its re-plan cost counts exchanges.
  *
  * Only `ENSURE_REQUIREMENTS` range exchanges are rewritten; a user's
  * `repartitionByRange` keeps its partitions.
  */
object SingleTaskSort extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = singleTaskBytes match {
    case None => plan
    case Some(limit) => plan.transformUp {
      case s @ SortExec(_, true, ShuffleExchangeExec(
          _: RangePartitioning, child, ENSURE_REQUIREMENTS, _), _)
          if s.logicalLink.exists(_.stats.sizeInBytes <= limit) &&
            bounded(child) =>
        s.withNewChildren(Seq(CoalesceExec(1, child)))
    }
  }

  /** The largest total shuffle size `CoalesceShufflePartitions` always
    * merges into one partition under the session's confs, or None when
    * it may leave a range shuffle as it is.
    */
  private def singleTaskBytes: Option[Long] = {
    val c = conf
    if (!c.coalesceShufflePartitionsEnabled ||
      !c.getConf(SQLConf.ADAPTIVE_EXECUTION_APPLY_FINAL_STAGE_SHUFFLE_OPTIMIZATIONS))
      None
    else {
      val minSize = c.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
      val keepsParallelism = c.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM)
        .fold(c.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))(_ > 1)
      Some(if (keepsParallelism) minSize
        else minSize.max(c.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)))
    }
  }

  /** Whether every operator of `p` keeps its output within its size
    * estimate (see the class doc).
    */
  private def bounded(p: SparkPlan): Boolean = p match {
    case _: QueryStageExec => true
    case _: DataSourceScanExec | _: BatchScanExec | _: InMemoryTableScanExec |
         _: LocalTableScanExec | _: RangeExec | _: ProjectExec | _: FilterExec |
         _: BaseAggregateExec | _: WindowExec | _: WindowGroupLimitExec |
         _: BaseJoinExec | _: UnionExec | _: ExpandExec | _: LimitExec |
         _: TakeOrderedAndProjectExec | _: SortExec | _: Exchange =>
      p.children.forall(bounded)
    case _ => false
  }
}
