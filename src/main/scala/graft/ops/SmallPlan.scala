package graft.ops

import scala.util.Try

import org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning,
  RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
  ENSURE_REQUIREMENTS, Exchange, ReusedExchangeExec, ShuffleExchangeExec,
  ValidateRequirements}
import org.apache.spark.sql.execution.joins.{BaseJoinExec,
  BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.internal.SQLConf

/** AQE query-stage preparation rule: an exchange whose input AQE would
  * coalesce to ONE partition anyway becomes a `Coalesce(1)`, so a small
  * query runs in one task instead of a job per stage.
  *
  * A small exchange costs a shuffle map stage (a range exchange also a
  * `RangePartitioner` sampling job, a broadcast its own job) whose
  * output `CoalesceShufflePartitions` then merges back into a single
  * partition: thrown-away scheduling. This rule plans `Coalesce(1)`
  * (or nothing, when the input already has one partition) instead, in
  * four places, all `ENSURE_REQUIREMENTS` exchanges:
  *  - the range exchange under a global sort;
  *  - the hash or single-partition exchange under an aggregate, or
  *    under the local sort of a window or window group limit;
  *  - both hash exchanges of a sort-merge or shuffled hash join (the
  *    two sides change together or not at all; a side that already has
  *    one partition needs no exchange);
  *  - the build side of a broadcast hash join whose broadcast is not
  *    yet materialized: the join becomes a shuffled hash join with the
  *    same keys, join type and build side over two one-partition
  *    children. The streamed side must fit or already have one
  *    partition, so a chain of dimension joins runs in one task.
  * Same rows, same order: one partition satisfies every distribution
  * but a broadcast, and the local sorts stay in place.
  *
  * An input fits when both hold:
  *  - size: Spark's size estimate of the exchange's input, and of each
  *    input of the one task it would run in (the scans, exchanges and
  *    query stages down to the nearest exchanges or stages; a
  *    materialized stage's estimate is its exact runtime size), is at
  *    most the total shuffle size AQE's coalescing always merges into
  *    one partition — `coalescePartitions.minPartitionSize` when it
  *    keeps parallelism (`parallelismFirst` or an explicit
  *    `minPartitionNum` above 1), else the larger of that and
  *    `advisoryPartitionSizeInBytes`. With coalescing or final-stage
  *    coalescing off the rule never fires. A join's estimate is the
  *    product of its inputs, so an exchange over a join's output
  *    usually stays.
  *  - operators: every operator below, down to materialized query
  *    stages, keeps its output within its size estimate — scans,
  *    project, filter, aggregates, windows, joins, union, expand,
  *    limits, sorts, coalesces and exchanges. A `Generate`, typed
  *    lambda, Python or unknown node keeps the exchange: a fan-out from
  *    a tiny seed is estimated at its seed's size and must not collapse
  *    onto one task — AQE would not undo it later, since its re-plan
  *    cost counts exchanges.
  *
  * Kept as planned: a user's `repartition`/`repartitionByRange` (not
  * `ENSURE_REQUIREMENTS`), an exchange that occurs twice in the plan
  * (AQE reuses it; one task per copy would compute the shared child
  * twice), a null-aware anti join, a broadcast join whose streamed side
  * carries a dynamic-partition-pruning filter (it reuses the
  * broadcast), and the whole plan when the rewrite leaves a join whose
  * sides disagree on their partition count (Spark rejects it while
  * planning) or otherwise fails `ValidateRequirements`.
  */
object SmallPlan extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = singleTaskBytes(conf) match {
    case None => plan
    case Some(limit) =>
      val shared = plan.collect {
        case e: Exchange => e.canonicalized
        case s: QueryStageExec => s.canonicalized
        case r: ReusedExchangeExec => r.canonicalized
      }.groupBy(identity).collect { case (c, cs) if cs.size > 1 => c }.toSet
      def fits(p: SparkPlan): Boolean = fitsWithin(p, limit)
      def single(p: SparkPlan): SparkPlan =
        if (p.outputPartitioning == SinglePartition) p else CoalesceExec(1, p)
      // `p` without its small hash or single-partition exchange (directly
      // or under a local sort), if it has one
      def unshuffled(p: SparkPlan): Option[SparkPlan] = p match {
        case e @ ShuffleExchangeExec(_: HashPartitioning | SinglePartition, c,
            ENSURE_REQUIREMENTS, _)
            if !shared(e.canonicalized) && fits(c) => Some(single(c))
        case s @ SortExec(_, false, c, _) =>
          unshuffled(c).map(u => s.withNewChildren(Seq(u)))
        case _ => None
      }
      def joinSide(p: SparkPlan): Option[SparkPlan] = unshuffled(p).orElse(
        Option.when(p.outputPartitioning == SinglePartition)(p))
      // a join left below the rewrites with one side of one partition and
      // the other of many fails while planning or `ValidateRequirements`;
      // either way the whole plan stays as planned
      Try(plan.transformUp {
        case s @ SortExec(_, true, e @ ShuffleExchangeExec(
            _: RangePartitioning, c, ENSURE_REQUIREMENTS, _), _)
            if !shared(e.canonicalized) && fits(c) =>
          s.withNewChildren(Seq(single(c)))
        case a @ (_: BaseAggregateExec | _: WindowExec | _: WindowGroupLimitExec) =>
          a.withNewChildren(a.children.map(c => unshuffled(c).getOrElse(c)))
        case j @ (_: SortMergeJoinExec | _: ShuffledHashJoinExec) =>
          val sides = j.children.map(joinSide)
          if (sides.forall(_.isDefined)) j.withNewChildren(sides.flatten) else j
        case j @ BroadcastHashJoinExec(lk, rk, jt, side, cond, l, r, false) =>
          val (streamed, build) = if (side == BuildRight) (l, r) else (r, l)
          build match {
            case b @ BroadcastExchangeExec(_, c) if !shared(b.canonicalized) &&
                fits(c) && !prunedBy(streamed) &&
                (streamed.outputPartitioning.numPartitions == 1 || fits(streamed)) =>
              val (nl, nr) = if (side == BuildLeft) (single(c), single(streamed))
                else (single(streamed), single(c))
              val shj = ShuffledHashJoinExec(lk, rk, jt, side, cond, nl, nr)
              // AQE finds a stage's logical node through these links
              shj.copyTagsFrom(j)
              shj
            case _ => j
          }
      }).filter(r => !r.fastEquals(plan) && ValidateRequirements.validate(r))
        .getOrElse(plan)
  }

  /** Whether `p` fits one task under `c`: the test this rule applies to
    * an exchange's input (size and operators, see the class doc), for a
    * caller that plans its own shuffle — [[Segments.write]] writes such
    * an input with `coalesce(1)` instead of repartitioning it. False
    * with coalescing or final-stage coalescing off.
    */
  def fitsOneTask(p: SparkPlan, c: SQLConf): Boolean =
    singleTaskBytes(c).exists(fitsWithin(p, _))

  private def fitsWithin(p: SparkPlan, limit: BigInt): Boolean =
    bounded(p) && small(p, limit)

  /** The largest total shuffle size `CoalesceShufflePartitions` always
    * merges into one partition under `c`, or None when it may leave a
    * shuffle as it is.
    */
  private def singleTaskBytes(c: SQLConf): Option[BigInt] = {
    if (!c.coalesceShufflePartitionsEnabled ||
      !c.getConf(SQLConf.ADAPTIVE_EXECUTION_APPLY_FINAL_STAGE_SHUFFLE_OPTIMIZATIONS))
      None
    else {
      val minSize = c.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
      val keepsParallelism = c.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM)
        .fold(c.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))(_ > 1)
      Some(BigInt(if (keepsParallelism) minSize
        else minSize.max(c.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))))
    }
  }

  /** Spark's size estimate of `p`'s output: its logical node's, a
    * materialized stage's runtime size, else (for nodes the physical
    * rules inserted: exchanges, local sorts, coalesces) its child's.
    */
  private def estimate(p: SparkPlan): Option[BigInt] = p match {
    case s: QueryStageExec if s.isMaterialized => s.computeStats().map(_.sizeInBytes)
    case _ => p.logicalLink.map(_.stats.sizeInBytes).orElse(p.children match {
      case Seq(c) => estimate(c)
      case _ => None
    })
  }

  /** Whether the estimate of `p` and of each input of the one task it
    * would run in (the scans, exchanges and query stages down to the
    * nearest exchanges or stages) is at most `limit`.
    */
  private def small(p: SparkPlan, limit: BigInt): Boolean =
    (p +: inputs(p)).forall(estimate(_).exists(_ <= limit))

  private def inputs(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: Exchange | _: QueryStageExec | _: ReusedExchangeExec => Seq(p)
    case _ if p.children.isEmpty => Seq(p)
    case _ => p.children.flatMap(inputs)
  }

  /** Whether every operator of `p` keeps its output within its size
    * estimate (see the class doc).
    */
  private def bounded(p: SparkPlan): Boolean = p match {
    // a stage's estimate is exact only once it is materialized; before
    // that it is the estimate of the plan it runs, which must keep its
    // output within it like any other input (else whether an exchange
    // stays would depend on which stage AQE saw finish first)
    case s: QueryStageExec => s.isMaterialized || bounded(s.plan)
    case r: ReusedExchangeExec => bounded(r.child)
    case _: DataSourceScanExec | _: BatchScanExec | _: InMemoryTableScanExec |
         _: LocalTableScanExec | _: RangeExec | _: ProjectExec | _: FilterExec |
         _: BaseAggregateExec | _: WindowExec | _: WindowGroupLimitExec |
         _: BaseJoinExec | _: UnionExec | _: ExpandExec | _: LimitExec |
         _: TakeOrderedAndProjectExec | _: SortExec | _: CoalesceExec |
         _: Exchange =>
      p.children.forall(bounded)
    case _ => false
  }

  /** Whether `p` carries a dynamic-partition-pruning filter, which may
    * reuse the broadcast of the join above it.
    */
  private def prunedBy(p: SparkPlan): Boolean = p.exists(_.expressions.exists(
    _.exists(_.isInstanceOf[DynamicPruningExpression])))
}
