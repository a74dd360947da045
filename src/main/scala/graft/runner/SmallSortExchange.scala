package graft.runner

import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, LimitExec, ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.internal.SQLConf

/** Small global sorts run as one partition.
  *
  * A global `orderBy` plans a `RangePartitioning` exchange, and
  * `RangePartitioner` computes its bounds with a separate sampling job that
  * recomputes the sort's whole input before the shuffle computes it again.
  * For the few-row results most queries end in, that extra job is pure
  * scheduling cost.
  *
  * AQE runs this rule (a query-stage preparation rule, after
  * `EnsureRequirements`) every time it re-plans after a stage materializes.
  * It turns a sort-required range exchange into a `SinglePartition` one
  * when the exchange's input is known to be small: the input reads one
  * materialized query stage, through operators that cannot emit more rows
  * than they read, and that stage's runtime size is at most
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes` — the size AQE would
  * coalesce into one partition anyway. `SinglePartition` satisfies the
  * sort's `OrderedDistribution`, so row order is unchanged, and
  * `RangePartitioner` does not sample for one partition.
  *
  * Everything else keeps range partitioning: inputs above the advisory
  * size, joins, generate and expand (they can multiply rows), inputs not yet
  * materialized (no runtime size), and user `repartitionByRange` (its
  * origin is not `ENSURE_REQUIREMENTS`). Without AQE the rule never sees a
  * materialized stage and changes nothing.
  */
object SmallSortExchange extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = {
    lazy val limit = BigInt(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    plan.transformUp {
      case e @ ShuffleExchangeExec(RangePartitioning(_, n), child, ENSURE_REQUIREMENTS, _)
          if n > 1 && stageBytes(child).exists(_ <= limit) =>
        e.copy(outputPartitioning = SinglePartition)
    }
  }

  /** Runtime size of the materialized stage `plan` reads, if it reaches
    * nothing else and only through row-non-increasing unary operators. */
  private def stageBytes(plan: SparkPlan): Option[BigInt] = plan match {
    case s: QueryStageExec =>
      if (s.isMaterialized) Some(s.getRuntimeStatistics.sizeInBytes) else None
    case _: ProjectExec | _: FilterExec | _: BaseAggregateExec | _: WindowExec |
        _: WindowGroupLimitExec | _: SortExec | _: LimitExec | _: AQEShuffleReadExec =>
      stageBytes(plan.children.head)
    case _ => None
  }
}
