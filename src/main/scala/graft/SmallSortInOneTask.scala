package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FilterExec, GlobalLimitExec, LocalLimitExec, ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.internal.SQLConf

/** AQE query-stage preparation rule: a global sort whose input AQE has
  * already measured as small runs in one task, without a range shuffle.
  *
  * A global `orderBy` plans a range exchange under its `Sort`. That
  * exchange costs two jobs: `RangePartitioner` samples its input (which
  * re-runs everything down to the nearest shuffle) and then the range
  * shuffle's map stage runs. For a small aggregate AQE then reads the
  * range shuffle back as one coalesced partition anyway. Once the input
  * stages have materialized, this rule replaces the exchange with
  * `CoalesceExec(1)`: the sort runs in the one task that produces its
  * input, and the sample job and the range stage never start. AQE's cost
  * evaluator counts shuffles, so it adopts the re-planned plan.
  *
  * The rule fires only when all of these hold:
  *  - the exchange is a `RangePartitioning` shuffle that
  *    `EnsureRequirements` added (a user's `repartitionByRange` keeps its
  *    partitions);
  *  - walking down from the exchange's child, every leaf is a
  *    materialized shuffle stage (possibly under an `AQEShuffleReadExec`),
  *    and every operator on the way cannot add rows (`passes`: no
  *    Generate, Expand, Union or join);
  *  - AQE's partition coalescing is on and those stages' summed map
  *    output is at most the size it coalesces into one partition:
  *    `coalescePartitions.minPartitionSize` under `parallelismFirst`
  *    (Spark's default), else `advisoryPartitionSizeInBytes`.
  */
case class SmallSortInOneTask(session: SparkSession) extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = {
    val c = session.sessionState.conf
    if (!c.coalesceShufflePartitionsEnabled) return plan
    val oneTask: Long =
      if (c.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
        c.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
      else c.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    plan.transformUp {
      case ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _)
          if SmallSortInOneTask.inputBytes(child).exists(_ <= oneTask) =>
        CoalesceExec(1, child)
    }
  }
}

object SmallSortInOneTask {
  /** Operators that never emit more rows than they read. */
  private def passes(p: SparkPlan): Boolean = p match {
    case _: ProjectExec | _: FilterExec | _: SortExec | _: HashAggregateExec |
         _: SortAggregateExec | _: ObjectHashAggregateExec | _: WindowExec |
         _: WindowGroupLimitExec | _: LocalLimitExec | _: GlobalLimitExec => true
    case _ => false
  }

  /** Summed map-output bytes of the shuffle stages under `p`, or None
    * when some leaf is not a materialized shuffle stage or the walk
    * meets an operator that may add rows. */
  private def inputBytes(p: SparkPlan): Option[Long] = p match {
    case s: ShuffleQueryStageExec =>
      if (s.isMaterialized)
        Some(s.mapStats.map(_.bytesByPartitionId.sum).getOrElse(0L))
      else None
    case r: AQEShuffleReadExec => inputBytes(r.child)
    case u if passes(u) => inputBytes(u.children.head)
    case _ => None
  }
}
