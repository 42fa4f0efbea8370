package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.{BroadcastQueryStageExec, CoalesceShufflePartitions, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange, ShuffleExchangeExec, ValidateRequirements}
import org.apache.spark.sql.internal.SQLConf

/**
 * Adaptive query-stage preparation rule: a global sort whose input AQE
 * already runs as one task sorts in that task, with no range shuffle.
 *
 * For `orderBy` Spark plans `SortExec(global) ← Exchange(RangePartitioning)`.
 * Running that exchange costs a `RangePartitioner` sample job and a shuffle
 * map stage; on a small input `CoalesceShufflePartitions` then folds the
 * sorted output back into the one partition its input already had. This
 * rule rewrites the exchange to `CoalesceExec(1)` when the input is known to
 * be one partition: the sort then runs in the task that computes its input,
 * and the result is in the same order (a global sort over one partition).
 *
 * The conditions, and why the rule needs no knob, are listed on
 * [[GraftExtensions]], which injects it.
 */
final case class SortInPlace(session: SparkSession) extends Rule[SparkPlan] {

  private lazy val coalescable = CoalesceShufflePartitions(session).supportedShuffleOrigins

  override def apply(plan: SparkPlan): SparkPlan = {
    val rewritten = plan.transformUp {
      case sort @ SortExec(_, true,
          ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _), _)
          if runsAsOneTask(child) =>
        sort.withNewChildren(Seq(CoalesceExec(1, child)))
    }
    // one partition satisfies every distribution a parent can ask for without
    // a partition count; keep Spark's plan if some parent asks otherwise
    if ((rewritten ne plan) && ValidateRequirements.validate(rewritten)) rewritten else plan
  }

  // An exchange not yet run as a stage sets its own partitioning, so its
  // leaves say nothing of the sort's input: wait until it has run.
  private def runsAsOneTask(child: SparkPlan): Boolean =
    conf.coalesceShufflePartitionsEnabled &&
      !child.exists(p => p.isInstanceOf[Exchange] || p.isInstanceOf[UnionExec]) && {
      val leaves = child.collectLeaves()
      val shuffles = leaves.collect {
        case s: ShuffleQueryStageExec
            if s.isMaterialized && coalescable.contains(s.shuffle.shuffleOrigin) => s
      }
      val broadcasts = leaves.count {
        case b: BroadcastQueryStageExec => b.isMaterialized
        case _ => false
      }
      shuffles.nonEmpty && shuffles.size + broadcasts == leaves.size &&
        shuffles.flatMap(_.mapStats).map(_.bytesByPartitionId.sum).sum <= onePartitionBytes
    }

  /** The largest total shuffle input `CoalesceShufflePartitions` makes into a
    * single partition. Its target size is `min(total / n, advisory)` raised
    * to `minPartitionSize`, where `n` is `minPartitionNum` if set, else the
    * default parallelism under `parallelismFirst` (the default) and 1
    * otherwise. With `n > 1` a total fits only under `minPartitionSize`; with
    * `n = 1` it fits under the larger of the two sizes. */
  private def onePartitionBytes: Long = {
    val minSize = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    val n = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM).getOrElse(
      if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
        session.sparkContext.defaultParallelism
      else 1)
    if (n > 1) minSize
    else math.max(minSize, conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
  }
}
