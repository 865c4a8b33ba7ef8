package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange, ShuffleExchangeExec}

/** Query-stage preparation rule (AQE only): a small TsTable read that
  * ends in a single-partition requirement runs as ONE job of one task.
  *
  * A global aggregate, a global window or any other `AllTuples` consumer
  * over a scan gets an `Exchange SinglePartition` from
  * `EnsureRequirements`, so a 1-hour `readRange(...).agg(count, sum)`
  * runs two jobs: the scan and partial aggregate writing a shuffle, then
  * the final aggregate reading it. For a read of a few hundred KB the
  * second job, the shuffle and AQE's re-plan between the stages cost more
  * than the read itself. This rule replaces such an exchange with
  * `CoalesceExec(1)`: the same `SinglePartition` output, no shuffle, one
  * stage. `CoalesceExec` gives a 0-partition child (a read that selects
  * no file) one empty partition, so a global aggregate still returns its
  * one row.
  *
  * The exchange is replaced only when
  *   - it was added by `EnsureRequirements` (a user's `repartition(1)` is
  *     an explicit request for a shuffle and is left alone);
  *   - its subtree holds no other exchange;
  *   - every leaf is a V1 file scan in the table format's
  *     [[ArchiveResolvingParquetFileFormat]] (every TsTable read);
  *   - the scans' selected files sum to at most
  *     `spark.sql.files.openCostInBytes`, Spark's own estimate of what
  *     opening one file costs in bytes: below it, one task reading
  *     everything costs less than scheduling a second job.
  *
  * Runs among AQE's query-stage preparation rules, after
  * `EnsureRequirements` and before the plan is cut into stages; sessions
  * with AQE off keep their plans. */
case class SmallScanSingleTask(session: SparkSession) extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case ShuffleExchangeExec(SinglePartition, child, ENSURE_REQUIREMENTS, _)
        if smallGraftRead(child) =>
      CoalesceExec(1, child)
  }

  private def smallGraftRead(child: SparkPlan): Boolean =
    !child.exists(_.isInstanceOf[Exchange]) && {
      val leaves = child.collectLeaves()
      val scans = leaves.collect {
        case s: FileSourceScanExec
            if s.relation.fileFormat.isInstanceOf[ArchiveResolvingParquetFileFormat] => s
      }
      scans.size == leaves.size &&
        scans.map(_.selectedPartitions.totalFileSize).sum <=
          session.sessionState.conf.filesOpenCostInBytes
    }
}
