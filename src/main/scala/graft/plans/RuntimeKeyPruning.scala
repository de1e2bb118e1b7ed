package graft.plans

import graft.sources.api.GraftScan
import org.apache.spark.sql.catalyst.expressions.DynamicPruningSubquery
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.DYNAMIC_PRUNING_SUBQUERY
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

/** Optimizer rule: runtime key pruning for a connector scan whose join is
  * not planned as a broadcast.
  *
  * Spark's PartitionPruning puts a `DynamicPruningSubquery` over the probe
  * scan of a join, but under `dynamicPartitionPruning.reuseBroadcastOnly`
  * marks it `onlyInBroadcast`: it becomes `dynamicpruningexpression(true)`
  * unless the join is planned as a broadcast whose exchange it can reuse.
  * A connector join that is planned as a sort-merge join (AQE may still
  * turn it into a broadcast at run time) then paginates the whole API.
  *
  * For a `GraftScan` this rule lifts `onlyInBroadcast` when Spark's own
  * DPP benefit test holds: the fallback filter ratio (0.5 by default) of
  * the scan's size estimate must exceed the summed size of the build
  * query's leaves, so a large build side is never run twice. Spark then
  * runs the build side's distinct keys as a subquery and hands them to
  * `GraftScan.filter` as a runtime `IN`, which `KeyRange` turns into probe
  * splits — the path a broadcast join's runtime filter already takes.
  *
  * The rule runs with the other `extraOptimizations`, after Spark's
  * PartitionPruning batch, so it sees the pruning filters Spark inserted
  * and pushed down onto the scan. Installed by `GraftOps.register`. */
object RuntimeKeyPruning extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformWithPruning(_.containsPattern(DYNAMIC_PRUNING_SUBQUERY)) {
      case f @ Filter(cond, scan: DataSourceV2ScanRelation)
          if scan.scan.isInstanceOf[GraftScan] =>
        f.copy(condition = cond.transform {
          case d: DynamicPruningSubquery if d.onlyInBroadcast && pays(scan, d.buildQuery) =>
            d.copy(onlyInBroadcast = false)
        })
    }

  /** Spark's DPP benefit test without column statistics
    * (PartitionPruning.pruningHasBenefit): the pruned share of the scan
    * must outweigh reading the build query's leaves once more. */
  private def pays(scan: LogicalPlan, build: LogicalPlan): Boolean =
    conf.dynamicPartitionPruningFallbackFilterRatio * scan.stats.sizeInBytes.toDouble >
      build.collectLeaves().map(_.stats.sizeInBytes).sum.toDouble
}
