package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec, RDDScanExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

package object plans {

  /** The number of partitions `ds` will run as, from its physical plan
    * and with no job (`ds.rdd` runs the shuffle stages under AQE). An
    * exchange reports its PLANNED count, not what AQE coalesces it to.
    */
  def partitions(ds: Dataset[_]): Option[Int] = partitions(ds.queryExecution.executedPlan)

  /** The planned partition count of `p`: down from `p` through unary
    * nodes, the first known partitioning answers; at a file scan,
    * `LogicalRDD` or local-rows leaf (`UnknownPartitioning(0)`) the
    * splits are counted, and a cached frame answers with its cached
    * plan. Any other shape is `None`, and the caller takes its
    * conservative branch, as it does for a scan filtered by a subquery
    * (dynamic pruning, or a scalar subquery on a partition or data
    * column): building its RDD would evaluate the subquery before it
    * has run. [[DropMicroShuffles]] decides on this count.
    */
  private[graft] def partitions(p: SparkPlan): Option[Int] = p match {
    case a: AdaptiveSparkPlanExec => partitions(a.executedPlan)
    case _ if p.outputPartitioning.numPartitions > 0 => Some(p.outputPartitioning.numPartitions)
    case s: FileSourceScanExec if (s.partitionFilters ++ s.dataFilters).exists(
        _.exists(_.isInstanceOf[PlanExpression[_]])) => None
    case s: FileSourceScanExec => Some(s.inputRDD.getNumPartitions)
    case s: RDDScanExec => Some(s.rdd.getNumPartitions)
    case s: LocalTableScanExec => Some(s.inputRDD.getNumPartitions)
    case m: InMemoryTableScanExec => partitions(m.relation.cachedPlan)
    case u: UnaryExecNode => partitions(u.child)
    case _ => None
  }
}
