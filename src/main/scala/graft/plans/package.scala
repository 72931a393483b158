package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

package object plans {

  /** The number of partitions `ds` will run as, from its physical plan
    * and with no job (`ds.rdd` runs the shuffle stages under AQE). An
    * exchange reports its PLANNED count, not what AQE coalesces it to.
    * Down from the root through unary nodes, the first known
    * partitioning answers; at a file scan or `LogicalRDD` leaf
    * (`UnknownPartitioning(0)`) the splits are counted. Any other shape
    * is `None`, and the caller takes its conservative branch.
    */
  def partitions(ds: Dataset[_]): Option[Int] = {
    def walk(p: SparkPlan): Option[Int] = p match {
      case _ if p.outputPartitioning.numPartitions > 0 => Some(p.outputPartitioning.numPartitions)
      case s: FileSourceScanExec => Some(s.inputRDD.getNumPartitions)
      case s: RDDScanExec => Some(s.rdd.getNumPartitions)
      case u: UnaryExecNode => walk(u.child)
      case _ => None
    }
    walk(ds.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    })
  }
}
