package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, SortOrder}
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec

/** A nested-loop join's streamed columns are computed once per
  * streamed row, not once per (streamed, broadcast) pair.
  *
  * Whole-stage codegen emits a projected column's code where the
  * column is first used. Below a `BroadcastNestedLoopJoinExec` that
  * use is inside the loop over the broadcast rows, so a codegen'd
  * column of the streamed side (an encode, a reconstruction, a norm)
  * runs once per pair: a counting expression over 200 streamed rows
  * against 50 broadcast rows ran 10,000 times, with AQE on and off.
  * The rule puts a [[CodegenBoundaryExec]] above the streamed child
  * of every such join whose streamed side computes a column: walking
  * down through `ProjectExec` and `FilterExec`, some `ProjectExec`
  * holds an expression that is neither an attribute nor an alias of
  * one. The streamed stage then writes each row once, every column
  * evaluated, and the join reads the written rows. A join over a
  * plain scan keeps its plan.
  *
  * It runs as a `ColumnarRule.preColumnarTransitions` (injected by
  * [[GraftExtensions]]), which Spark applies before
  * `CollapseCodegenStages` both in a non-adaptive plan and in every
  * AQE query stage and final plan.
  *
  * Scope: only a column computed directly below the join, reached
  * through `ProjectExec` and `FilterExec`. A column computed below
  * another codegen'd node of the streamed side (a broadcast hash
  * join, say) is still evaluated where the join first uses it.
  *
  * Cost: the streamed stage becomes a generated class of its own, so
  * a plan compiles one more class the first time it runs (the codegen
  * cache serves later runs) and writes each streamed row once.
  */
object StreamedColumnsOnce extends Rule[SparkPlan] {

  def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case j: BroadcastNestedLoopJoinExec if j.buildSide == BuildLeft && computes(j.right) =>
      j.copy(right = CodegenBoundaryExec(j.right))
    case j: BroadcastNestedLoopJoinExec if j.buildSide != BuildLeft && computes(j.left) =>
      j.copy(left = CodegenBoundaryExec(j.left))
  }

  private def computes(p: SparkPlan): Boolean = p match {
    case ProjectExec(list, child) =>
      list.exists {
        case _: Attribute | Alias(_: Attribute, _) => false
        case _ => true
      } || computes(child)
    case FilterExec(_, child) => computes(child)
    case _ => false
  }

  /** The session hook that runs the rule. */
  class Hook extends ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = StreamedColumnsOnce
  }
}

/** A codegen boundary: passes its child's rows through unchanged and
  * takes no part in whole-stage codegen, so the child's codegen stage
  * ends below it and writes each row once.
  */
case class CodegenBoundaryExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override protected def doExecute(): RDD[InternalRow] = child.execute()
  override protected def withNewChildInternal(c: SparkPlan): CodegenBoundaryExec =
    copy(child = c)
}
