package graft.plans

import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.catalyst.plans.InnerLike
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}

/** The micro-input plan regime, as one physical rule: a shuffle that
  * Spark inserted only to meet a required distribution is dropped
  * when its input is small and read as one split.
  *
  * '''Condition.''' A `ShuffleExchangeExec` whose origin is
  * `ENSURE_REQUIREMENTS` becomes `CoalesceExec(1)` over the same child
  * when that child reads its input as exactly one split: through unary
  * nodes such as Project, Filter, Expand, Generate and partial
  * aggregates, and through the streamed side of a broadcast join, down
  * to a file, `LogicalRDD`, local-rows or cached scan planned as one
  * partition ([[graft.plans.partitions]]); a union of such inputs
  * counts too. The scans' estimated size must be under
  * [[MicroMaxBytes]] in all, and is checked before any split is
  * counted. Through a nested-loop join the streamed side's estimate
  * is multiplied by the build side's estimated rows: a one-row build
  * side (a global aggregate) or a few centroids keep a small input
  * micro, while an all-pairs join against hundreds of query rows is
  * left to its exchanges, whose stages run next to their sibling
  * stages (q227's LSH recall check over brute-force top-k ran 1.16×
  * slower with both sides merged into one task). The coalesce moves
  * no data: it runs the one partition (or the union's few, one after
  * the other) in one task and reports `SinglePartition`, which meets
  * every distribution an aggregate, window, global sort or join asks
  * for, so the operator runs in its input's stage instead of one AQE
  * stage job later. Under a node with several children (a sort-merge
  * join, a co-grouped operator) the children must keep one partition
  * count, so the rule keeps its rewrite there only when every child
  * ends up as one partition; otherwise each child whose count the
  * rewrite would change plans as it did without the rule. One
  * qualifying side next to a multi-split side thus keeps both
  * exchanges.
  *
  * '''Never touched.''' User exchanges (`repartition`,
  * [[graft.Tables.spread]], BM25's `repartition(buckets)`, near-dup's
  * `repartition($"band")`), broadcast exchanges, and any shuffle whose
  * input is several splits, is larger than the bound, or has a
  * partition count the plan does not give, such as a scan filtered by
  * a subquery whose result is not known at planning: those plan
  * exactly as without the rule. It runs as a query-stage preparation
  * rule, after `EnsureRequirements` on every AQE (re-)plan, so it only
  * sees adaptive plans. A stage AQE already ran reports its planned
  * partition count and never qualifies. Structured Streaming turns
  * AQE off for stateful queries, so their state-store exchanges are
  * never rewritten; a `foreachBatch` frame is planned adaptively and
  * is.
  *
  * '''Measured''' (one traced benchmark run per side, 4 vCPUs). At the
  * benchmark's `query_mix` scale (sf0.01, each table one parquet file,
  * one split) a query ran 4.0 Spark jobs: a one-task scan, then AQE
  * stages of one task each, joined by shuffles that wrote ~213 KB per
  * query. With the rule it runs 1.08 jobs and shuffles nothing: 12 of
  * the 13 queries run as one job, and the 13th adds only its
  * broadcast. The rule replaces the stream appliers' hand-applied
  * `coalesce(1)` of a one-split batch (`StreamingIndex.microPlan`,
  * whose 32 MiB bound it keeps); `index_stream` applies run the same
  * 6 / 3 / 4 jobs (BM25 / IVF / near-dup) as under it.
  */
object DropMicroShuffles extends Rule[SparkPlan] {

  /** Bytes at or above which the rule leaves a shuffle alone (the
    * [[graft.Tables.spread]] bound, one level up): past this size a
    * single split carries enough rows that a parallel post-shuffle
    * stage can pay for its exchange.
    */
  val MicroMaxBytes: Long = 32L * 1024 * 1024

  private def ensured(p: SparkPlan): Boolean = p match {
    case s: ShuffleExchangeExec => s.shuffleOrigin == ENSURE_REQUIREMENTS
    case _ => false
  }

  /** The leaves `p` reads without an exchange, and the bytes the
    * optimizer estimates they bring to `p`: down through unary nodes,
    * the streamed side of a broadcast join and every child of any
    * other node (a union, a join whose exchanges this rule dropped),
    * each leaf sized by its estimate. A nested-loop join multiplies
    * the streamed bytes by the build side's estimated rows. An
    * exchange, or a leaf without an estimate, stops the walk (`None`).
    */
  private def input(p: SparkPlan): Option[(BigInt, Seq[SparkPlan])] = p match {
    case j: BroadcastHashJoinExec =>
      input(if (j.buildSide == BuildRight) j.left else j.right)
    case j: BroadcastNestedLoopJoinExec if j.joinType.isInstanceOf[InnerLike] =>
      val (streamed, build) = if (j.buildSide == BuildRight) (j.left, j.right) else (j.right, j.left)
      for ((bytes, ls) <- input(streamed); n <- rows(build)) yield (bytes * n, ls)
    case _: Exchange => None
    case u: UnaryExecNode => input(u.child)
    case _ if p.children.nonEmpty =>
      p.children.foldLeft(Option((BigInt(0), Seq.empty[SparkPlan]))) { (acc, c) =>
        for ((b0, l0) <- acc; (b1, l1) <- input(c)) yield (b0 + b1, l0 ++ l1)
      }
    case _ => p.logicalLink.map(l => (l.stats.sizeInBytes, Seq(p)))
  }

  /** The rows the optimizer estimates for `p`, below its broadcast
    * exchange: its row count where known (one for a global
    * aggregate), else its size over its row width.
    */
  private def rows(p: SparkPlan): Option[BigInt] = p match {
    case e: Exchange => rows(e.child)
    case q: QueryStageExec => rows(q.plan)
    case _ => p.logicalLink.map(l => l.stats.rowCount.getOrElse(
      (l.stats.sizeInBytes / EstimationUtils.getSizePerRow(l.output)).max(1)))
  }

  /** `in` brings under [[MicroMaxBytes]] from leaves each planned as
    * one partition ([[graft.plans.partitions]]: a file, `LogicalRDD`,
    * local-rows or cached scan). The cheap size estimate is checked
    * first: counting a file scan's splits builds its RDD (file listing
    * and split computation), so a larger input never pays for that at
    * planning.
    */
  private def micro(in: SparkPlan): Boolean = input(in).exists { case (bytes, ls) =>
    bytes < MicroMaxBytes && ls.forall(partitions(_).contains(1))
  }

  override def apply(plan: SparkPlan): SparkPlan = plan match {
    case s: ShuffleExchangeExec if ensured(s) =>
      val child = apply(s.child)
      if (micro(child)) CoalesceExec(1, child) else s.withNewChildren(Seq(child))
    case _ if plan.children.size < 2 => plan.withNewChildren(plan.children.map(apply))
    case _ =>
      // the children of a join must keep one partition count: all one,
      // or each child whose count the rewrite changed plans as before
      val rewritten = plan.children.map(apply)
      plan.withNewChildren(
        if (rewritten.forall(_.outputPartitioning.numPartitions == 1)) rewritten
        else plan.children.zip(rewritten).map { case (o, r) =>
          if (r.outputPartitioning.numPartitions == o.outputPartitioning.numPartitions) r else o
        })
  }
}
