package graft.tools

import graft.{GraftSession, SparkEntry, Tables}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window}

/** Attribute `WindowExec: No Partition Defined` warnings to their
  * gates (r13 verdict hygiene item): for every SparkEntry query, build
  * the DataFrame and walk its OPTIMIZED plan for Window nodes with an
  * empty partitionSpec — the exact condition WindowExec warns on.
  * Eager phases inside composite gates surface their warnings live
  * between the `[winscan] >>>` markers, so the stderr interleaving
  * attributes those too. Usage:
  *   runMain graft.tools.WindowScan <sfDir> [<queryName>...]
  */
object WindowScan {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local(8)
    Tables.warmupAll(spark, dir, "winscan")
    def emptyPartitionWindows(p: LogicalPlan): Seq[Window] =
      p.collect { case w: Window if w.partitionSpec.isEmpty => w } ++
        p.subqueries.flatMap(emptyPartitionWindows)
    var flagged = 0
    names.foreach { n =>
      System.err.println(s"[winscan] >>> $n")
      try {
        val df = SparkEntry.queries(n)(spark, dir)
        val ws = emptyPartitionWindows(df.queryExecution.optimizedPlan)
        if (ws.nonEmpty) {
          flagged += 1
          println(s"[winscan] $n: ${ws.size} unpartitioned window(s):")
          ws.foreach(w => println(
            s"[winscan]   exprs=${w.windowExpressions.map(_.name).mkString(",")}"))
        }
      } catch {
        case e: Throwable =>
          println(s"[winscan] $n: builder failed: ${e.getMessage}")
      }
    }
    println(s"[winscan] done: $flagged/${names.size} queries with unpartitioned windows in their final plan")
    spark.stop()
  }
}
