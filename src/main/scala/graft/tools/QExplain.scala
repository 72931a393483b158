package graft.tools

import graft.{GraftSession, SparkEntry}

/** Print a gate's formatted plan at a given SF dir without running it.
  * Usage: tools/jrun.sh graft.tools.QExplain <sfDir> <queryName>
  */
object QExplain {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val name = args(1)
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    println(SparkEntry.queries(name)(spark, dir).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))
    spark.stop()
  }
}
