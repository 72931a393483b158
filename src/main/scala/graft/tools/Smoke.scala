package graft.tools

import graft.GraftSession

/** Drives SparkEntry.entry the way the driver's smoke check does
  * (rows > 0 on sf0.001) and prints the result.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(8)
    val df = graft.SparkEntry.entry(spark)
    val rows = df.collect()
    rows.foreach(r => println(s"[smoke] $r"))
    println(s"[smoke] entry rows=${rows.length} (driver gate: rows>0)")
    spark.stop()
  }
}
