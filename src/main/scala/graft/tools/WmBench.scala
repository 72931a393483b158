package graft.tools

import graft.GraftSession
import org.apache.spark.sql.functions._

/** Scale-shape measurement for the q110 weighted-median rewrite: a
  * 20M-row (key, v, w) frame with only 3 keys — the shape where the
  * plain cumulative window serializes each key's sort on one task —
  * timed plain-window vs range-partitioned-carry
  * ([[graft.queries.Relational.weightedMedianRanged]]).
  * Usage: runMain graft.tools.WmBench [nRows]
  */
object WmBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(20000000L)
    val spark = GraftSession.local(32)
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // ~n/3 DISTINCT values per key so the cumulative frame is n rows
    val byVal = spark.range(n)
      .select(element_at(array(lit("A"), lit("B"), lit("C")),
          ($"id" % 3 + 1).cast("int")).as("k"),
        ($"id" / 3).cast("decimal(18,2)").as("v"),
        (lit(1) + $"id" % 13).cast("decimal(18,2)").as("w"))
      .persist()
    println(s"[wmbench] frame rows: ${byVal.count()}")
    def plain() = {
      val win = Window.partitionBy($"k").orderBy($"v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val totals = byVal.groupBy($"k").agg(sum($"w").as("tw"))
      byVal.withColumn("cum", sum($"w").over(win))
        .join(broadcast(totals), "k")
        .filter($"cum" * 2 >= $"tw")
        .groupBy($"k").agg(min($"v").cast("double").as("wmedian"))
    }
    def ranged() = graft.queries.Relational.weightedMedianRanged(byVal, "k", 32)
    def time(tag: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      val runs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[wmbench] $tag: min=${runs.min}%.2f s (${runs.map(r => f"$r%.2f").mkString(" ")})")
    }
    // output identity first, then timing
    val a = plain().collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    val b = ranged().collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    require(a == b, s"output mismatch: $a vs $b")
    println(s"[wmbench] outputs identical: $a")
    time("plain-window")(plain())
    time("ranged-carry")(ranged())
    spark.stop()
  }
}
