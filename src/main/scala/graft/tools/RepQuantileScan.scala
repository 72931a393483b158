package graft.tools

import graft.{GraftSession, Tables}
import graft.operators.IngestDashboard
import org.apache.spark.sql.functions._

/** Prints the EXACT q50/q95 of each repetition signal (percentile over
  * the raw per-doc values) next to the DDSketch estimates, per SF dir —
  * the measurement behind the q217 gate's pinned tolerance bands: the
  * gate asserts the sketch estimates sit inside the cross-SF envelope
  * of the exact values widened by the α guarantee, so a sketch
  * regression (bucketing, merge, interpolation) flips a gate flag
  * without the gate paying a raw-corpus rescan.
  *
  * Usage: tools/jrun.sh graft.tools.RepQuantileScan <sfDir> [sfDir...]
  */
object RepQuantileScan {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val spark = GraftSession.local(32)
    import spark.implicits._
    val alpha = IngestDashboard.Alpha
    dirs.foreach { dir =>
      val docs = Tables(spark, dir).documents
      val wide = IngestDashboard.repSignals(docs, "doc_id", "text")
      val long = wide.select(explode(array(IngestDashboard.signalNames.map(s =>
          struct(lit(s).as("signal"), col(s).as("x"))): _*)).as("p"))
        .select($"p.signal", $"p.x")
      val exact = long.groupBy($"signal")
        .agg(count(lit(1)).as("n"),
          percentile($"x", lit(0.5)).as("ex_q50"),
          percentile($"x", lit(0.95)).as("ex_q95"))
      val dd = graft.functions.DdSketch
      val sk = long.groupBy($"signal")
        .agg(dd.dd_agg($"x", alpha).as("st"))
        .select($"signal",
          dd.dd_quantile($"st", 0.5, alpha).as("sk_q50"),
          dd.dd_quantile($"st", 0.95, alpha).as("sk_q95"))
      println(s"== $dir (alpha=$alpha) ==")
      exact.join(sk, "signal").orderBy($"signal").collect().foreach { r =>
        println(f"${r.getString(0)}%-18s n=${r.getLong(1)}%7d " +
          f"exact q50=${r.getDouble(2)}%.6f q95=${r.getDouble(3)}%.6f | " +
          f"sketch q50=${r.getDouble(4)}%.6f q95=${r.getDouble(5)}%.6f")
      }
    }
    spark.stop()
  }
}
