package graft.tools

import graft.{GraftSession, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Within-process A/B of the repetition-signal derivation: the
  * one-pass native [[graft.functions.RepStats]] form (current
  * IngestDashboard.repSignals) vs the former five-pass column-formula
  * form — the measurement behind replacing the composed dashboard's
  * dominant family cost (sf100 DashBench: 120.9 s of 122.8 s).
  * Output equality is pinned in TextFunctionsSpec; this times the
  * full sketch derivation (signals → long → per-signal DDSketch agg).
  *
  * Usage: tools/jrun.sh graft.tools.RepBench <sfDir> [passes]
  */
object RepBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val passes = if (args.length > 1) args(1).toInt else 3
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    import spark.implicits._
    import graft.functions.TextFunctions.{maxMultiplicity, tokens, wordBigrams}
    val docs = Tables(spark, sfDir).documents.select($"doc_id", $"text")
    docs.count() // warm
    def oldSignals(d: DataFrame): DataFrame = {
      val toks = tokens(col("text"))
      val n = size(toks)
      d.filter(size(tokens(col("text"))) >= 3)
        .select(col("doc_id"),
          (size(array_distinct(toks)).cast("double") / n).as("distinct_ratio"),
          (maxMultiplicity(toks).cast("double") / n).as("top_token_frac"),
          (maxMultiplicity(wordBigrams(toks)).cast("double") / (n - 1))
            .as("top_bigram_frac"),
          (lit(1.0) -
            size(graft.functions.ShingleHash64.shingle_hashes(col("text"), 3))
              .cast("double") / (n - 2)).as("dup_trigram_frac"))
    }
    val dd = graft.functions.DdSketch
    val names = graft.operators.IngestDashboard.signalNames
    def sketch(wide: DataFrame): Long =
      wide.select(explode(array(names.map(s =>
          struct(lit(s).as("signal"), col(s).as("x"))): _*)).as("p"))
        .select($"p.signal", $"p.x")
        .groupBy($"signal")
        .agg(count(lit(1)).as("n"), dd.dd_agg($"x", 0.01).as("st"))
        .count()
    def time(tag: String)(f: => Long): Unit = {
      val ts = (1 to passes).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      println(f"[repbench] $tag: min ${ts.min}%.2f s (passes: " +
        ts.map(t => f"$t%.2f").mkString(", ") + ")")
    }
    time("five-pass column formulas") {
      sketch(oldSignals(docs))
    }
    time("one-pass native RepStats") {
      sketch(graft.operators.IngestDashboard.repSignals(docs, "doc_id", "text"))
    }
    spark.stop()
  }
}
