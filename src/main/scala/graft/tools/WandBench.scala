package graft.tools

import graft.{GraftSession, Tables}
import graft.operators.Retrieval
import org.apache.spark.sql.functions._

/** Measures plain [[Retrieval.bm25TopK]] vs the static-WAND variant
  * [[Retrieval.bm25TopKWand]] on the hybrid chain's query batch
  * (q102/q107/q120's shortlist side) at a given SF — the decision
  * measurement behind keeping the hybrid chain on the plain scorer
  * (docs/bench_notes.md, r10 at sf0.1; r15 re-measured at sf10):
  * WAND's pruning is output-identical but prepays two serial driver
  * rounds (θ seed + bound collection), so it wins only when the
  * candidate shuffle it prunes outweighs those rounds.
  *
  * Usage: tools/jrun.sh graft.tools.WandBench <sfDir> [passes]
  */
object WandBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val passes = if (args.length > 1) args(1).toInt else 2
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    import spark.implicits._
    val docs = Tables(spark, sfDir).documents.select($"doc_id", $"text")
    // the q102/q107/q120 batch, verbatim (Pipeline.retrievalQueries)
    val queries: Seq[(Long, String)] = Seq(
      1L -> "spark window join",
      2L -> "dup query scan",
      3L -> "hash table merge sort",
      4L -> "the a",
      5L -> "vector stream batch")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue,
        r.getLong(2), r.getAs[Number](3).longValue)).toSet
    // output identity first (the contract), then timing
    val plain0 = rows(Retrieval.bm25TopK(docs, "doc_id", "text", queries, k = 10))
    val wand0 = rows(Retrieval.bm25TopKWand(docs, "doc_id", "text", queries, k = 10))
    require(plain0 == wand0 && plain0.nonEmpty,
      s"WAND must be output-identical to plain (plain=${plain0.size}, wand=${wand0.size})")
    println(s"[wandbench] output identical: ${plain0.size} rows")
    def time(tag: String)(f: => Unit): Unit = {
      val ts = (1 to passes).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        f
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[wandbench] $tag: min ${ts.min}%.2f s (passes: " +
        ts.map(t => f"$t%.2f").mkString(", ") + ")")
    }
    time("plain bm25TopK") {
      Retrieval.bm25TopK(docs, "doc_id", "text", queries, k = 10).count(); ()
    }
    time("static-WAND bm25TopKWand") {
      Retrieval.bm25TopKWand(docs, "doc_id", "text", queries, k = 10).count(); ()
    }
    spark.stop()
  }
}
