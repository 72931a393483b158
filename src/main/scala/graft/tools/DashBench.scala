package graft.tools

import graft.GraftSession

/** Measures the composed ingest-dashboard applier against the five
  * separate family appliers over the same document batch — the
  * "composed ≈ max, not sum" point behind the r14 SCALE.md row: the
  * separate form scans the batch once PER FAMILY (profile + LM +
  * KN-3 + repetition + near-dup), the composed applier materializes
  * the batch once and derives all five families' delta segments from
  * the cached rows as concurrent jobs.
  * Usage:
  *   tools/jrun.sh graft.tools.DashBench <sfDir> [passes]
  */
object DashBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val passes = if (args.length > 1) args(1).toInt else 2
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    import spark.implicits._
    val cols = Seq("doc_id", "n_chars")
    def docs = graft.Tables(spark, sfDir).documents
      .select($"doc_id", $"text", $"n_chars")
    def freshDir(): String =
      java.nio.file.Files.createTempDirectory("graft-dashbench").toString
    def time(what: String)(f: => Unit): Unit = {
      val ts = (1 to passes).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        f
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$what: min ${ts.min}%.2f s (passes: ${ts.map(t => f"$t%.2f").mkString(", ")})")
    }
    docs.count() // warm the table
    time("family alone: LM counts") {
      graft.operators.LangModel.appendLmCounts(spark, docs, "text", freshDir())
    }
    time("family alone: KN-3 trigram counts") {
      graft.operators.LangModel.appendTrigramCounts(spark, docs, "text", freshDir())
    }
    time("family alone: profile state") {
      graft.operators.Profiling.appendProfileState(spark, docs, cols, freshDir())
    }
    time("family alone: repetition sketches") {
      graft.operators.IngestDashboard.appendRepState(spark, docs, "text", freshDir())
    }
    time("family alone: near-dup postings + sets") {
      graft.operators.Dedup.appendNearDupIndex(spark, docs, "doc_id", "text", freshDir())
    }
    time("separate: LM + KN-3 + profile + repetition + near-dup (five scans of the batch)") {
      val dir = freshDir()
      graft.operators.LangModel.appendLmCounts(spark, docs, "text", dir)
      graft.operators.LangModel.appendTrigramCounts(spark, docs, "text", dir)
      graft.operators.Profiling.appendProfileState(spark, docs, cols, dir)
      graft.operators.IngestDashboard.appendRepState(spark, docs, "text", dir)
      graft.operators.Dedup.appendNearDupIndex(spark, docs, "doc_id", "text", dir)
    }
    time("composed: applyDashboardBatch (one materialized scan, concurrent families)") {
      val dir = freshDir()
      graft.streaming.StreamingIndex.applyDashboardBatch(
        docs, "text", cols, dir, batchId = 0)
      ()
    }
    time("composed: applyDashboardBatch(shareScan=false) (concurrent families, source re-scans)") {
      val dir = freshDir()
      graft.streaming.StreamingIndex.applyDashboardBatch(
        docs, "text", cols, dir, batchId = 0, shareScan = false)
      ()
    }
    time("bootstrap: buildDashboard (one scan, no staging/batchlog)") {
      graft.streaming.StreamingIndex.buildDashboard(
        docs, "text", cols, freshDir())
    }
    time("bootstrap: buildDashboard(shareScan=false) (source re-scans, no staging/batchlog)") {
      graft.streaming.StreamingIndex.buildDashboard(
        docs, "text", cols, freshDir(), shareScan = false)
    }
    spark.stop()
  }
}
