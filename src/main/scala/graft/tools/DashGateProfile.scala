package graft.tools

import graft.GraftSession

/** Phase attribution for the composed-dashboard GATES (q215/q222):
  * times each of the gate's four [[graft.streaming.StreamingIndex
  * .applyDashboardBatch]] calls (batch 0/1, the replayed no-op, batch
  * 2) and the scoring probe separately, so a gate-level regression
  * can be pinned to "the apply lifecycle" vs "the KN probe" instead
  * of guessed at. Bench methodology: warm tables, min over passes.
  * Usage: tools/jrun.sh graft.tools.DashGateProfile <sfDir> [passes]
  */
object DashGateProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val passes = if (args.length > 1) args(1).toInt else 3
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    import spark.implicits._
    import graft.streaming.StreamingIndex
    val docs = graft.Tables(spark, sfDir).documents
    docs.count() // warm
    val cols = Seq("doc_id", "n_chars")

    def onePass(): Map[String, Double] = {
      spark.catalog.clearCache()
      val train = docs.filter($"doc_id" % 5 =!= 0)
      val idxDir =
        java.nio.file.Files.createTempDirectory("graft-dashgate").toString
      def t(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      try {
        val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
        phases("apply_b0") = t(StreamingIndex.applyDashboardBatch(
          train.filter($"doc_id" % 3 === 0), "text", cols, idxDir, batchId = 0))
        phases("apply_b1") = t(StreamingIndex.applyDashboardBatch(
          train.filter($"doc_id" % 3 === 1), "text", cols, idxDir, batchId = 1))
        phases("replay_b1") = t(StreamingIndex.applyDashboardBatch(
          train.filter($"doc_id" % 3 === 1), "text", cols, idxDir, batchId = 1))
        phases("apply_b2") = t(StreamingIndex.applyDashboardBatch(
          train.filter($"doc_id" % 3 === 2), "text", cols, idxDir, batchId = 2))
        phases("score_kn") = t(graft.operators.LangModel.scoreKnIndexed(
          spark, idxDir, docs.filter($"doc_id" % 5 === 0), "doc_id", "text")
          .write.mode("overwrite").format("noop").save())
        phases("score_kn3") = t(graft.operators.LangModel.scoreKn3Indexed(
          spark, idxDir, docs.filter($"doc_id" % 5 === 0), "doc_id", "text")
          .write.mode("overwrite").format("noop").save())
        phases.toMap
      } finally {
        def rm(p: java.io.File): Unit = {
          if (p.isDirectory) p.listFiles().foreach(rm)
          p.delete(); ()
        }
        rm(new java.io.File(idxDir))
      }
    }

    // per-family attribution at BATCH scale (the b0 slice): which of
    // the five concurrent family chains is the apply's wall time
    def familyPass(): Map[String, Double] = {
      spark.catalog.clearCache()
      val b0 = docs.filter($"doc_id" % 5 =!= 0).filter($"doc_id" % 3 === 0)
      val dir =
        java.nio.file.Files.createTempDirectory("graft-dashfam").toString
      def t(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      try {
        val m = scala.collection.mutable.LinkedHashMap[String, Double]()
        m("lm_bigram") =
          t(graft.operators.LangModel.appendLmCounts(spark, b0, "text", dir))
        m("lm_trigram") = t(graft.operators.LangModel.appendTrigramCounts(
          spark, b0, "text", dir))
        m("profile") = t(graft.operators.Profiling.appendProfileState(
          spark, b0, cols, dir, 12))
        m("rep") = t(graft.operators.IngestDashboard.appendRepState(
          spark, b0, "text", dir, graft.operators.IngestDashboard.Alpha))
        m("neardup") = t(graft.operators.Dedup.appendNearDupIndex(
          spark, b0, "doc_id", "text", dir))
        m.toMap
      } finally {
        def rm(p: java.io.File): Unit = {
          if (p.isDirectory) p.listFiles().foreach(rm)
          p.delete(); ()
        }
        rm(new java.io.File(dir))
      }
    }
    val famRuns = (1 to passes).map(_ => familyPass())
    famRuns.head.keys.foreach { k =>
      val vs = famRuns.map(_(k))
      println(f"[dashfam] $k%-10s min ${vs.min}%.2f s " +
        f"(passes: ${vs.map(v => f"$v%.2f").mkString(", ")})")
    }

    val runs = (1 to passes).map(_ => onePass())
    val keys = Seq("apply_b0", "apply_b1", "replay_b1", "apply_b2",
      "score_kn", "score_kn3")
    keys.foreach { k =>
      val vs = runs.map(_(k))
      println(f"[dashgate] $k%-10s min ${vs.min}%.2f s " +
        f"(passes: ${vs.map(v => f"$v%.2f").mkString(", ")})")
    }
    val applies = Seq("apply_b0", "apply_b1", "replay_b1", "apply_b2")
    println(f"[dashgate] apply-lifecycle min-sum " +
      f"${applies.map(k => runs.map(_(k)).min).sum}%.2f s")
    spark.stop()
  }
}
