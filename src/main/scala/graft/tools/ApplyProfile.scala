package graft.tools

import graft.GraftSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Phase + JOB-COUNT attribution INSIDE one streaming-index apply —
  * the measurement the r17 verdict asked for before touching the
  * per-apply job floor: which of (batchlog probe / emptiness probe /
  * family sub-table writes / staged-rename commit / batchlog append)
  * carries an apply's 1-2 s wall, and how many Spark jobs each phase
  * launches. DashGateProfile times whole applies; this tool opens one
  * up. Usage: tools/jrun.sh graft.tools.ApplyProfile <sfDir> [passes]
  */
object ApplyProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val passes = if (args.length > 1) args(1).toInt else 3
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    import spark.implicits._

    // job counter: phases are sequential on the driver thread, so a
    // plain counter attributes jobs to the phase that launched them
    // (concurrent ParJobs writes inside one phase still count here)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = ()
    })

    val docs = graft.Tables(spark, sfDir).documents
    docs.count() // warm

    def rmTree(p: java.io.File): Unit = {
      val kids = p.listFiles()
      if (kids != null) kids.foreach(rmTree)
      p.delete(); ()
    }

    def phase(name: String)(f: => Unit): Unit = {
      // listener events are async (posted to a queue): give the bus a
      // beat to drain before reading the counter — measurement tool,
      // ±1 job precision is fine
      Thread.sleep(200)
      val j0 = jobs.get()
      val t0 = System.nanoTime()
      f
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200)
      println(f"[applyprof] $name%-28s ${dt}%7.3f s  jobs=${jobs.get() - j0}")
    }

    (1 to passes).foreach { pass =>
      println(s"[applyprof] ===== pass $pass: applyLmBatch (q211 shape) =====")
      spark.catalog.clearCache()
      val train = docs.filter($"doc_id" % 5 =!= 0)
      val dir = java.nio.file.Files.createTempDirectory("graft-applyprof").toString
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      try {
        val batch = train.filter($"doc_id" % 3 === 0)
        phase("lm.contains")(graft.streaming.BatchLog.contains(spark, s"$dir/batchlog", 0L))
        phase("lm.isEmpty")(batch.isEmpty)
        val staging = new org.apache.hadoop.fs.Path(s"$dir/staging_b0")
        phase("lm.sweep")(Seq("c12", "c1", "cw").foreach { sub =>
          graft.streaming.StreamingIndex.sweepBatchFiles(fs,
            new org.apache.hadoop.fs.Path(s"$dir/$sub"), 0L)
        })
        phase("lm.appendLmCounts")(graft.operators.LangModel.appendLmCounts(
          spark, batch, "text", dir, stagingPath = Some(staging.toString)))
        phase("lm.commitStaged")(Seq("c12", "c1", "cw").foreach { sub =>
          graft.streaming.StreamingIndex.commitStaged(fs,
            new org.apache.hadoop.fs.Path(staging, sub),
            new org.apache.hadoop.fs.Path(s"$dir/$sub"), 0L)
        })
        phase("lm.batchlogAppend")(graft.streaming.BatchLog.append(
          spark, s"$dir/batchlog", 0L))
        // one more full apply through the production entry point, for
        // the whole-apply wall the phases above should sum to
        phase("lm.apply_b1.total")(graft.streaming.StreamingIndex.applyLmBatch(
          train.filter($"doc_id" % 3 === 1), "text", dir, batchId = 1))
      } finally rmTree(new java.io.File(dir))

      println(s"[applyprof] ===== pass $pass: applyDashboardBatch (q215 shape) =====")
      spark.catalog.clearCache()
      val ddir = java.nio.file.Files.createTempDirectory("graft-applyprof-d").toString
      try {
        val cols = Seq("doc_id", "n_chars")
        val b0 = train.filter($"doc_id" % 3 === 0)
        phase("dash.apply_b0.total")(graft.streaming.StreamingIndex
          .applyDashboardBatch(b0, "text", cols, ddir, batchId = 0))
        val b1 = train.filter($"doc_id" % 3 === 1)
        phase("dash.b1.persist+count") {
          b1.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          b1.count(); ()
        }
        phase("dash.b1.unpersist+apply") {
          b1.unpersist()
          graft.streaming.StreamingIndex.applyDashboardBatch(
            b1, "text", cols, ddir, batchId = 1); ()
        }
      } finally rmTree(new java.io.File(ddir))

      println(s"[applyprof] ===== pass $pass: applyNearDupBatch (q219 shape) =====")
      spark.catalog.clearCache()
      val ndir = java.nio.file.Files.createTempDirectory("graft-applyprof-n").toString
      try {
        val b0 = train.filter($"doc_id" % 3 === 0)
        phase("nd.apply_b0.total")(graft.streaming.StreamingIndex
          .applyNearDupBatch(b0, "doc_id", "text", ndir, batchId = 0))
        val b1 = train.filter($"doc_id" % 3 === 1)
        phase("nd.b1.isEmpty")(b1.isEmpty)
        phase("nd.b1.metaRead") {
          val m = spark.read.parquet(s"$ndir/meta").head
          require(m.getInt(1) == 128); ()
        }
        phase("nd.b1.appendStaged")(graft.operators.Dedup.appendNearDupIndex(
          spark, b1, "doc_id", "text", ndir,
          stagingPath = Some(s"$ndir/staging_b1")))
        phase("nd.b1.rest")(graft.streaming.StreamingIndex
          .applyNearDupBatch(b1, "doc_id", "text", ndir, batchId = 1))
      } finally rmTree(new java.io.File(ndir))
    }
    spark.stop()
  }
}
