package graft.tools

import graft.{GraftSession, Tables}
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Measures what the band-partitioned near-dup posting layout buys: a
  * standing index is built ONCE over the corpus slice, then the same
  * probe runs as the full 32-band probe and as the 16-band screen
  * ([[Dedup.nearDupScreenIndexed]]), reporting wall time and the
  * bytes the bands scan actually read (partition pruning = fewer
  * band=X directories touched). Pair counts are printed so the
  * recall story is visible next to the cost story.
  *
  * Usage: tools/jrun.sh graft.tools.NdScreenBench <sfDir> [passes]
  */
object NdScreenBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val passes = if (args.length > 1) args(1).toInt else 2
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    import spark.implicits._
    val docs = Tables(spark, sfDir).documents.select($"doc_id", $"text")
    val corpus = docs.filter($"doc_id" % 5 =!= 0)
    val probe = docs.filter($"doc_id" % 5 === 0).cache()
    probe.count()
    val dir = java.nio.file.Files.createTempDirectory("graft-ndsb").toString
    val t0 = System.nanoTime()
    Dedup.appendNearDupIndex(spark, corpus, "doc_id", "text", dir)
    println(f"[ndscreen] index build: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    def bandBytes(bandsProbed: Int): Long = {
      // bytes under the band=X dirs a probe with this band budget reads
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/bands"))
        .filter(e => e.isDirectory && {
          val n = e.getPath.getName
          n.startsWith("band=") && n.drop(5).toInt < bandsProbed
        })
        .map(e => fs.getContentSummary(e.getPath).getLength)
        .sum
    }
    def time(what: String)(f: => Long): Unit = {
      var n = 0L
      val ts = (1 to passes).map { _ =>
        spark.catalog.clearCache(); probe.cache(); probe.count()
        val s = System.nanoTime()
        n = f
        (System.nanoTime() - s) / 1e9
      }
      println(f"$what: min ${ts.min}%.2f s (pairs=$n, passes: " +
        ts.map(t => f"$t%.2f").mkString(", ") + ")")
    }
    time(s"full probe (32 bands, ${bandBytes(32)} posting bytes)") {
      Dedup.nearDupProbeIndexed(spark, dir, probe, "doc_id", "text", 0.8).count()
    }
    time(s"screen probe (16 bands, ${bandBytes(16)} posting bytes)") {
      Dedup.nearDupScreenIndexed(spark, dir, probe, "doc_id", "text", 0.8,
        bandsProbed = 16).count()
    }
    time(s"screen probe (8 bands, ${bandBytes(8)} posting bytes)") {
      Dedup.nearDupScreenIndexed(spark, dir, probe, "doc_id", "text", 0.8,
        bandsProbed = 8).count()
    }
    // the online point-lookup shape (opt-in flag on): a 3-doc probe
    // takes the pushed per-band bucket-IN path (row-group pruning
    // inside the bucket-sorted partitions); the 9-doc probe opts in
    // but sits just over the threshold, so the guard declines and it
    // scans every posting row group — the contrast IS the
    // row-group-pruning win at a standing index
    val p3 = probe.orderBy($"doc_id").limit(3).cache(); p3.count()
    val p9 = probe.orderBy($"doc_id").limit(9).cache(); p9.count()
    time("point probe (3 docs, pushed bucket filters)") {
      Dedup.nearDupProbeIndexed(spark, dir, p3, "doc_id", "text", 0.8,
        pointLookup = true).count()
    }
    time("small probe (9 docs, guard declines, full posting scan)") {
      Dedup.nearDupProbeIndexed(spark, dir, p9, "doc_id", "text", 0.8,
        pointLookup = true).count()
    }
    def rm(p: java.io.File): Unit = {
      val kids = p.listFiles(); if (kids != null) kids.foreach(rm)
      p.delete(); ()
    }
    rm(new java.io.File(dir))
    spark.stop()
  }
}
