package graft.tools

import graft.GraftSession

/** Attribute the per-query session floor (r17 verdict item 7): what a
  * TRIVIAL query costs end-to-end under the bench methodology, split
  * into clearCache / plan+analysis / job execution, and how the floor
  * responds to the candidate knobs (AQE off for the probe only —
  * measurement, not a proposed config). Usage:
  *   tools/jrun.sh graft.tools.FloorProbe <sfDir> [reps]
  */
object FloorProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 20
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    graft.Tables.warmupAll(spark, sfDir, "floorprobe")

    def t(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def minOf(n: Int)(f: => Unit): Double = (1 to n).map(_ => t(f)).min
    def med(n: Int)(f: => Unit): Double = {
      val ts = (1 to n).map(_ => t(f)).sorted; ts(n / 2)
    }

    // the bench's per-query envelope on a trivial single-stage query
    val docs = graft.Tables(spark, sfDir).documents
    println(f"[floor] clearCache:            ${med(reps)(spark.catalog.clearCache())}%.4f s (median)")
    println(f"[floor] read+plan (no action): ${med(reps) {
      graft.Tables(spark, sfDir).documents.filter("doc_id % 7 = 0")
        .queryExecution.executedPlan; ()
    }}%.4f s (median)")
    println(f"[floor]   of which read only:  ${med(reps) {
      graft.Tables(spark, sfDir).documents; ()
    }}%.4f s (median)")
    println(f"[floor]   of which schema-given read: ${med(reps) {
      spark.read.schema(docs.schema).parquet(s"$sfDir/documents.parquet"); ()
    }}%.4f s (median)")
    println(f"[floor]   plan on pre-built df: ${med(reps) {
      docs.filter("doc_id % 11 = 0").queryExecution.executedPlan; ()
    }}%.4f s (median)")
    println(f"[floor] noop write, map-only:  ${med(reps) {
      docs.filter("doc_id % 7 = 0")
        .write.mode("overwrite").format("noop").save()
    }}%.4f s (median)")
    println(f"[floor] noop write, 1 groupBy: ${med(reps) {
      docs.groupBy("source").count()
        .write.mode("overwrite").format("noop").save()
    }}%.4f s (median)")
    println(f"[floor] full bench envelope:   ${med(reps) {
      spark.catalog.clearCache()
      graft.Tables(spark, sfDir).documents.groupBy("source").count()
        .write.mode("overwrite").format("noop").save()
    }}%.4f s (median)")
    // the spreadIds guard's plan-to-RDD partition probe, in isolation
    println(f"[floor] ids .rdd numPartitions: ${med(reps) {
      graft.Tables(spark, sfDir).documents
        .select(org.apache.spark.sql.functions.col("doc_id").cast("long"))
        .as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .rdd.getNumPartitions; ()
    }}%.4f s (median)")
    // AQE off, probe only: how much of the groupBy floor is AQE stage
    // scheduling vs the shuffle itself
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    println(f"[floor] groupBy, AQE OFF:      ${med(reps) {
      docs.groupBy("source").count()
        .write.mode("overwrite").format("noop").save()
    }}%.4f s (median)")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    val _ = minOf(1)(())
    spark.stop()
  }
}
