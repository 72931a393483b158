package graft.tools

import graft.{GraftSession, SparkEntry, Tables}

/** Time individual SparkEntry queries (bench methodology: noop write,
  * warmup pass, min of two runs). Usage:
  *   runMain graft.tools.ProfileQ <sfDir> <queryName> [<queryName>...]
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local(32)
    Tables.warmupAll(spark, dir, "profileq")
    def once(n: String): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, dir).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    names.foreach { n =>
      val a = once(n); val b = once(n)
      println(f"[profileq] $n: min=${math.min(a, b)}%.2f s (p1=$a%.2f p2=$b%.2f)")
      // composite-gate phase attribution, if the query recorded any
      import scala.jdk.CollectionConverters._
      val phases = graft.operators.Retrieval.phaseLog.asScala.toSeq.sortBy(_._1)
      graft.operators.Retrieval.phaseLog.clear()
      if (phases.nonEmpty)
        println(phases.map { case (k, v) => f"$k=$v%.2f" }
          .mkString("[profileq]   phases: ", " ", " s"))
    }
    spark.stop()
  }
}
