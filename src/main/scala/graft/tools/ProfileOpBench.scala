package graft.tools

import graft.GraftSession

/** Times the PROFILE OPERATORS themselves (not the q201/q205 gates,
  * which both include the exact audit pass): `numericProfile` (exact
  * countDistinct → expand, corpus-linear per column) vs
  * `approxProfile` (mergeable HLL, one pass, fixed state) over the
  * lineitem money columns — the measurement behind the SCALE.md
  * decade row for the q205 swap. Usage:
  *   tools/jrun.sh graft.tools.ProfileOpBench <sfDir> [passes]
  */
object ProfileOpBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val passes = if (args.length > 1) args(1).toInt else 2
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    def li = graft.Tables(spark, sfDir).lineitem
    def time(what: String)(f: => Unit): Unit = {
      val ts = (1 to passes).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        f
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$what: min ${ts.min}%.2f s (passes: ${ts.map(t => f"$t%.2f").mkString(", ")})")
    }
    // warm
    li.count()
    time("numericProfile (exact countDistinct)") {
      graft.operators.Profiling.numericProfile(li, cols)
        .write.mode("overwrite").format("noop").save()
    }
    time("approxProfile (HLL p=12)") {
      graft.operators.Profiling.approxProfile(li, cols)
        .write.mode("overwrite").format("noop").save()
    }
    spark.stop()
  }
}
