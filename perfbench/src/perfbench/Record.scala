package perfbench

import java.nio.file.{Files, Path}

/** Records the `query_mix` result digests from a `graft.Verify` output
  * directory (one parquet result per query) that `tools/check.py` has
  * matched against the DuckDB oracle, after checking that the
  * benchmark's own execution of each query digests the same.
  */
object Record {
  def run(bench: Path, verifyOut: Path, work: Path): Unit = {
    val r = new Run(0L, 0, work, Runtime.getRuntime.availableProcessors)
    r.spark = Main.session(r)
    val data = bench.resolve("data/sf0.01").toString
    val lines = QueryMix.names.map { n =>
      val oracled = ResultDigest.of(r.spark.read.parquet(verifyOut.resolve(n).toString))
      val live = ResultDigest.of(graft.SparkEntry.queries(n)(r.spark, data))
      require(oracled == live, s"$n: verified result $oracled, benchmark run $live")
      s"$n\t$oracled"
    }
    Files.writeString(bench.resolve("query_digests.tsv"), lines.mkString("", "\n", "\n"))
    println(s"recorded ${lines.size} digests")
    r.spark.stop()
  }
}
