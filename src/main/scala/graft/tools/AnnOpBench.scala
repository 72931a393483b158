package graft.tools

import graft.{GraftSession, Tables}
import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Times the IVF-SQ8 OPERATOR alone (no recall-audit harness — the
  * q203 gate adds a brute-force truth pass that dominates at big SF):
  *   tools/jrun.sh graft.tools.AnnOpBench <sfDir> [passes]
  */
object AnnOpBench {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val passes = if (args.length > 1) args(1).toInt else 2
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val corpus = Similarity.prepare(Tables(spark, dir).embeddings, "vec_id", "embedding")
    corpus.count() // warm
    val queries = corpus.filter(col("vid") < 500)
    val ts = (1 to passes).map { _ =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      Similarity.ivfSq8TopK(queries, corpus, topK = 5)
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    println(f"ivfSq8TopK alone: min ${ts.min}%.2f s (passes: ${ts.map(t => f"$t%.2f").mkString(", ")})")
    spark.stop()
  }
}
