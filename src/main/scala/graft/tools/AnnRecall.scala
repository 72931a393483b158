package graft.tools

import graft.{GraftSession, Tables}
import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Prints the actual ANN recall values behind q36/q42's bound flags at
  * a given SF dir — margin check for the gate thresholds.
  */
object AnnRecall {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.local(8)
    val corpus = Similarity.prepare(Tables(spark, dir).embeddings, "vec_id", "embedding").cache()
    val queries = corpus.filter(col("vid") < 500)
    val truth = Similarity.bruteForceTopK(queries, corpus, 5).cache()
    val nTruth = truth.count()
    def recall(approx: org.apache.spark.sql.DataFrame): Double =
      truth.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
        .count().toDouble / nTruth
    val lsh = Similarity.lshTopK(corpus, dim = 64, nPlanes = 5, k = 5, nTables = 8,
      nProbe = 1)
      .filter(col("query_id") < 500)
    val lshMp = Similarity.lshTopK(corpus, dim = 64, nPlanes = 5, k = 5,
        nTables = 8, nProbe = 3, queries = queries)
      .filter(col("query_id") < 500)
    val ivf = Similarity.ivfTopK(corpus, k = 5, dim = 64, trainIters = 2)
      .filter(col("query_id") < 500)
    val pq = graft.operators.Pq.adcTopK(queries, corpus, topK = 5)
    val ivfpq = graft.operators.Pq.ivfAdcTopK(queries, corpus, topK = 5)
    println(s"[annrecall] dir=$dir nTruth=$nTruth lsh=${recall(lsh)} " +
      s"lshMp3=${recall(lshMp)} " +
      s"ivf=${recall(ivf)} pq=${recall(pq)} ivfpq=${recall(ivfpq)}")
    spark.stop()
  }
}
