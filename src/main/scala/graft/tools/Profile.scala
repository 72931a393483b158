package graft.tools

import graft.{GraftSession, Tables}
import graft.operators.Dedup
import org.apache.spark.sql.functions._

object Profile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local(32)
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[profile] $label: ${(System.nanoTime()-t0)/1e9}%.2f s"); r
    }
    val docs = Tables(spark, dir).documents
    time("docs count")(docs.count())
    if (args.length > 1 && args(1) == "q32") {
      val sigs = time("signatures") {
        val s = Dedup.minhashSignatures(docs, "doc_id", "text", 3, 128).cache()
        s.count(); s
      }
      val cands = time("lsh candidates") {
        val c = Dedup.lshCandidates(sigs, 32, 4).cache()
        println(s"[profile] n_cands=${c.count()}")
        c
      }
      val docsh = time("doc shingles") {
        val d = Dedup.docShingles(docs, "doc_id", "text", 3).cache()
        d.count(); d
      }
      time("verify")(
        Dedup.verifyJaccardArrays(cands, docsh, 0.8)
          .write.format("noop").mode("overwrite").save())
      spark.stop()
      return
    }
    val sh = time("shingles materialize")(
      { val s = Dedup.shingles(docs, "doc_id", "text", 3).cache(); s.count(); s })
    time("sizes")(sh.groupBy("doc").count().write.format("noop").mode("overwrite").save())
    time("self-join+agg")(
      sh.as("x").join(sh.as("y"), col("x.h") === col("y.h") && col("x.doc") < col("y.doc"))
        .groupBy(col("x.doc"), col("y.doc")).count()
        .write.format("noop").mode("overwrite").save())
    time("full q31")(
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
        .write.format("noop").mode("overwrite").save())
    time("full q31 again")(
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
        .write.format("noop").mode("overwrite").save())
    spark.stop()
  }
}
