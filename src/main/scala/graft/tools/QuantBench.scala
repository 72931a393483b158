package graft.tools

import graft.GraftSession
import org.apache.spark.sql.functions._

/** A/B the QuantizeVec kernel against the transform+round HOF on the
  * real embeddings table, and break q196's phases down — written to
  * chase the mid-r18 q196 regression before blaming the kernel.
  * Usage: tools/jrun.sh graft.tools.QuantBench <sfDir> [reps]
  */
object QuantBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 5
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    import spark.implicits._
    val emb = graft.Tables(spark, sfDir).embeddings
    emb.count()
    def minOf(f: => Unit): Double =
      (1 to reps).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.min
    def hofQuantize(c: org.apache.spark.sql.Column) =
      transform(c, x => round(x.cast("double") * 1000).cast("long"))

    val kernelPrep = emb.select($"vec_id".as("vid"),
      graft.functions.QuantizeVec.quantizeVec($"embedding").as("qv"))
    val hofPrep = emb.select($"vec_id".as("vid"),
      hofQuantize($"embedding").as("qv"))
    println(f"[quant] kernel encode noop:  ${minOf(kernelPrep
      .write.mode("overwrite").format("noop").save())}%.3f s")
    println(f"[quant] HOF    encode noop:  ${minOf(hofPrep
      .write.mode("overwrite").format("noop").save())}%.3f s")
    println(f"[quant] kernel +norm noop:   ${minOf(kernelPrep
      .withColumn("nrm", graft.functions.VectorFunctions.normQ($"qv"))
      .write.mode("overwrite").format("noop").save())}%.3f s")
    println(f"[quant] HOF    +norm noop:   ${minOf(hofPrep
      .withColumn("nrm", graft.functions.VectorFunctions.normQ($"qv"))
      .write.mode("overwrite").format("noop").save())}%.3f s")
    // q196 phase decomposition on the real operator
    val corpus = graft.operators.Similarity.prepare(emb, "vec_id", "embedding")
    println(f"[quant] q196 full binaryTopK:  ${minOf {
      graft.operators.Similarity.binaryTopK(
        corpus.filter($"vid" < 500), corpus, topK = 5)
        .write.mode("overwrite").format("noop").save()
    }}%.3f s")
    println(f"[quant] q196 prepare noop:     ${minOf {
      corpus.write.mode("overwrite").format("noop").save()
    }}%.3f s")
    // same operator over an HOF-prepared corpus — isolates the kernel
    // inside the full gate, one JVM, one window
    val hofCorpus = hofPrep.withColumn("nrm",
      graft.functions.VectorFunctions.normQ($"qv"))
    println(f"[quant] q196 binaryTopK (HOF): ${minOf {
      graft.operators.Similarity.binaryTopK(
        hofCorpus.filter($"vid" < 500), hofCorpus, topK = 5)
        .write.mode("overwrite").format("noop").save()
    }}%.3f s")
    // sub-chain attribution: which stage of binaryTopK pays for the
    // kernel-vs-HOF difference
    def subChains(tag: String, prep: org.apache.spark.sql.DataFrame): Unit = {
      val stats = prep.select(posexplode($"qv").as(Seq("d", "v")))
        .groupBy($"d").agg(sum($"v").as("s"), count(lit(1)).as("n"))
        .orderBy($"d").collect()
      val thr = stats.map(r => r.getLong(1).toDouble / r.getLong(2))
      val dim = thr.length
      val thrA = array(thr.map(lit): _*)
      def signWords(c: org.apache.spark.sql.Column) =
        graft.functions.SignPack32.signPack(c, thrA)
      println(f"[quant] $tag enc noop:        ${minOf {
        prep.select($"vid", signWords($"qv").as("sig"))
          .write.mode("overwrite").format("noop").save()
      }}%.3f s")
      println(f"[quant] $tag scored+rank:     ${minOf {
        val enc = prep.select($"vid", signWords($"qv").as("sig"))
        val q = broadcast(prep.filter($"vid" < 500)
          .select($"vid".as("q_vid"), signWords($"qv").as("q_sig")))
        val scored = enc.join(q, $"q_vid" =!= $"vid")
          .select($"q_vid".as("query_id"), $"vid".as("cand_id"),
            ((lit(dim) - graft.functions.HammingFold.hamming($"q_sig", $"sig"))
              .cast("double") / dim).as("cos"))
        scored.groupBy($"query_id")
          .agg(graft.functions.TopKAgg.topk_by_score($"cos", $"cand_id", 80).as("top"))
          .write.mode("overwrite").format("noop").save()
      }}%.3f s")
    }
    subChains("kernel", kernelPrep.withColumn("nrm",
      graft.functions.VectorFunctions.normQ($"qv")))
    subChains("HOF   ", hofPrep.withColumn("nrm",
      graft.functions.VectorFunctions.normQ($"qv")))
    // the q196 stats pass (posexplode + groupBy + collect)
    println(f"[quant] kernel stats pass:   ${minOf {
      kernelPrep.select(posexplode($"qv").as(Seq("d", "v")))
        .groupBy($"d").agg(sum($"v").as("s"), count(lit(1)).as("n"))
        .orderBy($"d").collect(); ()
    }}%.3f s")
    println(f"[quant] HOF    stats pass:   ${minOf {
      hofPrep.select(posexplode($"qv").as(Seq("d", "v")))
        .groupBy($"d").agg(sum($"v").as("s"), count(lit(1)).as("n"))
        .orderBy($"d").collect(); ()
    }}%.3f s")
    spark.stop()
  }
}
