package graft.tools

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic ORGANIC-corpus generator — the scale fixture ScaleUp
  * cannot be: ScaleUp replicates sf0.1 with disjoint key ranges, so
  * UNIQUE content (near-dup postings, shingle sets, LSH bucket
  * diversity) stays frozen at sf0.1 volume however far it scales, which
  * trivializes recall (replicated queries collide with their own
  * copies) and caps posting tables at ~2 MB. This generator grows
  * unique content WITH n:
  *
  *  - `documents(n)`: token sequences over the testdata core vocab
  *    PLUS an id-salted long tail (vocab grows ~n/8), so shingle
  *    postings grow linearly in n. Every 9th doc is a 2-token mutation
  *    of its predecessor (3-shingle jaccard ≈ 0.85–0.95 at the ~54-token
  *    mean length), planting a known near-dup rate.
  *  - `vectors(n)`: 64-dim float embeddings in 8-member clusters
  *    (center + 25% noise), so nearest neighbors are meaningful and
  *    recall is a real measurement, not a self-collision artifact.
  *
  * All randomness is splitmix64 of the row id — reruns are
  * bit-identical, no RNG state. Usage (writes a Tables-compatible dir):
  *
  *   tools/jrun.sh graft.tools.OrganicGen <outDir> <nDocs> <nVecs>
  */
object OrganicGen {

  /** splitmix64 — the id-seeded pseudo-random kernel. */
  private def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  private val coreVocab: Array[String] = Array(
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "a", "hash", "slow", "group", "agg", "the",
    "key", "query", "table", "stream", "filter", "customer", "window",
    "join", "vector", "or", "and", "row", "merge", "dup")

  private def tokensOf(id: Long, nDocs: Long): Array[String] = {
    val len = 10 + (mix(id * 31L + 7L) >>> 8) % 91L
    val rareVocab = math.max(32L, nDocs / 8L)
    Array.tabulate(len.toInt) { j =>
      val h = mix(id * 1000003L + j)
      // ~15% of positions draw from the GROWING long tail — unique
      // content volume scales with the corpus, the organic property
      if ((h >>> 4) % 20L < 3L) "w" + ((h >>> 9) % rareVocab)
      else coreVocab(((h >>> 9) % coreVocab.length).toInt)
    }
  }

  /** Organic documents: (doc_id, text, lang, source, n_chars) — the
    * testdata schema. Every 9th doc mutates its predecessor by 2
    * tokens (a planted near-dup pair with 3-shingle jaccard ≥ ~0.85).
    */
  def documents(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    val nDocs = n
    val textOf = udf { (id: Long) =>
      val base = if (id % 9L == 8L && id > 0L) id - 1L else id
      val toks = tokensOf(base, nDocs)
      if (base != id) { // mutate 2 deterministic positions
        val p1 = (mix(id * 13L + 1L) >>> 7) % toks.length
        val p2 = (mix(id * 13L + 2L) >>> 7) % toks.length
        toks(p1.toInt) = "m" + (mix(id) >>> 40)
        toks(p2.toInt) = "m" + (mix(id + 1L) >>> 40)
      }
      toks.mkString(" ")
    }
    spark.range(n)
      .select($"id".as("doc_id"), textOf($"id").as("text"))
      .withColumn("lang",
        element_at(array(lit("en"), lit("en"), lit("en"), lit("zh"), lit("de")),
          (pmod(xxhash64($"doc_id"), lit(5)) + 1).cast("int")))
      .withColumn("source", concat(lit("src"), pmod(xxhash64($"doc_id", lit(2)), lit(5))))
      .withColumn("n_chars", length($"text").cast("long"))
  }

  /** Organic embeddings: (vec_id, embedding float[64], label) — 8-member
    * clusters, member = center + noise·U(−1,1), both splitmix64-derived.
    * `noise` sets the in-cluster cosine (the LSH difficulty): 0.25
    * gives cos ≈ 0.94 (near-dup regime, recall trivially high); the
    * 0.75 default gives cos ≈ 0.6–0.7 — moderate neighbors, the
    * regime where plane growth actually costs recall and the nProbe
    * compensation is measurable.
    */
  def vectors(spark: SparkSession, n: Long, noise: Double = 0.75): DataFrame = {
    import spark.implicits._
    val noiseF = noise.toFloat
    val embOf = udf { (id: Long) =>
      val cid = id / 8L
      Array.tabulate(64) { d =>
        val c = ((mix(cid * 131L + d) >>> 11) % 2001L - 1000L) / 1000.0f
        val e = ((mix(id * 257L + d) >>> 11) % 2001L - 1000L) / 1000.0f * noiseF
        c + e
      }
    }
    spark.range(n)
      .select($"id".as("vec_id"), embOf($"id").as("embedding"),
        ($"id" / 8 % 10).cast("int").as("label"))
  }

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val nDocs = if (args.length > 1) args(1).toLong else 500000L
    val nVecs = if (args.length > 2) args(2).toLong else 200000L
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    documents(spark, nDocs).repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    vectors(spark, nVecs).repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    println(s"[organicgen] wrote $outDir: documents=$nDocs embeddings=$nVecs")
    spark.stop()
  }
}
