package graft.tools

import graft.GraftSession
import org.apache.spark.sql.functions._

/** Synthesize a larger bench scale point by replicating an existing
  * scale directory N times with DISJOINT key ranges (every key column
  * offset by `copy · 10^9`, so each copy joins only within itself and
  * group cardinalities scale like real data growth). Dimension tables
  * (region, nation) are shared, exactly like TPC-H's fixed dims.
  *
  * Usage: ScaleUp <srcDir> <outDir> <copies> [offsetPerCopy]
  *
  * `offsetPerCopy` (default 10^9) must exceed the source's key SPAN —
  * scaling an already-scaled directory (e.g. sf10, whose keys reach
  * 99·10^9 + base) needs a larger stride (10^11) to keep copies
  * disjoint; all strides used stay multiples of small moduli (4, 20)
  * so id-derived dispatch/splits replicate per copy, and max keys
  * stay under 2^40 (the z-order/shard arithmetic headroom).
  */
object ScaleUp {
  private val K = 1000000000L // default per-copy key offset

  private val keyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  def main(args: Array[String]): Unit = {
    val (src, out, copies, off) = args match {
      case Array(s, o, c) => (s, o, c.toInt, K)
      case Array(s, o, c, k) => (s, o, c.toInt, k.toLong)
    }
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt)
    // events.parquet stores TIMESTAMP(NANOS): read the raw INT64 nanos
    // (the rewritten copy is then plain INT64, which Tables.events
    // converts identically)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    new java.io.File(out).mkdirs()
    for (t <- Seq("region", "nation")) // shared dims: one copy
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    keyCols.foreach { case (t, keys) =>
      val base = spark.read.parquet(s"$src/$t.parquet")
      val scaled = (0 until copies).map { i =>
        keys.foldLeft(base)((df, k) => df.withColumn(k, col(k) + lit(i * off)))
      }.reduce(_ unionAll _)
      scaled.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scaleup] $t x$copies done")
    }
    spark.stop()
  }
}
