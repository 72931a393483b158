package graft

import java.nio.file.Files

import graft.functions.CallParam
import graft.functions.CallParam.param
import graft.operators.Retrieval
import graft.streaming.StreamingIndex
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Repeated operations reuse the classes whole-stage codegen compiled
  * for them: the class cache holds graft's working set
  * ([[GraftSession.CodegenCacheEntries]]), and per-call values reach
  * generated code as [[CallParam]]s instead of source literals.
  * Compiles are counted with Spark's own counter (one histogram update
  * per class actually compiled, none for a cache hit).
  */
class CodegenReuseSpec extends SparkSpec {

  import spark.implicits._

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Classes compiled while `f` runs. */
  private def compiled(f: => Unit): Long = {
    val c0 = compiles
    f
    compiles - c0
  }

  test("a working set of 120 distinct plans stays compiled: the second pass compiles nothing") {
    // each literal is inlined into the generated source, so every plan
    // is its own class: more than Spark's default cache of 100 holds
    val plans = (1 to 120).map { i =>
      () => spark.range(3).select(($"id" * i + i).as("x")).collect()
    }
    val first = compiled(plans.foreach(_()))
    assert(first >= 120, s"each plan should compile its own class, got $first")
    val second = compiled(plans.foreach(_()))
    assert(second == 0, s"the second pass recompiled $second classes")
  }

  test("a BM25 append with a new batch id and new corpus stats, then a probe, compiles nothing") {
    val docs = Tables(spark, sf).documents.select("doc_id", "text")
    // one single-file parquet dir per batch: the plans of two batches
    // differ only in their data, as a stream's do. The last batch's
    // documents are twice as long, so avgdl moves too
    val dirs = (0 until 3).map { b =>
      val dir = Files.createTempDirectory(s"graft-cgbatch$b").resolve("d").toString
      val part = docs.filter($"doc_id" % 3 === b)
      (if (b < 2) part else part.select($"doc_id", concat_ws(" ", $"text", $"text").as("text")))
        .coalesce(1).write.parquet(dir)
      dir
    }
    def batch(b: Int): DataFrame = spark.read.parquet(dirs(b))
    val db = "cgreuse"
    val loc = Files.createTempDirectory("graft-cgreuse").toString
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    spark.sql(s"CREATE DATABASE $db LOCATION '$loc'")
    val qs = Seq(1L -> "spark window join", 2L -> "dup the scan")
    def stats = spark.table(s"$db.stats").select("n_docs", "avgdl").head()
    def probe(): Array[Row] = Retrieval.bm25TopKIndexed(spark, db, qs, k = 10).collect()
    try {
      assert(StreamingIndex.applyBm25Batch(batch(0), "doc_id", "text", db, 0))
      assert(StreamingIndex.applyBm25Batch(batch(1), "doc_id", "text", db, 1))
      assert(probe().nonEmpty)
      val warm = stats
      val n = compiled {
        assert(StreamingIndex.applyBm25Batch(batch(2), "doc_id", "text", db, 2))
        assert(probe().nonEmpty)
      }
      assert(stats.getLong(0) != warm.getLong(0) && stats.getLong(1) != warm.getLong(1),
        s"the append should change n_docs and avgdl: $warm -> $stats")
      assert(n == 0, s"the second append and probe compiled $n classes")
    } finally spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }

  test("CallParam: same values compiled and interpreted, never folded, one class for all values") {
    def build(v: Long): DataFrame =
      spark.range(5).select(($"id" * param(v) + param(3L)).as("x"), (param(v) + 1).as("y"))
    val confs = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.fallback")
    val orig = confs.map(k => k -> spark.conf.getOption(k))
    def rows(v: Long) = build(v).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    try {
      spark.conf.set(confs(0), "CODEGEN_ONLY")
      spark.conf.set(confs(1), "false")
      val compiledRows = rows(7L)
      spark.conf.set(confs(0), "NO_CODEGEN")
      val interpreted = rows(7L)
      val want = (0L until 5L).map(i => (i * 7 + 3, 8L))
      assert(compiledRows == want && interpreted == want)
    } finally orig.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    // `param(v) + 1` would fold to a literal if the param were foldable
    val kept = build(7L).queryExecution.optimizedPlan.expressions
      .flatMap(_.collect { case p: CallParam => p })
    assert(kept.size == 3, s"the optimizer must keep every param: ${build(7L).queryExecution.optimizedPlan}")
    rows(11L)
    val again = compiled(assert(rows(12L).head == ((3L, 13L))))
    assert(again == 0, s"a new value recompiled $again classes")
  }
}
