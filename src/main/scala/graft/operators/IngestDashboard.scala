package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.syntax._

/** The REPETITION-SIGNAL leg of the composed ingest dashboard (the
  * r13 verdict's top item): corpus-level quantile sketches of the
  * per-document Gopher repetition signals, maintained incrementally
  * as additive DDSketch segments — the statistic an ingest dashboard
  * watches to catch a crawler feeding boilerplate.
  *
  * Signals are EXACTLY q208's map-side arithmetic (the q208 gate
  * rewires through [[repSignals]] so the two cannot drift):
  * distinct-token ratio, top-token fraction, top-bigram fraction and
  * duplicate-trigram fraction, over documents with ≥ 3 tokens.
  *
  * State: one (signal, n, st) DDSketch row per signal per batch
  * segment. DDSketch merges are exact integer bucket addition, so the
  * merged stream state is BIT-IDENTICAL to the one-shot sketch over
  * the union at any batch split or replay order — the LM-counts
  * contract ([[LangModel.appendLmCounts]]) for quantiles, and why the
  * composed dashboard sink can carry this family with the same
  * batchlog idempotence machinery as the others. Estimates carry the
  * deterministic α relative-error guarantee the q157 gate audits as
  * exact rank inequalities.
  */
object IngestDashboard {

  /** The dashboard's default sketch accuracy (1% relative error). */
  val Alpha = 0.01

  val signalNames: Seq[String] =
    Seq("distinct_ratio", "top_token_frac", "top_bigram_frac",
      "dup_trigram_frac")

  /** Per-document repetition signals, wide: (id, distinct_ratio,
    * top_token_frac, top_bigram_frac, dup_trigram_frac) — q208's
    * expressions verbatim, all in-row (zero exchanges). Documents
    * with < 3 tokens are excluded (the n−1 / n−2 denominators).
    */
  def repSignals(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // ONE text pass ([[graft.functions.RepStats]]): the counts behind
    // all four ratios from a single split + two count maps + one hash
    // set, bit-identical to the former five-pass column formulas
    // (split ×2, array_distinct, two interpreted aggregate-lambda
    // maxMultiplicity runs, shingle hashing — TextFunctionsSpec pins
    // the equality). The n ≥ 3 filter counts SPACES (n = spaces + 1
    // under the trailing-empties split), so the filter stage never
    // tokenizes, and codegen subexpression elimination evaluates the
    // struct once for the four field reads in the single project.
    val t = col(textCol)
    val rs = graft.functions.RepStats.rep_stats(t)
    val n = rs.getField("n")
    docs
      .filter(length(t) - length(regexp_replace(t, " ", "")) >= 2)
      .select(col(idCol),
        (rs.getField("distinct").cast("double") / n).as("distinct_ratio"),
        (rs.getField("topTok").cast("double") / n).as("top_token_frac"),
        (rs.getField("topBig").cast("double") / (n - 1))
          .as("top_bigram_frac"),
        (lit(1.0) - rs.getField("triUniq").cast("double") / (n - 2))
          .as("dup_trigram_frac"))
  }

  /** One batch's repetition state: (signal, n, st) — the per-doc
    * signals stacked long and sketched per signal. `n` is the
    * (additive) count of contributing documents.
    */
  private[graft] def repStateOf(docs: DataFrame, textCol: String,
      alpha: Double = Alpha): DataFrame = {
    val dd = graft.functions.DdSketch
    val wide = repSignals(docs.withColumn("__rid", lit(0L)), "__rid", textCol)
    val long = wide.select(explode(array(signalNames.map(s =>
        struct(lit(s).as("signal"), col(s).as("x"))): _*)).as("p"))
      .select($"p.signal", $"p.x")
    long.groupBy($"signal")
      .agg(count(lit(1)).as("n"), dd.dd_agg($"x", alpha).as("st"))
  }

  /** Append one delta of repetition state to `dir/rep` (the
    * [[LangModel.appendLmCounts]] staged/append contract).
    */
  def appendRepState(spark: org.apache.spark.sql.SparkSession,
      delta: DataFrame, textCol: String, dir: String,
      alpha: Double = Alpha, stagingPath: Option[String] = None): Unit = {
    val (root, mode) = IndexMaintenance.writeTarget(dir, stagingPath)
    repStateOf(delta, textCol, alpha).write.mode(mode).parquet(s"$root/rep")
  }

  /** Merged repetition quantiles from the persisted segments alone:
    * (signal, n, q, est) for each requested quantile — one
    * vocabulary-bounded (4-signal) merge aggregation, no raw rescan.
    * Merged state ≡ one-shot state bit-exactly (integer bucket adds).
    */
  def repQuantilesIndexed(spark: org.apache.spark.sql.SparkSession,
      dir: String, qs: Seq[Double], alpha: Double = Alpha): DataFrame = {
    val dd = graft.functions.DdSketch
    val merged = TinyParquet.read(spark, s"$dir/rep")
      .groupBy($"signal")
      .agg(sum($"n").as("n"), dd.dd_merge_agg($"st", alpha).as("st"))
    merged.select($"signal" +: $"n" +: qs.map(q =>
        dd.dd_quantile($"st", q, alpha).as(s"q${(q * 100).round}")): _*)
  }

  /** Compact `dir/rep` segments to one merged row per signal — the
    * [[LangModel.compactLmCounts]] contract (probe-identical: DDSketch
    * merges are integer bucket adds; the
    * [[IndexMaintenance.compactTables]] swap). Together with
    * compactLmCounts and compactProfileState it bounds a composed
    * dashboard directory's file count.
    */
  def compactRepState(spark: org.apache.spark.sql.SparkSession,
      dir: String, alpha: Double = Alpha): Unit = {
    val dd = graft.functions.DdSketch
    def merged() = spark.read.parquet(s"$dir/rep")
      .groupBy($"signal")
      .agg(sum($"n").as("n"), dd.dd_merge_agg($"st", alpha).as("st"))
    IndexMaintenance.compactTables(spark, dir, Seq("rep" -> (() => merged())))
  }
}
