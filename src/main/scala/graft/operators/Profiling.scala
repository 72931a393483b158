package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.syntax._

/** Ingest-time data-quality profiling (the Deequ/great-expectations
  * stage of a production pipeline): per-column completeness,
  * cardinality, bounds, and an exact money-semantics sum, computed in
  * ONE pass over the table, plus the constraint verdicts a loader
  * gates on (complete? non-negative?) derived from the same
  * statistics. The reference pipeline trusts its upstream Hive tables
  * blindly (arity validation aside — op #10); a 100 TB ingest cannot,
  * and the profile is what stands between a silently-broken upstream
  * partition and a poisoned load.
  *
  * Scale shape: a single `agg` over the scan — every statistic is a
  * partial-aggregable expression, so the shuffle carries one partial
  * row per task. The exact `countDistinct` per column rewrites to an
  * expand (×(cols+1) on the PROFILED columns only, which the scan
  * prunes to) and is corpus-linear — [[numericProfile]] is the ORACLE
  * form. The 100 TB form is [[approxProfile]]: cardinality via the
  * mergeable [[graft.functions.HllAgg]] (fixed 2^p-long state per
  * column, no expand, near-flat per-column cost), every other
  * statistic unchanged and still exact; the q205 gate audits the
  * estimates against the exact profile under the standard 3·1.04/√m
  * envelope (the q123/q48 pattern). The long-format pivot at the end
  * is a 1-row explode on the driver-sized aggregate, not a data-path
  * operation.
  */
object Profiling {

  /** One-pass numeric profile: a row per column with
    * (col_name, n_rows, n_nulls, n_distinct, min_d, max_d, sum_d,
    * complete, non_negative). `sum_d` is decimal(18,2)-exact then
    * cast to double (the [[graft.Parity]] money convention), so the
    * value is engine-exact for 2-decimal monetary columns.
    * `non_negative` is a total verdict: an all-null (or empty) column
    * has no negative evidence and reads TRUE rather than NULL — a
    * loader gating on the boolean always gets a boolean
    * (PipelineOpsSpec pins the all-null case).
    */
  def numericProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(
        countDistinct(col(c)).as(s"${c}__distinct"))
    }
    profileWith(df, cols, aggs, c => col(s"${c}__distinct").as("n_distinct"))
  }

  /** The HLL-cardinality profile — identical to [[numericProfile]]
    * except `n_distinct` is replaced by `n_distinct_est`, the
    * [[graft.functions.HllAgg]] estimate over `xxhash64` of the
    * column (p → 2^p registers; null inputs are excluded explicitly,
    * matching `countDistinct`'s null semantics). State per column is
    * a fixed 2^p longs whatever the cardinality — the expand-free
    * shape that survives 100 TB × high-cardinality columns; all other
    * statistics remain exact.
    */
  def approxProfile(df: DataFrame, cols: Seq[String],
      p: Int = 12): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(
        graft.functions.Hll.hll_agg(
          when(col(c).isNull, lit(null).cast("long"))
            .otherwise(xxhash64(col(c))), p).as(s"${c}__hll"))
    }
    profileWith(df, cols, aggs,
      c => graft.functions.Hll.hll_estimate(col(s"${c}__hll"))
        .as("n_distinct_est"))
  }

  /** PERSISTED INCREMENTAL PROFILE — every statistic in the profile
    * is MERGEABLE (counts and decimal sums are additive, min/max are
    * idempotent-associative, HLL registers max-merge), so the profile
    * joins the LM counts as the second index in the streaming matrix
    * whose incremental form equals the batch form VALUE-EXACTLY: a
    * profile accumulated batch-by-batch is bit-identical to
    * [[approxProfile]] over the union (the q207 gate holds the q205
    * oracle's shape against it). Layout: `dir/state` parquet segments,
    * one row per (batch, column) with the raw mergeable state —
    * decimal sums kept IN DECIMAL (cast to double only at probe, the
    * [[graft.Parity]] rule, so segment merge order can never move a
    * ulp) and HLL registers as array<long>.
    */
  def profileState(df: DataFrame, cols: Seq[String],
      p: Int = 12): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
        min(col(c)).cast("double").as(s"${c}__min"),
        max(col(c)).cast("double").as(s"${c}__max"),
        sum(graft.Parity.dec2(col(c))).as(s"${c}__sumdec"),
        graft.functions.Hll.hll_agg(
          when(col(c).isNull, lit(null).cast("long"))
            .otherwise(xxhash64(col(c))), p).as(s"${c}__hll"))
    }
    val one = df.agg(count(lit(1)).as("n_rows"), aggs: _*)
    val rows = cols.map { c =>
      struct(lit(c).as("col_name"), $"n_rows",
        col(s"${c}__nulls").as("n_nulls"),
        col(s"${c}__min").as("min_d"),
        col(s"${c}__max").as("max_d"),
        col(s"${c}__sumdec").cast("decimal(38,2)").as("sum_dec"),
        col(s"${c}__hll").as("hll"))
    }
    one.select(explode(array(rows: _*)).as("p")).select($"p.*")
  }

  /** Append one delta's per-column state rows to a persisted profile
    * directory — additive, no build phase (the appendLmCounts
    * contract): with `stagingPath` set the rows go THERE in overwrite
    * mode for a staged deterministic-rename commit
    * ([[graft.streaming.StreamingIndex.applyProfileBatch]]).
    */
  def appendProfileState(spark: org.apache.spark.sql.SparkSession,
      delta: DataFrame, cols: Seq[String], dir: String, p: Int = 12,
      stagingPath: Option[String] = None): Unit = {
    val (root, mode) =
      (stagingPath.getOrElse(dir), if (stagingPath.isDefined) "overwrite" else "append")
    profileState(delta, cols, p).write.mode(mode).parquet(s"$root/state")
  }

  /** The merged profile of a persisted directory, in the
    * [[approxProfile]] output shape: per column (col_name, n_rows,
    * n_nulls, n_distinct_est, min_d, max_d, sum_d, complete,
    * non_negative). One vocabulary-bounded merge aggregation over the
    * state segments; no raw-data rescan.
    */
  def profileIndexed(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    TinyParquet.read(spark, s"$dir/state")
      .groupBy($"col_name")
      .agg(sum($"n_rows").as("n_rows"), sum($"n_nulls").as("n_nulls"),
        graft.functions.Hll.hll_merge_agg($"hll").as("hll"),
        min($"min_d").as("min_d"), max($"max_d").as("max_d"),
        sum($"sum_dec").as("sum_dec"))
      .select($"col_name", $"n_rows", $"n_nulls",
        graft.functions.Hll.hll_estimate($"hll").as("n_distinct_est"),
        $"min_d", $"max_d", $"sum_dec".cast("double").as("sum_d"))
      .withColumn("complete", $"n_nulls" === 0L)
      .withColumn("non_negative",
        when($"n_rows" === $"n_nulls", lit(true)).otherwise($"min_d" >= 0d))

  /** Compact a persisted profile's state segments down to one merged
    * row per column — probe-identical (the merge is associative:
    * sums of sums, min of mins, max-merged registers), the
    * [[LangModel.compactLmCounts]] staged-swap with the same
    * crash-recovery preamble. File count stops growing with batch
    * count.
    */
  def compactProfileState(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    import IndexMaintenance.{renameOrThrow, deleteOrThrow}
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(s"$dir/state")
    val staged = new org.apache.hadoop.fs.Path(s"$dir/state_compact")
    val old = new org.apache.hadoop.fs.Path(s"$dir/state_old")
    if (!fs.exists(live)) {
      if (fs.exists(staged)) renameOrThrow(fs, staged, live)
      else if (fs.exists(old)) renameOrThrow(fs, old, live)
    }
    // orphaned b<id>_* deltas of a crashed-before-batchlog batch must
    // be swept BEFORE merging, or that batch's replay double-appends
    // (IndexMaintenance.sweepUnloggedBatchFiles scaladoc)
    IndexMaintenance.sweepUnloggedBatchFiles(spark, dir, Seq("state"))
    val merged = spark.read.parquet(live.toString)
      .groupBy($"col_name")
      .agg(sum($"n_rows").as("n_rows"), sum($"n_nulls").as("n_nulls"),
        min($"min_d").as("min_d"), max($"max_d").as("max_d"),
        sum($"sum_dec").cast("decimal(38,2)").as("sum_dec"),
        graft.functions.Hll.hll_merge_agg($"hll").as("hll"))
      .select($"col_name", $"n_rows", $"n_nulls", $"min_d", $"max_d",
        $"sum_dec", $"hll")
    deleteOrThrow(fs, staged)
    merged.coalesce(1).write.mode("overwrite").parquet(staged.toString)
    deleteOrThrow(fs, old)
    renameOrThrow(fs, live, old)
    renameOrThrow(fs, staged, live)
    deleteOrThrow(fs, old)
  }

  /** Shared one-pass skeleton: the exact statistics every profile
    * carries, plus the per-column cardinality aggregate the variant
    * supplies.
    */
  private def profileWith(df: DataFrame, cols: Seq[String],
      cardAggs: Seq[org.apache.spark.sql.Column],
      cardOut: String => org.apache.spark.sql.Column): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
        min(col(c)).cast("double").as(s"${c}__min"),
        max(col(c)).cast("double").as(s"${c}__max"),
        graft.Parity.sumD(col(c)).as(s"${c}__sum"))
    } ++ cardAggs
    val one = df.agg(count(lit(1)).as("n_rows"), aggs: _*)
    val rows = cols.map { c =>
      struct(lit(c).as("col_name"), $"n_rows",
        col(s"${c}__nulls").as("n_nulls"),
        cardOut(c),
        col(s"${c}__min").as("min_d"),
        col(s"${c}__max").as("max_d"),
        col(s"${c}__sum").as("sum_d"))
    }
    one.select(explode(array(rows: _*)).as("p"))
      .select($"p.*")
      .withColumn("complete", $"n_nulls" === 0L)
      // all-null (or empty) column: no negative evidence → TRUE, not
      // NULL — the verdict column must always be a boolean
      .withColumn("non_negative",
        when($"n_rows" === $"n_nulls", lit(true)).otherwise($"min_d" >= 0d))
  }
}
