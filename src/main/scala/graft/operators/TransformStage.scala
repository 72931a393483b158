package graft.operators

import graft.config.LoaderConfig
import graft.functions.WireBytes
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** The reference mapper's per-row transform pipeline (SURVEY.md §2.A
  * ops #3-#10), re-expressed as pure column expressions so Catalyst
  * fuses the whole stage into one codegen span — no row-at-a-time
  * string building until the sink boundary.
  *
  * Order of operations is load-bearing and mirrors
  * `AbstractClickhouseLoaderMapper.java:189-201`:
  *   1. null test (`null` or literal `\N`) happens BEFORE sanitization;
  *   2. sanitization (separator→replaceChar, `\`→`/`) applies only to
  *      non-null values.
  */
object TransformStage {

  /** Literal `\N` — the TSV NULL marker the reference recognizes. */
  val NullMarker = "\\N"

  /** Op #3: tokenize a delimited line on the literal `sep`, keeping
    * trailing empty fields (`TextRecordDecoder.java:31-46` splits with
    * limit -1); a byte scan, see [[WireBytes.split]].
    */
  def tokenize(line: Column, sep: String): Column = WireBytes.split(line, sep)

  /** Op #5: positional projection — drop 0-based indexes in `excluded`,
    * keep remaining columns in order (`RowRecordDecoderConfigurable.java:65-78`).
    */
  def excludeFields(df: DataFrame, excluded: Seq[Int]): DataFrame = {
    val keep = df.columns.zipWithIndex.collect {
      case (c, i) if !excluded.contains(i) => col(c)
    }
    df.select(keep.toIndexedSeq: _*)
  }

  /** Op #7: sanitize a non-null value: embedded separator →
    * `replaceChar`, then every backslash → `/`, so a backslash
    * `replaceChar` ends as `/` (`AbstractClickhouseLoaderMapper.java:201`).
    * One byte scan that returns the value itself when there is nothing
    * to replace, see [[WireBytes.sanitize]].
    */
  def sanitize(c: Column, cfg: LoaderConfig): Column =
    WireBytes.sanitize(c, cfg.clickhouseFormat.separator, cfg.replaceChar)

  /** Op #6 + #7 fused: the full per-field rule of §1.4. `isStringCol`
    * picks the null replacement exactly like the reference's
    * String/Nullable(String) probe (`ClickhouseLoaderContext.java:98-111`).
    */
  def normalizeField(c: Column, isStringCol: Boolean, cfg: LoaderConfig): Column = {
    val nullRepl =
      if (!cfg.escapeNull) lit(NullMarker)
      else if (isStringCol) lit(cfg.nullString)
      else lit(cfg.nullNonString)
    // a constant column (additional-cols path) folds `c === NullMarker`
    // into a literal-vs-literal compare and Spark warns about the
    // trivially-true shape — resolve the constant case here instead
    org.apache.spark.sql.graft.Bridge.expression(c) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v, _) =>
        if (v == null ||
            v == org.apache.spark.unsafe.types.UTF8String.fromString(NullMarker))
          nullRepl
        else sanitize(c, cfg)
      case _ =>
        when(c.isNull || c === NullMarker, nullRepl).otherwise(sanitize(c, cfg))
    }
  }

  /** Op #4 analogue (ORC stringly flattening, `OrcRecordDecoder.java:27-45`):
    * parity mode casts every column to string; nulls stay null for
    * [[normalizeField]] to handle.
    */
  def stringlyMode(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(c).cast(StringType).as(c)).toIndexedSeq: _*)

  /** Op #8: hive-partition column extraction from an input path, regex
    * `([0-9a-zA-Z_]+)=([0-9a-zA-Z_\-]+)/?` per
    * `AbstractClickhouseLoaderMapper.java:40,658-676`. For partitioned
    * parquet/orc layouts Spark surfaces these natively; this is the
    * text-path equivalent over `input_file_name()` or any path column.
    * Compiled, the regex runs once per change of path (once per file
    * over `input_file_name()`), not once per row, see [[WireBytes.hiveValue]].
    */
  def extractHivePartition(path: Column, key: String): Column =
    WireBytes.hiveValue(path, java.util.regex.Pattern.quote(key) + "=([0-9a-zA-Z_\\-]+)")

  /** Op #8 full parity — auto-discovery: the reference walks the input
    * path and appends EVERY `k=v` pair in path order
    * (`AbstractClickhouseLoaderMapper.java:658-676`), not just named
    * keys. The key set and order come from a sample path (the export
    * dir — partition keys are constant across one load); values are
    * extracted per-row so files in sibling partition dirs get their own
    * values.
    */
  val HivePartitionPattern: scala.util.matching.Regex =
    "([0-9a-zA-Z_]+)=([0-9a-zA-Z_\\-]+)".r

  /** Partition keys discovered in a path, in order of appearance. */
  def hivePartitionKeys(path: String): Seq[String] =
    HivePartitionPattern.findAllMatchIn(path).map(_.group(1)).toSeq

  /** Append one trailing string column per discovered key, in order. */
  def appendHivePartitions(df: DataFrame, keys: Seq[String], pathCol: Column): DataFrame =
    keys.foldLeft(df)((d, k) => d.withColumn(k, extractHivePartition(pathCol, k)))

  /** Op #9: constant trailing columns (`--additional-cols`,
    * `AbstractClickhouseLoaderMapper.java:227-240`).
    */
  def appendAdditionalCols(df: DataFrame, values: Seq[String]): DataFrame =
    values.zipWithIndex.foldLeft(df) { case (d, (v, i)) =>
      d.withColumn(s"additional_$i", lit(v))
    }

  /** Op #10: arity validation — a tokenized row is legal iff it has
    * exactly `expected` fields (`AbstractClickhouseLoaderMapper.java:242-245`).
    */
  def arityOk(fields: Column, expected: Int): Column =
    size(fields) === expected

  /** Op #10 as a QUARANTINE split instead of the reference's throw
    * (`AbstractClickhouseLoaderMapper.java:242-245` fails the task on
    * the first malformed row, killing a multi-hour load): route rows
    * whose tokenized arity differs from `expected` into a reject
    * frame tagged with the reason, and keep loading the rest — the
    * audit discipline of a production ingest. Both frames derive from
    * one scan; Catalyst plans the filters as two passes over the same
    * source (or one pass each side of a cached frame if the caller
    * persists `df`).
    */
  def quarantineByArity(df: DataFrame, fields: Column,
      expected: Int): (DataFrame, DataFrame) = {
    // coalesce: size(NULL) is NULL, under which BOTH `=== expected`
    // and `=!= expected` are null — a null-tokenization row would land
    // in neither frame, silently dropped. -1 routes it to quarantine.
    val tagged = df.withColumn("_arity", coalesce(size(fields), lit(-1)))
    val valid = tagged.filter(col("_arity") === expected).drop("_arity")
    val rejected = tagged.filter(col("_arity") =!= expected)
      .withColumn("reject_reason",
        concat(lit("arity "), col("_arity"), lit(s" != expected $expected")))
      .drop("_arity")
    (valid, rejected)
  }

  /** Whole transform for an already-columnar frame in parity mode:
    * stringly-cast, null-normalize per target column type, then emit
    * both the typed columns and the wire-format row string
    * (`readRowRecord`'s output, built only at the boundary).
    */
  def transform(df: DataFrame, cfg: LoaderConfig, stringCols: Set[String]): DataFrame = {
    val stringly = stringlyMode(df)
    val normed = stringly.select(stringly.columns.map { c =>
      normalizeField(col(c), stringCols.contains(c), cfg).as(c)
    }.toIndexedSeq: _*)
    val withExtras = appendAdditionalCols(
      if (cfg.dt.nonEmpty) normed.withColumn("dt", lit(cfg.dt)) else normed,
      cfg.additionalCols)
    withExtras.withColumn("wire_row",
      concat_ws(cfg.clickhouseFormat.separator,
        withExtras.columns.map(col).toIndexedSeq: _*))
  }
}
