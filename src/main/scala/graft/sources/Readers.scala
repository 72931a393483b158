package graft.sources

import graft.config.{InputFormat, LoaderConfig}
import graft.operators.TransformStage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** Source readers mirroring the reference's input surface (SURVEY.md
  * §2.A #1-#4): delimited text (with small-file packing) and ORC
  * (with the stringly "parity mode" flattening), plus parquet for the
  * harness tables.
  *
  * Small-file combining: the reference packs text files into ≤256 MiB
  * splits (`CombineTextInputFormat`, ClickhouseHdfsLoader.java:161);
  * Spark's equivalent knobs are `spark.sql.files.maxPartitionBytes` +
  * `spark.sql.files.openCostInBytes`, set per-read below — built-in
  * packing, no custom InputFormat needed.
  */
object Readers {

  /** Delimited text → typed-by-position string columns c0..cN.
    * Reads raw lines and splits each on the literal delimiter bytes
    * ([[TransformStage.tokenize]]: trailing empties kept —
    * `TextRecordDecoder.java:31-46` semantics), NOT the csv reader:
    * the reference does no quoting/escaping, so csv quote handling
    * would silently alter rows.
    */
  def readText(spark: SparkSession, cfg: LoaderConfig,
      numFields: Option[Int] = None): DataFrame = {
    applySplitConf(spark, cfg)
    val lines = spark.read.text(cfg.exportDir)
    val fields = TransformStage.tokenize(col("value"), cfg.fieldsTerminatedBy)
    // column count: explicit (from the catalog — TargetSchema — in a
    // real load) or inferred as the MAX arity over the data. Sampling
    // one arbitrary line would silently truncate wider rows AND make
    // the schema depend on file listing order; max-arity is
    // deterministic, and narrower rows surface as nulls for the arity
    // validation (op #10) instead of disappearing.
    val n = numFields.getOrElse(
      lines.select(max(size(fields))).collect()
        .headOption.flatMap(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
        .getOrElse(0))
    // get() (not getItem): rows narrower than the declared arity yield
    // nulls for the arity validation (op #10) instead of an ANSI
    // out-of-bounds error killing the whole load
    lines.select((0 until n).map(i => get(fields, lit(i)).as(s"c$i")): _*)
  }

  /** One concrete input path under `pattern` (globs resolved, then
    * directories walked to the first file, smallest path name first
    * for determinism) — the sample the hive-partition auto-discovery
    * reads its key set from. Falls back to the pattern itself when
    * nothing matches.
    */
  def sampleFilePath(spark: SparkSession, pattern: String): String = {
    val p = new org.apache.hadoop.fs.Path(pattern)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def firstFile(q: org.apache.hadoop.fs.Path): Option[org.apache.hadoop.fs.Path] = {
      val st = fs.getFileStatus(q)
      if (st.isFile) Some(q)
      else {
        val children = fs.listStatus(q).sortBy(_.getPath.getName)
        children.iterator.flatMap(c => firstFile(c.getPath)).nextOption()
      }
    }
    val globbed = Option(fs.globStatus(p)).getOrElse(Array.empty)
    globbed.map(_.getPath).sortBy(_.toString).headOption
      .flatMap(firstFile)
      .map(_.toString)
      .getOrElse(pattern)
  }

  /** ORC scan; `parityMode` reproduces the reference's
    * `OrcStruct.getFieldValue(i).toString` flattening
    * (`OrcRecordDecoder.java:27-45`) by casting every column to
    * string. Typed mode returns the native vectorized-read schema.
    */
  def readOrc(spark: SparkSession, path: String, parityMode: Boolean = false): DataFrame = {
    val df = spark.read.orc(path)
    if (parityMode)
      df.select(df.columns.map(c => col(c).cast(StringType).as(c)).toIndexedSeq: _*)
    else df
  }

  /** Parquet with optional explicit schema (arity enforcement at scan). */
  def readParquet(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame =
    schema.fold(spark.read.parquet(path))(s => spark.read.schema(s).parquet(path))

  /** Route on configured input format. `numFields` (known from the
    * target catalog) skips text max-arity inference — without it the
    * text path pays a full extra scan of the input.
    */
  def read(spark: SparkSession, cfg: LoaderConfig,
      numFields: Option[Int] = None): DataFrame = cfg.inputFormat match {
    case InputFormat.Text    => readText(spark, cfg, numFields)
    case InputFormat.Orc     => readOrc(spark, cfg.exportDir, parityMode = true)
    case InputFormat.Parquet => readParquet(spark, cfg.exportDir)
  }

  private def applySplitConf(spark: SparkSession, cfg: LoaderConfig): Unit = {
    spark.conf.set("spark.sql.files.maxPartitionBytes", cfg.inputSplitMaxBytes.toString)
    // open cost makes many small files pack into one task, the
    // CombineTextInputFormat behavior
    spark.conf.set("spark.sql.files.openCostInBytes", (4 * 1024 * 1024).toString)
  }
}
