package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Driver-side parquet reads with no Spark job; writers are unchanged,
  * so Spark and DuckDB readers still see ordinary parquet.
  * - [[rows]]: every row of a TINY index META table (never data):
  *   `spark.read.parquet(meta).head` costs two jobs per append/probe.
  * - [[local]]: a TINY index table (IVF centroids) as a local frame:
  *   its rows are read here, so a broadcast of it scans no file.
  * - [[read]]: an index sub-table, its schema from one footer in its
  *   own directory (Spark's schema inference runs a job per read).
  *   Never from another directory of the same layout: SQ8/PQ `vectors`
  *   and `codes` and near-dup `docs` carry the caller's id type.
  *   Partitioned layouts (near-dup `bands`, IVF `members`, clip
  *   `postings`) keep Spark's read, which discovers their partitions.
  *
  * Readers and their options are built from the caller's
  * `Configuration`. parquet-hadoop's `ParquetReader.builder(_, Path)`
  * and `ParquetFileReader.open(InputFile)` each start from a
  * `new Configuration()`, whose first lookup parses Hadoop's XML
  * defaults again before `withConf` replaces it. Measured per call on
  * a one-row file (4 vCPUs): a footer read 7.4–8.9 → 0.24–0.49 ms, a
  * row read 10.5–11.6 → 0.9–1.2 ms.
  */
private[graft] object TinyParquet {

  /** A footer-and-data reader of `p` whose options come from `conf`. */
  def open(conf: Configuration, p: Path): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(p, conf),
      HadoopReadOptions.builder(conf, p).build())

  /** The data files of `dir` (a directory or one file), by name. */
  private def files(conf: Configuration, dir: String): Seq[Path] = {
    val dirP = new Path(dir)
    val fs = dirP.getFileSystem(conf)
    if (fs.getFileStatus(dirP).isFile) Seq(dirP)
    else fs.listStatus(dirP)
      .filter { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      .sortBy(_.getPath.getName)
      .map(_.getPath)
      .toSeq
  }

  /** Every row of `dir` as example Groups, in file-name-then-row order. */
  def rows(conf: Configuration, dir: String): Seq[Group] = groups(conf, files(conf, dir))

  private def groups(conf: Configuration, files: Seq[Path]): Seq[Group] =
    files.flatMap { p =>
      val reader = new ParquetReader.Builder[Group](HadoopInputFile.fromPath(p, conf)) {
        override protected def getReadSupport(): ReadSupport[Group] = new GroupReadSupport()
      }.build()
      try Iterator.continually(reader.read()).takeWhile(_ != null).toList
      finally reader.close()
    }

  /** The data files of `dir` and the Spark schema of the first one's
    * footer, as `spark.read.parquet` infers it without schema merging.
    */
  private def filesAndSchema(spark: SparkSession, dir: String): (Seq[Path], StructType) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = files(conf, dir)
    val first = fs.headOption.getOrElse(
      throw new IllegalStateException(s"$dir holds no parquet data file"))
    val reader = open(conf, first)
    val footer = try new Footer(first, reader.getFooter) finally reader.close()
    (fs, ParquetFileFormat.readSchemaFromFooter(footer,
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
  }

  /** `dir` with the schema of its first data file's footer given. */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(filesAndSchema(spark, dir)._2).parquet(dir)

  /** Every row of `dir` in a local frame (a `LocalRelation`) with the
    * footer's schema. Columns of atomic types and arrays of them.
    */
  def local(spark: SparkSession, dir: String): DataFrame = {
    val (fs, schema) = filesAndSchema(spark, dir)
    val data = groups(spark.sparkContext.hadoopConfiguration, fs).map(g =>
      Row.fromSeq(schema.fields.toSeq.map(f => value(g, f.name, f.dataType))))
    spark.createDataFrame(data.asJava, schema)
  }

  /** Field `name` of `g` as Spark's `Row` holds a value of type `t`.
    * An array is the standard three-level parquet LIST
    * (`repeated group list { element }`), as Spark writes it.
    */
  private def value(g: Group, name: String, t: DataType): Any =
    if (g.getFieldRepetitionCount(name) == 0) null
    else t match {
      case ArrayType(et, _) =>
        val list = g.getGroup(name, 0)
        val rep = list.getType.getFieldName(0)
        (0 until list.getFieldRepetitionCount(rep)).map { i =>
          val e = list.getGroup(rep, i)
          value(e, e.getType.getFieldName(0), et)
        }
      case LongType => g.getLong(name, 0)
      case IntegerType => g.getInteger(name, 0)
      case ShortType => g.getInteger(name, 0).toShort
      case ByteType => g.getInteger(name, 0).toByte
      case DoubleType => g.getDouble(name, 0)
      case FloatType => g.getFloat(name, 0)
      case BooleanType => g.getBoolean(name, 0)
      case StringType => g.getString(name, 0)
      case other => throw new UnsupportedOperationException(s"TinyParquet.local: $name is $other")
    }
}
