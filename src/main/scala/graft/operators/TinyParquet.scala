package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}

/** Driver-side parquet reads with no Spark job; writers are unchanged,
  * so Spark and DuckDB readers still see ordinary parquet.
  * - [[rows]]: every row of a TINY index META table (never data):
  *   `spark.read.parquet(meta).head` costs two jobs per append/probe.
  * - [[read]]: an index sub-table, its schema from one footer in its
  *   own directory (Spark's schema inference runs a job per read).
  *   Never from another directory of the same layout: SQ8/PQ `vectors`
  *   and `codes` and near-dup `docs` carry the caller's id type.
  *   Partitioned layouts (near-dup `bands`, IVF `members`, clip
  *   `postings`) keep Spark's read, which discovers their partitions.
  */
private[graft] object TinyParquet {

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
  def rows(conf: Configuration, dir: String): Seq[Group] =
    files(conf, dir).flatMap { p =>
      val reader = ParquetReader.builder(new GroupReadSupport(), p)
        .withConf(conf).build()
      try Iterator.continually(reader.read()).takeWhile(_ != null).toList
      finally reader.close()
    }

  /** `dir` with the schema of its first data file's footer given, as
    * `spark.read.parquet` infers it without schema merging.
    */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val file = files(conf, dir).headOption.getOrElse(
      throw new IllegalStateException(s"$dir holds no parquet data file"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    val footer = try new Footer(file, reader.getFooter) finally reader.close()
    spark.read.schema(ParquetFileFormat.readSchemaFromFooter(footer,
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))).parquet(dir)
  }
}
