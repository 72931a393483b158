package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Partitioned-table sink — the Spark-native replacement for the
  * reference's deprecated date-suffixed daily tables (SURVEY.md §2.A
  * #20: one physical table per day + a merge thread). A `PARTITION BY
  * dt` table with dynamic partition overwrite gives the same
  * per-day replace/append semantics with none of the table-sprawl:
  * re-loading a day is one idempotent overwrite of exactly that
  * partition, and expiry is `ALTER TABLE … DROP PARTITION`.
  */
final class PartitionedSink(spark: SparkSession) {

  /** Create the partitioned target if missing (schema from `like`). */
  def ensureTarget(table: String, like: DataFrame, partitionCol: String): Unit = {
    val cols = like.schema.fields
      .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
    spark.sql(
      s"CREATE TABLE IF NOT EXISTS $table ($cols) USING parquet PARTITIONED BY ($partitionCol)")
  }

  /** Idempotent per-partition load: dynamic overwrite replaces only
    * the partitions present in `df` (a re-run of one day's load can't
    * duplicate or clobber other days). The dynamic mode lasts for this
    * one write: every other overwrite in the session keeps the
    * session's mode (static by default, which replaces the whole table
    * or directory). `insertInto` ignores a per-write
    * `partitionOverwriteMode` option (Spark 4.1), so the session
    * setting is set for the call and restored after it; concurrent
    * writes on the same session would see it.
    */
  def overwritePartitions(df: DataFrame, table: String): Unit = {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try df.write.mode("overwrite").insertInto(table)
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Append (at-least-once; pair with staged commit for exactly-once). */
  def append(df: DataFrame, table: String): Unit =
    df.write.mode("append").insertInto(table)

  /** Expiry: drop partitions older than the cutoff value. */
  def dropExpired(table: String, partitionCol: String, cutoff: String): Seq[String] = {
    val parts = spark.sql(s"SHOW PARTITIONS $table").collect()
      .map(_.getString(0)) // "dt=2017-01-05"
      .filter(_.split("=", 2)(1) < cutoff)
    parts.foreach { p =>
      val Array(k, v) = p.split("=", 2)
      spark.sql(s"ALTER TABLE $table DROP IF EXISTS PARTITION ($k='$v')")
    }
    parts.toSeq
  }
}
