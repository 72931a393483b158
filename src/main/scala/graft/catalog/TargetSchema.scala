package graft.catalog

import org.apache.spark.sql.types.{StringType, StructType}

/** Target-schema resolution — the engine's catalog component
  * (SURVEY.md §7.1 item 2), replacing the reference's runtime
  * round-trips to `system.columns` / `describe` / `SHOW CREATE TABLE`
  * (`ClickhouseLoaderContext.java:29-59`,
  * `ClickhouseHdfsLoader.java:248-289`).
  *
  * The only type distinction the load path acts on is String vs
  * non-String (null replacement — SURVEY §1.4), captured here as
  * `stringCols`.
  */
final case class TargetSchema(
    schema: StructType,
    shardingKey: Option[String]) {

  /** Columns whose null replacement is `--null-string` (String /
    * Nullable(String) in the reference's probe,
    * `ClickhouseLoaderContext.java:98-111`).
    */
  val stringCols: Set[String] =
    schema.fields.collect { case f if f.dataType == StringType => f.name }.toSet

  def arity: Int = schema.length

  /** Arity validation (op #10) at the schema level. */
  def validate(df: org.apache.spark.sql.DataFrame): Unit =
    require(df.schema.length == arity,
      s"arity mismatch: input ${df.schema.length} columns, target $arity")

  def shardingKeyIndex: Option[Int] =
    shardingKey.map(k => schema.fieldIndex(k))
}

object TargetSchema {

  /** From explicit DDL, e.g. `"a INT, b STRING, dt DATE"` — the
    * config-driven path (no live target needed).
    */
  def fromDDL(ddl: String, shardingKey: Option[String] = None): TargetSchema =
    TargetSchema(StructType.fromDDL(ddl), shardingKey)
}
