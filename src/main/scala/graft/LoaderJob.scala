package graft

import graft.catalog.TargetSchema
import graft.config.LoaderConfig
import graft.operators.{Sharding, ShardSpec, TransformStage}
import graft.sinks.{BatchExecutor, DirectSink, LoadMetrics, LoadReport, StagedSink}
import graft.sources.Readers
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The end-to-end load job — the engine's equivalent of the
  * reference's `ClickhouseHdfsLoader.run()` driver
  * (`ClickhouseHdfsLoader.java:68-214`), §3.1/§3.2 as one declarative
  * pipeline:
  *
  *   read (text/ORC/parquet) → exclude fields → stringly parity →
  *   null-normalize + sanitize → dt/additional columns → wire rows →
  *   weighted shard assignment ([[mapSide]]), then either
  *   - direct sink in the same task: per-shard micro-batches, retried
  *     (map-only, no shuffle — the reference sets `numReduceTasks=0`,
  *     `ClickhouseHdfsLoader.java:181-183`), or
  *   - co-locate by shard ([[plan]], one exchange) → staged commit
  *     (the reference's reduce side, which only the two-phase path
  *     has, `ClickhouseHdfsLoader.java:142-154, 184-188`)
  *
  * A user of the reference maps their CLI invocation onto
  * [[LoaderConfig]] (see [[graft.cli.Args]]) and gets the same load
  * semantics with Catalyst planning the physical execution.
  */
object LoaderJob {

  /** The map side (everything before the shard exchange): returns the
    * wire-row frame with a `shard` column, partitioned as the source
    * splits are. Pure plan — no actions: the text source's field count
    * is derived from the target schema (target width minus the
    * appended dt/additional/hive-partition columns plus the excluded
    * source fields), so no max-arity inference scan runs (op #19
    * analogue of the reference pulling the column count from
    * `system.columns`).
    */
  def mapSide(spark: SparkSession, cfg: LoaderConfig, target: TargetSchema,
      shards: ShardSpec): DataFrame = {
    val hiveKeys =
      if (cfg.extractHivePartitions)
        // discover from a real file path — the export dir may be a
        // glob (`…/pt=*`) whose own string hides partition keys
        TransformStage.hivePartitionKeys(
          Readers.sampleFilePath(spark, cfg.exportDir))
      else Nil
    val appended = (if (cfg.dt.nonEmpty) 1 else 0) +
      cfg.additionalCols.size + hiveKeys.size
    val srcFields = target.schema.length - appended + cfg.excludeFields.size
    val src = Readers.read(spark, cfg, Some(srcFields).filter(_ > 0))
    val withHive =
      if (hiveKeys.nonEmpty)
        TransformStage.appendHivePartitions(src, hiveKeys, input_file_name())
      else src
    val excluded = TransformStage.excludeFields(withHive, cfg.excludeFields)
    // take the target's names by position, so its string columns and
    // sharding key resolve (a text source names its fields c<i>); a
    // frame wider than the target is left to fail `validate`
    val names = target.schema.fieldNames.take(excluded.columns.length)
    val named =
      if (names.length == excluded.columns.length) excluded.toDF(names.toIndexedSeq: _*)
      else excluded
    val wire = TransformStage.transform(named, cfg, target.stringCols)
    target.validate(wire.drop("wire_row"))
    val keyCol = target.shardingKey.getOrElse(wire.columns.head)
    Sharding.assign(wire, keyCol, shards)
  }

  /** [[mapSide]] co-located by shard: one exchange that gives each
    * shard its own `--loader-task-executor` partitions — the input of
    * the staged paths.
    */
  def plan(spark: SparkSession, cfg: LoaderConfig, target: TargetSchema,
      shards: ShardSpec): DataFrame =
    Sharding.partitionByShard(
      mapSide(spark, cfg, target, shards), shards, cfg.loaderTaskExecutor)

  /** Production executor wiring for [[runDirect]]: a single JDBC
    * endpoint gets the pooled FORMAT-insert executor; several (the
    * shard's replicas, discovered from the target's cluster metadata
    * the way the reference reads `system.clusters`) get the replica
    * fan-out with alive-host failover
    * (`AbstractClickhouseLoaderMapper.java:309-359`, `:678-699`).
    */
  def executorFor(cfg: LoaderConfig, replicaConnects: Seq[String] = Nil,
      lookupReplicated: Boolean = false): BatchExecutor = {
    val urls = if (replicaConnects.nonEmpty) replicaConnects else Seq(cfg.connect)
    if (urls.size == 1)
      new graft.sinks.JdbcFormatInsertExecutor(urls.head, cfg.username,
        cfg.password, cfg.clickhouseFormat)
    else
      graft.sinks.ReplicaFanoutExecutor.forUrls(urls, cfg.username,
        cfg.password, cfg.clickhouseFormat, lookupReplicated, cfg.maxTries)
  }

  /** Direct load (§3.1, `--direct true`) as one stage: scan →
    * transform → shard → sink, no shuffle. Each scan task keeps one
    * micro-batch buffer per shard (at most shards × batchSize rows, the
    * reference mapper's bound, `AbstractClickhouseLoaderMapper.java:270-298`)
    * and inserts through `executor` with retry + metrics; fails the job
    * if any batch exhausted its retries (the reference's counters
    * contract, `ClickhouseHdfsLoader.java:203-207`).
    */
  def runDirect(spark: SparkSession, cfg: LoaderConfig, target: TargetSchema,
      shards: ShardSpec, executor: BatchExecutor): LoadReport =
    Readers.withSplitCap(spark, cfg) {
      val metrics = LoadMetrics(spark)
      val report = new DirectSink(executor, cfg, metrics)
        .write(mapSide(spark, cfg, target, shards), cfg.table)
      report.failIfAnyFailed()
      report
    }

  /** Two-phase load (§3.2, `--direct false`) into a catalog table:
    * stage, then one atomic `INSERT INTO target SELECT * FROM temp`.
    */
  def runStaged(spark: SparkSession, cfg: LoaderConfig, target: TargetSchema,
      shards: ShardSpec, jobId: String): Unit =
    Readers.withSplitCap(spark, cfg) {
      val staged = plan(spark, cfg, target, shards).drop("wire_row", "shard")
      new StagedSink(spark).write(staged, cfg.table, jobId)
    }

  /** Daily-table load (`--daily true`, §3.3 — the reference's
    * deprecated path, `ClickhouseHdfsLoader.java:125-140`): redirect
    * the load into `<table>_yyyyMMdd` (created from the base table's
    * schema; `--mode drop` recreates it empty), then merge-or-drop
    * daily tables older than `--daily-expires` days
    * (`OldDailyMergeTask.java:42-141`).
    *
    * Returns (dailyTable, expiredTables). Requires `cfg.daily` and a
    * catalog-backed base table; the load itself goes through
    * [[runStaged]] so commit/cleanup semantics match the two-phase
    * path.
    */
  def runDaily(spark: SparkSession, cfg: LoaderConfig, target: TargetSchema,
      shards: ShardSpec, jobId: String): (String, Seq[String]) = {
    require(cfg.daily, "runDaily requires --daily true")
    require(cfg.dt.nonEmpty, "--daily requires --dt")
    val dtDate = java.time.LocalDate.parse(cfg.dt)
    val daily = new graft.catalog.DailyTables(spark)
    val dailyTable = daily.createDaily(cfg.table, dtDate,
      dropFirst = cfg.mode == graft.config.LoadMode.Drop)
    runStaged(spark, cfg.copy(table = dailyTable), target, shards, jobId)
    val db = cfg.table.split('.').head
    val expired = daily.mergeExpired(db, cfg.table, dtDate, cfg.dailyExpires,
      merge = cfg.dailyExpiresProcess == graft.config.DailyExpiresProcess.Merge)
    (dailyTable, expired)
  }

  /** Two-phase load through the DSv2 connector
    * ([[graft.sinks.v2.StagedSource]]): per-task staging + job-level
    * commit/abort are owned by the connector's `BatchWrite`, so task
    * retries and job failure cleanup follow Spark's commit protocol
    * instead of driver-side bookkeeping. `backend` = "memory" (tests)
    * or "jdbc" (+ url/user/password options via `extraOptions`).
    */
  def runStagedV2(spark: SparkSession, cfg: LoaderConfig, target: TargetSchema,
      shards: ShardSpec, backend: String,
      extraOptions: Map[String, String] = Map.empty): Unit =
    Readers.withSplitCap(spark, cfg) {
      plan(spark, cfg, target, shards).select("wire_row")
        .write.format("graft-staged")
        .option("target", cfg.table)
        .option("backend", backend)
        .option("batchsize", cfg.batchSize.toString)
        .options(extraOptions)
        .mode("append")
        .save()
    }
}
