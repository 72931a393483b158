package graft

import graft.catalog.TargetSchema
import graft.cli.Args
import graft.config.{InputFormat, WireFormat}
import graft.operators.{Sharding, ShardSpec, Skew}
import graft.sinks.{CollectingExecutor, PartitionedSink}
import java.nio.file.Files
import org.apache.spark.sql.functions._

class LoaderJobSpec extends SparkSpec {

  test("CLI args parse the reference's quick-start invocation") {
    // doc/quick-start.md:76-89 flag surface
    val cfg = Args.parse(Seq(
      "--table", "test.t_lzj_test01",
      "--export-dir", "/warehouse/t/dt=2017-01-07",
      "--fields-terminated-by", "|",
      "--exclude-fields", "0,9,10,13,14,15,16,17,18",
      "--clickhouse-format", "TabSeparated",
      "--input-split-max-bytes", "8589934592",
      "--batch-size", "200000",
      "--dt", "2017-01-07",
      "--input-format", "text"))
    assert(cfg.table == "test.t_lzj_test01")
    assert(cfg.excludeFields == Seq(0, 9, 10, 13, 14, 15, 16, 17, 18))
    assert(cfg.batchSize == 200000)
    assert(cfg.inputSplitMaxBytes == 8589934592L)
    assert(cfg.clickhouseFormat == WireFormat.TabSeparated)
    assert(cfg.escapeNull && cfg.direct && cfg.maxTries == 3) // defaults
  }

  test("CLI rejects unknown enum values") {
    intercept[IllegalArgumentException](Args.parse(Seq("-i", "avro")))
    intercept[IllegalArgumentException](Args.parse(Seq("--mode", "sideways")))
    intercept[IllegalArgumentException](
      Args.parse(Seq("--clickhouse-format", "Parquet")))
    intercept[IllegalArgumentException](
      Args.parse(Seq("--daily-expires-process", "archive")))
  }

  test("CLI parses the full reference flag surface round-trip") {
    import graft.config.DailyExpiresProcess
    // every flag of MainCliParameterParser.java:14-106
    val cfg = Args.parse(Seq(
      "--connect", "jdbc:clickhouse://ch1:8123/db",
      "--driver", "com.example.Driver",
      "--username", "loader", "--password", "s3cret",
      "--clickhouse-http-port", "8124",
      "--table", "db.t", "--export-dir", "/w/t/dt=2017-01-07",
      "-i", "orc",
      "--clickhouse-format", "TabSeparatedWithNamesAndTypes",
      "--num-reduce-tasks", "12",
      "--daily", "true", "--daily-expires", "7",
      "--daily-expires-process", "drop",
      "--mode", "drop", "--direct", "false",
      "--dt", "2017-01-07"))
    assert(cfg.connect == "jdbc:clickhouse://ch1:8123/db")
    assert(cfg.username == "loader" && cfg.password == "s3cret")
    assert(cfg.clickhouseHttpPort == 8124)
    assert(cfg.inputFormat == InputFormat.Orc)
    assert(cfg.clickhouseFormat == WireFormat.TabSeparatedWithNamesAndTypes)
    assert(cfg.numReduceTasks == 12)
    assert(cfg.daily && cfg.dailyExpires == 7)
    assert(cfg.dailyExpiresProcess == DailyExpiresProcess.Drop)
    assert(!cfg.direct)
    // deprecated --input-format alias maps InputFormat class names
    assert(Args.parse(Seq("--input-format",
      "org.apache.orc.mapreduce.OrcInputFormat")).inputFormat == InputFormat.Orc)
  }

  test("WithNames wire formats emit header rows ahead of each payload") {
    val cols = Seq("k", "v")
    val types = Seq("Int32", "String")
    assert(WireFormat.TabSeparated.headerLines(cols, types) == Nil)
    assert(WireFormat.TabSeparatedWithNames.headerLines(cols, types) == Seq("k\tv"))
    assert(WireFormat.TabSeparatedWithNamesAndTypes.headerLines(cols, types) ==
      Seq("k\tv", "Int32\tString"))
    assert(WireFormat.CSVWithNames.headerLines(cols, types) == Seq("k,v"))
    assert(WireFormat.TabSeparatedRaw.separator == "\t")
    assert(WireFormat.parse("CSVWithNames") == WireFormat.CSVWithNames)
  }

  test("daily load redirects to the dated table and merges expired ones") {
    val dir = Files.createTempDirectory("graft-daily")
    Files.writeString(dir.resolve("data.txt"), "1|a\n2|b\n")
    val wh = Files.createTempDirectory("graft-whd").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS dailyjobdb LOCATION '$wh'")
    spark.sql("DROP TABLE IF EXISTS dailyjobdb.base")
    spark.sql("CREATE TABLE dailyjobdb.base (c0 STRING, c1 STRING, dt STRING) USING parquet")
    // a stale daily table from 10 days ago with one row
    spark.sql("DROP TABLE IF EXISTS dailyjobdb.base_20161228")
    spark.sql("CREATE TABLE dailyjobdb.base_20161228 (c0 STRING, c1 STRING, dt STRING) USING parquet")
    spark.sql("INSERT INTO dailyjobdb.base_20161228 VALUES ('9', 'old', '2016-12-28')")
    val cfg = Args.parse(Seq(
      "--export-dir", dir.toString, "--table", "dailyjobdb.base",
      "--dt", "2017-01-07", "--direct", "false",
      "--daily", "true", "--daily-expires", "3"))
    val target = TargetSchema.fromDDL("c0 STRING, c1 STRING, dt STRING")
    val (dailyTable, expired) =
      LoaderJob.runDaily(spark, cfg, target, ShardSpec(Seq(1)), "jobD")
    assert(dailyTable == "dailyjobdb.base_20170107")
    assert(spark.table("dailyjobdb.base_20170107").count() == 2)
    // expired daily merged into base then dropped
    assert(expired == Seq("base_20161228"))
    assert(spark.table("dailyjobdb.base").collect().map(_.getString(1)).toSeq == Seq("old"))
    assert(!spark.catalog.tableExists("dailyjobdb.base_20161228"))
  }

  test("text plan takes its arity from the target schema, not a data scan") {
    // Data rows are WIDER (3 fields) than the target implies (2 source
    // fields + dt): if the max-arity inference scan ran, the plan
    // would carry a c2 column. Target-derived arity must win — that is
    // the reference's system.columns lookup, and it saves a full read
    // of the input at scale.
    val dir = Files.createTempDirectory("graft-arity")
    Files.writeString(dir.resolve("data.txt"), "1|a|XTRA\n2|b|XTRA\n")
    val cfg = Args.parse(Seq(
      "--export-dir", dir.toString, "--table", "t", "--dt", "2017-01-07"))
    val target = TargetSchema.fromDDL("c0 STRING, c1 STRING, dt STRING")
    val df = LoaderJob.plan(spark, cfg, target, ShardSpec(Seq(1)))
    assert(df.columns.contains("c1") && !df.columns.contains("c2"),
      s"arity must come from the target schema: ${df.columns.toSeq}")
  }

  test("direct load end-to-end: text source → wire rows → batched sink") {
    val dir = Files.createTempDirectory("graft-job")
    Files.writeString(dir.resolve("data.txt"),
      (1 to 100).map(i => s"$i|name_$i|\\N|val_$i").mkString("\n"))
    val cfg = Args.parse(Seq(
      "--export-dir", dir.toString,
      "--table", "target_t",
      "--batch-size", "30",
      "--dt", "2017-01-07"))
    val target = TargetSchema.fromDDL(
      "c0 STRING, c1 STRING, c2 STRING, c3 STRING, dt STRING",
      shardingKey = Some("c1"))
    CollectingExecutor.clear()
    val report = LoaderJob.runDirect(spark, cfg, target, ShardSpec(Seq(1, 1)),
      CollectingExecutor)
    assert(report.success == 100 && report.failed == 0)
    assert(CollectingExecutor.totalRows("target_t") == 100)
    // micro-batches bounded by batchSize
    CollectingExecutor.batches.forEach { case (_, sz) => assert(sz <= 30) }
  }

  /** A text export of `files` files × `rows` lines: a row number, then
    * one of 97 keys.
    */
  private def textExport(name: String, files: Int, rows: Int): java.nio.file.Path = {
    val dir = Files.createTempDirectory(name)
    (0 until files).foreach { f =>
      Files.writeString(dir.resolve(s"part-$f.txt"),
        (1 to rows).map(i => s"${f * rows + i}|key_${(f * rows + i) % 97}").mkString("\n"))
    }
    dir
  }

  test("direct load is map-only: one job, one stage, no Exchange") {
    import org.apache.spark.scheduler._
    import scala.jdk.CollectionConverters._
    val dir = textExport("graft-maponly", files = 3, rows = 100)
    val cfg = Args.parse(Seq("--export-dir", dir.toString, "--table", "t_maponly",
      "--dt", "2017-01-07"))
    val target = TargetSchema.fromDDL("c0 STRING, c1 STRING, dt STRING",
      shardingKey = Some("c1"))
    val shards = ShardSpec(Seq(3, 2, 2, 1))
    val mapPlan = LoaderJob.mapSide(spark, cfg, target, shards).queryExecution.executedPlan.toString
    assert(!mapPlan.contains("Exchange"), s"the map side must not shuffle:\n$mapPlan")
    // listener events arrive asynchronously and in order: once the
    // marker job's end is seen, every event of the load has been too
    val (group, marker) = (s"maponly-${System.nanoTime()}", s"marker-${System.nanoTime()}")
    val jobs, stages, markerJobs, ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    def inGroup(props: java.util.Properties, g: String) =
      props != null && props.getProperty("spark.jobGroup.id") == g
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        if (inGroup(e.properties, group)) jobs.add(e.jobId)
        if (inGroup(e.properties, marker)) markerJobs.add(e.jobId)
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (inGroup(e.properties, group)) stages.add(e.stageInfo.stageId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      CollectingExecutor.clear()
      sc.setJobGroup(group, "direct load", interruptOnCancel = false)
      val report =
        try LoaderJob.runDirect(spark, cfg, target, shards, CollectingExecutor)
        finally sc.clearJobGroup()
      assert(report.success == 300 && CollectingExecutor.totalRows("t_maponly") == 300)
      sc.setJobGroup(marker, "listener barrier", interruptOnCancel = false)
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!(markerJobs.asScala.nonEmpty && markerJobs.asScala.forall(ended.contains)) &&
          System.nanoTime() < deadline) Thread.sleep(10)
    } finally sc.removeSparkListener(listener)
    assert(markerJobs.asScala.nonEmpty, "listener never saw the marker job")
    assert(jobs.size == 1 && stages.size == 1,
      s"direct load ran ${jobs.size} jobs / ${stages.size} stages, want 1 / 1")
  }

  test("direct load batches never mix shards and stay within batchSize") {
    val dir = textExport("graft-shardbatch", files = 2, rows = 500)
    val cfg = Args.parse(Seq("--export-dir", dir.toString, "--table", "t_shardbatch",
      "--batch-size", "64"))
    val target = TargetSchema.fromDDL("c0 STRING, c1 STRING", shardingKey = Some("c1"))
    val shards = ShardSpec(Seq(1, 1, 1))
    val shardOf = LoaderJob.mapSide(spark, cfg, target, shards)
      .select("wire_row", "shard").collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(shardOf.size == 1000 && shardOf.values.toSet == Set(0, 1, 2))
    BatchRecorder.batches.clear()
    val report = LoaderJob.runDirect(spark, cfg, target, shards, BatchRecorder)
    val batches = BatchRecorder.recorded
    assert(report.success == 1000 && report.batches == batches.size)
    batches.foreach { b =>
      assert(b.size <= 64, s"batch of ${b.size} rows exceeds batchSize")
      assert(b.map(shardOf).distinct.size == 1, "a batch mixes shards")
    }
    assert(batches.flatten.sorted == shardOf.keys.toSeq.sorted,
      "every input row is sent exactly once")
  }

  test("a target with its own column names: string \\N gets --null-string " +
      "and the sharding key resolves") {
    import spark.implicits._
    // the reference's production target names, not the source's c<i>
    val dir = Files.createTempDirectory("graft-named")
    Files.writeString(dir.resolve("data.txt"),
      "android|\\N|\\N|d1\nios|7|tom\\x|d2\npc|\\N|\\N|\\N\n")
    val cfg = Args.parse(Seq("--export-dir", dir.toString, "--table", "t_named",
      "--null-string", "NS", "--null-non-string", "NN"))
    val target = TargetSchema.fromDDL("plat STRING, uid BIGINT, name STRING, h_did STRING",
      shardingKey = Some("h_did"))
    val shards = ShardSpec(Seq(3, 2, 2, 1))
    val out = LoaderJob.mapSide(spark, cfg, target, shards)
    assert(out.columns.toSeq == Seq("plat", "uid", "name", "h_did", "wire_row", "shard"))
    val rows = out.select("wire_row", "h_did", "shard").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(rows.keySet == Set("android\tNN\tNS\td1", "ios\t7\ttom/x\td2", "pc\tNN\tNS\tNS"))
    // the shard comes from h_did, not from the first column
    val byKey = Sharding.assign(Seq("d1", "d2", "NS").toDF("k"), "k", shards)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    rows.values.foreach { case (k, shard) => assert(shard == byKey(k), s"shard of $k") }
  }

  test("staged load lands rows in the catalog target atomically") {
    val dir = Files.createTempDirectory("graft-job2")
    Files.writeString(dir.resolve("data.txt"), "1|a\n2|b\n3|\\N\n")
    val wh = Files.createTempDirectory("graft-wh2").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS jobdb LOCATION '$wh'")
    spark.sql("DROP TABLE IF EXISTS jobdb.tgt")
    // staged frame carries the transform output incl. dt column
    spark.sql("CREATE TABLE jobdb.tgt (c0 STRING, c1 STRING, dt STRING) USING parquet")
    val cfg = Args.parse(Seq(
      "--export-dir", dir.toString, "--table", "jobdb.tgt",
      "--dt", "2017-01-07", "--direct", "false"))
    val target = TargetSchema.fromDDL("c0 STRING, c1 STRING, dt STRING")
    LoaderJob.runStaged(spark, cfg, target, ShardSpec(Seq(1)), "job42")
    val rows = spark.table("jobdb.tgt").orderBy("c0").collect()
    assert(rows.length == 3)
    assert(rows(2).getString(1) == "") // \N → nullString for a STRING target col
    assert(rows.forall(_.getString(2) == "2017-01-07"))
    assert(!spark.catalog.tableExists("temp_jobdb_tgt_job42"))
  }

  test("staged load through the DSv2 connector lands wire rows in the backend") {
    import graft.sinks.v2.InMemoryStagingStore
    val dir = Files.createTempDirectory("graft-job3")
    Files.writeString(dir.resolve("data.txt"), "1|a\n2|b\n3|\\N\n")
    val cfg = Args.parse(Seq(
      "--export-dir", dir.toString, "--table", "db.v2tgt",
      "--dt", "2017-01-07", "--direct", "false"))
    val target = TargetSchema.fromDDL("c0 STRING, c1 STRING, dt STRING")
    InMemoryStagingStore.clear()
    LoaderJob.runStagedV2(spark, cfg, target, ShardSpec(Seq(1)), "memory")
    val rows = InMemoryStagingStore.targetRows("db.v2tgt").sorted
    assert(rows == Seq("1\ta\t2017-01-07", "2\tb\t2017-01-07", "3\t\t2017-01-07"))
    assert(InMemoryStagingStore.liveStagings.isEmpty)
  }

  test("text load auto-discovers multi-key hive partitions from the path") {
    val base = Files.createTempDirectory("graft-hive")
    val p1 = base.resolve("dt=2017-01-07/pt=ios"); Files.createDirectories(p1)
    val p2 = base.resolve("dt=2017-01-07/pt=android"); Files.createDirectories(p2)
    Files.writeString(p1.resolve("f.txt"), "1|a\n2|b\n")
    Files.writeString(p2.resolve("f.txt"), "3|c\n")
    val cfg = Args.parse(Seq(
      "--export-dir", s"$base/dt=2017-01-07/pt=*",
      "--table", "t", "--extract-hive-partitions", "true"))
    val target = TargetSchema.fromDDL("c0 STRING, c1 STRING, dt STRING, pt STRING")
    CollectingExecutor.clear()
    LoaderJob.runDirect(spark, cfg, target, ShardSpec(Seq(1)), CollectingExecutor)
    val wire = LoaderJob.plan(spark, cfg, target, ShardSpec(Seq(1)))
      .select("wire_row").collect().map(_.getString(0)).sorted
    assert(wire.toSeq == Seq(
      "1\ta\t2017-01-07\tios", "2\tb\t2017-01-07\tios", "3\tc\t2017-01-07\tandroid"))
  }

  test("plan() runs no inference scan when the target schema supplies arity") {
    val dir = Files.createTempDirectory("graft-noscan")
    Files.writeString(dir.resolve("data.txt"), "1|a\n2|b\n")
    val cfg = Args.parse(Seq("--export-dir", dir.toString, "--table", "t"))
    val target = TargetSchema.fromDDL("c0 STRING, c1 STRING")
    val group = s"arity-probe-${System.nanoTime()}"
    spark.sparkContext.setJobGroup(group, "probe", interruptOnCancel = false)
    try LoaderJob.plan(spark, cfg, target, ShardSpec(Seq(1)))
    finally spark.sparkContext.clearJobGroup()
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).isEmpty,
      "building the plan must not trigger a max-arity inference job")
    // control: the standalone reader without a known arity DOES scan
    val group2 = s"arity-probe2-${System.nanoTime()}"
    spark.sparkContext.setJobGroup(group2, "probe2", interruptOnCancel = false)
    try graft.sources.Readers.readText(spark, cfg)
    finally spark.sparkContext.clearJobGroup()
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group2).nonEmpty)
  }

  test("partitioned sink: dynamic overwrite is per-partition idempotent") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-wh3").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS psdb LOCATION '$wh'")
    spark.sql("DROP TABLE IF EXISTS psdb.pt")
    val sink = new PartitionedSink(spark)
    val day1 = Seq((1, "a", "2017-01-01"), (2, "b", "2017-01-01")).toDF("k", "v", "dt")
    val day2 = Seq((3, "c", "2017-01-02")).toDF("k", "v", "dt")
    sink.ensureTarget("psdb.pt", day1, "dt")
    sink.overwritePartitions(day1, "psdb.pt")
    sink.overwritePartitions(day2, "psdb.pt")
    // re-load day1 with corrected data: replaces ONLY day1
    val day1Fixed = Seq((9, "z", "2017-01-01")).toDF("k", "v", "dt")
    sink.overwritePartitions(day1Fixed, "psdb.pt")
    val rows = spark.table("psdb.pt").orderBy("k").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(3, 9))
    // expiry drops old partitions
    val dropped = sink.dropExpired("psdb.pt", "dt", cutoff = "2017-01-02")
    assert(dropped == Seq("dt=2017-01-01"))
    assert(spark.table("psdb.pt").count() == 1)
  }

  test("salted join equals the plain join (skew mitigation is transparent)") {
    val t = Tables(spark, sf)
    val plain = t.lineitem.join(t.orders, Seq("l_orderkey" -> "o_orderkey")
        .map(_ => col("l_orderkey") === col("o_orderkey")).reduce(_ && _))
      .groupBy("o_orderpriority").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val renamed = t.orders.withColumnRenamed("o_orderkey", "l_orderkey")
    val salted = Skew.saltedJoin(t.lineitem, renamed, "l_orderkey",
        saltFactor = 8)
      .groupBy("o_orderpriority").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }

  test("rowSalt spreads a hot key across multiple salt buckets") {
    import spark.implicits._
    // Skewed fixture: one hot key with 1000 rows (distinct payloads),
    // a long tail of singleton keys. A key-derived salt would put all
    // 1000 hot rows in ONE bucket — the whole point of the fix.
    val skewed = (0 until 1000).map(i => (42L, s"payload-$i")) ++
      (0 until 50).map(i => (100L + i, s"tail-$i"))
    val big = skewed.toDF("k", "payload")
    val n = 8
    val buckets = big
      .withColumn("_salt", Skew.rowSalt(big, "k", n))
      .filter($"k" === 42L)
      .select(countDistinct($"_salt")).as[Long].head()
    assert(buckets > 1, s"hot key collapsed into $buckets bucket(s)")
    // and the salt stays in range
    val range = big.withColumn("_salt", Skew.rowSalt(big, "k", n))
      .agg(min($"_salt"), max($"_salt")).as[(Long, Long)].head()
    assert(range._1 >= 0L && range._2 < n.toLong)

    // key-only projection falls back to a per-row id, still spreads
    val keyOnly = big.filter($"k" === 42L).select($"k")
    val koBuckets = keyOnly
      .withColumn("_salt", Skew.rowSalt(keyOnly, "k", n))
      .select(countDistinct($"_salt")).as[Long].head()
    assert(koBuckets > 1, s"key-only hot rows collapsed into $koBuckets bucket(s)")
  }
}
