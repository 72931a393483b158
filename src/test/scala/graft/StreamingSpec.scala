package graft

import graft.streaming.{EventStream, Sessionize}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class StreamingSpec extends SparkSpec {

  /** The state a crash between a batch's data commit and its log row
    * leaves: the data stays, the row file `batchlog/b<id>.parquet` is
    * absent.
    */
  private def dropLogRow(dir: String, batchId: Long): Unit = {
    val row = new org.apache.hadoop.fs.Path(s"$dir/batchlog/b$batchId.parquet")
    assert(row.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(row, false),
      s"no log row for batch $batchId in $dir")
  }

  /** The highest batch id logged in `dir`. */
  private def lastLogged(dir: String): Long = graft.streaming.BatchLog.ids(spark, dir).max

  private def eventsDir: String = {
    // readStream wants a directory; stage the single events file into one
    val dir = java.nio.file.Files.createTempDirectory("graft-events").toString
    Tables(spark, sf).events.write.mode("overwrite").parquet(dir)
    dir
  }

  test("streaming tumbling-window agg equals the batch result") {
    val dir = eventsDir
    val batchEvents = spark.read.parquet(dir)
    val expected = EventStream.tumblingCounts(batchEvents)
      .orderBy("window_start_ms", "event_type").collect().toSeq

    val stream = spark.readStream
      .schema(batchEvents.schema)
      .parquet(dir)
    val q = EventStream.tumblingCounts(stream, withWatermark = true)
      .writeStream
      .outputMode("complete") // finite input; complete mode emits all windows
      .format("memory")
      .queryName("win_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("win_out")
      .orderBy("window_start_ms", "event_type").collect().toSeq
    assert(got == expected)
  }

  test("streaming sliding-window agg equals the batch result (q106 parity)") {
    val dir = eventsDir
    val batchEvents = spark.read.parquet(dir)
    val expected = EventStream.slidingCounts(batchEvents)
      .orderBy("window_start_ms", "event_type").collect().toSeq
    // every event must expand into exactly size/slide = 4 windows
    val perEvent = EventStream.slidingCounts(batchEvents)
      .agg(sum("n")).collect().head.getLong(0)
    assert(perEvent == 4 * batchEvents.count(), "each event in exactly 4 windows")

    val stream = spark.readStream
      .schema(batchEvents.schema)
      .parquet(dir)
    val q = EventStream.slidingCounts(stream, withWatermark = true)
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("slide_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("slide_out")
      .orderBy("window_start_ms", "event_type").collect().toSeq
    assert(got == expected)
  }

  test("sketch aggregates run under streaming state: stream == batch bit-for-bit") {
    // CMS and Bloom are TypedImperativeAggregates — under a streaming
    // aggregation their buffers round-trip the state store
    // (serialize/deserialize between micro-batches), which no batch
    // test exercises. Sum/OR merges are order-free, so the streamed
    // sketch must equal the batch sketch EXACTLY, counter for counter.
    import graft.functions.{BloomAgg, CountMinAgg, DdSketch, Hll, Kmv, SumMap}
    // stage as 4 files + maxFilesPerTrigger=1 → 4 micro-batches, so
    // partial sketch state really persists across triggers
    val dir = java.nio.file.Files.createTempDirectory("graft-sketch-ev").toString
    Tables(spark, sf).events.repartition(4).write.mode("overwrite").parquet(dir)
    val batchEvents = spark.read.parquet(dir)
    def sketchAgg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("event_type"))
      .agg(CountMinAgg.countmin_agg(xxhash64(col("user_id")), 5, 512).as("cms"),
        BloomAgg.bloom_agg(xxhash64(col("user_id")), 1 << 12, 5).as("bf"),
        Hll.hll_agg(xxhash64(col("user_id")), 10).as("hll"),
        Kmv.kmv_agg(xxhash64(col("user_id")), 64).as("kmv"),
        // sumMap's per-key addition is order-free too: map states must
        // also round-trip the state store counter-for-counter
        SumMap.sum_map_agg(
          array(col("user_id") % 13, lit(100L)),
          array(round(col("value") * 100).cast("long"), lit(1L))).as("sm"),
        // DDSketch buckets add exactly (order-free like sum/OR), so
        // the streamed state must equal the batch state bit-for-bit
        DdSketch.dd_agg(abs(col("value")), 0.01).as("dd"))
    val expected = sketchAgg(batchEvents)
      .orderBy("event_type").collect().toSeq
    val stream = spark.readStream.schema(batchEvents.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = sketchAgg(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("sketch_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("sketch_out").orderBy("event_type").collect().toSeq
    assert(got == expected)
  }

  test("Misra-Gries under streaming state keeps its heavy-hitter guarantee") {
    // MG counter SETS are order-sensitive (unlike sum/max/min-trim
    // merges), so streamed != batch bit-for-bit is expected; what the
    // state-store round-trip must preserve is the GUARANTEE: every
    // token with count > n/(k+1) present, counters only undercounting
    import graft.functions.HeavyHitters
    val k = 50
    val dir = java.nio.file.Files.createTempDirectory("graft-mg-ev").toString
    Tables(spark, sf).documents
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .repartition(4).write.mode("overwrite").parquet(dir)
    val batch = spark.read.parquet(dir)
    val n = batch.count()
    val exact = batch.groupBy(col("token")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val stream = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = stream.agg(HeavyHitters.heavy_hitters_agg(col("token"), k).as("sk"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("mg_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val sk = spark.table("mg_out")
      .select(explode(col("sk")).as("e"))
      .select(col("e.item"), col("e.cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val heavy = exact.filter { case (_, c) => c * (k + 1) > n }
    assert(heavy.nonEmpty)
    heavy.foreach { case (t, _) => assert(sk.contains(t), s"lost heavy '$t'") }
    sk.foreach { case (t, c) =>
      assert(c <= exact(t) && exact(t) - c <= n / (k + 1), s"'$t' out of bound")
    }
  }

  test("t-digest under streaming state keeps its rank envelope") {
    // merging digests are order-sensitive (streamed != batch
    // bit-for-bit, like Misra-Gries); what the state-store round-trip
    // must preserve is the RANK guarantee of the final quantile
    import graft.functions.TDigest
    val dir = java.nio.file.Files.createTempDirectory("graft-td-ev").toString
    Tables(spark, sf).events.repartition(4).write.mode("overwrite").parquet(dir)
    val batch = spark.read.parquet(dir)
    val values = batch.select(col("value")).collect().map(_.getDouble(0)).sorted
    val stream = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = stream
      .agg(TDigest.tdigest_quantile(
        TDigest.tdigest_agg(col("value"), 100), 0.5).as("med"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("td_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val med = spark.table("td_out").collect()(0).getDouble(0)
    val n = values.length.toDouble
    val lt = values.count(_ < med) / n
    val le = values.count(_ <= med) / n
    assert(lt <= 0.52 && le >= 0.48, s"streamed median $med ranks [$lt, $le]")
  }

  test("mapGroupsWithState sessionization equals the declarative batch form") {
    import spark.implicits._
    val events = Tables(spark, sf).events
    val typed = events
      .select($"user_id", $"event_id", unix_millis($"ts").as("tms"))
      .as[Sessionize.Event]
    val got = Sessionize.streamingSessionize(spark, typed)
      .collect().map(u => (u.user_id, u.session_id, u.n_events, u.start_ms, u.duration_ms))
      .toSet
    val expected = EventStream.sessionize(events)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("stream-stream interval join equals the batch join") {
    import spark.implicits._
    val dir = eventsDir
    val batch = spark.read.parquet(dir)
    val expected = EventStream.clickPurchaseJoin(
        batch.filter($"event_type" === "click"),
        batch.filter($"event_type" === "purchase"))
      .collect().map(_.toSeq).toSet

    val stream = spark.readStream.schema(batch.schema).parquet(dir)
    val q = EventStream.clickPurchaseJoin(
        stream.filter($"event_type" === "click"),
        stream.filter($"event_type" === "purchase"),
        withWatermark = true)
      .writeStream.outputMode("append")
      .format("memory").queryName("ssj_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)
    val got = spark.table("ssj_out").collect().map(_.toSeq).toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("stream-static enrichment join equals the batch result (q85 parity)") {
    val dir = eventsDir
    val batch = spark.read.parquet(dir)
    val dims = Tables(spark, sf).customer
    val expected = EventStream.enrichedSegmentTotals(batch, dims)
      .orderBy("segment", "event_type").collect().toSeq

    // the dim side stays a STATIC batch frame — the join keeps no
    // stream state; the stream side is the fact table
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
    val q = EventStream.enrichedSegmentTotals(stream, dims)
      .writeStream
      .outputMode("complete") // finite input; aggregation without watermark
      .format("memory").queryName("enrich_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("enrich_out")
      .orderBy("segment", "event_type").collect().toSeq
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("watermark drops late events in append mode across micro-batches") {
    import spark.implicits._
    import java.sql.Timestamp
    import java.nio.file.{Files => JFiles, Paths}
    val dir = JFiles.createTempDirectory("graft-late")
    // one flat parquet FILE per micro-batch, ordered by mtime
    def write(name: String, rows: Seq[(String, String)], mtime: Long): Unit = {
      val tmp = JFiles.createTempDirectory("graft-late-w").toString
      rows.map { case (t, e) => (Timestamp.valueOf(t), e) }
        .toDF("ts", "event_type").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = JFiles.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      val dest = dir.resolve(name)
      JFiles.move(part, dest)
      JFiles.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    val ckpt = JFiles.createTempDirectory("graft-late-ck").toString
    def runOnce(): Map[Long, Long] = {
      // memory sink can't recover from a checkpoint; capture emitted
      // (finalized) windows via foreachBatch instead
      val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
      val stream = spark.readStream.schema("ts TIMESTAMP, event_type STRING")
        .parquet(dir.toString)
      val q = stream
        .withWatermark("ts", "1 hour")
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"))
        .select(unix_millis($"window.start").as("w"), $"n")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => emitted.add(r.getLong(0) -> r.getLong(1)))
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      emitted.toArray(Array.empty[(Long, Long)]).toMap
    }

    // run 1: two hour-0 events + an hour-3 event → watermark 02:30
    // closes the hour-0 window, emitted with n=2
    write("b1.parquet", Seq(
      ("2024-01-01 00:10:00", "x"), ("2024-01-01 00:20:00", "x"),
      ("2024-01-01 03:30:00", "x")), 1000000L)
    val out1 = runOnce()
    val hour0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    assert(out1.get(hour0).contains(2L), s"run1: $out1")

    // run 2 (same checkpoint — watermark state restored): a LATE
    // hour-0 event arrives below the restored 02:30 watermark → it
    // must be dropped, never re-emitting the closed window
    write("b2.parquet", Seq(
      ("2024-01-01 00:40:00", "x"), ("2024-01-01 04:30:00", "x")), 2000000L)
    val out2 = runOnce()
    assert(!out2.contains(hour0), s"late event leaked into closed window: $out2")
  }

  test("streaming load via foreachBatch is effectively-once (batch replay idempotent)") {
    import graft.streaming.StreamingLoad
    import java.nio.file.{Files => JFiles, Paths}
    // stage events as MULTIPLE flat files and force one file per
    // micro-batch: a regression here (e.g. the dynamic-overwrite conf
    // landing on the wrong session) makes later batches truncate
    // earlier ones, which a single-batch test cannot see
    val srcDir = eventsDir
    val dir = JFiles.createTempDirectory("graft-sload").toString
    val src = spark.read.parquet(srcDir)
    src.repartition(3).write.mode("overwrite").parquet(dir)
    val dataFiles = JFiles.list(Paths.get(dir)).toArray
      .map(_.toString).count(_.endsWith(".parquet"))
    assert(dataFiles >= 2, s"need multiple files, got $dataFiles")
    val wh = java.nio.file.Files.createTempDirectory("graft-swh").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS streamdb LOCATION '$wh'")
    spark.sql("DROP TABLE IF EXISTS streamdb.loaded")
    StreamingLoad.ensureTarget(spark, "streamdb.loaded", src)
    val stream = spark.readStream.schema(src.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = StreamingLoad.start(spark, stream, "streamdb.loaded", ckpt)
    q.awaitTermination(180000)
    val n = src.count()
    val batches = spark.table("streamdb.loaded")
      .select("_batch_id").distinct().count()
    assert(spark.table("streamdb.loaded").count() == n,
      s"all batches' rows must survive (saw $batches batch partitions)")
    // replay batch 0 manually (simulated failure re-delivery of the
    // SAME batch content): dynamic overwrite of its partition must
    // leave the table unchanged — no duplication, no truncation
    import org.apache.spark.sql.functions.col
    val batch0 = spark.table("streamdb.loaded")
      .filter(col("_batch_id") === 0L).drop("_batch_id").cache()
    batch0.count()
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    val prior = spark.conf.getOption(modeKey)
    spark.conf.set(modeKey, "dynamic")
    try batch0.withColumn("_batch_id", org.apache.spark.sql.functions.lit(0L))
      .select(spark.table("streamdb.loaded").columns.map(col).toIndexedSeq: _*)
      .write.mode("overwrite").insertInto("streamdb.loaded")
    finally prior.fold(spark.conf.unset(modeKey))(spark.conf.set(modeKey, _))
    assert(spark.table("streamdb.loaded").count() == n)
    assert(spark.table("streamdb.loaded")
      .select("_batch_id").distinct().count() == batches)
  }

  test("DropMicroShuffles engages on foreachBatch frames (LogicalRDD with origin stats)") {
    import java.nio.file.{Files => JFiles}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.LogicalRDD
    // the rule gates on the input's size estimate; a foreachBatch frame
    // is a LogicalRDD, whose stats are only useful while Spark carries
    // the source plan's stats over (else Long.MaxValue, and the rule
    // would silently never engage outside file-backed frames)
    val dir = JFiles.createTempDirectory("graft-micro").toString
    val ckpt = JFiles.createTempDirectory("graft-microck").toString
    val docs = Tables(spark, sf).documents.select("doc_id", "text").limit(200)
    docs.coalesce(1).write.mode("overwrite").parquet(dir)
    def agg(b: DataFrame): DataFrame = b.groupBy((length(col("text")) % 7).as("m"))
      .agg(count(lit(1)).as("n"), sum("doc_id").as("s"))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      (Boolean, BigInt, Option[Int], Int, Int, Set[org.apache.spark.sql.Row])]()
    val q = spark.readStream.schema(docs.schema).parquet(dir).writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        val analyzed = b.queryExecution.analyzed
        val a = agg(b)
        val shuffles = Jobs.shuffles(a).size
        val (rows, jobs) = Jobs.counted(b.sparkSession)(a.collect())
        seen.add((analyzed.collectFirst { case r: LogicalRDD => r }.isDefined,
          analyzed.stats.sizeInBytes, graft.plans.partitions(b), shuffles, jobs, rows.toSet))
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    q.stop()
    val batches = seen.toArray(Array.empty[(Boolean, BigInt, Option[Int], Int, Int,
      Set[org.apache.spark.sql.Row])]).toSeq
    assert(batches.size == 1, s"expected one batch, saw $batches")
    val (logicalRdd, size, planned, shuffles, jobs, rows) = batches.head
    assert(logicalRdd, "foreachBatch frames are LogicalRDD-backed")
    assert(planned.contains(1) && size < BigInt(Long.MaxValue),
      s"a one-file batch must be one split with real stats: $planned partitions, $size bytes")
    assert(shuffles == 0 && jobs == 1,
      s"the aggregate over a small one-split batch must plan no shuffle and run one job: " +
        s"$shuffles shuffles, $jobs jobs")
    assert(rows == Jobs.ruleFree(spark)(s => agg(s.read.parquet(dir)).collect().toSet))
  }

  test("event-time timeout evicts idle users' session state (stream == batch)") {
    import spark.implicits._
    import java.nio.file.{Files => JFiles, Paths}
    val minMs = 60000L
    val base = 1609459200000L // 2021-01-01T00:00:00Z
    val dir = JFiles.createTempDirectory("graft-evict")
    // one flat parquet FILE per micro-batch, ordered by mtime
    def write(name: String, rows: Seq[(Long, Long, Long)], mtime: Long): Unit = {
      val tmp = JFiles.createTempDirectory("graft-evict-w").toString
      rows.toDF("user_id", "event_id", "tms")
        .select($"user_id", $"event_id", timestamp_millis($"tms").as("ts"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = JFiles.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      val dest = dir.resolve(name)
      JFiles.move(part, dest)
      JFiles.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    // b1: users 1,2 active around t0. b2: t+120min (advances watermark
    // far past their 30-min timers). b3: t+300min — processed with the
    // b2 watermark, so users 1,2 time out and are REMOVED during it.
    // No post-eviction events for evicted users: an evicted user's
    // session counter restarts, so parity with the batch labeling only
    // holds for users who don't return (documented contract).
    val b1 = Seq((1L, 1L, base), (1L, 2L, base + 5 * minMs), (2L, 3L, base))
    val b2 = Seq((3L, 4L, base + 120 * minMs))
    val b3 = Seq((4L, 5L, base + 300 * minMs))
    write("b1.parquet", b1, 1000000L)
    write("b2.parquet", b2, 2000000L)
    write("b3.parquet", b3, 3000000L)

    val stream = spark.readStream.schema("user_id BIGINT, event_id BIGINT, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
      .withWatermark("ts", "0 seconds")
      .select($"user_id", $"event_id", $"ts")
      .as[Sessionize.EventT]
    val q = Sessionize.streamingSessionizeEvicting(spark, stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("evict_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val removed = q.recentProgress
      .flatMap(p => Option(p.stateOperators).toSeq.flatten)
      .map(_.numRowsRemoved).sum
    assert(removed >= 2, s"expected users 1 and 2 evicted, removed=$removed")

    // last emission per (user, session) == the batch-declarative result
    val got = spark.table("evict_out")
      .groupBy($"user_id", $"session_id")
      .agg(max($"n_events").as("n_events"), min($"start_ms").as("start_ms"),
        max($"duration_ms").as("duration_ms"))
      .collect().map(_.toSeq).toSet
    val all = (b1 ++ b2 ++ b3).toDF("user_id", "event_id", "tms")
      .select($"user_id", $"event_id", timestamp_millis($"tms").as("ts"))
    val expected = EventStream.sessionize(all)
      .select($"user_id", $"session_id", $"n_events", $"start_ms", $"duration_ms")
      .collect().map(_.toSeq).toSet
    assert(got == expected)
    assert(got.size == 4)
  }

  test("streaming dedup: first arrival per key wins, state evicted by watermark") {
    import graft.streaming.StreamDedup
    import spark.implicits._
    import java.nio.file.{Files => JFiles, Paths}
    val minMs = 60000L
    val base = 1609459200000L
    val dir = JFiles.createTempDirectory("graft-sdedup")
    def write(name: String, rows: Seq[(Long, String, Long)], mtime: Long): Unit = {
      val tmp = JFiles.createTempDirectory("graft-sdedup-w").toString
      rows.toDF("k", "payload", "tms")
        .select($"k", $"payload", timestamp_millis($"tms").as("ts"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = JFiles.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      val dest = dir.resolve(name)
      JFiles.move(part, dest)
      JFiles.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    // b1: keys 1,2 (+ an in-batch duplicate of 1). b2: a re-delivery of
    // key 2 INSIDE the 10-min watermark horizon (must be dropped) and a
    // new key 3 far ahead (advances the watermark past keys 1,2).
    // b3: filler key 4 — state eviction uses the watermark as of the
    // PREVIOUS batch's end, so one more batch must elapse before keys
    // 1,2 are physically removed. b4: key 1 again, now with its state
    // gone — it re-emits: exactly the "no dups within the delay"
    // contract (re-deliveries are suppressed, ancient repeats are new).
    write("b1.parquet", Seq((1L, "first", base), (1L, "dup-in-batch", base + minMs),
      (2L, "first", base)), 1000000L)
    write("b2.parquet", Seq((2L, "redelivery", base + 5 * minMs),
      (3L, "first", base + 120 * minMs)), 2000000L)
    write("b3.parquet", Seq((4L, "first", base + 130 * minMs)), 3000000L)
    write("b4.parquet", Seq((1L, "late-again", base + 200 * minMs)), 4000000L)

    val stream = spark.readStream.schema("k BIGINT, payload STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
      .withWatermark("ts", "10 minutes")
    val q = StreamDedup.dedupWithinWatermark(stream, Seq("k"))
      .writeStream.outputMode("append")
      .format("memory").queryName("sdedup_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val got = spark.table("sdedup_out")
      .select($"k", $"payload").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "first"), (2L, "first"), (3L, "first"), (4L, "first"),
      (1L, "late-again")), s"got $got")
    val removed = q.recentProgress
      .flatMap(p => Option(p.stateOperators).toSeq.flatten)
      .map(_.numRowsRemoved).sum
    assert(removed >= 2, s"watermark must evict dedup state, removed=$removed")
  }

  test("streaming windowFunnel equals the batch result (q108 parity)") {
    import graft.streaming.FunnelStream
    import graft.operators.Funnel
    import spark.implicits._
    val stages = Seq(col("event_type") === "view",
      col("event_type") === "click", col("event_type") === "purchase")
    val windowMs = 7200000L
    // deliver 4 time-ordered slices through MemoryStream, one
    // processAllAvailable per slice → the DP state and the pending
    // buffer really round-trip the state store across triggers, and
    // arrival order honors the declared 1-hour disorder bound (events
    // arriving at or below the watermark are DROPPED by contract,
    // which would not be parity)
    val batch = Tables(spark, sf).events
    val expected = Funnel.windowFunnel(
        batch.withColumn("tms", unix_millis(col("ts"))),
        "user_id", "tms", stages, windowMs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val data = batch.select($"user_id", $"ts", $"event_type")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2)))
      .sortBy(_._2.getTime)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String)]
    val src = ms.toDF().toDF("user_id", "ts", "event_type")
      .withWatermark("ts", "1 hour")
    val q = FunnelStream.streamingWindowFunnel(src, "user_id", "ts",
        stages, windowMs)
      .writeStream.outputMode("update")
      .format("memory").queryName("funnel_out")
      .start()
    data.grouped(math.max(1, data.length / 4 + 1)).foreach { slice =>
      ms.addData(slice.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    // emitted levels are monotone per user: the max is the final answer
    val got = spark.table("funnel_out")
      .groupBy("user_id").agg(max("funnel_level").as("lvl"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (u, l) =>
      assert(expected(u) == l, s"user $u: stream $l vs batch ${expected(u)}")
    }
    // users absent from the stream output matched no stage at all
    (expected.keySet -- got.keySet).foreach { u =>
      assert(expected(u) == 0L, s"user $u missing but batch level ${expected(u)}")
    }
  }

  test("streaming sequenceMatch equals the batch result (q114 parity)") {
    import graft.streaming.FunnelStream
    import graft.operators.Funnel
    import spark.implicits._
    val stages = Seq(col("event_type") === "view",
      col("event_type") === "click", col("event_type") === "purchase")
    val gapMs = 3600000L
    val batch = Tables(spark, sf).events
    val expected = Funnel.sequenceMatch(
        batch.withColumn("tms", unix_millis(col("ts"))),
        "user_id", "tms", stages, gapMs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val data = batch.select($"user_id", $"ts", $"event_type")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2)))
      .sortBy(_._2.getTime)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String)]
    val src = ms.toDF().toDF("user_id", "ts", "event_type")
      .withWatermark("ts", "1 hour")
    val q = FunnelStream.streamingSequenceMatch(src, "user_id", "ts",
        stages, gapMs)
      .writeStream.outputMode("update")
      .format("memory").queryName("seqmatch_out")
      .start()
    data.grouped(math.max(1, data.length / 4 + 1)).foreach { slice =>
      ms.addData(slice.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("seqmatch_out")
      .groupBy("user_id").agg(max("funnel_level").as("lvl"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (u, l) =>
      assert(expected(u) == l, s"user $u: stream $l vs batch ${expected(u)}")
    }
    (expected.keySet -- got.keySet).foreach { u =>
      assert(expected(u) == 0L, s"user $u missing but batch depth ${expected(u)}")
    }
  }

  test("evicting streaming funnel: exact levels survive state removal") {
    import graft.streaming.FunnelStream
    import graft.operators.Funnel
    import spark.implicits._
    val stages = Seq(col("event_type") === "a", col("event_type") === "b",
      col("event_type") === "c")
    val windowMs = 120000L // 2 minutes
    def ts(m: Long) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    // user 1 completes a funnel, goes idle far past the window (state
    // must evict), then returns with a lone stage-1 event — the final
    // answer is still the max (3); user 2 never passes stage 1
    val burst1 = Seq((1L, ts(0), "a"), (1L, ts(1), "b"), (1L, ts(2), "c"),
      (2L, ts(1), "a"))
    val push = Seq((99L, ts(600), "a")) // advances the watermark 10 h
    val burst2 = Seq((1L, ts(620), "a"), (2L, ts(621), "b"))
    val all = burst1 ++ push ++ burst2
    val expected = Funnel.windowFunnel(
        all.toDF("user_id", "ts", "event_type")
          .withColumn("tms", unix_millis(col("ts"))),
        "user_id", "tms", stages, windowMs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String)]
    val src = ms.toDF().toDF("user_id", "ts", "event_type")
      .withWatermark("ts", "1 minute")
    val q = FunnelStream.streamingWindowFunnelEvicting(src, "user_id", "ts",
        stages, windowMs)
      .writeStream.outputMode("append")
      .format("memory").queryName("funnel_evict_out")
      .start()
    Seq(burst1, push, burst2, Seq((99L, ts(1300), "a"))).foreach { s =>
      ms.addData(s); q.processAllAvailable()
    }
    val removed = q.recentProgress.toSeq
      .flatMap(_.stateOperators).map(_.numRowsRemoved).sum
    q.stop()
    assert(removed >= 1, s"closed-window state must evict, removed=$removed")
    val got = spark.table("funnel_evict_out")
      .groupBy("user_id").agg(max("funnel_level").as("lvl"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.filter { case (u, _) => u != 99L }.foreach { case (u, l) =>
      assert(expected(u) == l, s"user $u: stream $l vs batch ${expected(u)}")
    }
    assert(got.contains(1L) && got(1L) == 3L,
      "the pre-eviction depth must survive via the timeout emission")
  }

  test("evicting funnel state is bounded by ACTIVE users, not total users seen") {
    import graft.streaming.FunnelStream
    import spark.implicits._
    val stages = Seq(col("event_type") === "a", col("event_type") === "b",
      col("event_type") === "c")
    val windowMs = 120000L // 2 minutes
    def ts(m: Long) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    val nUsers = 3000
    // burst: thousands of users hit stage 1 once (same event time, so
    // the intra-burst watermark evicts nobody), then go idle forever
    val burst = (1 to nUsers).map(u => (u.toLong, ts(0), "a"))
    val push1 = Seq((-1L, ts(600), "a"))  // watermark far past every window
    val active = Seq((5001L, ts(620), "a"), (5001L, ts(621), "b"),
      (5002L, ts(621), "a"))              // the only users still live
    val push2 = Seq((-1L, ts(1300), "a"))
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String)]
    val src = ms.toDF().toDF("user_id", "ts", "event_type")
      .withWatermark("ts", "1 minute")
    val q = FunnelStream.streamingWindowFunnelEvicting(src, "user_id", "ts",
        stages, windowMs)
      .writeStream.outputMode("append")
      .format("memory").queryName("funnel_bound_out")
      .start()
    val totals = scala.collection.mutable.ArrayBuffer.empty[Long]
    Seq(burst, push1, active, push2).foreach { s =>
      ms.addData(s); q.processAllAvailable()
      totals += q.recentProgress.toSeq.flatMap(_.stateOperators)
        .map(_.numRowsTotal).lastOption.getOrElse(0L)
    }
    q.stop()
    // the state store really held the idle thousands before the
    // watermark closed their windows...
    assert(totals.max >= nUsers.toLong,
      s"burst must be state-resident pre-eviction: $totals")
    // ...and after eviction the resident rows track the ACTIVE set
    // (two live users + the watermark pusher), not the total seen
    assert(totals.last <= 10L,
      s"state must shrink to active users after eviction: $totals")
    // eviction emitted every idle user's exact level on the way out
    val out = spark.table("funnel_bound_out")
      .groupBy("user_id").agg(max("funnel_level").as("lvl"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1 to nUsers).forall(u => out.get(u.toLong).contains(1L)),
      "every evicted single-stage user must have emitted level 1")
    assert(out(5001L) == 2L, s"active user keeps its live depth: $out")
  }

  test("streaming interval length sum equals the batch sweep (q135 parity)") {
    import graft.streaming.StreamingIntervals
    import graft.operators.Intervals
    import spark.implicits._
    val batch = Tables(spark, sf).events
      .withColumn("sms", unix_millis(col("ts")))
      .withColumn("ems", col("sms") + round(col("value") * 1000).cast("long"))
    val expected = Intervals
      .intervalLengthSum(batch, $"user_id", $"sms", $"ems", $"event_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val data = batch.select($"user_id", $"ts", $"ems")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
      .sortBy(_._2.getTime)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, Long)]
    val src = ms.toDF().toDF("user_id", "ts", "end_ms")
      .withWatermark("ts", "1 hour")
    val q = StreamingIntervals
      .streamingIntervalLengthSum(src, "user_id", "ts", "end_ms")
      .writeStream.outputMode("update")
      .format("memory").queryName("ilen_out")
      .start()
    // slice delivery → segment flushing, the live frontier, and the
    // pending buffer all round-trip the state store across triggers
    data.grouped(math.max(1, data.length / 4 + 1)).foreach { slice =>
      ms.addData(slice.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("ilen_out")
      .groupBy("k").agg(max("value").as("v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    expected.foreach { case (u, want) =>
      assert(got.getOrElse(u, 0L) == want,
        s"user $u: stream ${got.get(u)} vs batch $want")
    }
  }

  test("streaming max intersections equals the batch sweep (q134-family parity)") {
    import graft.streaming.StreamingIntervals
    import graft.operators.Intervals
    import spark.implicits._
    val batch = Tables(spark, sf).events
      .withColumn("sms", unix_millis(col("ts")))
      .withColumn("ems", col("sms") + round(col("value") * 1000).cast("long"))
    val expected = Intervals
      .maxIntersections(batch, $"user_id", $"sms", $"ems")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val data = batch.select($"user_id", $"ts", $"ems")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
      .sortBy(_._2.getTime)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, Long)]
    val src = ms.toDF().toDF("user_id", "ts", "end_ms")
      .withWatermark("ts", "1 hour")
    val q = StreamingIntervals
      .streamingMaxIntersections(src, "user_id", "ts", "end_ms")
      .writeStream.outputMode("update")
      .format("memory").queryName("imax_out")
      .start()
    data.grouped(math.max(1, data.length / 4 + 1)).foreach { slice =>
      ms.addData(slice.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("imax_out")
      .groupBy("k").agg(max("value").as("v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    expected.foreach { case (u, want) =>
      assert(got.getOrElse(u, 0L) == want,
        s"user $u: stream ${got.get(u)} vs batch $want")
    }
  }

  test("interval sweep state flushes below the watermark (bounded frontier)") {
    import graft.streaming.StreamingIntervals
    import spark.implicits._
    // synthetic: one user, intervals marching forward in time — after
    // the watermark advances past early segments, the live frontier
    // must not retain them (probe via the optimistic totals staying
    // exact while slices stream in strictly increasing time)
    val base = 1700000000000L
    val rows = (0 until 200).map { i =>
      (7L, new java.sql.Timestamp(base + i * 10000L), base + i * 10000L + 7000L)
    }
    val want = 200L * 7000L // disjoint: 7 s every 10 s
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, Long)]
    val src = ms.toDF().toDF("user_id", "ts", "end_ms")
      .withWatermark("ts", "10 seconds")
    val q = StreamingIntervals
      .streamingIntervalLengthSum(src, "user_id", "ts", "end_ms")
      .writeStream.outputMode("update")
      .format("memory").queryName("iflush_out")
      .start()
    rows.grouped(20).foreach { slice =>
      ms.addData(slice.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("iflush_out")
      .groupBy("k").agg(max("value").as("v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(7L) == want, s"got ${got.get(7L)} want $want")
  }

  test("evicting interval length sum: epoch finals SUM to the batch total") {
    import graft.streaming.StreamingIntervals
    import graft.operators.Intervals
    import spark.implicits._
    val base = 1700000000000L
    def ts(m: Long) = new java.sql.Timestamp(base + m * 60000L)
    def iv(k: Long, m: Long, secs: Long) = (k, ts(m), base + m * 60000L + secs * 1000L)
    // key 7: epoch A (two overlapping intervals), 10 h idle (state must
    // evict), epoch B (one disjoint interval) — exact total must
    // survive the removal as the SUM of epoch finals
    val epochA = Seq(iv(7L, 0, 90), iv(7L, 1, 60), iv(8L, 0, 30))
    val push1 = Seq(iv(-1L, 600, 1))
    val epochB = Seq(iv(7L, 620, 45))
    val push2 = Seq(iv(-1L, 1300, 1))
    val all = epochA ++ push1 ++ epochB ++ push2
    val batch = all.toDF("k", "ts", "end_ms")
      .withColumn("sms", unix_millis(col("ts")))
    val expected = Intervals
      .intervalLengthSum(batch, $"k", $"sms", $"end_ms", $"sms")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, Long)]
    val src = ms.toDF().toDF("k", "ts", "end_ms")
      .withWatermark("ts", "1 minute")
    val q = StreamingIntervals
      .streamingIntervalLengthSumEvicting(src, "k", "ts", "end_ms")
      .writeStream.outputMode("append")
      .format("memory").queryName("ilen_evict_out")
      .start()
    Seq(epochA, push1, epochB, push2, Seq(iv(-1L, 2000, 1))).foreach { s =>
      ms.addData(s); q.processAllAvailable()
    }
    val removed = q.recentProgress.toSeq
      .flatMap(_.stateOperators).map(_.numRowsRemoved).sum
    q.stop()
    assert(removed >= 1, s"drained-frontier state must evict, removed=$removed")
    val got = spark.table("ilen_evict_out")
      .groupBy("k").agg(sum("value").as("v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.filter(_._1 >= 0).foreach { case (k, v) =>
      assert(expected(k) == v, s"key $k: finals sum $v vs batch ${expected(k)}")
    }
    assert(got.contains(7L), "evicted epochs must have emitted finals")
  }

  test("evicting max intersections: epoch finals MAX to the batch answer") {
    import graft.streaming.StreamingIntervals
    import graft.operators.Intervals
    import spark.implicits._
    val base = 1700000000000L
    def ts(m: Long) = new java.sql.Timestamp(base + m * 60000L)
    def iv(k: Long, m: Long, secs: Long) = (k, ts(m), base + m * 60000L + secs * 1000L)
    // epoch A: 3 concurrent at key 7 (plus a zero-length interval,
    // whose delta pair cancels in the batch sweep — peak contribution
    // 0 — and which the streaming form drops outright: parity holds);
    // epoch B after eviction: only 2
    val epochA = Seq(iv(7L, 0, 300), iv(7L, 1, 300), iv(7L, 2, 300),
      iv(7L, 3, 0))
    val push1 = Seq(iv(-1L, 600, 1))
    val epochB = Seq(iv(7L, 620, 120), iv(7L, 621, 120))
    val push2 = Seq(iv(-1L, 1300, 1))
    val all = epochA ++ push1 ++ epochB ++ push2
    val batch = all.toDF("k", "ts", "end_ms")
      .withColumn("sms", unix_millis(col("ts")))
    val expected = Intervals.maxIntersections(batch, $"k", $"sms", $"end_ms")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, Long)]
    val src = ms.toDF().toDF("k", "ts", "end_ms")
      .withWatermark("ts", "1 minute")
    val q = StreamingIntervals
      .streamingMaxIntersectionsEvicting(src, "k", "ts", "end_ms")
      .writeStream.outputMode("append")
      .format("memory").queryName("imax_evict_out")
      .start()
    Seq(epochA, push1, epochB, push2, Seq(iv(-1L, 2000, 1))).foreach { s =>
      ms.addData(s); q.processAllAvailable()
    }
    val removed = q.recentProgress.toSeq
      .flatMap(_.stateOperators).map(_.numRowsRemoved).sum
    q.stop()
    assert(removed >= 1, s"state must evict, removed=$removed")
    val got = spark.table("imax_evict_out")
      .groupBy("k").agg(max("value").as("v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.filter(_._1 >= 0).foreach { case (k, v) =>
      assert(expected(k) == v, s"key $k: finals max $v vs batch ${expected(k)}")
    }
    assert(got(7L) == 3L, "epoch-A concurrency must survive eviction")
  }

  test("feature extraction really decodes media and fingerprints opaque bytes") {
    import graft.operators.Multimodal
    val media = Multimodal.asBinaryFrame(Tables(spark, sf).documents, "doc_id", "text")
    val feats = Multimodal.extractFeatures(spark, media).collect()
    assert(feats.nonEmpty)
    val texts = Tables(spark, sf).documents.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    feats.foreach { f =>
      val bytes = texts(f.doc_id).getBytes("UTF-8")
      val want = bytes.foldLeft(0L)((h, b) => (h * 131 + (b & 0xff)) % 1000003L)
      assert(f.feature == want && f.n_bytes == bytes.length,
        s"opaque payloads take the rolling fingerprint: ${f.doc_id}")
    }
    // image payloads dispatch to the REAL decoders
    assert(Multimodal.decodeFeature(Multimodal.synthesizePng(5, 3, 9L))._2 ==
      (for (x <- 0 until 5; y <- 0 until 3) yield (9L + x + y) % 251).sum)
    assert(Multimodal.decodeFeature(Multimodal.synthesizeJpegDct(8, 8, 4L))._2 ==
      64L * ((4L % 151) - 75 + 128))
  }

  test("multimodal probe really decodes BMP and PCM WAV headers") {
    import graft.operators.Multimodal
    import spark.implicits._
    def le16(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def ascii(s: String) = s.getBytes("US-ASCII")
    // minimal 24bpp BMP header (no pixel data needed for the probe)
    val bmp = ascii("BM") ++ le32(54) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(640) ++ le32(480) ++ le16(1) ++ le16(24) ++
      Array.fill[Byte](24)(0)
    // 8kHz mono PCM16 WAV with 4 samples of amplitude 1000
    val samples = Array(1000, 1000, 1000, 1000).flatMap(le16)
    val wav = ascii("RIFF") ++ le32(36 + samples.length) ++ ascii("WAVE") ++
      ascii("fmt ") ++ le32(16) ++ le16(1) ++ le16(1) ++ le32(8000) ++
      le32(16000) ++ le16(2) ++ le16(16) ++
      ascii("data") ++ le32(samples.length) ++ samples
    val junk = Array[Byte](1, 2, 3, 4)
    val media = Seq((1L, bmp), (2L, wav), (3L, junk)).toDF("doc_id", "payload")
    val metas = Multimodal.probeMedia(spark, media).collect()
      .map(m => m.doc_id -> m).toMap
    assert(metas(1L).kind == "bmp" && metas(1L).width == 640 && metas(1L).height == 480)
    assert(metas(2L).kind == "wav" && metas(2L).sample_rate == 8000)
    assert(metas(2L).duration_ms == 0L || metas(2L).duration_ms == (4 * 1000L / 8000)) // 0ms at 4 samples
    assert(math.abs(metas(2L).rms - 1000.0) < 1e-9)
    assert(metas(3L).kind == "bin" && metas(3L).n_bytes == 4)

    // adversarial payload: RIFF/WAVE magic with a negative chunk size
    // must classify as opaque binary, not hang the partition
    val evil = ascii("RIFF") ++ le32(36) ++ ascii("WAVE") ++
      ascii("fmt ") ++ le32(-8) ++ Array.fill[Byte](8)(0)
    val evilMeta = Multimodal.probeMedia(spark,
      Seq((9L, evil)).toDF("doc_id", "payload")).collect().head
    assert(evilMeta.kind == "bin")

    // a large POSITIVE chunk size (0x7FFFFFF0) would wrap an Int
    // offset negative and crash tag() — the walk must terminate and
    // classify as opaque binary instead
    val oversized = ascii("RIFF") ++ le32(36) ++ ascii("WAVE") ++
      ascii("junk") ++ le32(0x7FFFFFF0) ++ Array.fill[Byte](16)(0)
    val osMeta = Multimodal.probeMedia(spark,
      Seq((10L, oversized)).toDF("doc_id", "payload")).collect().head
    assert(osMeta.kind == "bin")
  }

  test("multimodal probe decodes JPEG SOF headers and stripExif removes only APP1") {
    import graft.operators.Multimodal
    import spark.implicits._
    val jpg = Multimodal.synthesizeJpeg(w = 640, h = 480, exifBytes = 20, entropyBytes = 10)
    assert(jpg.length == 47 + 20 + 10)
    assert(Multimodal.decodeJpeg(jpg).contains((640, 480, 3)))

    // strip removes exactly the APP1 segment (10 + exifBytes) and the
    // result still decodes to the same dimensions; idempotent
    val stripped = Multimodal.stripExif(jpg)
    assert(stripped.length == jpg.length - 30)
    assert(Multimodal.decodeJpeg(stripped).contains((640, 480, 3)))
    assert(Multimodal.stripExif(stripped).sameElements(stripped))

    // progressive (SOF2) and fill-byte padding before markers decode too
    val sof2 = jpg.clone()
    assert((sof2(2 + 30 + 1) & 0xff) == 0xC0)
    sof2(2 + 30 + 1) = 0xC2.toByte
    assert(Multimodal.decodeJpeg(sof2).contains((640, 480, 3)))
    val padded = jpg.take(2) ++ Array(0xFF.toByte, 0xFF.toByte) ++ jpg.drop(2)
    assert(Multimodal.decodeJpeg(padded).contains((640, 480, 3)))
    assert(Multimodal.stripExif(padded).length == padded.length - 30)

    // malformed payloads classify as "not ours" — never a crash/hang:
    // truncated mid-segment, zero segment length, SOS before any SOF,
    // and plain non-JPEG bytes
    assert(Multimodal.decodeJpeg(jpg.take(8)).isEmpty)
    val badLen = jpg.clone(); badLen(4) = 0; badLen(5) = 0
    assert(Multimodal.decodeJpeg(badLen).isEmpty)
    val noSof = jpg.take(2 + 30) ++ jpg.drop(2 + 30 + 19) // cut the SOF0 segment
    assert(Multimodal.decodeJpeg(noSof).isEmpty)
    assert(Multimodal.decodeJpeg("not a jpeg".getBytes("US-ASCII")).isEmpty)
    // stripExif on malformed input degrades to passthrough of the tail
    assert(Multimodal.stripExif(badLen).sameElements(badLen))

    // probeMedia dispatches jpeg ahead of the bin fallback
    val meta = Multimodal.probeMedia(spark,
      Seq((1L, jpg)).toDF("doc_id", "payload")).collect().head
    assert(meta.kind == "jpeg" && meta.width == 640 && meta.height == 480)
  }

  test("multimodal probe decodes MP4 box metadata (v0, v1, extended sizes, malformed)") {
    import graft.operators.Multimodal
    import spark.implicits._
    def be32(v: Long) = Array[Byte](((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def be64(v: Long) = be32(v >>> 32) ++ be32(v & 0xffffffffL)
    def four(s: String) = s.getBytes("US-ASCII")

    val mp4 = Multimodal.synthesizeMp4("isom", timescale = 600,
      durationUnits = 3000, freeBytes = 11, mdatBytes = 7)
    assert(mp4.length == 152 + 11 + 7)
    assert(Multimodal.decodeMp4(mp4).contains(("isom", 600, 5000L)))

    // probeMedia dispatches mp4 with timescale in the sample_rate slot
    val meta = Multimodal.probeMedia(spark,
      Seq((1L, mp4)).toDF("doc_id", "payload")).collect().head
    assert(meta.kind == "mp4" && meta.sample_rate == 600 && meta.duration_ms == 5000L)

    // mvhd VERSION 1 (64-bit created/modified/duration) — hand-built
    // minimal tree: ftyp(20) + moov(8 + mvhd(8+32))
    val mvhd1 = be32(40) ++ four("mvhd") ++ Array[Byte](1, 0, 0, 0) ++
      be64(0) ++ be64(0) ++ be32(1000) ++ be64(90000L)
    val v1 = be32(20) ++ four("ftyp") ++ four("iso6") ++ be32(0) ++ four("iso6") ++
      be32(48) ++ four("moov") ++ mvhd1
    assert(Multimodal.decodeMp4(v1).contains(("iso6", 1000, 90000L)))

    // EXTENDED size (size==1 → 64-bit) on the moov box, and a
    // trailing size==0 (to-EOF) mdat
    val ext = be32(20) ++ four("ftyp") ++ four("isom") ++ be32(0) ++ four("isom") ++
      be32(1) ++ four("moov") ++ be64(16 + 40) ++ mvhd1 ++
      be32(0) ++ four("mdat") ++ Array.fill[Byte](5)(0x55)
    assert(Multimodal.decodeMp4(ext).contains(("isom", 1000, 90000L)))

    // malformed payloads classify as None — never a crash or hang:
    // missing ftyp, box size < 8 (would walk backwards), box size
    // overrunning the payload, truncated mvhd
    assert(Multimodal.decodeMp4(four("junkjunkjunkjunk")).isEmpty)
    val badSize = mp4.clone()
    // the free box's size field (offset 20) → 3
    be32(3).copyToArray(badSize, 20)
    assert(Multimodal.decodeMp4(badSize).isEmpty)
    val overrun = mp4.clone()
    be32(100000).copyToArray(overrun, 20)
    assert(Multimodal.decodeMp4(overrun).isEmpty)
    assert(Multimodal.decodeMp4(mp4.take(40)).isEmpty)
    // and the zero-norm... a zero timescale must be rejected, not
    // divide by zero
    val zeroTs = mp4.clone()
    val tsOff = 20 + 8 + 11 + 8 + 8 + 4 + 4 + 4 // free + moov hdr + mvhd hdr + ver/created/modified
    be32(0).copyToArray(zeroTs, tsOff)
    assert(Multimodal.decodeMp4(zeroTs).isEmpty)
  }

  test("frame sampling composites real APNG canvases and resizes them") {
    import graft.operators.Multimodal
    import spark.implicits._
    val media = (1L to 20L).toDF("doc_id").as[Long]
      .mapPartitions(_.map { id =>
        Multimodal.MediaRow(id, Multimodal.synthesizeApngRegions(
          w = 16, h = 12, seed = id, frames = 4, subRects = true))
      }).toDF()
    val frames = Multimodal.sampleFrames(spark, media, nFrames = 2, tw = 8, th = 6)
      .collect()
    assert(frames.nonEmpty)
    frames.groupBy(_.doc_id).values.foreach { fs =>
      assert(fs.length == 2, "4 snapshots sampled down to 2")
      assert(fs.map(_.frame_idx).sorted.toSeq == Seq(0, 1))
      fs.foreach { f => // every emitted frame is a REAL decodable PNG
        val (w, h, _) = Multimodal.decodePng(f.frame).get
        assert((w, h) == (8, 6))
      }
    }
    // first sampled frame = frame-0 canvas = the full (seed+x+y)%251
    // grid, nearest-neighbor sampled 16x12 -> 8x6 (factor 2)
    val f0 = frames.find(f => f.doc_id == 3L && f.frame_idx == 0).get
    val (_, _, sum0) = Multimodal.decodePng(f0.frame).get
    val want = (for (x <- 0 until 8; y <- 0 until 6)
      yield (3L + 2 * x + 2 * y) % 251).sum
    assert(sum0 == want, "resize must sample the composited canvas")
  }

  test("frame sampling LZW-decodes animated GIF frames") {
    import graft.operators.Multimodal
    import spark.implicits._
    val media = (1L to 10L).toDF("doc_id").as[Long]
      .mapPartitions(_.map { id =>
        Multimodal.MediaRow(id,
          Multimodal.synthesizeGifAnim(w = 12, h = 8, seed = id, frames = 3))
      }).toDF()
    val frames = Multimodal.sampleFrames(spark, media, nFrames = 3, tw = 6, th = 4)
      .collect()
    frames.groupBy(_.doc_id).values.foreach(fs => assert(fs.length == 3))
    // frame f pixel at linear index i is (seed + f + i) mod 4; resized
    // (x, y) samples src(2x, 2y) -> index 2y*12 + 2x
    val f2 = frames.find(f => f.doc_id == 4L && f.frame_idx == 2).get
    val (_, _, sum2) = Multimodal.decodePng(f2.frame).get
    val want = (for (x <- 0 until 6; y <- 0 until 4)
      yield (4L + 2 + (2 * y * 12 + 2 * x)) % 4).sum
    assert(sum2 == want, "sampled GIF frame must carry the LZW-decoded pixels")
  }

  test("still-PNG resize round-trips the nearest-neighbor closed form") {
    import graft.operators.Multimodal
    val resized = Multimodal.resizeImage(Multimodal.synthesizePng(20, 10, 7L), 5, 4)
    val want = (for (x <- 0 until 5; y <- 0 until 4)
      yield (7L + (x * 20 / 5) + (y * 10 / 4)) % 251).sum
    assert(Multimodal.decodePng(resized).contains((5, 4, want)))
    // non-PNG payloads pass through untouched
    val wav = Array[Byte](1, 2, 3)
    assert(Multimodal.resizeImage(wav, 4, 4).toSeq == wav.toSeq)
  }

  test("streaming time decay equals the batch recurrence exactly (q151 parity)") {
    import graft.streaming.TimeDecayStream
    import graft.streaming.TimeDecayStream.{Ev, DecayOut}
    import spark.implicits._
    val tau = 3600000.0
    val batch = Tables(spark, sf).events.withColumn("tms", unix_millis(col("ts")))
    val expected = graft.operators.TimeSeries
      .timeDecayed(batch, "user_id", "tms", "event_id", "value", tau)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(4), r.getDouble(5)))
      .toMap
    // deliver 3 time-ordered slices; each trigger round-trips the
    // per-user (lastT, dsum, dcnt) state through the state store, and
    // in-order delivery makes the fold arithmetic IDENTICAL to the
    // batch scan - parity is exact double equality, no tolerance
    val data = batch.select($"user_id", $"tms", $"event_id", $"value")
      .collect()
      .map(r => Ev(r.getLong(0), r.getLong(2), r.getLong(1), r.getDouble(3)))
      .sortBy(e => (e.tms, e.id))
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Ev]
    val q = TimeDecayStream.streamingTimeDecayed(spark, ms.toDS(), tau)
      .writeStream.outputMode("append")
      .format("memory").queryName("decay_out")
      .start()
    data.grouped(math.max(1, data.length / 3 + 1)).foreach { slice =>
      ms.addData(slice.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("decay_out").as[DecayOut].collect()
    assert(got.length == expected.size)
    got.foreach { o =>
      val (es, ec) = expected((o.key, o.id))
      assert(o.decayed_sum == es && o.decayed_cnt == ec,
        s"row (${o.key}, ${o.id}): (${o.decayed_sum}, ${o.decayed_cnt}) vs ($es, $ec)")
    }
  }

  test("time-decay eviction removes idle state and stays value-exact past the horizon") {
    import graft.streaming.TimeDecayStream
    import graft.streaming.TimeDecayStream.{EvT, DecayOut}
    import spark.implicits._
    val tau = 1000.0 // 1 s - the 40-tau horizon is 40 s
    val base = 1600000000000L
    // two bursts 100*tau apart for user 1; user 2 only in burst 1
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val burst1 = Seq(
      EvT(1L, 1L, ts(base), 10.0), EvT(1L, 2L, ts(base + 500), 20.0),
      EvT(2L, 3L, ts(base + 100), 5.0))
    val burst2 = Seq(
      EvT(1L, 4L, ts(base + 100000), 40.0), EvT(1L, 5L, ts(base + 100500), 50.0))
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[EvT]
    val src = ms.toDS().toDF()
      .withWatermark("ts", "0 seconds")
      .as[EvT]
    val q = TimeDecayStream.streamingTimeDecayedEvicting(spark, src, tau)
      .writeStream.outputMode("append")
      .format("memory").queryName("decay_evict_out")
      .start()
    ms.addData(burst1); q.processAllAvailable()
    ms.addData(burst2); q.processAllAvailable()
    // push the watermark past burst2's horizon so its state evicts too
    ms.addData(Seq(EvT(3L, 9L, ts(base + 300000), 1.0))); q.processAllAvailable()
    q.stop()
    val removed = q.recentProgress
      .flatMap(p => Option(p.stateOperators).toSeq.flatten)
      .map(_.numRowsRemoved).sum
    assert(removed >= 2, s"idle users must evict, removed=$removed")
    // batch recurrence over the SAME rows: the 100-tau gap decays the
    // burst-1 tail to sub-ulp, so even with user 1's state evicted
    // between bursts the values match the batch scan EXACTLY
    val all = (burst1 ++ burst2).map(e => (e.key, e.ts.getTime, e.id, e.value))
      .toDF("user_id", "tms", "event_id", "value")
    val expected = graft.operators.TimeSeries
      .timeDecayed(all, "user_id", "tms", "event_id", "value", tau)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(4), r.getDouble(5)))
      .toMap
    spark.table("decay_evict_out").as[DecayOut].collect()
      .filter(_.key != 3L)
      .foreach { o =>
        val (es, ec) = expected((o.key, o.id))
        assert(o.decayed_sum == es && o.decayed_cnt == ec,
          s"row (${o.key}, ${o.id}): (${o.decayed_sum}, ${o.decayed_cnt}) vs ($es, $ec)")
      }
  }

  test("streaming IVF index maintenance: stream == build+append with same first batch") {
    import graft.operators.Similarity
    import graft.streaming.StreamingIndex
    import java.nio.file.{Files => JFiles, Paths}
    val corpus = Similarity.prepare(
      Tables(spark, sf).embeddings, "vec_id", "embedding").cache()
    // stage as multiple files, one per trigger; capture batch 0's
    // CONTENT so the reference index trains on exactly the same rows
    // (frozen-centroid append makes later order irrelevant — q147)
    val dir = JFiles.createTempDirectory("graft-ivfdocs").toString
    corpus.repartition(3).write.mode("overwrite").parquet(dir)
    val files = JFiles.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).sorted
    assert(files.length >= 2)
    // the file source orders batches by MODIFICATION TIME, not path —
    // pin distinct ascending mtimes so batch 0 is files.head for sure
    files.zipWithIndex.foreach { case (f, i) =>
      JFiles.setLastModifiedTime(Paths.get(f),
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    val streamed = JFiles.createTempDirectory("graft-ivfstr").toString
    val ckpt = JFiles.createTempDirectory("graft-ivfck").toString
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = StreamingIndex.sink(stream, ckpt)(StreamingIndex.applyIvfBatch(_, 64, streamed, _))
    q.processAllAvailable(); q.stop()
    assert(spark.read.parquet(s"$streamed/batchlog").count() >= 2)
    // file-source batches arrive in listing order: batch 0 = files(0)
    val b0 = spark.read.parquet(files.head)
    val rest = corpus.as("c").join(b0.select("vid"), Seq("vid"), "left_anti")
    val ref = JFiles.createTempDirectory("graft-ivfref").toString
    Similarity.buildIvfIndex(b0, 64, ref)
    Similarity.appendIvfIndex(spark, rest, ref)
    val queries = corpus.limit(50).cache()
    def probe(d: String) =
      Similarity.ivfProbeIndexed(spark, d, queries, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = probe(ref)
    assert(want.nonEmpty)
    assert(probe(streamed) == want,
      "stream-maintained IVF index must answer probes like build+append")
    // re-delivered batch id is a no-op
    assert(!StreamingIndex.applyIvfBatch(corpus.limit(5), 64, streamed, 0))
    assert(probe(streamed) == want)
  }

  test("streaming PQ index maintenance: stream == build+append with same first batch") {
    import graft.operators.{Pq, Similarity}
    import graft.streaming.StreamingIndex
    import java.nio.file.{Files => JFiles, Paths}
    import spark.implicits._
    val corpus = Similarity.prepare(
      Tables(spark, sf).embeddings, "vec_id", "embedding").cache()
    val dir = JFiles.createTempDirectory("graft-pqdocs").toString
    corpus.repartition(3).write.mode("overwrite").parquet(dir)
    val files = JFiles.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).sorted
    assert(files.length >= 2)
    files.zipWithIndex.foreach { case (f, i) =>
      JFiles.setLastModifiedTime(Paths.get(f),
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    val streamed = JFiles.createTempDirectory("graft-pqstr").toString
    val ckpt = JFiles.createTempDirectory("graft-pqck").toString
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = StreamingIndex.sink(stream, ckpt)(StreamingIndex.applyPqBatch(_, streamed, _))
    q.processAllAvailable(); q.stop()
    assert(spark.read.parquet(s"$streamed/batchlog").count() >= 2)
    val b0 = spark.read.parquet(files.head)
    val rest = corpus.as("c").join(b0.select("vid"), Seq("vid"), "left_anti")
    val ref = JFiles.createTempDirectory("graft-pqref").toString
    Pq.buildPqIndex(b0, ref)
    Pq.appendPqIndex(spark, rest, ref)
    val queries = corpus.limit(50).cache()
    def probe(d: String) =
      Pq.pqProbeIndexed(spark, d, queries, topK = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = probe(ref)
    assert(want.nonEmpty)
    assert(probe(streamed) == want,
      "stream-maintained PQ index must answer probes like build+append")
    // re-delivered batch id is a no-op
    assert(!StreamingIndex.applyPqBatch(corpus.limit(5), streamed, 0))
    assert(probe(streamed) == want)
  }

  test("streaming SQ8 index maintenance: stream == build+append with same first batch") {
    import graft.operators.Similarity
    import graft.streaming.StreamingIndex
    import java.nio.file.{Files => JFiles, Paths}
    import spark.implicits._
    val corpus = Similarity.prepare(
      Tables(spark, sf).embeddings, "vec_id", "embedding").cache()
    val dir = JFiles.createTempDirectory("graft-sq8docs").toString
    corpus.repartition(3).write.mode("overwrite").parquet(dir)
    val files = JFiles.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).sorted
    assert(files.length >= 2)
    files.zipWithIndex.foreach { case (f, i) =>
      JFiles.setLastModifiedTime(Paths.get(f),
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    val streamed = JFiles.createTempDirectory("graft-sq8str").toString
    val ckpt = JFiles.createTempDirectory("graft-sq8ck").toString
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = StreamingIndex.sink(stream, ckpt)(StreamingIndex.applySq8Batch(_, streamed, _))
    q.processAllAvailable(); q.stop()
    assert(spark.read.parquet(s"$streamed/batchlog").count() >= 2)
    val b0 = spark.read.parquet(files.head)
    val rest = corpus.as("c").join(b0.select("vid"), Seq("vid"), "left_anti")
    val ref = JFiles.createTempDirectory("graft-sq8ref").toString
    Similarity.buildSq8Index(b0, ref)
    Similarity.appendSq8Index(spark, rest, ref)
    val queries = corpus.limit(50).cache()
    def probe(d: String) =
      Similarity.sq8ProbeIndexed(spark, d, queries, topK = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = probe(ref)
    assert(want.nonEmpty)
    assert(probe(streamed) == want,
      "stream-maintained SQ8 index must answer probes like build+append")
    // re-delivered batch id is a no-op
    assert(!StreamingIndex.applySq8Batch(corpus.limit(5), streamed, 0))
    assert(probe(streamed) == want)
  }

  test("streaming LM counts: multi-trigger stream scores exactly like the one-shot model") {
    import graft.operators.LangModel
    import graft.streaming.StreamingIndex
    import java.nio.file.{Files => JFiles, Paths}
    import spark.implicits._
    val docs = Tables(spark, sf).documents
      .select($"doc_id", $"text").cache()
    val dir = JFiles.createTempDirectory("graft-lmdocs").toString
    docs.repartition(3).write.mode("overwrite").parquet(dir)
    val files = JFiles.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).sorted
    assert(files.length >= 2)
    files.zipWithIndex.foreach { case (f, i) =>
      JFiles.setLastModifiedTime(Paths.get(f),
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    val streamed = JFiles.createTempDirectory("graft-lmstr").toString
    val ckpt = JFiles.createTempDirectory("graft-lmck").toString
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = StreamingIndex.sink(stream, ckpt)(StreamingIndex.applyLmBatch(_, "text", streamed, _))
    q.processAllAvailable(); q.stop()
    assert(spark.read.parquet(s"$streamed/batchlog").count() >= 2)
    val scoreSet = docs.limit(40).cache()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val want = rows(LangModel.stupidBackoffSurprisal(docs, scoreSet, "doc_id", "text"))
    assert(want.nonEmpty)
    assert(rows(LangModel.scoreLmIndexed(spark, streamed, scoreSet, "doc_id", "text")) == want,
      "stream-accumulated counts must score exactly like one-shot training")
    // re-delivered batch id is a no-op — scores unchanged
    assert(!StreamingIndex.applyLmBatch(docs.limit(5), "text", streamed, 0))
    assert(rows(LangModel.scoreLmIndexed(spark, streamed, scoreSet, "doc_id", "text")) == want)
  }

  test("LM staged commit: replay after crash-before-marker leaves scores exact") {
    import graft.operators.LangModel
    import graft.streaming.StreamingIndex
    import spark.implicits._
    val docs = Tables(spark, sf).documents.select($"doc_id", $"text").cache()
    val dir = java.nio.file.Files.createTempDirectory("graft-lmcrash").toString
    assert(StreamingIndex.applyLmBatch(docs.filter($"doc_id" % 2 === 0), "text", dir, 0))
    assert(StreamingIndex.applyLmBatch(docs.filter($"doc_id" % 2 =!= 0), "text", dir, 1))
    val scoreSet = docs.limit(30).cache()
    def rows() = LangModel.scoreLmIndexed(spark, dir, scoreSet, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val want = rows()
    // crash between the count-segment commit and the marker write:
    // erase batch 1's marker, keep its data, re-deliver — the sweep
    // must drop the orphaned b1_* segments or counts double
    dropLogRow(dir, 1L)
    assert(StreamingIndex.applyLmBatch(docs.filter($"doc_id" % 2 =!= 0), "text", dir, 1))
    assert(rows() == want,
      "replay must converge to exactly-once counts (scores unchanged)")
  }

  test("SQ8 staged commit: replay after crash-before-marker leaves exactly one copy") {
    import graft.operators.Similarity
    import graft.streaming.StreamingIndex
    import spark.implicits._
    val corpus = Similarity.prepare(
      Tables(spark, sf).embeddings, "vec_id", "embedding").cache()
    val dir = java.nio.file.Files.createTempDirectory("graft-sq8crash").toString
    assert(StreamingIndex.applySq8Batch(corpus.filter($"vid" % 2 === 0), dir, 0))
    assert(StreamingIndex.applySq8Batch(corpus.filter($"vid" % 2 =!= 0), dir, 1))
    def counts() = (spark.read.parquet(s"$dir/codes").count(),
      spark.read.parquet(s"$dir/vectors").count())
    val n = counts()
    dropLogRow(dir, 1L)
    assert(StreamingIndex.applySq8Batch(corpus.filter($"vid" % 2 =!= 0), dir, 1))
    assert(counts() == n,
      "replay must converge to exactly one copy in codes AND vectors")
  }

  test("PQ staged commit: replay after crash-before-marker leaves exactly one copy") {
    import graft.operators.Similarity
    import graft.streaming.StreamingIndex
    import spark.implicits._
    val corpus = Similarity.prepare(
      Tables(spark, sf).embeddings, "vec_id", "embedding").cache()
    val dir = java.nio.file.Files.createTempDirectory("graft-pqcrash").toString
    assert(StreamingIndex.applyPqBatch(corpus.filter($"vid" % 2 === 0), dir, 0))
    assert(StreamingIndex.applyPqBatch(corpus.filter($"vid" % 2 =!= 0), dir, 1))
    def counts() = (spark.read.parquet(s"$dir/codes").count(),
      spark.read.parquet(s"$dir/vectors").count())
    val n = counts()
    dropLogRow(dir, 1L)
    assert(StreamingIndex.applyPqBatch(corpus.filter($"vid" % 2 =!= 0), dir, 1))
    assert(counts() == n,
      "replay must converge to exactly one copy in codes AND vectors")
  }

  test("IVF staged commit: replay after crash-before-marker leaves exactly one copy") {
    import graft.operators.Similarity
    import graft.streaming.StreamingIndex
    import spark.implicits._
    val corpus = Similarity.prepare(
      Tables(spark, sf).embeddings, "vec_id", "embedding").cache()
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfcrash").toString
    val b0 = corpus.filter($"vid" % 2 === 0)
    val b1 = corpus.filter($"vid" % 2 =!= 0)
    assert(StreamingIndex.applyIvfBatch(b0, 64, dir, 0))
    assert(StreamingIndex.applyIvfBatch(b1, 64, dir, 1))
    val members = s"$dir/members"
    val n = spark.read.parquet(members).count()
    val vids = spark.read.parquet(members).select("m_vid").collect()
      .map(_.getLong(0)).sorted.toSeq
    // simulate "crash between the members commit and the marker write":
    // erase batch 1's marker but keep its data, then re-deliver it —
    // the sweep must drop the orphaned b1_* files before re-committing
    dropLogRow(dir, 1L)
    assert(StreamingIndex.applyIvfBatch(b1, 64, dir, 1),
      "replay of the un-marked batch must apply")
    assert(spark.read.parquet(members).count() == n,
      "replay must converge to exactly one copy of the batch")
    assert(spark.read.parquet(members).select("m_vid").collect()
      .map(_.getLong(0)).sorted.toSeq == vids)
  }

  test("streaming clip-fingerprint index: multi-trigger stream == one-shot postings") {
    import graft.streaming.StreamingIndex
    import java.nio.file.{Files => JFiles, Paths}
    import spark.implicits._
    // 12 clips over 3 sources; clip c of source s carries frames
    // [c % 3, c % 3 + 4) of that source — fingerprints are synthetic
    // (source*100 + frame); the real decode path is q192/q195's gate
    val clips = (0 until 12).flatMap { c =>
      val src = c / 4
      (c % 3 until c % 3 + 4).map(f => (c.toLong, src * 100L + f))
    }.toDF("vid", "fhash").cache()
    val dir = JFiles.createTempDirectory("graft-clipdocs").toString
    clips.repartition(3).write.mode("overwrite").parquet(dir)
    val files = JFiles.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).sorted
    assert(files.length >= 2)
    files.zipWithIndex.foreach { case (f, i) =>
      JFiles.setLastModifiedTime(Paths.get(f),
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    val streamed = JFiles.createTempDirectory("graft-clipstr").toString
    val ckpt = JFiles.createTempDirectory("graft-clipck").toString
    val stream = spark.readStream.schema(clips.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = StreamingIndex.sink(stream, ckpt)(StreamingIndex.applyClipBatch(_, streamed, _))
    q.processAllAvailable(); q.stop()
    assert(spark.read.parquet(s"$streamed/batchlog").count() >= 2)
    def pairs(d: String) = StreamingIndex.probeClipPairs(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // reference: the window-overlap arithmetic, computed directly
    val want = (for {
      a <- 0 until 12; b <- a + 1 until 12 if a / 4 == b / 4
      sh = math.min(a % 3, b % 3) + 4 - math.max(a % 3, b % 3)
      if sh > 0
    } yield (a.toLong, b.toLong, sh.toLong)).toSet
    assert(want.nonEmpty)
    assert(pairs(streamed) == want,
      "stream-maintained clip index must report exact window overlaps")
    // re-delivered batch id is a no-op
    assert(!StreamingIndex.applyClipBatch(clips.limit(5), streamed, 0))
    assert(pairs(streamed) == want)
    // crash-before-marker replay converges to exactly one copy
    val dir2 = JFiles.createTempDirectory("graft-clipcrash").toString
    assert(StreamingIndex.applyClipBatch(clips.filter($"vid" < 6), dir2, 0))
    assert(StreamingIndex.applyClipBatch(clips.filter($"vid" >= 6), dir2, 1))
    val n = spark.read.parquet(s"$dir2/postings").count()
    dropLogRow(dir2, 1L)
    assert(StreamingIndex.applyClipBatch(clips.filter($"vid" >= 6), dir2, 1))
    assert(spark.read.parquet(s"$dir2/postings").count() == n,
      "replay must converge to exactly one copy of the batch's postings")
  }

  test("streaming BM25 index maintenance: multi-trigger stream == batch build") {
    import graft.operators.Retrieval
    import graft.streaming.StreamingIndex
    import java.nio.file.{Files => JFiles, Paths}
    val docs = Tables(spark, sf).documents.select("doc_id", "text").cache()
    // stage as multiple files, one file per trigger → a real
    // build-then-append sequence through the foreachBatch sink
    val dir = JFiles.createTempDirectory("graft-bmdocs").toString
    docs.repartition(3).write.mode("overwrite").parquet(dir)
    assert(JFiles.list(Paths.get(dir)).toArray
      .map(_.toString).count(_.endsWith(".parquet")) >= 2)
    val queries = Seq(1L -> "spark window join", 2L -> "dup query scan",
      3L -> "the a")
    def probe(db: String) =
      Retrieval.bm25TopKIndexed(spark, db, queries, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    val whS = JFiles.createTempDirectory("graft-bmstr").toString
    val whB = JFiles.createTempDirectory("graft-bmref").toString
    val ckpt = JFiles.createTempDirectory("graft-bmckpt").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS bmstr LOCATION '$whS'")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS bmref LOCATION '$whB'")
    try {
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
      val q = StreamingIndex.sink(stream, ckpt)(
        StreamingIndex.applyBm25Batch(_, "doc_id", "text", "bmstr", _))
      q.processAllAvailable(); q.stop()
      val applied = spark.read.parquet(s"$whS/batchlog").count()
      assert(applied >= 2, s"want multiple applied batches, got $applied")
      Retrieval.buildBm25Index(docs, "doc_id", "text", "bmref")
      val want = probe("bmref")
      assert(want.nonEmpty)
      assert(probe("bmstr") == want,
        "stream-maintained index must answer probes like the batch build")
      // crash re-delivery: replaying an applied batch id is a no-op
      assert(!StreamingIndex.applyBm25Batch(
        docs.limit(5), "doc_id", "text", "bmstr", batchId = 0))
      assert(probe("bmstr") == want, "re-delivered batch must not change the index")
    } finally {
      spark.sql("DROP DATABASE IF EXISTS bmstr CASCADE")
      spark.sql("DROP DATABASE IF EXISTS bmref CASCADE")
    }
  }


  test("BM25 batchlog: at the database location, refuses foreign files, resets on drop") {
    import graft.streaming.StreamingIndex
    import spark.implicits._
    import java.nio.file.{Files => JFiles, Paths}
    import scala.jdk.CollectionConverters._
    val docs = Tables(spark, sf).documents.select("doc_id", "text")
    def applyB(db: String, id: Long) = StreamingIndex.applyBm25Batch(
      docs.filter($"doc_id" % 2 === id % 2), "doc_id", "text", db, id)
    val db = "bmlog"
    val loc = JFiles.createTempDirectory("graft-bmlog").toString
    def tree() = {
      val w = JFiles.walk(Paths.get(loc))
      try w.iterator.asScala.map(p => p.toString -> JFiles.size(p)).toSet finally w.close()
    }
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    try {
      spark.sql(s"CREATE DATABASE $db LOCATION '$loc'")
      assert(applyB(db, 0))
      assert(!applyB(db, 0), "a re-delivered id must be a no-op")
      assert(JFiles.exists(Paths.get(loc, "batchlog", "b0.parquet")))
      assert(!spark.catalog.tableExists(s"$db.batchlog"), "the batchlog is no catalog table")
      // a file that is no row file (the part file of a log that Spark
      // wrote, as the pre-r16 table form did) fails the next batch,
      // naming the file, before anything is written
      JFiles.copy(Paths.get(loc, "batchlog", "b0.parquet"),
        Paths.get(loc, "batchlog", "part-00000.parquet"))
      val before = tree()
      val e = intercept[IllegalStateException](applyB(db, 1))
      assert(e.getMessage.contains("part-00000.parquet"), e.getMessage)
      assert(tree() == before, "a refused batch must write nothing")
      // the drop takes the whole location, batchlog included, so a
      // re-created database applies batch 0 again
      spark.sql(s"DROP DATABASE $db CASCADE")
      assert(!JFiles.exists(Paths.get(loc, "batchlog")))
      spark.sql(s"CREATE DATABASE $db LOCATION '$loc'")
      assert(applyB(db, 0), "batch 0 must apply to a re-created database")
    } finally {
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    }
  }

  test("first-batch build replay: crash between build and batchlog marker does not duplicate (SQ8/PQ/IVF)") {
    import graft.operators.{Pq, Similarity}
    import graft.streaming.StreamingIndex
    import spark.implicits._
    val corpus = Similarity.prepare(
      Tables(spark, sf).embeddings, "vec_id", "embedding").cache()
    val b0 = corpus.filter($"vid" % 2 === 0).cache()
    val n0 = b0.count()
    // simulate the crash: the build committed (all data + _built
    // marker written) but the process died before the batchlog row --
    // exactly the window the r12 advice flagged. The replayed batch 0
    // must recognise its own build via the marker and NOT append.
    val sq8 = java.nio.file.Files.createTempDirectory("graft-sq8bw").toString
    Similarity.buildSq8Index(b0, sq8, builtBy = 0L)
    assert(StreamingIndex.applySq8Batch(b0, sq8, 0))
    assert(spark.read.parquet(s"$sq8/codes").count() == n0,
      "replayed build batch must not re-append its rows (codes)")
    assert(spark.read.parquet(s"$sq8/vectors").count() == n0)
    // and a later batch takes the append path normally
    assert(StreamingIndex.applySq8Batch(corpus.filter($"vid" % 2 =!= 0), sq8, 1))
    assert(spark.read.parquet(s"$sq8/codes").count() == corpus.count())
    val pq = java.nio.file.Files.createTempDirectory("graft-pqbw").toString
    Pq.buildPqIndex(b0, pq, builtBy = 0L)
    assert(StreamingIndex.applyPqBatch(b0, pq, 0))
    assert(spark.read.parquet(s"$pq/codes").count() == n0)
    val ivf = java.nio.file.Files.createTempDirectory("graft-ivfbw").toString
    Similarity.buildIvfIndex(b0, 64, ivf, builtBy = 0L)
    assert(StreamingIndex.applyIvfBatch(b0, 64, ivf, 0))
    assert(spark.read.parquet(s"$ivf/members").count() == n0,
      "replayed IVF build batch must not re-assign its rows")
    // crash BEFORE the _built marker: no marker -> the replay re-runs
    // the all-overwrite build and converges (no partial-state append)
    val half = java.nio.file.Files.createTempDirectory("graft-sq8hw").toString
    Similarity.buildSq8Index(b0, half, builtBy = 0L)
    val fs = new org.apache.hadoop.fs.Path(half)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$half/_built"), false)
    assert(StreamingIndex.applySq8Batch(b0, half, 0))
    assert(spark.read.parquet(s"$half/codes").count() == n0)
    // an index built by the BATCH API (builtBy = -1) still appends
    val batchApi = java.nio.file.Files.createTempDirectory("graft-sq8ba").toString
    Similarity.buildSq8Index(b0, batchApi)
    assert(StreamingIndex.applySq8Batch(corpus.filter($"vid" % 2 =!= 0), batchApi, 0))
    assert(spark.read.parquet(s"$batchApi/codes").count() == corpus.count())
  }

  test("LM segment compaction: probe-identical scores, file count stops growing with batches") {
    import graft.operators.LangModel
    import graft.streaming.StreamingIndex
    import spark.implicits._
    val docs = Tables(spark, sf).documents.select($"doc_id", $"text").cache()
    val dir = java.nio.file.Files.createTempDirectory("graft-lmcpt").toString
    // many small batches fragment the count tables
    (0 until 6).foreach { b =>
      assert(StreamingIndex.applyLmBatch(
        docs.filter($"doc_id" % 6 === b), "text", dir, b.toLong))
    }
    def parquetFiles(sub: String): Long = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$sub"))
        .count(f => f.isFile && f.getPath.getName.endsWith(".parquet")).toLong
    }
    val before = parquetFiles("c12")
    assert(before >= 6L, s"expected one+ segment per batch, saw $before")
    val scoreSet = docs.limit(30).cache()
    def rows() = LangModel.scoreLmIndexed(spark, dir, scoreSet, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val want = rows()
    assert(want.nonEmpty)
    LangModel.compactLmCounts(spark, dir)
    assert(rows() == want, "compaction must be probe-identical (bit-exact scores)")
    val after = Seq("c12", "c1", "cw").map(parquetFiles).max
    assert(after < before,
      s"compaction must shrink the segment count ($before -> $after)")
    // compaction composes with further appends + another compaction
    assert(StreamingIndex.applyLmBatch(docs.limit(10), "text", dir, 100L))
    LangModel.compactLmCounts(spark, dir)
    assert(Seq("c12", "c1", "cw").map(parquetFiles).max <= after + 1)
  }

  test("SQ8 index compaction: probe-identical, file count stops growing with batches") {
    import graft.operators.Similarity
    import graft.streaming.StreamingIndex
    import spark.implicits._
    val corpus = Similarity.prepare(
      Tables(spark, sf).embeddings, "vec_id", "embedding").cache()
    val dir = java.nio.file.Files.createTempDirectory("graft-sq8cpt").toString
    (0 until 6).foreach { b =>
      assert(StreamingIndex.applySq8Batch(
        corpus.filter($"vid" % 6 === b), dir, b.toLong))
    }
    def parquetFiles(sub: String): Long = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$sub"))
        .count(f => f.isFile && f.getPath.getName.endsWith(".parquet")).toLong
    }
    val before = parquetFiles("codes")
    assert(before >= 6L)
    val queries = corpus.limit(30).cache()
    def probe() = Similarity.sq8ProbeIndexed(spark, dir, queries, topK = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = probe()
    assert(want.nonEmpty)
    Similarity.compactSq8Index(spark, dir)
    assert(probe() == want, "compaction must be probe-identical")
    val after = Seq("codes", "vectors").map(parquetFiles).max
    assert(after < before, s"file count must drop ($before -> $after)")
  }

  test("persisted KN: batch-accumulated segments score exactly like the one-shot train, through compaction") {
    import graft.operators.LangModel
    import graft.streaming.StreamingIndex
    import spark.implicits._
    val docs = Tables(spark, sf).documents
    val train = docs.filter($"doc_id" % 5 =!= 0)
    val score = docs.filter($"doc_id" % 5 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-kn").toString
    (0 until 4).foreach { b =>
      assert(StreamingIndex.applyLmBatch(
        train.filter($"doc_id" % 4 === b), "text", dir, b.toLong))
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val want = rows(LangModel.kneserNeySurprisal(train, score, "doc_id", "text"))
    assert(want.nonEmpty)
    assert(rows(LangModel.scoreKnIndexed(spark, dir, score, "doc_id", "text")) == want,
      "incremental KN must equal the one-shot train value-exactly")
    // N-counts are row counts of the MERGED c12 — segment layout must
    // not matter: compaction (N segments -> 1) is probe-identical
    LangModel.compactLmCounts(spark, dir)
    assert(rows(LangModel.scoreKnIndexed(spark, dir, score, "doc_id", "text")) == want,
      "KN probe must be identical after compaction")
  }

  test("persisted near-dup index: streamed batches answer exactly like one-shot delta-vs-corpus, through crash replay and compaction") {
    import graft.operators.Dedup
    import graft.streaming.StreamingIndex
    import java.nio.file.{Files => JFiles, Paths}
    import spark.implicits._
    val docs = Tables(spark, sf).documents.select($"doc_id", $"text").cache()
    try {
    val corpus = docs.filter($"doc_id" % 5 =!= 0)
    val probe = docs.filter($"doc_id" % 5 === 0).cache()
    // one-shot reference: the in-memory delta-vs-corpus path
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9))).toSet
    val want = rows(Dedup.incrementalDedupPairs(
      probe, corpus, "doc_id", "text", 3, 0.8))
    assert(want.nonEmpty, "split must produce cross-side near-dups")
    // streamed: corpus files delivered one per trigger
    val src = JFiles.createTempDirectory("graft-ndsrc").toString
    corpus.repartition(3).write.mode("overwrite").parquet(src)
    val files = JFiles.list(Paths.get(src)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).sorted
    files.zipWithIndex.foreach { case (f, i) =>
      JFiles.setLastModifiedTime(Paths.get(f),
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    val dir = JFiles.createTempDirectory("graft-ndidx").toString
    val ckpt = JFiles.createTempDirectory("graft-ndck").toString
    val q = StreamingIndex.sink(
      spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
      ckpt)(StreamingIndex.applyNearDupBatch(_, "doc_id", "text", dir, _))
    q.processAllAvailable(); q.stop()
    assert(spark.read.parquet(s"$dir/batchlog").count() >= 2)
    def probed() = rows(Dedup.nearDupProbeIndexed(
      spark, dir, probe, "doc_id", "text", 0.8))
    assert(probed() == want,
      "streamed index must answer exactly like the one-shot delta-vs-corpus")
    // crash replay: drop the last batch's log row (orphaning its
    // b<id>_* postings/sets), re-deliver — converges to exactly-once
    val lastId = lastLogged(dir)
    dropLogRow(dir, lastId)
    assert(StreamingIndex.applyNearDupBatch(
      spark.read.parquet(files.last), "doc_id", "text", dir, lastId))
    assert(probed() == want, "replay must converge (no duplicate postings)")
    // layout-mismatch refusal: a drifted shingle width cannot mix in
    intercept[IllegalArgumentException] {
      Dedup.appendNearDupIndex(spark, probe, "doc_id", "text", dir, n = 4)
    }
    // compaction: probe-identical, file count bounded
    def bandFiles(): Long = {
      // bands is partitioned by band — count parquet files across the
      // band=X subdirectories
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/bands")).map { e =>
        if (e.isDirectory)
          fs.listStatus(e.getPath)
            .count(f => f.isFile && f.getPath.getName.endsWith(".parquet")).toLong
        else if (e.getPath.getName.endsWith(".parquet")) 1L else 0L
      }.sum
    }
    val before = bandFiles()
    Dedup.compactNearDupIndex(spark, dir)
    assert(probed() == want, "compaction must be probe-identical")
    assert(bandFiles() < before)
    probe.unpersist(); ()
    } finally { docs.unpersist(); () }
  }

  test("composed dashboard sink: one shared scan maintains all five families == one-shot, through crash replay") {
    import graft.operators.{Dedup, IngestDashboard, LangModel, Profiling}
    import graft.streaming.StreamingIndex
    import java.nio.file.{Files => JFiles, Paths}
    import spark.implicits._
    val dd = graft.functions.DdSketch
    val alpha = IngestDashboard.Alpha
    val docs = Tables(spark, sf).documents
      .select($"doc_id", $"text", $"n_chars").cache()
    try {
    val cols = Seq("doc_id", "n_chars")
    val src = JFiles.createTempDirectory("graft-dashsrc").toString
    docs.repartition(3).write.mode("overwrite").parquet(src)
    val files = JFiles.list(Paths.get(src)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).sorted
    assert(files.length >= 2)
    files.zipWithIndex.foreach { case (f, i) =>
      JFiles.setLastModifiedTime(Paths.get(f),
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    val dir = JFiles.createTempDirectory("graft-dashidx").toString
    val ckpt = JFiles.createTempDirectory("graft-dashck").toString
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val q = StreamingIndex.sink(stream, ckpt)(
      StreamingIndex.applyDashboardBatch(_, "text", cols, dir, _))
    q.processAllAvailable(); q.stop()
    assert(spark.read.parquet(s"$dir/batchlog").count() >= 2)
    // family 1: LM — composed segments score like the one-shot train
    val score = docs.limit(30).cache()
    def lmRows() = LangModel.scoreLmIndexed(spark, dir, score, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val lmWant = LangModel.stupidBackoffSurprisal(docs, score, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(lmWant.nonEmpty && lmRows() == lmWant,
      "composed LM segments must score exactly like the one-shot train")
    // family 2: profile — bit-exact vs the one-shot approx profile
    def profRows() = Profiling.profileIndexed(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6))).toSet
    val profWant = Profiling.approxProfile(docs, cols).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6))).toSet
    assert(profRows() == profWant,
      "composed profile state must equal the one-shot approx profile bit-for-bit")
    // family 3: repetition quantiles — merged DDSketch segments are
    // bit-identical to the one-shot sketch (integer bucket adds)
    def repRows() = IngestDashboard.repQuantilesIndexed(spark, dir, Seq(0.5, 0.95))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    val repWant = IngestDashboard.repStateOf(docs, "text")
      .select($"signal", $"n", dd.dd_quantile($"st", 0.5, alpha).as("q50"),
        dd.dd_quantile($"st", 0.95, alpha).as("q95"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(repWant.nonEmpty && repRows() == repWant,
      "composed repetition sketches must equal the one-shot sketch bit-for-bit")
    // α rank-envelope audit of the composed quantiles vs the raw
    // per-doc signals — the q217 gate's former in-gate audit, moved
    // here so the gate times the operator (q207 treatment); q157
    // keeps the envelope gate-pinned for the sketch machinery itself
    locally {
      import org.apache.spark.sql.functions.{array, broadcast, explode, floor, lit, struct, sum, when, count, max => smax}
      val est = IngestDashboard.repQuantilesIndexed(spark, dir, Seq(0.5, 0.95), alpha)
      val longSig = IngestDashboard.repSignals(docs, "doc_id", "text")
        .select(explode(array(IngestDashboard.signalNames
          .map(sn => struct(lit(sn).as("signal"), col(sn).as("x"))): _*)).as("p"))
        .select($"p.signal", $"p.x")
      val flags = longSig.join(broadcast(est), "signal")
        .groupBy($"signal")
        .agg(count(lit(1)).as("n"),
          smax($"q50").as("q50"), smax($"q95").as("q95"),
          sum(when($"x" <= $"q50" / (1 - alpha), 1L).otherwise(0L)).as("le_hi_m"),
          sum(when($"x" < $"q50" / (1 + alpha), 1L).otherwise(0L)).as("lt_lo_m"),
          sum(when($"x" <= $"q95" / (1 - alpha), 1L).otherwise(0L)).as("le_hi_p"),
          sum(when($"x" < $"q95" / (1 + alpha), 1L).otherwise(0L)).as("lt_lo_p"))
        .select($"signal",
          ($"le_hi_m" >= floor(lit(0.5) * ($"n" - 1)) + 1 &&
            $"lt_lo_m" <= floor(lit(0.5) * ($"n" - 1)) &&
            $"le_hi_p" >= floor(lit(0.95) * ($"n" - 1)) + 1 &&
            $"lt_lo_p" <= floor(lit(0.95) * ($"n" - 1))).as("ok"))
        .collect()
      assert(flags.length == IngestDashboard.signalNames.length &&
        flags.forall(_.getBoolean(1)),
        s"composed repetition quantiles must satisfy the α rank envelope: ${flags.mkString(",")}")
    }
    // family 4: near-dup index — the composed postings/sets answer a
    // probe exactly like the one-shot delta-vs-corpus path
    val ndProbe = docs.filter($"doc_id" % 7 === 0).cache()
    def ndRows() = Dedup.nearDupProbeIndexed(spark, dir, ndProbe,
        "doc_id", "text", 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))).toSet
    val ndWant = Dedup.incrementalDedupPairs(ndProbe, docs,
        "doc_id", "text", 3, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))).toSet
    assert(ndWant.nonEmpty && ndRows() == ndWant,
      "composed near-dup index must answer exactly like one-shot delta-vs-corpus")
    // family 5: order-3 KN — the c123 sub-table plus the bigram leg's
    // SHARED cw score exactly like the one-shot trigram train
    def kn3Rows() = LangModel.scoreKn3Indexed(spark, dir, score, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val kn3Want = LangModel.kneserNey3Surprisal(docs, score, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(kn3Want.nonEmpty && kn3Rows() == kn3Want,
      "composed KN-3 segments must score exactly like the one-shot train")
    // crash replay, ATOMIC for the composition: erase the LAST batch's
    // log row (its b<id>_* deltas stay orphaned in ALL NINE subs),
    // re-deliver it — the sweep must purge every family before
    // re-applying, or some family double-counts
    val lastId = lastLogged(dir)
    dropLogRow(dir, lastId)
    val lastBatch = spark.read.parquet(files.last)
    assert(StreamingIndex.applyDashboardBatch(lastBatch, "text", cols, dir, lastId))
    assert(lmRows() == lmWant, "LM family must converge after composed replay")
    assert(profRows() == profWant, "profile family must converge after composed replay")
    assert(repRows() == repWant, "repetition family must converge after composed replay")
    assert(ndRows() == ndWant, "near-dup family must converge after composed replay")
    assert(kn3Rows() == kn3Want, "KN-3 family must converge after composed replay")
    // a re-delivered batch id no-ops
    assert(!StreamingIndex.applyDashboardBatch(lastBatch, "text", cols, dir, lastId))
    // compaction of all five families in the ONE maintenance call is
    // probe-identical (the lm3 pass re-merges the shared cw after
    // the bigram one — also probe-identical, by-key sums either way)
    StreamingIndex.compactDashboard(spark, dir)
    assert(lmRows() == lmWant && profRows() == profWant && repRows() == repWant
        && ndRows() == ndWant && kn3Rows() == kn3Want,
      "dashboard compaction must be probe-identical across all families")
    ndProbe.unpersist(); ()
    } finally { docs.unpersist(); () }
  }

  test("buildDashboard bootstrap + incremental batch == one-shot") {
    import graft.operators.{Dedup, IngestDashboard, LangModel, Profiling}
    import graft.streaming.StreamingIndex
    import spark.implicits._
    val dd = graft.functions.DdSketch
    val alpha = IngestDashboard.Alpha
    val docs = Tables(spark, sf).documents
      .select($"doc_id", $"text", $"n_chars").cache()
    val cols = Seq("doc_id", "n_chars")
    val boot = docs.filter($"doc_id" % 2 === 0)
    val delta = docs.filter($"doc_id" % 2 =!= 0)
    val score = docs.limit(30).cache()
    val ndProbe = docs.filter($"doc_id" % 7 === 0).cache()
    def probeAll(dir: String) = (
      LangModel.scoreLmIndexed(spark, dir, score, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet,
      Profiling.profileIndexed(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getDouble(5), r.getDouble(6))).toSet,
      IngestDashboard.repQuantilesIndexed(spark, dir, Seq(0.5, 0.95))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet,
      Dedup.nearDupProbeIndexed(spark, dir, ndProbe, "doc_id", "text", 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))).toSet,
      LangModel.scoreKn3Indexed(spark, dir, score, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet)
    try {
      // the reference answers: one-shot derivations over the full corpus
      val lmWant = LangModel.stupidBackoffSurprisal(docs, score, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val profWant = Profiling.approxProfile(docs, cols).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getDouble(5), r.getDouble(6))).toSet
      val repWant = IngestDashboard.repStateOf(docs, "text")
        .select($"signal", $"n", dd.dd_quantile($"st", 0.5, alpha).as("q50"),
          dd.dd_quantile($"st", 0.95, alpha).as("q95"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
      val ndWant = Dedup.incrementalDedupPairs(ndProbe, docs,
          "doc_id", "text", 3, 0.8).collect()
        .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))).toSet
      val kn3Want = LangModel.kneserNey3Surprisal(docs, score, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(lmWant.nonEmpty && ndWant.nonEmpty && kn3Want.nonEmpty)
      val dir = java.nio.file.Files.createTempDirectory("graft-dashboot").toString
      try {
        // bootstrap (no batchlog) — marker committed last — then one
        // incremental batch layered on top
        StreamingIndex.buildDashboard(boot, "text", cols, dir)
        val fs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_built")),
          "bootstrap must commit the _built marker")
        assert(StreamingIndex.applyDashboardBatch(delta, "text", cols, dir, batchId = 0))
        assert(probeAll(dir) == ((lmWant, profWant, repWant, ndWant, kn3Want)),
          "bootstrap+batch must equal the one-shot answers")
      } finally {
        def rm(p: java.io.File): Unit = {
          val kids = p.listFiles(); if (kids != null) kids.foreach(rm)
          p.delete(); ()
        }
        rm(new java.io.File(dir))
      }
      ndProbe.unpersist(); score.unpersist(); ()
    } finally { docs.unpersist(); () }
  }

  test("buildDashboard refuses a non-empty dir (crashed/duplicate bootstrap cannot double-count)") {
    import graft.streaming.StreamingIndex
    import spark.implicits._
    val docs = Tables(spark, sf).documents.limit(50)
    val cols = Seq("n_chars")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-dashguard").toString
    try {
      StreamingIndex.buildDashboard(docs, "text", cols, dir)
      // a finished bootstrap (marker + family tables present) must not
      // be re-runnable in place — the appends would double-count
      val e = intercept[IllegalArgumentException] {
        StreamingIndex.buildDashboard(docs, "text", cols, dir)
      }
      assert(e.getMessage.contains("non-empty dir"))
      // a CRASHED bootstrap (some family state, no _built marker) is
      // refused too — partial state is exactly the double-count case
      val dir2 = java.nio.file.Files
        .createTempDirectory("graft-dashguard2").toString
      try {
        Seq(1L).toDF("x").write.parquet(s"$dir2/c12")
        val e2 = intercept[IllegalArgumentException] {
          StreamingIndex.buildDashboard(docs, "text", cols, dir2)
        }
        assert(e2.getMessage.contains("c12"))
      } finally {
        def rm(p: java.io.File): Unit = {
          val kids = p.listFiles(); if (kids != null) kids.foreach(rm)
          p.delete(); ()
        }
        rm(new java.io.File(dir2))
      }
    } finally {
      def rm(p: java.io.File): Unit = {
        val kids = p.listFiles(); if (kids != null) kids.foreach(rm)
        p.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("persisted KN-3: batch-accumulated segments score exactly like the one-shot train, through compaction") {
    import graft.operators.LangModel
    import graft.streaming.StreamingIndex
    import spark.implicits._
    val docs = Tables(spark, sf).documents
    val train = docs.filter($"doc_id" % 5 =!= 0)
    val score = docs.filter($"doc_id" % 5 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-kn3").toString
    (0 until 4).foreach { b =>
      assert(StreamingIndex.applyLm3Batch(
        train.filter($"doc_id" % 4 === b), "text", dir, b.toLong))
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val want = rows(LangModel.kneserNey3Surprisal(train, score, "doc_id", "text"))
    assert(want.nonEmpty)
    assert(rows(LangModel.scoreKn3Indexed(spark, dir, score, "doc_id", "text")) == want,
      "incremental KN-3 must equal the one-shot train value-exactly")
    // every order-3 statistic is a row count / sum over the MERGED
    // c123 — segment layout must not matter: compaction (N segments
    // -> 1 per table) is probe-identical
    LangModel.compactLm3Counts(spark, dir)
    assert(rows(LangModel.scoreKn3Indexed(spark, dir, score, "doc_id", "text")) == want,
      "KN-3 probe must be identical after compaction")
    // replay idempotence: a re-delivered batch no-ops
    assert(!StreamingIndex.applyLm3Batch(
      train.filter($"doc_id" % 4 === 2), "text", dir, 2L))
    assert(rows(LangModel.scoreKn3Indexed(spark, dir, score, "doc_id", "text")) == want)
  }

  test("streaming profile index: multi-trigger stream equals the one-shot approx profile value-exactly") {
    import graft.operators.Profiling
    import graft.streaming.StreamingIndex
    import java.nio.file.{Files => JFiles, Paths}
    import spark.implicits._
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    // cache for the repeated reads below, but ALWAYS unpersist: a
    // cached lineitem fragment left behind turns later PlanSpec scans
    // into InMemoryTableScan and their ReadSchema/PushedFilters
    // assertions fail (seen in the full-suite run)
    val li = Tables(spark, sf).lineitem.select(cols.map(col): _*).cache()
    try {
    val dir = JFiles.createTempDirectory("graft-profdocs").toString
    li.repartition(3).write.mode("overwrite").parquet(dir)
    val files = JFiles.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).sorted
    assert(files.length >= 2)
    files.zipWithIndex.foreach { case (f, i) =>
      JFiles.setLastModifiedTime(Paths.get(f),
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    val streamed = JFiles.createTempDirectory("graft-profstr").toString
    val ckpt = JFiles.createTempDirectory("graft-profck").toString
    val stream = spark.readStream.schema(li.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = StreamingIndex.sink(stream, ckpt)(StreamingIndex.applyProfileBatch(_, cols, streamed, _))
    q.processAllAvailable(); q.stop()
    assert(spark.read.parquet(s"$streamed/batchlog").count() >= 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6),
        r.getBoolean(7), r.getBoolean(8))).toSet
    val want = rows(Profiling.approxProfile(li, cols))
    assert(want.nonEmpty)
    assert(rows(Profiling.profileIndexed(spark, streamed)) == want,
      "stream-accumulated profile must equal the one-shot approx profile bit-for-bit")
    // re-delivered batch id is a no-op
    assert(!StreamingIndex.applyProfileBatch(li.limit(5), cols, streamed, 0))
    assert(rows(Profiling.profileIndexed(spark, streamed)) == want)
    // the 3σ-vs-exact envelope audit, UNTIMED home (r13 verdict's
    // q207 item): the gate's timed path is the operator; the envelope
    // is asserted here every round against the exact recompute
    val p = 12
    val est = Profiling.profileIndexed(spark, streamed)
      .select($"col_name", $"n_distinct_est").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Profiling.numericProfile(li, cols)
      .select($"col_name", $"n_distinct").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    cols.foreach { c =>
      val bound = math.max(exact(c) * 3 * 1.04 / math.sqrt((1 << p).toDouble), 1.0)
      assert(math.abs(est(c) - exact(c)) <= bound,
        s"$c: streamed HLL estimate ${est(c)} outside 3σ of exact ${exact(c)}")
    }
    } finally li.unpersist()
  }

  test("profile staged commit + compaction: crash replay converges, file count bounded") {
    import graft.operators.Profiling
    import graft.streaming.StreamingIndex
    import spark.implicits._
    val cols = Seq("l_quantity", "l_extendedprice")
    val li = Tables(spark, sf).lineitem.cache()
    try {
    val dir = java.nio.file.Files.createTempDirectory("graft-profcrash").toString
    (0 until 6).foreach { b =>
      assert(StreamingIndex.applyProfileBatch(
        li.filter($"l_orderkey" % 6 === b), cols, dir, b.toLong))
    }
    def rows() = Profiling.profileIndexed(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getDouble(6))).toSet
    val want = rows()
    // crash between the state commit and the marker: erase batch 1's
    // marker, keep its data, re-deliver — the sweep must drop the
    // orphaned b1_* state rows or counts double
    dropLogRow(dir, 1L)
    assert(StreamingIndex.applyProfileBatch(
      li.filter($"l_orderkey" % 6 === 1), cols, dir, 1))
    assert(rows() == want, "replay must converge to exactly-once state")
    // compaction: probe-identical, segment count drops to one file
    def stateFiles(): Long = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/state"))
        .count(f => f.isFile && f.getPath.getName.endsWith(".parquet")).toLong
    }
    val before = stateFiles()
    assert(before >= 6L)
    Profiling.compactProfileState(spark, dir)
    assert(rows() == want, "compaction must be probe-identical")
    assert(stateFiles() < before)
    } finally li.unpersist()
  }

  test("lost _built marker: committed appends survive instead of being wiped") {
    import graft.operators.Similarity
    import graft.streaming.StreamingIndex
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val corpus = Similarity.prepare(
      Tables(spark, sf).embeddings, "vec_id", "embedding").cache()
    val Seq(b0, b1, b2) =
      (0 to 2).map(r => corpus.filter($"vid" % 3 === r))
    val fullN = corpus.count()
    def fsOf(dir: String) = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // build + append committed, then the marker file is
    // LOST. The next batch must recover the committed state from the
    // batchlog's applied rows and APPEND — pre-fix it re-ran the
    // all-overwrite build and silently wiped batches 0 and 1.
    val dir = java.nio.file.Files.createTempDirectory("graft-sq8lost").toString
    assert(StreamingIndex.applySq8Batch(b0, dir, 0))
    assert(StreamingIndex.applySq8Batch(b1, dir, 1))
    fsOf(dir).delete(new org.apache.hadoop.fs.Path(s"$dir/_built"), false)
    assert(StreamingIndex.applySq8Batch(b2, dir, 2))
    assert(spark.read.parquet(s"$dir/codes").count() == fullN,
      "lost marker must not wipe committed appends (codes)")
    assert(spark.read.parquet(s"$dir/vectors").count() == fullN)
    assert(graft.streaming.BatchLog.readBuiltMarker(spark, dir).contains(-1L),
      "recovery must re-stamp the marker with the batch-API owner id")
    // NO committed evidence: an empty batch's applied=false row plus a
    // crashed pre-marker build must still take the converging rebuild,
    // not append against partial state
    val crash = java.nio.file.Files.createTempDirectory("graft-sq8cr").toString
    assert(!StreamingIndex.applySq8Batch(b0.filter(col("vid") < -1), crash, 0))
    Similarity.buildSq8Index(b1, crash, builtBy = 1L)
    fsOf(crash).delete(new org.apache.hadoop.fs.Path(s"$crash/_built"), false)
    assert(StreamingIndex.applySq8Batch(b1, crash, 1))
    assert(spark.read.parquet(s"$crash/codes").count() == b1.count(),
      "applied=false rows are not committed-build evidence: rebuild, no duplicate")
    corpus.unpersist(); ()
  }

  test("compaction sweeps unlogged b<id> deltas: crashed-batch replay does not double-count") {
    import graft.operators.{LangModel, Similarity}
    import graft.streaming.StreamingIndex
    import spark.implicits._
    // LM: batch 1 committed its b1_* count deltas but crashed before
    // its batchlog row; compaction runs BEFORE the replay. Folding the
    // orphans into the merged segment would erase the b1 name, so the
    // replay's sweep would find nothing and re-append — double counts.
    val docs = Tables(spark, sf).documents.select($"doc_id", $"text").cache()
    val dir = java.nio.file.Files.createTempDirectory("graft-lmorph").toString
    assert(StreamingIndex.applyLmBatch(docs.filter($"doc_id" % 2 === 0), "text", dir, 0))
    assert(StreamingIndex.applyLmBatch(docs.filter($"doc_id" % 2 =!= 0), "text", dir, 1))
    val scoreSet = docs.limit(30).cache()
    def rows() = LangModel.scoreLmIndexed(spark, dir, scoreSet, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val want = rows()
    dropLogRow(dir, 1L)
    LangModel.compactLmCounts(spark, dir)
    assert(StreamingIndex.applyLmBatch(docs.filter($"doc_id" % 2 =!= 0), "text", dir, 1))
    assert(rows() == want,
      "compact-then-replay must converge to exactly-once counts")
    // SQ8: same window through the vector compactor
    val corpus = Similarity.prepare(
      Tables(spark, sf).embeddings, "vec_id", "embedding").cache()
    val vdir = java.nio.file.Files.createTempDirectory("graft-sqorph").toString
    assert(StreamingIndex.applySq8Batch(corpus.filter($"vid" % 2 === 0), vdir, 0))
    assert(StreamingIndex.applySq8Batch(corpus.filter($"vid" % 2 =!= 0), vdir, 1))
    dropLogRow(vdir, 1L)
    Similarity.compactSq8Index(spark, vdir)
    assert(StreamingIndex.applySq8Batch(corpus.filter($"vid" % 2 =!= 0), vdir, 1))
    assert(spark.read.parquet(s"$vdir/codes").count() == corpus.count(),
      "compact-then-replay must leave exactly one copy (codes)")
    assert(spark.read.parquet(s"$vdir/vectors").count() == corpus.count())
    // IVF: the PARTITIONED members layout (cid=X subdirs) — the sweep
    // must find orphaned b1_* files one level down
    val idir = java.nio.file.Files.createTempDirectory("graft-ivforph").toString
    assert(StreamingIndex.applyIvfBatch(corpus.filter($"vid" % 2 === 0), 64, idir, 0))
    assert(StreamingIndex.applyIvfBatch(corpus.filter($"vid" % 2 =!= 0), 64, idir, 1))
    dropLogRow(idir, 1L)
    Similarity.compactIvfIndex(spark, idir)
    assert(StreamingIndex.applyIvfBatch(corpus.filter($"vid" % 2 =!= 0), 64, idir, 1))
    assert(spark.read.parquet(s"$idir/members").count() == corpus.count(),
      "IVF compact-then-replay must leave exactly one member per vector")
    docs.unpersist(); corpus.unpersist(); ()
  }
}
