package graft

import graft.config.{LoaderConfig, WireFormat}
import graft.sinks._
import org.apache.spark.sql.functions._

/** Singleton replica recorders: task deserialization resolves the
  * module reference, so rows recorded inside executors are visible to
  * the driver-side assertions (a plain class instance would be copied
  * per task and its state lost).
  */
object ReplicaProbeA extends BatchExecutor {
  val rows = new java.util.concurrent.atomic.AtomicLong
  override def execute(target: String, batch: Seq[String]): Unit =
    rows.addAndGet(batch.size)
}
object ReplicaProbeB extends BatchExecutor {
  val rows = new java.util.concurrent.atomic.AtomicLong
  override def execute(target: String, batch: Seq[String]): Unit =
    rows.addAndGet(batch.size)
}

/** Records every batch's rows, in send order (singleton for the same
  * reason as the replica probes).
  */
object BatchRecorder extends BatchExecutor {
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
  override def execute(target: String, batch: Seq[String]): Unit = batches.add(batch)
  def recorded: Seq[Seq[String]] = batches.toArray(Array.empty[Seq[String]]).toSeq
}

class SinkSpec extends SparkSpec {

  private def wireFrame(n: Int) = {
    import spark.implicits._
    (1 to n).toDF("i").select(concat(lit("row-"), col("i")).as("wire_row"))
  }

  test("DirectSink micro-batches by batchSize and counts success records") {
    CollectingExecutor.clear()
    val metrics = LoadMetrics(spark)
    val sink = new DirectSink(CollectingExecutor, LoaderConfig(batchSize = 100), metrics)
    val report = sink.write(wireFrame(1050).repartition(3), "t1")
    assert(report.success == 1050 && report.failed == 0)
    assert(CollectingExecutor.totalRows("t1") == 1050)
    // 3 partitions × (ceil(rows/batch)) batches; all bounded by batchSize
    val sizes = CollectingExecutor.batches.toArray.map(_.asInstanceOf[(String, Int)]._2)
    assert(sizes.forall(_ <= 100))
    report.failIfAnyFailed()
  }

  test("DirectSink buffers per shard: each shard flushes at batchSize on its own") {
    import spark.implicits._
    // one task, rows alternating between two shards: a shared buffer
    // would send mixed batches; per-shard buffers fill in lockstep and
    // leave one 50-row leftover each, flushed at task end in shard order
    val df = (0 until 500).toDF("i")
      .select(($"i" % 2).as("shard"), concat_ws("-", concat(lit("s"), ($"i" % 2).cast("string")), $"i".cast("string"))
        .as("wire_row"))
      .coalesce(1)
    BatchRecorder.batches.clear()
    val report = new DirectSink(BatchRecorder, LoaderConfig(batchSize = 100), LoadMetrics(spark))
      .write(df, "t_shard")
    assert(report.success == 500 && report.batches == 6 && report.failed == 0)
    val sent = BatchRecorder.recorded.map { b =>
      val shards = b.map(_.takeWhile(_ != '-')).distinct
      assert(shards.size == 1, s"batch mixes shards: $shards")
      (shards.head, b.size)
    }
    assert(sent == Seq("s0" -> 100, "s1" -> 100, "s0" -> 100, "s1" -> 100, "s0" -> 50, "s1" -> 50))
  }

  test("DirectSink retries transient failures with backoff and succeeds") {
    val metrics = LoadMetrics(spark)
    val sink = new DirectSink(new FlakyExecutor(failures = 2),
      LoaderConfig(batchSize = 1000, maxTries = 3), metrics)
    val report = sink.write(wireFrame(10).coalesce(1), "t2")
    assert(report.success == 10 && report.failed == 0)
  }

  test("DirectSink exhausted retries count failed records and fail the load") {
    val metrics = LoadMetrics(spark)
    val sink = new DirectSink(new FlakyExecutor(failures = 99),
      LoaderConfig(batchSize = 1000, maxTries = 2), metrics)
    val report = sink.write(wireFrame(10).coalesce(1), "t3")
    assert(report.failed == 10)
    intercept[IllegalStateException](report.failIfAnyFailed())
  }

  test("Retry backoff is exponential (not the reference's XOR bug)") {
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    intercept[RuntimeException] {
      Retry.withRetries(4, baseDelayMs = 100, sleep = (l: Long) => sleeps += l)(_ =>
        throw new RuntimeException("always"))
    }
    assert(sleeps.toSeq == Seq(200, 400, 800)) // 2^1, 2^2, 2^3 × 100ms
  }

  test("V2 staged write commits all tasks' stagings and leaves none behind") {
    import graft.sinks.v2.InMemoryStagingStore
    InMemoryStagingStore.clear()
    wireFrame(1050).repartition(3)
      .write.format("graft-staged")
      .option("target", "db.v2t")
      .option("batchsize", "100")
      .mode("append").save()
    assert(InMemoryStagingStore.targetRows("db.v2t").size == 1050)
    assert(InMemoryStagingStore.liveStagings.isEmpty,
      s"stagings not cleaned: ${InMemoryStagingStore.liveStagings}")
    // second append accumulates
    wireFrame(50).write.format("graft-staged")
      .option("target", "db.v2t").mode("append").save()
    assert(InMemoryStagingStore.targetRows("db.v2t").size == 1100)
  }

  test("V2 staged write overwrite mode truncates the target atomically") {
    import graft.sinks.v2.InMemoryStagingStore
    InMemoryStagingStore.clear()
    wireFrame(100).write.format("graft-staged")
      .option("target", "db.v2o").mode("append").save()
    wireFrame(7).write.format("graft-staged")
      .option("target", "db.v2o").mode("overwrite").save()
    assert(InMemoryStagingStore.targetRows("db.v2o").size == 7)
    assert(InMemoryStagingStore.liveStagings.isEmpty)
  }

  test("V2 staged write abort leaves the target untouched and drops stagings") {
    import graft.sinks.v2.InMemoryStagingStore
    import spark.implicits._
    InMemoryStagingStore.clear()
    wireFrame(10).write.format("graft-staged")
      .option("target", "db.v2a").mode("append").save()
    val poison = udf((i: Int) =>
      if (i == 666) throw new RuntimeException("poison row") else s"row-$i")
    val bad = (1 to 1000).toDF("i")
      .repartition(4)
      .select(poison(col("i")).as("wire_row"))
    intercept[Exception] {
      bad.write.format("graft-staged")
        .option("target", "db.v2a")
        .option("batchsize", "10")
        .mode("append").save()
    }
    assert(InMemoryStagingStore.targetRows("db.v2a").size == 10,
      "aborted write must not change the committed target")
    assert(InMemoryStagingStore.liveStagings.isEmpty,
      s"abort must drop every staging: ${InMemoryStagingStore.liveStagings}")
  }

  test("StagedSink commits via INSERT INTO … SELECT and drops the temp table") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-wh").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS staged LOCATION '$wh'")
    spark.sql("CREATE TABLE IF NOT EXISTS staged.target (k INT, v STRING) USING parquet")
    val sink = new StagedSink(spark)
    sink.write(Seq((1, "a"), (2, "b")).toDF("k", "v"), "staged.target", "job1")
    sink.write(Seq((3, "c")).toDF("k", "v"), "staged.target", "job2")
    assert(spark.table("staged.target").count() == 3)
    assert(!spark.catalog.tableExists("temp_staged_target_job1"))
    assert(!spark.catalog.tableExists("temp_staged_target_job2"))
  }

  // ---- JDBC executor: pooling + statement protocol against a fake
  // driver (no endpoint in this environment) --------------------------

  private class FakeDriver {
    val opened = new java.util.concurrent.atomic.AtomicInteger(0)
    val sqls = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    var failNext = false

    def newConnection(): java.sql.Connection = {
      opened.incrementAndGet()
      val closed = new java.util.concurrent.atomic.AtomicBoolean(false)
      java.lang.reflect.Proxy.newProxyInstance(
        getClass.getClassLoader, Array(classOf[java.sql.Connection]),
        (_, m, _) => m.getName match {
          case "isClosed" => java.lang.Boolean.valueOf(closed.get())
          case "close"    => closed.set(true); null
          case "createStatement" =>
            java.lang.reflect.Proxy.newProxyInstance(
              getClass.getClassLoader, Array(classOf[java.sql.Statement]),
              (_, sm, sargs) => sm.getName match {
                case "execute" =>
                  if (failNext) { failNext = false; throw new java.sql.SQLException("boom") }
                  sqls.add(sargs(0).asInstanceOf[String])
                  java.lang.Boolean.TRUE
                case "close" => null
                case _       => null
              })
          case _ => null
        }).asInstanceOf[java.sql.Connection]
    }
  }

  test("JDBC executor reuses one pooled connection across batches, per URL") {
    import graft.sinks.{ConnectionPool, JdbcFormatInsertExecutor}
    val drv = new FakeDriver
    val url = "jdbc:fake://pool-reuse"
    val ex = new JdbcFormatInsertExecutor(url, "u", "p", WireFormat.TabSeparated,
      connectionFactory = () => drv.newConnection())
    (1 to 5).foreach(i => ex.execute("db.t", Seq(s"$i\ta")))
    assert(drv.opened.get() == 1, s"sequential batches must share a connection, opened=${drv.opened}")
    assert(drv.sqls.size == 5)
    assert(drv.sqls.peek().startsWith("INSERT INTO db.t FORMAT TabSeparated\n"))
    assert(ConnectionPool.idleCount(s"$url u") == 1)
    ex.shutdownPool()
    assert(ConnectionPool.idleCount(s"$url u") == 0)
  }

  test("JDBC executor emits WithNames headers ahead of the rows") {
    import graft.sinks.JdbcFormatInsertExecutor
    val drv = new FakeDriver
    val ex = new JdbcFormatInsertExecutor("jdbc:fake://hdr", "u", "p",
      WireFormat.TabSeparatedWithNamesAndTypes,
      columns = Seq("id", "name"), columnTypes = Seq("Int64", "String"),
      connectionFactory = () => drv.newConnection())
    ex.execute("db.t", Seq("1\ta", "2\tb"))
    val sql = drv.sqls.peek()
    assert(sql == "INSERT INTO db.t FORMAT TabSeparatedWithNamesAndTypes\n" +
      "id\tname\nInt64\tString\n1\ta\n2\tb", sql)
    ex.shutdownPool()
  }

  test("JDBC pool bounds connections under concurrent tasks") {
    import graft.sinks.JdbcFormatInsertExecutor
    val drv = new FakeDriver
    val ex = new JdbcFormatInsertExecutor("jdbc:fake://conc", "u", "p",
      WireFormat.TabSeparated, connectionFactory = () => drv.newConnection())
    val threads = (1 to 8).map { t =>
      new Thread(() => (1 to 50).foreach(i => ex.execute("db.t", Seq(s"$t\t$i"))))
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(drv.sqls.size == 400)
    // never more connections than concurrently-borrowing threads
    assert(drv.opened.get() <= 8, s"opened=${drv.opened}")
    ex.shutdownPool()
  }

  test("JDBC executor closes (not pools) a connection whose batch failed") {
    import graft.sinks.{ConnectionPool, JdbcFormatInsertExecutor}
    val drv = new FakeDriver
    val url = "jdbc:fake://pool-fail"
    val ex = new JdbcFormatInsertExecutor(url, "u", "p", WireFormat.TabSeparated,
      connectionFactory = () => drv.newConnection())
    ex.execute("db.t", Seq("1\ta"))
    drv.failNext = true
    intercept[java.sql.SQLException](ex.execute("db.t", Seq("2\tb")))
    // failed connection was closed and NOT returned to the pool
    assert(ConnectionPool.idleCount(s"$url u") == 0)
    // retry path opens a fresh one and succeeds
    ex.execute("db.t", Seq("3\tc"))
    assert(drv.opened.get() == 2)
    ex.shutdownPool()
  }

  /** Per-instance recording executor with injectable failures. */
  private class ReplicaRec extends BatchExecutor {
    val calls = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    @volatile var failures = 0
    override def execute(target: String, batch: Seq[String]): Unit = {
      if (failures > 0) { failures -= 1; throw new RuntimeException("replica down") }
      calls.add((target, batch.size))
    }
  }

  test("replica fan-out inserts every batch into every replica") {
    val reps = IndexedSeq.fill(3)(new ReplicaRec)
    val ex = new ReplicaFanoutExecutor(reps, sleep = _ => ())
    ex.execute("db.t", Seq("a", "b"))
    ex.execute("db.t", Seq("c"))
    reps.foreach { r =>
      assert(r.calls.toArray.toSeq == Seq(("db.t", 2), ("db.t", 1)))
    }
  }

  test("replica fan-out retries ONLY the failing replica") {
    val reps = IndexedSeq.fill(3)(new ReplicaRec)
    reps(1).failures = 2
    val ex = new ReplicaFanoutExecutor(reps, maxTries = 3, sleep = _ => ())
    ex.execute("db.t", Seq("a"))
    // healthy replicas inserted exactly once; the flaky one succeeded
    // on its 3rd internal try without re-sending to the others
    assert(reps.forall(_.calls.size == 1))
  }

  test("replica fan-out survives an outer retry without double-inserting") {
    val reps = IndexedSeq.fill(3)(new ReplicaRec)
    reps(2).failures = 99
    val ex = new ReplicaFanoutExecutor(reps, maxTries = 2, sleep = _ => ())
    val e = intercept[IllegalStateException](ex.execute("db.t", Seq("a", "b")))
    assert(e.getMessage.contains("replicas 2 failed"))
    assert(reps(0).calls.size == 1 && reps(1).calls.size == 1)
    // the endpoint heals; the outer Retry loop re-invokes the SAME
    // batch — replicas 0/1 must not take it twice
    reps(2).failures = 0
    ex.execute("db.t", Seq("a", "b"))
    assert(reps(0).calls.size == 1 && reps(1).calls.size == 1)
    assert(reps(2).calls.size == 1)
  }

  test("lookup mode probes alive hosts in order and inserts into one") {
    val reps = IndexedSeq.fill(3)(new ReplicaRec)
    val ex = new ReplicaFanoutExecutor(reps, lookupReplicated = true,
      probeAlive = i => i != 0, sleep = _ => ())
    ex.execute("db.t", Seq("a"))
    // endpoint 0 is dead at probe time; 1 is the first alive one
    assert(reps(0).calls.isEmpty && reps(2).calls.isEmpty)
    assert(reps(1).calls.size == 1)
    // no alive endpoint at all → the reference's "Cannot get alive host."
    val dead = new ReplicaFanoutExecutor(reps, lookupReplicated = true,
      probeAlive = _ => false, maxTries = 2, sleep = _ => ())
    val e = intercept[IllegalStateException](dead.execute("db.t", Seq("x")))
    assert(e.getMessage.contains("Cannot get alive host"))
  }

  test("lookup mode advances to the next endpoint when an insert throws") {
    // every endpoint probes alive, but 0's INSERT fails — the retry
    // must not re-elect 0 forever (ADVICE r4: inert failover)
    val reps = IndexedSeq.fill(3)(new ReplicaRec)
    reps(0).failures = 99
    val ex = new ReplicaFanoutExecutor(reps, lookupReplicated = true,
      maxTries = 3, sleep = _ => ())
    ex.execute("db.t", Seq("a"))
    assert(reps(0).calls.isEmpty)
    assert(reps(1).calls.size == 1)
    assert(reps(2).calls.isEmpty)
  }

  test("lookup mode re-probes all endpoints after every one has failed once") {
    // 2 endpoints, both fail once then heal: try1 suspects 0, try2
    // suspects 1, try3 resets the suspect set and lands on 0
    val reps = IndexedSeq.fill(2)(new ReplicaRec)
    reps(0).failures = 1
    reps(1).failures = 1
    val ex = new ReplicaFanoutExecutor(reps, lookupReplicated = true,
      maxTries = 3, sleep = _ => ())
    ex.execute("db.t", Seq("a"))
    assert(reps(0).calls.size + reps(1).calls.size == 1)
  }

  test("fan-out propagates task interruption instead of retrying through it") {
    val interrupting = new BatchExecutor {
      override def execute(target: String, batch: Seq[String]): Unit =
        throw new InterruptedException("task cancelled")
    }
    val healthy = new ReplicaRec
    val ex = new ReplicaFanoutExecutor(IndexedSeq(interrupting, healthy),
      maxTries = 3, sleep = _ => ())
    intercept[InterruptedException](ex.execute("db.t", Seq("a")))
    assert(Thread.interrupted(), "interrupt flag must be restored")
    // the loop stopped at the interrupt — no fan-out to later replicas,
    // no backoff retries
    assert(healthy.calls.isEmpty)
  }

  test("failed-batch status entries are bounded and batch identity is content-based") {
    val rep = new ReplicaRec
    rep.failures = Int.MaxValue
    // fake clock: each batch arrives well past the eviction window, so
    // abandoned (permanently failed) entries are reaped promptly
    val clock = new java.util.concurrent.atomic.AtomicLong
    val ex = new ReplicaFanoutExecutor(IndexedSeq(rep), maxTries = 1,
      sleep = _ => (),
      nanoTime = () => clock.addAndGet(2 * ReplicaFanoutExecutor.MinEvictAgeNanos))
    val n = ReplicaFanoutExecutor.MaxPendingBatches + 50
    (1 to n).foreach { i =>
      intercept[IllegalStateException](ex.execute("db.t", Seq(s"row-$i")))
    }
    // permanently failed batches evict least-recently-touched instead
    // of accumulating for the executor's lifetime
    assert(ex.pendingBatchStatuses <= ReplicaFanoutExecutor.MaxPendingBatches + 1)

    // a *different* batch to the same target fans out independently —
    // succeeded-replica state is keyed by content hash, not Seq.hashCode
    rep.failures = 0
    ex.execute("db.t", Seq("fresh"))
    assert(rep.calls.toArray.toSeq.contains(("db.t", 1)))
  }

  test("eviction pressure never evicts an in-flight batch's status (no duplicate inserts)") {
    import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
    // records every insert; fails the FIRST attempt of every distinct
    // batch, so each batch's fan-out throws once and completes only on
    // the caller's outer Retry re-invocation — the window in which the
    // old evictor could reap the batch's ok-replica set
    class FirstAttemptFails(flaky: Boolean) extends BatchExecutor {
      val calls = new ConcurrentLinkedQueue[String]()
      private val seen = ConcurrentHashMap.newKeySet[String]()
      override def execute(target: String, batch: Seq[String]): Unit = {
        val k = target + "#" + batch.mkString("|")
        if (flaky && seen.add(k)) throw new RuntimeException("first attempt fails")
        calls.add(k)
      }
    }
    val healthy = new FirstAttemptFails(flaky = false)
    val flaky = new FirstAttemptFails(flaky = true)
    // far more concurrently-pending batches than maxPending: every
    // execute triggers eviction pressure while sibling batches are
    // between their first (failed) and second (outer-retry) attempts
    val ex = new ReplicaFanoutExecutor(IndexedSeq(healthy, flaky),
      maxTries = 1, sleep = _ => (), maxPending = 4)
    val nThreads = 8
    val perThread = 16
    val errs = new ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until nThreads).map { t =>
      new Thread(() =>
        try (0 until perThread).foreach { i =>
          Retry.withRetries(3, 0L, _ => ())(_ =>
            ex.execute("db.t", Seq(s"batch-$t-$i")))
        } catch { case e: Throwable => errs.add(e) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errs.isEmpty, s"unexpected failures: ${errs.toArray.toSeq}")
    // the healthy replica took each batch EXACTLY once — a duplicate
    // means a pending status entry was evicted mid-retry
    val byKey = healthy.calls.toArray(Array.empty[String]).groupBy(identity)
    val dups = byKey.filter(_._2.length > 1)
    assert(dups.isEmpty, s"duplicate inserts: ${dups.keys.take(5)}")
    assert(byKey.size == nThreads * perThread)
    // and the flaky replica holds each batch exactly once too (first
    // attempt failed, second succeeded, none re-sent after success)
    val flakyByKey = flaky.calls.toArray(Array.empty[String]).groupBy(identity)
    assert(flakyByKey.values.forall(_.length == 1))
    assert(flakyByKey.size == nThreads * perThread)
  }

  test("replica fan-out survives DirectSink's task serialization") {
    ReplicaProbeA.rows.set(0)
    ReplicaProbeB.rows.set(0)
    val metrics = LoadMetrics(spark)
    val sink = new DirectSink(
      new ReplicaFanoutExecutor(IndexedSeq(ReplicaProbeA, ReplicaProbeB),
        sleep = _ => ()),
      LoaderConfig(batchSize = 100), metrics)
    val report = sink.write(wireFrame(250).repartition(2), "t9")
    assert(report.success == 250 && report.failed == 0)
    // every replica took every row, through real task closures
    assert(ReplicaProbeA.rows.get() == 250)
    assert(ReplicaProbeB.rows.get() == 250)
  }

  test("executorFor picks fan-out for several endpoints, pooled JDBC for one") {
    import graft.{LoaderJob => LJ}
    val cfg = LoaderConfig(connect = "jdbc:fake://single")
    assert(LJ.executorFor(cfg).isInstanceOf[JdbcFormatInsertExecutor])
    val multi = LJ.executorFor(cfg,
      replicaConnects = Seq("jdbc:fake://r1", "jdbc:fake://r2"))
    assert(multi.isInstanceOf[ReplicaFanoutExecutor])
  }
}
