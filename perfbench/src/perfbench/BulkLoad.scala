package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import graft.LoaderJob
import graft.catalog.TargetSchema
import graft.config.LoaderConfig
import graft.operators.{Sharding, ShardSpec, TransformStage}
import graft.sinks.BatchExecutor
import graft.sources.Readers
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.input_file_name

/** The benchmark's sink: counts and digests every batch instead of
  * sending it to ClickHouse. State lives in this object because Spark
  * ships each task its own deserialised executor; in local mode all of
  * them share the JVM.
  */
object CountingSink {
  val digests = new ConcurrentLinkedQueue[Digest]()
  val taskRows = new ConcurrentLinkedQueue[Long]()
  val calls = new AtomicLong()
  val executeNs = new AtomicLong()
  def reset(): Unit = { digests.clear(); taskRows.clear(); calls.set(0); executeNs.set(0) }
  def digest: Digest = digests.asScala.foldLeft(Digest.empty)(_ + _)
}

final class CountingExecutor extends BatchExecutor {
  private var rows = 0L
  override def execute(target: String, batch: Seq[String]): Unit = {
    val t0 = System.nanoTime()
    CountingSink.calls.incrementAndGet()
    var d = Digest.empty
    batch.foreach(r => d = d + Digest.of(Rng.hash64(r)))
    CountingSink.digests.add(d)
    rows += batch.size
    CountingSink.executeNs.addAndGet(System.nanoTime() - t0)
  }
  override def close(): Unit = CountingSink.taskRows.add(rows)
}

/** `bulk_load`: repeated daily loads of the reference's production job
  * through `LoaderJob.runDirect`, one `dt=…/pt=*` day per job.
  */
final class BulkLoad(rowsPerDay: Int) extends Workload {
  val name = "bulk_load"
  private var days: Seq[LoadGen.Day] = Nil
  private var root: String = _
  private val target = TargetSchema.fromDDL(LoadGen.TargetDDL, Some(LoadGen.ShardingKey))
  private val shards = ShardSpec(LoadGen.ShardWeights)
  private var next = 0
  private val executeS = new ConcurrentLinkedQueue[Double]()
  @volatile private var lastBatches = 0L

  private def cfg(dt: String) = LoaderConfig(
    exportDir = s"$root/dt=$dt/pt=*", fieldsTerminatedBy = "|",
    extractHivePartitions = true, excludeFields = LoadGen.ExcludeFields,
    batchSize = LoadGen.BatchSize, table = "test.t_lzj_test01")

  def generate(run: Run): Unit = {
    val dir = run.work.resolve("export")
    days = LoadGen.write(dir, run.seed, rowsPerDay)
    root = dir.toUri.toString.stripSuffix("/")
    run.info += s"bulk_load input: ${days.size} days x ${days.head.rows} rows, " +
      s"${days.map(_.bytes).sum / days.size} bytes/day"
  }

  /** One job; returns whether count, digest and the load report match. */
  private def load(run: Run, day: LoadGen.Day): Boolean = {
    CountingSink.reset()
    val rep = LoaderJob.runDirect(run.spark, cfg(day.dt), target, shards, new CountingExecutor)
    executeS.add(CountingSink.executeNs.get / 1e9)
    lastBatches = rep.batches
    val got = CountingSink.digest
    val ok = rep.failed == 0 && rep.success == day.rows && got == day.digest
    if (!ok) run.note(s"load ${day.dt}: report $rep, digest $got, want ${day.digest}")
    ok
  }

  override def passLength: Int = LoadGen.Days.size

  def warmup(run: Run): Unit = days.foreach(d => run.check(s"warmup load ${d.dt}", load(run, d)))

  def step(run: Run): Unit = {
    val day = days(next % days.size)
    next += 1
    run.op(load(run, day))
  }

  /** The plan of `LoaderJob.plan`, rebuilt from the same public calls
    * and cut after each layer; each cut is forced with a `noop` write.
    */
  private def cuts(run: Run, dt: String): Seq[(String, DataFrame)] = {
    val spark = run.spark
    val c = cfg(dt)
    val keys = TransformStage.hivePartitionKeys(Readers.sampleFilePath(spark, c.exportDir))
    val src = Readers.read(spark, c, Some(target.schema.length - keys.size + c.excludeFields.size))
    val read = TransformStage.appendHivePartitions(src, keys, input_file_name())
    val wire = TransformStage.transform(
      TransformStage.excludeFields(read, c.excludeFields), c, target.stringCols)
    val sharded = Sharding.partitionByShard(
      Sharding.assign(wire, LoadGen.ShardingKey, shards), shards, c.loaderTaskExecutor)
    Seq("cut.read" -> read, "cut.transform" -> wire, "cut.shard" -> sharded)
  }

  override def traceStep(run: Run, t: Trace): Unit = {
    val day = days(next % days.size)
    cuts(run, day.dt).foreach { case (n, df) =>
      t.span(n)(_ => df.write.format("noop").mode("overwrite").save())
    }
    t.span("op")(_ => step(run))
  }

  def layers(run: Run, t: Trace, m: Layers): Unit = {
    val ops = t.named("op")
    def mean(n: String) = Stats.mean(t.named(n).map(_.seconds))
    val (read, tr, sh, full) = (mean("cut.read"), mean("cut.transform"), mean("cut.shard"),
      Stats.mean(ops.map(_.seconds)))
    m("sources.scan_s") = read
    m("transform.self_s") = tr - read
    m("sharding.self_s") = sh - tr
    m("sinks.self_s") = full - sh
    m("transform.cpu_s") =
      Stats.mean(t.named("cut.transform").map(t.tasksOf(_).cpuS)) -
        Stats.mean(t.named("cut.read").map(t.tasksOf(_).cpuS))
    val aggs = ops.map(t.tasksOf)
    m("sources.rows_in") = Stats.mean(aggs.map(_.inRecords.toDouble))
    m("sources.bytes_in") = Stats.mean(aggs.map(_.inBytes.toDouble))
    m("sinks.execute_s") = Stats.mean(executeS.asScala.toSeq)
    // the sink counters describe the last load of the run
    m("sinks.batches") = lastBatches.toDouble
    m("sinks.rows_per_batch") = days.head.rows / math.max(1.0, lastBatches.toDouble)
    m("sinks.retries") = CountingSink.calls.get - lastBatches.toDouble
    val rows = CountingSink.taskRows.asScala.map(_.toDouble).toSeq
    m("sinks.task_skew") = if (rows.sum > 0) rows.max / Stats.mean(rows) else 0
    m("load.rows_per_s") = days.head.rows / full
  }
}
