package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** A workload: inputs are generated first (not part of set-up), then
  * `warmup` runs as set-up, then `step` repeats until the measured
  * window closes; `finish` runs untimed output checks.
  */
trait Workload {
  def name: String
  /** Operations in one pass over the workload's inputs; the measured
    * window only closes at a pass boundary, so every input is used
    * equally often in every run.
    */
  def passLength: Int = 1
  def generate(run: Run): Unit
  def warmup(run: Run): Unit
  def step(run: Run): Unit
  def traceStep(run: Run, t: Trace): Unit = t.span("op")(_ => step(run))
  def finish(run: Run): Unit = ()
  def layers(run: Run, t: Trace, m: Layers): Unit
}

final class Layers extends mutable.LinkedHashMap[String, Double] {
  Metrics.perLayer.foreach { case (n, _) => this(n) = 0.0 }
}

/** State of one benchmark run. */
final class Run(val seed: Long, val seconds: Int, val work: Path, val nproc: Int) {
  var spark: SparkSession = _
  val opS = mutable.ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  val info = mutable.ArrayBuffer.empty[String]
  /** Values a workload measures beside its operation latency. */
  val extra = mutable.LinkedHashMap.empty[String, Double]
  private var notes = 0

  def note(msg: String): Unit = {
    notes += 1
    if (notes <= 20) System.err.println(s"[perfbench] $msg")
  }

  /** One timed operation: its latency is recorded, and it counts as
    * failed when it throws or reports a wrong output.
    */
  def op(f: => Boolean): Unit = {
    val t0 = System.nanoTime()
    val ok = try f catch { case e: Exception => note(s"operation failed: $e"); false }
    opS += (System.nanoTime() - t0) / 1e9
    attempted += 1
    if (!ok) failed += 1
  }

  /** One untimed output check, counted with the operations. */
  def check(what: String, ok: => Boolean): Unit = {
    val r = try ok catch { case e: Exception => note(s"$what: $e"); false }
    attempted += 1
    if (!r) { failed += 1; note(s"check failed: $what") }
  }
}

object Stats {
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  /** Linear interpolation between order statistics. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  /** The highest quantile with at least ten samples beyond it; the
    * median when there are too few samples for one above it.
    */
  def tailQ(n: Int): Double = math.max(0.5, 1 - 10.0 / n)
  def tail(xs: Seq[Double]): Double = quantile(xs, tailQ(xs.size))
}

object Fs {
  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
  def du(p: Path): Long = walk(p).map(Files.size).sum
  def files(p: Path): Int = walk(p).count(f => !f.getFileName.toString.startsWith("."))
  def rm(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toList.reverse.foreach(Files.delete) finally s.close()
  }
}

/** Reads SQL metrics of an executed frame's physical plan. */
object Plans extends AdaptiveSparkPlanHelper {
  /** (files read by file scans, largest join output in rows). */
  def scanFilesAndMaxJoinRows(df: DataFrame): (Double, Double) = {
    val nodes = collectWithSubqueries(df.queryExecution.executedPlan) { case p => p }
    def metric(p: org.apache.spark.sql.execution.SparkPlan, k: String) =
      p.metrics.get(k).map(_.value).getOrElse(0L)
    val files = nodes.collect { case s: FileSourceScanExec => metric(s, "numFiles") }.sum
    val joins = nodes.collect { case j: BaseJoinExec => metric(j, "numOutputRows") }
    (files.toDouble, joins.maxOption.getOrElse(0L).toDouble)
  }
}

object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_s.p50" -> "s", "op_s.tail" -> "s", "ops_per_s" -> "1/s",
    "ok_ratio" -> "ratio", "peak_rss_mb" -> "MB")

  val perLayer: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s", "sources.rows_in" -> "count", "sources.bytes_in" -> "bytes",
    "transform.self_s" -> "s", "transform.cpu_s" -> "s",
    "sharding.self_s" -> "s", "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.write_s" -> "s", "shuffle.spill_bytes" -> "bytes",
    "sinks.self_s" -> "s", "sinks.execute_s" -> "s", "sinks.batches" -> "count",
    "sinks.rows_per_batch" -> "count", "sinks.retries" -> "count", "sinks.task_skew" -> "ratio",
    "queries.build_s" -> "s", "queries.build_jobs" -> "count", "queries.exec_s" -> "s",
    "plans.analyze_s" -> "s", "plans.optimize_s" -> "s", "plans.physical_s" -> "s",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.driver_only_s" -> "s", "sched.task_overhead_s" -> "s",
    "sched.executor_run_s" -> "s", "sched.executor_cpu_s" -> "s",
    "streaming.apply_s.bm25" -> "s", "streaming.apply_s.ivf" -> "s",
    "streaming.apply_s.neardup" -> "s", "streaming.apply_jobs.bm25" -> "count",
    "streaming.apply_jobs.ivf" -> "count", "streaming.apply_jobs.neardup" -> "count",
    "streaming.trigger_overhead_s" -> "s", "streaming.bytes_written" -> "bytes",
    "streaming.write_amp" -> "ratio", "streaming.replay_s" -> "s",
    "compact.self_s.bm25" -> "s", "compact.self_s.ivf" -> "s", "compact.self_s.neardup" -> "s",
    "compact.bytes_rewritten" -> "bytes", "index.files.bm25" -> "count",
    "index.files.ivf" -> "count", "index.files.neardup" -> "count",
    "probe.call_s.bm25" -> "s", "probe.call_s.ivf" -> "s", "probe.exec_s.bm25" -> "s",
    "probe.exec_s.ivf" -> "s", "probe.fuse_s" -> "s", "probe.bytes_read" -> "bytes",
    "probe.files_read" -> "count", "probe.pairs_per_result" -> "ratio",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB",
    "load.rows_per_s" -> "1/s", "stream.batch_apply_s.p50" -> "s",
    "stream.batch_apply_s.tail" -> "s", "stream.search_s.p50" -> "s",
    "stream.search_s.tail" -> "s", "stream.recall_at_10" -> "ratio",
    "stream.index_space_amp" -> "ratio")
}

object Main {
  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  private def vmHwmMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def session(run: Run): SparkSession = {
    val s = GraftSession.builder(s"local[${run.nproc}]", run.nproc)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", run.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", run.work.resolve("warehouse").toUri.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(name: String, bench: Path): Workload = name match {
    case "bulk_load" => new BulkLoad(rowsPerDay = 30000)
    case "query_mix" => new QueryMix(bench)
    case "index_stream" => new IndexStream(initialDocs = 1000, batchDocs = 100)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def json(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def main(args: Array[String]): Unit =
    try runMain(args)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }

  private def runMain(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    opts.get("mode") match {
      case Some("selftest") => SelfTest.run(); return
      case Some("record") =>
        Record.run(Paths.get(opts("bench")), Paths.get(opts("verify-out")), Paths.get(opts("work")))
        return
      case _ =>
    }
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val traced = opts.getOrElse("trace", "0") == "1"
    val run = new Run(opts("seed").toLong, opts("seconds").toInt, Paths.get(opts("work")),
      opts("nproc").toInt)
    val wl = workload(opts("workload"), Paths.get(opts("bench")))

    val g0 = System.nanoTime()
    wl.generate(run)
    val genS = (System.nanoTime() - g0) / 1e9

    run.spark = session(run)
    val trace = if (traced) Some(new Trace(run.spark)) else None
    wl.warmup(run)
    val warmFailed = run.failed

    val startMs = System.currentTimeMillis()
    val setupS = (startMs - jvmStartMs) / 1e3 - genS
    val gc0 = gcSeconds
    val t0 = System.nanoTime()
    val deadline = t0 + run.seconds * 1000000000L
    while (System.nanoTime() < deadline) (1 to wl.passLength).foreach { _ =>
      trace match {
        case Some(t) => wl.traceStep(run, t)
        case None => wl.step(run)
      }
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    val gcS = gcSeconds - gc0
    val ops = run.opS.size
    wl.finish(run)

    val e2e = mutable.LinkedHashMap(
      "setup_s" -> setupS,
      "op_s.p50" -> Stats.quantile(run.opS.toSeq, 0.5),
      "op_s.tail" -> Stats.tail(run.opS.toSeq),
      "ops_per_s" -> ops / measuredS,
      "ok_ratio" -> (run.attempted - run.failed).toDouble / math.max(1L, run.attempted),
      "peak_rss_mb" -> vmHwmMb)
    val conf = run.spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master"
    }.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" ")
    run.info += s"run: workload=${wl.name} seed=${run.seed} seconds=${run.seconds} " +
      s"nproc=${run.nproc} heap_mb=${Runtime.getRuntime.maxMemory / 1048576} traced=$traced"
    run.info += s"session: $conf"
    run.info += f"samples: $ops operations in $measuredS%.1f s, tail = p${Stats.tailQ(ops) * 100}%.1f; " +
      f"input generation $genS%.2f s (not in setup_s); warm-up failures $warmFailed"
    if (ops < 20) run.info += s"note: $ops operations are too few for a tail above the median"
    run.info += "pass means (s): " + run.opS.grouped(wl.passLength)
      .map(p => f"${Stats.mean(p.toSeq)}%.3f").mkString(" ")

    val metrics: Seq[(String, Double, String)] = trace match {
      case None =>
        run.info += "extra: " + run.extra.map { case (k, v) => f"$k=$v%.4f" }.mkString(" ")
        Metrics.endToEnd.map { case (n, u) => (n, e2e(n), u) }
      case Some(t) =>
        t.stop()
        val m = new Layers
        val opSpans = t.named("op")
        val aggs = opSpans.map(t.tasksOf)
        def per(f: TaskAgg => Double) = Stats.mean(aggs.map(f))
        m("sched.jobs") = Stats.mean(opSpans.map(t.jobsOf(_).size.toDouble))
        m("sched.stages") = Stats.mean(opSpans.map(t.stagesOf(_).toDouble))
        m("sched.tasks") = per(_.tasks.toDouble)
        m("sched.driver_only_s") = Stats.mean(opSpans.zip(aggs).map { case (s, a) => t.driverOnlyS(s, a) })
        m("sched.task_overhead_s") = per(_.overheadS)
        m("sched.executor_run_s") = per(_.runS)
        m("sched.executor_cpu_s") = per(_.cpuS)
        m("shuffle.write_bytes") = per(_.shWriteBytes.toDouble)
        m("shuffle.read_bytes") = per(_.shReadBytes.toDouble)
        m("shuffle.write_s") = per(_.shWriteS)
        m("shuffle.spill_bytes") = per(_.spillBytes.toDouble)
        val ph = opSpans.map(t.phasesOf)
        m("plans.analyze_s") = Stats.mean(ph.map(_._1))
        m("plans.optimize_s") = Stats.mean(ph.map(_._2))
        m("plans.physical_s") = Stats.mean(ph.map(_._3))
        m("jvm.gc_s") = gcS / math.max(1, ops)
        m("jvm.heap_peak_mb") = heapPeakMb
        run.extra.foreach { case (k, v) => if (m.contains(k)) m(k) = v }
        wl.layers(run, t, m)
        run.info += overheadLine(run, wl.name, e2e)
        Metrics.perLayer.map { case (n, u) => (n, m(n), u) }
    }
    if (!traced) saveUntraced(run, wl.name, e2e)
    run.spark.stop()
    run.info.foreach(println)
    val body = metrics.map { case (n, v, u) =>
      s"${json(n)}: {\"value\": ${if (v.isNaN || v.isInfinite) "null" else v.toString}, \"unit\": ${json(u)}}"
    }.mkString(", ")
    println(s"""{"correct": ${run.failed == 0 && run.attempted > 0}, "attempted": ${run.attempted}, """ +
      s""""failed": ${run.failed}, "metrics": {$body}}""")
    System.out.flush()
    sys.exit(0)
  }

  private def lastPath(run: Run, wl: String) = run.work.getParent.resolve(s"last_untraced_$wl.tsv")

  private def saveUntraced(run: Run, wl: String, e2e: collection.Map[String, Double]): Unit =
    Files.writeString(lastPath(run, wl), e2e.map { case (k, v) => s"$k\t$v" }.mkString("\n"))

  /** Traced ÷ untraced for each end-to-end metric, against the last
    * untraced run of the same workload in this checkout.
    */
  private def overheadLine(run: Run, wl: String, e2e: collection.Map[String, Double]): String = {
    val p = lastPath(run, wl)
    if (!Files.exists(p)) "tracing overhead: no untraced run of this workload to compare with"
    else {
      val base = Files.readAllLines(p).asScala.map(_.split('\t')).map(a => a(0) -> a(1).toDouble).toMap
      "tracing overhead (traced/untraced): " + e2e.collect {
        case (k, v) if base.get(k).exists(_ != 0) => f"$k=${v / base(k)}%.3f"
      }.mkString(" ")
    }
  }
}
