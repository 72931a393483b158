package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: name, wall-clock bounds, the span that caused
  * it, and counts recorded at the boundary.
  */
final class Span(val id: Long, val name: String, val parent: Long, val startMs: Long,
    val startNs: Long) {
  @volatile var endNs: Long = -1L
  @volatile var endMs: Long = -1L
  val counts = new ConcurrentHashMap[String, Double]()
  def seconds: Double = (endNs - startNs) / 1e9
  def add(k: String, v: Double): Unit = counts.merge(k, v, (a: Double, b: Double) => a + b)
}

/** Aggregated task metrics of a set of jobs. */
final case class TaskAgg(
    tasks: Long = 0, runS: Double = 0, cpuS: Double = 0, overheadS: Double = 0,
    inRecords: Long = 0, inBytes: Long = 0, outBytes: Long = 0,
    shWriteBytes: Long = 0, shWriteS: Double = 0, shReadBytes: Long = 0, spillBytes: Long = 0,
    intervals: List[(Long, Long)] = Nil) {
  def +(o: TaskAgg): TaskAgg = TaskAgg(tasks + o.tasks, runS + o.runS, cpuS + o.cpuS,
    overheadS + o.overheadS, inRecords + o.inRecords, inBytes + o.inBytes,
    outBytes + o.outBytes, shWriteBytes + o.shWriteBytes, shWriteS + o.shWriteS,
    shReadBytes + o.shReadBytes, spillBytes + o.spillBytes, o.intervals ::: intervals)
  /** Milliseconds of `[fromMs, toMs)` covered by at least one task. */
  def coveredMs(fromMs: Long, toMs: Long): Long = {
    var covered = 0L
    var curS = -1L
    var curE = -1L
    intervals.map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) covered += curE - curS
    covered
  }
}

/** The traced run's recorder: spans held in memory, a SparkListener
  * for jobs/stages/tasks, a QueryExecutionListener for Catalyst phase
  * times and a StreamingQueryListener for trigger progress. Jobs are
  * attributed to spans through the job group, which the span sets on
  * its thread (and Spark propagates to the threads graft forks).
  * Untraced runs never construct one.
  */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Span]
  private val jobGroup = new ConcurrentHashMap[Int, Long]()
  private val jobStages = new ConcurrentHashMap[Int, Seq[Int]]()
  private val stageTasks = new ConcurrentHashMap[Int, TaskAgg]()
  /** (startMs, analysis s, optimisation s, physical planning s). */
  val planPhases = new ConcurrentLinkedQueue[(Long, Double, Double, Double)]()
  /** Per streaming trigger: (batch id, triggerExecution s, addBatch s). */
  val triggers = new ConcurrentLinkedQueue[(Long, Double, Double)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith("perfbench-")).map(_.stripPrefix("perfbench-").toLong)
      g.foreach(jobGroup.put(e.jobId, _))
      jobStages.put(e.jobId, e.stageIds)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m == null || i == null) return
      val run = m.executorRunTime / 1e3
      val agg = TaskAgg(1, run, m.executorCpuTime / 1e9,
        math.max(0.0, i.duration / 1e3 - run),
        m.inputMetrics.recordsRead, m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.writeTime / 1e9,
        m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
        List((i.launchTime, i.finishTime)))
      stageTasks.merge(e.stageId, agg, (a: TaskAgg, b: TaskAgg) => a + b)
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases
      def sec(k: String) = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
      planPhases.add((start, sec("analysis"), sec("optimization"), sec("planning")))
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      def sec(k: String) = Option(d.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
      if (e.progress.numInputRows > 0)
        triggers.add((e.progress.batchId, sec("triggerExecution"), sec("addBatch")))
    }
  }
  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  def stop(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.PerfbenchAccess.drainListeners(sc)

  /** Run `f` inside a new span, child of `parent` (default: the span
    * open on this thread).
    */
  def span[T](name: String, parent: Span = null)(f: Span => T): T = {
    val p = Option(parent).orElse(Option(current.get))
    val s = new Span(ids.incrementAndGet(), name, p.map(_.id).getOrElse(0L),
      System.currentTimeMillis(), System.nanoTime())
    spans.add(s)
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    val prevSpan = current.get
    current.set(s)
    sc.setJobGroup(s"perfbench-${s.id}", name, interruptOnCancel = false)
    try f(s)
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      current.set(prevSpan)
      sc.setLocalProperty("spark.jobGroup.id", prevGroup)
      sc.setLocalProperty("spark.job.description", prevDesc)
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq
  def named(name: String): Seq[Span] = all.filter(s => s.name == name && s.endNs > 0)

  private lazy val children: Map[Long, Seq[Span]] = all.groupBy(_.parent)
  /** The span and every span it caused. */
  def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)

  /** Jobs started inside `s` or any descendant. */
  def jobsOf(s: Span): Seq[Int] = {
    val mine = subtree(s).map(_.id).toSet
    jobGroup.asScala.collect { case (j, g) if mine(g) => j }.toSeq
  }

  def tasksOf(s: Span): TaskAgg =
    jobsOf(s).flatMap(j => jobStages.getOrDefault(j, Nil))
      .distinct.map(st => stageTasks.getOrDefault(st, TaskAgg())).foldLeft(TaskAgg())(_ + _)

  def stagesOf(s: Span): Int =
    jobsOf(s).flatMap(j => jobStages.getOrDefault(j, Nil)).distinct
      .count(st => stageTasks.containsKey(st))

  /** Catalyst phase seconds of query executions that started inside
    * `s`'s wall-clock interval.
    */
  def phasesOf(s: Span): (Double, Double, Double) = {
    val in = planPhases.asScala.filter { case (t, _, _, _) => t >= s.startMs && t <= s.endMs }
    (in.map(_._2).sum, in.map(_._3).sum, in.map(_._4).sum)
  }

  /** Wall seconds of `s` with no task of its jobs running. */
  def driverOnlyS(s: Span, agg: TaskAgg): Double =
    math.max(0.0, s.seconds - agg.coveredMs(s.startMs, s.endMs) / 1e3)
}
