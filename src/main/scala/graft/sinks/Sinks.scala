package graft.sinks

import graft.config.LoaderConfig
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.util.LongAccumulator
import scala.collection.mutable

/** Load metrics — the reference's Hadoop counters (SURVEY.md §2.A #24:
  * Success/Failed/Illegal records, temp tables), carried by Spark
  * `LongAccumulator`s. The job-level contract is the same: fail the
  * load if `failed > 0` (`ClickhouseHdfsLoader.java:203-207`).
  */
final case class LoadMetrics(
    success: LongAccumulator,
    failed: LongAccumulator,
    batches: LongAccumulator)

object LoadMetrics {
  def apply(spark: SparkSession): LoadMetrics = LoadMetrics(
    spark.sparkContext.longAccumulator("graft.records.success"),
    spark.sparkContext.longAccumulator("graft.records.failed"),
    spark.sparkContext.longAccumulator("graft.batches"))
}

final case class LoadReport(success: Long, failed: Long, batches: Long) {
  def failIfAnyFailed(): Unit =
    if (failed > 0) throw new IllegalStateException(s"load failed: $failed failed records")
}

/** Retry with true exponential backoff. The reference intended
  * `2^count * 100ms` but wrote XOR (`(2^count)*100000` at
  * `AbstractClickhouseLoaderMapper.java:344` — `^` is XOR in Java);
  * we implement the intent, not the bug (SURVEY.md §7.4 item 5).
  */
object Retry {
  def withRetries[T](maxTries: Int, baseDelayMs: Long = 100L,
      sleep: Long => Unit = Thread.sleep)(op: Int => T): T = {
    var attempt = 0
    var last: Throwable = null
    while (attempt < maxTries) {
      try return op(attempt)
      catch {
        case e: Throwable =>
          last = e
          attempt += 1
          if (attempt < maxTries) sleep((1L << attempt) * baseDelayMs)
      }
    }
    throw last
  }
}

/** Executes one micro-batch of wire-format rows against the target
  * store. Production shape = JDBC `INSERT INTO … FORMAT TabSeparated`
  * per batch; tests inject a collecting executor. Must be
  * `Serializable` — instances ship to executors. `close()` is called
  * once per partition-task by [[DirectSink]] (release connections).
  */
trait BatchExecutor extends Serializable {
  def execute(target: String, batch: Seq[String]): Unit
  def close(): Unit = ()
}

/** Direct sink (SURVEY.md §2.A #13/#14/#23/#24): each task keeps one
  * buffer per `shard` value and sends it as a micro-batch when it
  * reaches `batchSize` rows (capped at the 1,048,576 atomic-insert
  * limit, `AbstractClickhouseLoaderMapper.java:294-295`); leftovers go
  * out at task end in shard order. A batch never mixes shards, and a
  * task holds at most shards × batchSize rows — the reference mapper's
  * bound (`AbstractClickhouseLoaderMapper.java:270-298`). A frame
  * without a `shard` column is one group. Every batch is executed with
  * retry/backoff. One connection per task, no driver round-trips — the
  * partition count is the write parallelism, which is how this scales
  * to 1000 executors.
  */
final class DirectSink(
    executor: BatchExecutor,
    cfg: LoaderConfig,
    metrics: LoadMetrics) extends Serializable {

  private val effectiveBatch = math.min(cfg.batchSize, 1048576)

  /** Write the `wire_row` column of `df` to `target`, batched by `shard`. */
  def write(df: DataFrame, target: String): LoadReport = {
    val (exec, tries, batchSz, m) = (executor, cfg.maxTries, effectiveBatch, metrics)
    val shard = if (df.columns.contains("shard")) col("shard") else lit(0)
    df.select(shard, col("wire_row")).foreachPartition { (rows: Iterator[Row]) =>
      def send(batch: Seq[String]): Unit =
        try {
          Retry.withRetries(tries)(_ => exec.execute(target, batch))
          m.success.add(batch.size)
          m.batches.add(1)
        } catch {
          case _: Throwable => m.failed.add(batch.size)
        }
      val open = mutable.HashMap.empty[Int, mutable.Builder[String, Vector[String]]]
      try {
        rows.foreach { r =>
          val buf = open.getOrElseUpdate(r.getInt(0), Vector.newBuilder[String])
          buf += r.getString(1)
          if (buf.knownSize == batchSz) { send(buf.result()); buf.clear() }
        }
        open.toSeq.sortBy(_._1).foreach { case (_, buf) =>
          if (buf.knownSize > 0) send(buf.result())
        }
      } finally exec.close() // one per task — releases the connection
    }
    LoadReport(metrics.success.value, metrics.failed.value, metrics.batches.value)
  }
}

/** Two-phase staged sink (SURVEY.md §2.A #15/#18/#22): stage the
  * frame into a temp table, commit with one atomic
  * `INSERT INTO target SELECT * FROM temp`, always drop the temp table
  * (the reference's map-side StripeLog temp tables + reduce-side merge
  * + `CleanupTempTableOutputCommitter`, collapsed into Spark's
  * driver-coordinated write).
  *
  * Works against the session catalog (tests use a local warehouse); at
  * scale the same protocol drives a JDBC catalog.
  */
final class StagedSink(spark: SparkSession) {

  def write(df: DataFrame, target: String, jobId: String): Unit = {
    // temp.<table>_<ts>_m_<task> naming per ClickhouseHdfsLoader.java:114-118
    val temp = s"temp_${target.replace('.', '_')}_$jobId"
    df.write.mode("overwrite").saveAsTable(temp)
    try {
      spark.sql(s"INSERT INTO $target SELECT * FROM $temp")
    } finally {
      // abort/commit both clean up, like CleanupTempTableOutputCommitter
      spark.sql(s"DROP TABLE IF EXISTS $temp")
    }
  }
}

/** Trivial in-JVM executor for tests and local smoke: collects batch
  * sizes per target. A thread-safe singleton map stands in for the
  * external store.
  */
object CollectingExecutor extends BatchExecutor {
  import java.util.concurrent.ConcurrentLinkedQueue
  val batches = new ConcurrentLinkedQueue[(String, Int)]()
  override def execute(target: String, batch: Seq[String]): Unit =
    batches.add((target, batch.size))
  def clear(): Unit = batches.clear()
  def totalRows(target: String): Int = {
    var n = 0
    batches.forEach { case (t, sz) => if (t == target) n += sz }
    n
  }
}

/** Executor that fails deterministically for the first `failures`
  * attempts per batch — exercises the retry path.
  */
final class FlakyExecutor(failures: Int) extends BatchExecutor {
  private val attempts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  override def execute(target: String, batch: Seq[String]): Unit = {
    val key = s"$target#${batch.hashCode}"
    val n = attempts.merge(key, 1, (a, b) => a + b)
    if (n <= failures) throw new RuntimeException(s"transient failure $n")
  }
}
