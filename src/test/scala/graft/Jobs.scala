package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

import scala.jdk.CollectionConverters._

/** Test helpers that count what a plan costs: the Spark jobs a block
  * runs, and the shuffle exchanges a frame plans.
  */
object Jobs extends AdaptiveSparkPlanHelper {

  /** Run `f` and count the jobs it started on this thread. The
    * listener bus is asynchronous, so a marker job follows `f`: once
    * the marker's end event is seen, every event of `f` has been too.
    */
  def counted[T](spark: SparkSession)(f: => T): (T, Int) = {
    val (group, marker) = (s"counted-${System.nanoTime()}", s"marker-${System.nanoTime()}")
    val jobs, markerJobs, ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    def inGroup(props: java.util.Properties, g: String) =
      props != null && props.getProperty("spark.jobGroup.id") == g
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        if (inGroup(e.properties, group)) jobs.add(e.jobId)
        if (inGroup(e.properties, marker)) markerJobs.add(e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted", interruptOnCancel = false)
      val r = try f finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener barrier", interruptOnCancel = false)
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!(markerJobs.asScala.nonEmpty && markerJobs.asScala.forall(ended.contains)) &&
          System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerJobs.asScala.nonEmpty, "listener never saw the marker job")
      (r, jobs.size)
    } finally sc.removeSparkListener(listener)
  }

  /** The shuffle exchanges of `plan`, inside adaptive plans too. */
  def shuffles(plan: SparkPlan): Seq[ShuffleExchangeLike] =
    collect(plan) { case e: ShuffleExchangeLike => e }

  /** The shuffle exchanges `df` plans (before it runs). */
  def shuffles(df: DataFrame): Seq[ShuffleExchangeLike] = shuffles(df.queryExecution.executedPlan)

  /** `df`'s rows written as `n` parquet files and read back: an input
    * of `n` splits, so [[graft.plans.DropMicroShuffles]] leaves the
    * exchanges above it as they plan without the rule.
    */
  def splitCopy(df: DataFrame, n: Int = 3): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-split-copy").toString
    // row i goes to split i % n, so every split is non-empty once df has n rows
    val rows = df.rdd.zipWithIndex().map { case (r, i) => ((i % n).toInt, r) }
      .partitionBy(new org.apache.spark.HashPartitioner(n)).values
    df.sparkSession.createDataFrame(rows, df.schema).write.mode("overwrite").parquet(dir)
    val copy = df.sparkSession.read.parquet(dir)
    assert(graft.plans.partitions(copy).contains(n), s"the copy reads ${graft.plans.partitions(copy)} splits")
    copy
  }

  /** `f` planned and run without AQE, so without its query-stage
    * preparation rules and so without [[graft.plans.DropMicroShuffles]]:
    * a clone of `spark` with adaptive execution off. `f` must build its
    * frames from the session it is given.
    */
  def ruleFree[T](spark: SparkSession)(f: SparkSession => T): T = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    f(s)
  }
}
