package graft.tools

import graft.{GraftSession, SparkEntry, Tables}
import org.apache.spark.sql.SparkSession

/** Long-scale suite runner: Bench semantics (noop write, warmup,
  * single pass) made crash-safe for multi-hour sf10/sf100 points.
  *
  * Differences from Bench, all motivated by runs that take hours:
  * - streams one line per query to stdout AND appends a JSON record
  *   to <out>.jsonl as each query finishes, so a killed run keeps
  *   everything it measured;
  * - RESUMES from <out>.jsonl: queries already recorded with a
  *   successful {"sec": …} line are skipped on relaunch (errors and
  *   timeouts are retried), so a crashed multi-hour point continues
  *   where it died instead of starting over;
  * - SparkSession self-heal: a query that kills the SparkContext
  *   (driver-side OOM stopping the DAGScheduler event loop is the
  *   observed case) is recorded with its own error, and the NEXT
  *   query gets a fresh session — one bad gate no longer voids the
  *   rest of the suite;
  * - per-query wall timeout (SPARK_GRAFT_Q_TIMEOUT seconds, default
  *   1800): the query runs under a job group that gets cancelled on
  *   expiry and is recorded as {"timeout": true} — a quadratic gate
  *   at a synthetic scale point names itself instead of wedging the
  *   whole run;
  * - honors SPARK_GRAFT_SKIP_Q / SPARK_GRAFT_ONLY_Q with Bench's
  *   prefix semantics.
  *
  * Usage: SuiteRun <sfDir> <outPrefix>   (writes <outPrefix>.jsonl)
  */
object SuiteRun {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/suiterun"
    val qTimeoutS = sys.env.get("SPARK_GRAFT_Q_TIMEOUT").map(_.toInt).getOrElse(1800)
    def newSession(): SparkSession =
      GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    var spark = newSession()

    // resume: a prior run's successful {"sec": …} lines AND structured
    // quadratic refusals ({"refused": …}) are done — a refusal is the
    // gate's documented answer at this scale, not an error to retry
    val done: Set[String] = {
      val f = new java.io.File(out + ".jsonl")
      if (!f.exists()) Set.empty
      else scala.io.Source.fromFile(f).getLines()
        .filter(l => (l.contains("\"sec\":") || l.contains("\"refused\":")) &&
          l.contains("\"q\":\""))
        .map(l => l.split("\"q\":\"")(1).split("\"")(0)).toSet
    }

    val skip = sys.env.get("SPARK_GRAFT_SKIP_Q")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val only = sys.env.get("SPARK_GRAFT_ONLY_Q")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted.filter { n =>
      !done.contains(n) && !skip.exists(s => n.startsWith(s)) &&
        only.forall(_.exists(s => n.startsWith(s)))
    }

    val log = new java.io.PrintWriter(
      new java.io.FileWriter(out + ".jsonl", /*append=*/ true))
    def record(json: String): Unit = { log.println(json); log.flush() }

    val loadBefore =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split(" ")(0)
      catch { case _: Throwable => "-1" }
    record(s"""{"meta":"start","sf":"$dir","n":${names.length},"resumedPast":${done.size},"load":$loadBefore,"qTimeoutS":$qTimeoutS}""")

    Tables.warmupAll(spark, dir, "suiterun")

    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    names.foreach { n =>
      if (spark.sparkContext.isStopped) {
        record(s"""{"meta":"restart","before":"$n"}""")
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
        spark = newSession()
        Tables.warmupAll(spark, dir, "suiterun")
      }
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val fut = Future {
        spark.sparkContext.setJobGroup(n, n, interruptOnCancel = true)
        try SparkEntry.queries(n)(spark, dir)
          .write.mode("overwrite").format("noop").save()
        finally spark.sparkContext.clearJobGroup()
      }
      val res: Either[String, Double] =
        try { Await.result(fut, qTimeoutS.seconds); Right((System.nanoTime() - t0) / 1e9) }
        catch {
          case _: java.util.concurrent.TimeoutException =>
            spark.sparkContext.cancelJobGroup(n)
            // drain the cancelled future so its executor slot frees
            try Await.result(fut, 120.seconds) catch { case _: Throwable => () }
            Left("timeout")
          case e: Throwable =>
            // a documented-quadratic gate refusing at a scale point is
            // a structured outcome, not a failure — walk the cause
            // chain (the guard may surface wrapped by Spark)
            val refusal = Iterator.iterate(e)(_.getCause)
              .takeWhile(_ != null).take(8)
              .collectFirst { case r: graft.operators.QuadraticRefusal => r }
            refusal match {
              case Some(r) => Left("refused:" + Option(r.getMessage).getOrElse("")
                .replace('"', '\'').replace('\n', ' ').take(300))
              case None => Left(Option(e.getMessage).getOrElse(e.getClass.getName)
                .replace('"', '\'').replace('\n', ' ').take(200))
            }
        }
      res match {
        case Right(s) =>
          println(f"[suiterun] $n: $s%.2f s"); System.out.flush()
          record(f"""{"q":"$n","sec":$s%.2f}""")
        case Left("timeout") =>
          println(s"[suiterun] $n: TIMEOUT >$qTimeoutS s"); System.out.flush()
          record(s"""{"q":"$n","timeout":true,"capS":$qTimeoutS}""")
        case Left(msg) if msg.startsWith("refused:") =>
          println(s"[suiterun] $n: REFUSED (documented-quadratic at this scale)")
          System.out.flush()
          record(s"""{"q":"$n","refused":"${msg.stripPrefix("refused:")}"}""")
        case Left(msg) =>
          println(s"[suiterun] $n: FAILED $msg"); System.out.flush()
          record(s"""{"q":"$n","error":"$msg"}""")
      }
    }
    val loadAfter =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split(" ")(0)
      catch { case _: Throwable => "-1" }
    record(s"""{"meta":"end","load":$loadAfter}""")
    log.close()
    spark.stop()
  }
}
