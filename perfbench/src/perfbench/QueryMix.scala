package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext}
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, Row}

/** Result digest that is stable under row order and floating-point
  * summation order: doubles are rounded to 9 significant digits before
  * hashing; decimals, integers, strings and array order stay exact.
  */
object ResultDigest {
  private val mc = new MathContext(9)
  def canon(v: Any): String = v match {
    case null => "~"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else new JBigDecimal(d).round(mc).stripTrailingZeros.toPlainString
    case f: Float => canon(f.toDouble)
    case b: JBigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }
  def of(rows: Iterator[Row]): Digest =
    rows.foldLeft(Digest.empty)((d, r) => d + Digest.of(Rng.hash64(canon(r))))
  def of(df: DataFrame): Digest = of(df.toLocalIterator().asScala)
}

/** `query_mix`: the reference's delegated relational surface, a fixed
  * systematic sample of `Relational.queries ∪ Etl.queries` run through
  * `SparkEntry.queries`, each executed with a `noop` write.
  */
final class QueryMix(bench: Path) extends Workload {
  val name = "query_mix"
  private val dataDir = bench.resolve("data/sf0.01")
  private val expected: Map[String, String] = QueryMix.readDigests(bench.resolve("query_digests.tsv"))
  /** Queries that write outside the run's own directory (fixed `/tmp`
    * paths) are left out, since a benchmark run may only write inside
    * its checkout.
    */
  val names: IndexedSeq[String] = QueryMix.names
  private var order: Iterator[String] = Iterator.empty
  private val wrong = mutable.Set.empty[String]
  private var passes = 0

  def generate(run: Run): Unit = {
    require(Files.isDirectory(dataDir), s"missing $dataDir")
    run.info += s"query_mix: ${names.size} queries at $dataDir"
  }

  private def dir: String = dataDir.toString
  override def passLength: Int = names.size

  /** Runs each query once checking its result digest, then once more
    * the way the timed passes run it.
    */
  def warmup(run: Run): Unit = {
    names.foreach { n =>
      val got = ResultDigest.of(SparkEntry.queries(n)(run.spark, dir)).toString
      val ok = expected.get(n).contains(got)
      if (!ok) { wrong += n; run.note(s"$n: digest $got, want ${expected.getOrElse(n, "none")}") }
      run.check(s"digest $n", ok)
    }
    names.foreach(n => exec(SparkEntry.queries(n)(run.spark, dir)))
  }

  private def nextName(run: Run): String = {
    if (!order.hasNext) {
      val r = new Rng(run.seed * 1000003L + passes)
      passes += 1
      order = names.map(n => (r.nextLong(), n)).sortBy(_._1).map(_._2).iterator
    }
    order.next()
  }

  private def exec(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def step(run: Run): Unit = {
    val n = nextName(run)
    run.op {
      exec(SparkEntry.queries(n)(run.spark, dir))
      !wrong(n)
    }
  }

  override def traceStep(run: Run, t: Trace): Unit = {
    val n = nextName(run)
    t.span("op") { _ =>
      run.op {
        val df = t.span("build")(_ => SparkEntry.queries(n)(run.spark, dir))
        t.span("exec")(_ => exec(df))
        // the builder's own eager analysis is not reported through the
        // listener: read it from the frame's tracker
        df.queryExecution.tracker.phases.get("analysis")
          .foreach(p => t.planPhases.add((p.startTimeMs, p.durationMs / 1e3, 0.0, 0.0)))
        !wrong(n)
      }
    }
  }

  def layers(run: Run, t: Trace, m: Layers): Unit = {
    m("queries.build_s") = Stats.mean(t.named("build").map(_.seconds))
    m("queries.build_jobs") = Stats.mean(t.named("build").map(t.jobsOf(_).size.toDouble))
    m("queries.exec_s") = Stats.mean(t.named("exec").map(_.seconds))
  }
}

object QueryMix {
  private val writesOutside = Set("q27_text_source_decode", "q28_orc_scan_parity",
    "q29_orc_scan_typed", "q74_compact_zorder")
  /** Every fourth name of the sorted eligible set, so a run can warm
    * every query once and still repeat each several times.
    */
  val names: IndexedSeq[String] =
    (graft.queries.Relational.queries.keySet ++ graft.queries.Etl.queries.keySet)
      .diff(writesOutside).toIndexedSeq.sorted.zipWithIndex
      .collect { case (n, i) if i % 4 == 0 => n }

  def readDigests(p: Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.filter(_.contains('\t')).map { l =>
      val Array(k, v) = l.split('\t'); k -> v
    }.toMap
}
