package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.operators.{Dedup, Retrieval, Similarity}
import graft.streaming.StreamingIndex
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** `index_stream`: document micro-batches arrive through a real
  * Structured Streaming `foreachBatch` and are applied to the BM25, IVF
  * and near-dup indexes; each batch is followed by a fixed number of
  * hybrid searches (BM25 + IVF fused by RRF). Every batch after the
  * first compacts one index, in turn, so each is compacted every third
  * batch and every cycle carries the same maintenance load.
  */
final class IndexStream(initialDocs: Int, batchDocs: Int) extends Workload {
  val name = "index_stream"
  val SearchesPerBatch = 1
  val QueriesPerSearch = 4
  val K = 10
  val Families = IndexedSeq("bm25", "ivf", "neardup")
  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("embedding", ArrayType(FloatType))))

  private var src: StreamGen.Source = _
  private var in: Path = _
  private var staging: Path = _
  private var ivfDir, ndDir, bmDir: String = _
  private val db = "perfbench_bm25"
  private var query: StreamingQuery = _
  private var batchNo = 0L
  private var qid = 1000000000L
  private val applied = mutable.ArrayBuffer.empty[StreamGen.Doc]
  private val pending = new ConcurrentLinkedQueue[Long]()
  /** Per applied batch: seconds from available to committed. */
  private val applyS = new ConcurrentLinkedQueue[Double]()
  private val searchS = mutable.ArrayBuffer.empty[Double]
  private val lastQueries = mutable.ArrayBuffer.empty[StreamGen.Query]
  private var trace: Option[Trace] = None
  @volatile private var cycleSpan: Span = _
  /** Per traced batch id: index bytes before and after the apply. */
  private val batchBytes = mutable.Map.empty[Long, (Long, Long)]
  /** Input bytes of each published batch, by stream batch id. */
  private val inBytes = mutable.Map.empty[Long, Long]

  def generate(run: Run): Unit = {
    src = new StreamGen.Source(run.seed)
    in = Files.createDirectories(run.work.resolve("stream/in"))
    staging = Files.createDirectories(run.work.resolve("stream/staging"))
    ivfDir = run.work.resolve("index/ivf").toString
    ndDir = run.work.resolve("index/neardup").toString
    bmDir = run.work.resolve("index/bm25").toString
    run.info += s"index_stream input: $initialDocs initial docs, $batchDocs docs/batch, " +
      s"$SearchesPerBatch searches x $QueriesPerSearch queries per batch"
  }

  private def indexBytes: Long = Seq(ivfDir, ndDir, bmDir).map(d => Fs.du(Path.of(d))).sum

  private def timed[T](name: String, parent: Span)(f: => T): T = trace match {
    case Some(t) => t.span(name, parent)(_ => f)
    case None => f
  }

  private def applyBatch(batch: DataFrame, id: Long): Unit = {
    val parent = cycleSpan
    val before = trace.map(_ => indexBytes).getOrElse(0L)
    val docs = batch.select("doc_id", "text")
    val vecs = Similarity.prepare(batch, "doc_id", "embedding")
    val ok = Seq(
      timed("apply.bm25", parent)(StreamingIndex.applyBm25Batch(docs, "doc_id", "text", db, id)),
      timed("apply.ivf", parent)(StreamingIndex.applyIvfBatch(vecs, StreamGen.Dim, ivfDir, id)),
      timed("apply.neardup", parent)(
        StreamingIndex.applyNearDupBatch(docs, "doc_id", "text", ndDir, id)))
    if (!ok.forall(identity)) throw new IllegalStateException(s"batch $id not applied: $ok")
    if (id > 0) {
      val fam = Families(((id + 1) % 3).toInt)
      timed(s"compact.$fam", parent)(fam match {
        case "bm25" => Retrieval.compactBm25Index(batch.sparkSession, db)
        case "ivf" => Similarity.compactIvfIndex(batch.sparkSession, ivfDir)
        case _ => Dedup.compactNearDupIndex(batch.sparkSession, ndDir)
      })
    }
    val committed = System.nanoTime()
    applyS.add((committed - pending.poll()) / 1e9)
    trace.foreach(_ => batchBytes(id) = (before, indexBytes))
  }

  /** Publish the next batch and wait until the stream has committed it. */
  private def deliver(docs: Seq[StreamGen.Doc]): Unit = {
    val body = StreamGen.jsonLines(docs)
    val name = f"batch-$batchNo%06d.json"
    val n = StreamGen.publish(in, staging, name, body)
    inBytes(batchNo) = n
    batchNo += 1
    pending.add(System.nanoTime())
    query.processAllAvailable()
    applied ++= docs
  }

  def warmup(run: Run): Unit = {
    val spark = run.spark
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '${Path.of(bmDir).toUri}'")
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .json(in.toString)
    query = stream.writeStream
      .option("checkpointLocation", run.work.resolve("stream/checkpoint").toString)
      .foreachBatch { (batch: Dataset[Row], id: Long) => applyBatch(batch, id) }
      .start()
    deliver(src.batch(initialDocs))
    // one batch and one search round before timing, so the append,
    // probe and fuse paths are compiled like every later cycle's
    deliver(src.batch(batchDocs))
    (0 until SearchesPerBatch).foreach(_ => search(run, src.queries(nextQids(), QueriesPerSearch)))
    applyS.clear()
  }

  private def nextQids(): Long = { val q = qid; qid += QueriesPerSearch; q }

  private def queryFrame(run: Run, qs: Seq[StreamGen.Query]): DataFrame = {
    val rows = qs.map(q => Row(q.id, q.vec.toSeq))
    val df = run.spark.createDataFrame(rows.asJava,
      StructType(Seq(StructField("vid", LongType), StructField("embedding", ArrayType(FloatType)))))
    Similarity.prepare(df, "vid", "embedding")
  }

  /** The stream applies batches in its own cloned session, so this
    * session's cached listing of the BM25 catalog tables goes stale on
    * every append; without a refresh the probe fails with
    * FAILED_READ_FILE.FILE_NOT_EXIST. The IVF and near-dup indexes are
    * read by path and need none.
    */
  private def refreshBm25(run: Run): Unit =
    Seq("postings", "dfreq", "stats").foreach(t => run.spark.catalog.refreshTable(s"$db.$t"))

  private def ivfRanked(df: DataFrame): DataFrame =
    df.select(col("query_id"), col("rank"), col("neighbor_id").as("doc_id"))

  /** One hybrid search; returns whether the fused result is well formed. */
  private def search(run: Run, qs: Seq[StreamGen.Query]): Boolean = {
    lastQueries.clear(); lastQueries ++= qs
    val spark = run.spark
    refreshBm25(run)
    val bm = Retrieval.bm25TopKIndexed(spark, db, qs.map(q => (q.id, q.text)), K)
    val ivf = Similarity.ivfProbeIndexed(spark, ivfDir, queryFrame(run, qs), K)
    wellFormed(Retrieval.rrfFuse(bm, ivfRanked(ivf), K).collect(), qs)
  }

  private def wellFormed(rows: Array[Row], qs: Seq[StreamGen.Query]): Boolean = {
    val byQ = rows.groupBy(_.getLong(0))
    qs.forall { q =>
      val rs = byQ.getOrElse(q.id, Array.empty[Row]).map(_.getLong(1)).sorted
      rs.nonEmpty && rs.length <= K && rs.sameElements(1L to rs.length.toLong)
    }
  }

  def step(run: Run): Unit = {
    val docs = src.batch(batchDocs)
    val rounds = IndexedSeq.fill(SearchesPerBatch)(src.queries(nextQids(), QueriesPerSearch))
    run.op {
      deliver(docs)
      rounds.forall { qs =>
        val t0 = System.nanoTime()
        val ok = search(run, qs)
        searchS += (System.nanoTime() - t0) / 1e9
        ok
      }
    }
  }

  override def traceStep(run: Run, t: Trace): Unit = {
    trace = Some(t)
    val docs = src.batch(batchDocs)
    val rounds = IndexedSeq.fill(SearchesPerBatch)(src.queries(nextQids(), QueriesPerSearch))
    t.span("op") { op =>
      cycleSpan = op
      run.op {
        deliver(docs)
        rounds.forall { qs =>
          t.span("search") { s =>
            val t0 = System.nanoTime()
            lastQueries.clear(); lastQueries ++= qs
            val bm = t.span("probe.call.bm25") { _ =>
              refreshBm25(run)
              Retrieval.bm25TopKIndexed(run.spark, db, qs.map(q => (q.id, q.text)), K)
            }
            val ivf = t.span("probe.call.ivf")(_ =>
              Similarity.ivfProbeIndexed(run.spark, ivfDir, queryFrame(run, qs), K))
            val bmRows = t.span("probe.exec.bm25")(_ => bm.collect())
            val ivfR = ivfRanked(ivf)
            val ivfRows = t.span("probe.exec.ivf")(_ => ivfR.collect())
            val (files, pairs) = Plans.scanFilesAndMaxJoinRows(ivfR)
            s.add("files", files + Plans.scanFilesAndMaxJoinRows(bm)._1)
            s.add("pairs", pairs)
            s.add("results", ivfRows.length)
            val rows = t.span("probe.fuse") { _ =>
              val schema = StructType(Seq(StructField("query_id", LongType),
                StructField("rank", LongType), StructField("doc_id", LongType)))
              def local(rs: Array[Row]) = run.spark.createDataFrame(
                rs.map(r => Row(r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.asJava, schema)
              Retrieval.rrfFuse(local(bmRows), local(ivfRows), K).collect()
            }
            searchS += (System.nanoTime() - t0) / 1e9
            wellFormed(rows, qs)
          }
        }
      }
    }
  }

  /** Untimed checks after the measured window. */
  override def finish(run: Run): Unit = {
    val spark = run.spark
    query.stop()
    // BM25 probe over the maintained index == brute force over every
    // applied batch
    val qs = lastQueries.map(q => (q.id, q.text)).toSeq
    def rows(df: DataFrame) = df.collect().map(r => (0 until 4).map(r.getLong)).toSet
    refreshBm25(run)
    val all = spark.read.schema(schema).json(in.toString).select("doc_id", "text")
    val bmOk = rows(Retrieval.bm25TopKIndexed(spark, db, qs, K)) ==
      rows(Retrieval.bm25TopK(all, "doc_id", "text", qs, K))
    run.check("bm25 indexed == brute force", bmOk)
    // planted near-duplicates are found by the near-dup index
    val byId = applied.map(d => d.id -> d).toMap
    val want = src.planted.filter { case (a, b) =>
      byId.contains(a) && byId.contains(b) && StreamGen.jaccard(byId(a).text, byId(b).text, 3) >= 0.82
    }
    val probe = spark.createDataFrame(want.map { case (_, b) => Row(b, byId(b).text) }.asJava,
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    val found = Dedup.nearDupProbeIndexed(spark, ndDir, probe, "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(1), r.getLong(0))).toSet
    val missed = want.count(p => !found.contains(p))
    if (missed > 0) run.note(s"near-dup: $missed of ${want.size} planted pairs missed")
    run.check("planted near-dup pairs found", missed == 0 && want.nonEmpty)
    // IVF recall@10 against exact cosine over the applied documents
    val rq = src.queries(nextQids(), 20)
    val got = Similarity.ivfProbeIndexed(spark, ivfDir, queryFrame(run, rq), K).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val hits = rq.map(q => StreamGen.exactTopK(q.vec, applied.toSeq, K).count(got.getOrElse(q.id, Set.empty)))
    run.extra("stream.recall_at_10") = hits.sum.toDouble / (rq.size * K)
    run.extra("stream.index_space_amp") = indexBytes.toDouble / inBytes.values.sum
    // a re-delivered batch id is a no-op and leaves the index unchanged
    val before = indexBytes
    val redo = spark.read.schema(schema).json(in.resolve("batch-000001.json").toString)
    val t0 = System.nanoTime()
    val replayed = Seq(
      StreamingIndex.applyBm25Batch(redo.select("doc_id", "text"), "doc_id", "text", db, 1),
      StreamingIndex.applyIvfBatch(Similarity.prepare(redo, "doc_id", "embedding"),
        StreamGen.Dim, ivfDir, 1),
      StreamingIndex.applyNearDupBatch(redo.select("doc_id", "text"), "doc_id", "text", ndDir, 1))
    run.extra("streaming.replay_s") = (System.nanoTime() - t0) / 1e9
    run.check("re-delivered batch is a no-op", replayed.forall(!_) && indexBytes == before)
    val applies = applyS.asScala.toSeq
    run.extra("stream.batch_apply_s.p50") = Stats.quantile(applies, 0.5)
    run.extra("stream.batch_apply_s.tail") = Stats.tail(applies)
    run.extra("stream.search_s.p50") = Stats.quantile(searchS.toSeq, 0.5)
    run.extra("stream.search_s.tail") = Stats.tail(searchS.toSeq)
    Seq("bm25" -> bmDir, "ivf" -> ivfDir, "neardup" -> ndDir).foreach { case (k, d) =>
      run.extra(s"index.files.$k") = Fs.files(Path.of(d)).toDouble
    }
    run.info += f"index_stream: ${applies.size} batches, apply p50 ${run.extra("stream.batch_apply_s.p50")}%.3f s, " +
      f"${searchS.size} searches, search p50 ${run.extra("stream.search_s.p50")}%.3f s, " +
      f"recall@10 ${run.extra("stream.recall_at_10")}%.3f, space amp ${run.extra("stream.index_space_amp")}%.2f"
  }

  def layers(run: Run, t: Trace, m: Layers): Unit = {
    Families.foreach { f =>
      val sp = t.named(s"apply.$f")
      m(s"streaming.apply_s.$f") = Stats.mean(sp.map(_.seconds))
      m(s"streaming.apply_jobs.$f") = Stats.mean(sp.map(t.jobsOf(_).size.toDouble))
      val cs = t.named(s"compact.$f")
      m(s"compact.self_s.$f") = Stats.mean(cs.map(_.seconds))
    }
    val comp = Families.flatMap(f => t.named(s"compact.$f"))
    m("compact.bytes_rewritten") = Stats.mean(comp.map(t.tasksOf(_).outBytes.toDouble))
    val trig = t.triggers.asScala.toSeq.filter(_._1 > 1)
    m("streaming.trigger_overhead_s") = Stats.mean(trig.map { case (_, all, add) => all - add })
    val timed = batchBytes.toSeq.filter(_._1 > 1)
    val grown = timed.map { case (_, (b, a)) => (a - b).toDouble }
    m("streaming.bytes_written") = Stats.mean(grown)
    m("streaming.write_amp") = grown.sum / math.max(1L, timed.map(b => inBytes(b._1)).sum)
    Seq("bm25", "ivf").foreach { f =>
      m(s"probe.call_s.$f") = Stats.mean(t.named(s"probe.call.$f").map(_.seconds))
      m(s"probe.exec_s.$f") = Stats.mean(t.named(s"probe.exec.$f").map(_.seconds))
    }
    m("probe.fuse_s") = Stats.mean(t.named("probe.fuse").map(_.seconds))
    val searches = t.named("search")
    m("probe.bytes_read") = Stats.mean(searches.map(t.tasksOf(_).inBytes.toDouble))
    def cnt(s: Span, k: String) = s.counts.getOrDefault(k, 0.0)
    m("probe.files_read") = Stats.mean(searches.map(cnt(_, "files")))
    m("probe.pairs_per_result") =
      searches.map(cnt(_, "pairs")).sum / math.max(1.0, searches.map(cnt(_, "results")).sum)
  }
}
