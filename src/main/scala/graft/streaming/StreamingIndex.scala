package graft.streaming

import graft.operators.IndexMaintenance
import graft.operators.IndexMaintenance.Build
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming maintenance of the persisted indexes: one `apply*Batch`
  * per family applies a micro-batch idempotently by batch id, and
  * [[sink]] drives any of them from a stream's `foreachBatch` — the
  * batch↔streaming twin of the build/probe families, like
  * [[StreamingIntervals]] is for the interval sweeps.
  *
  * Delivery semantics: `foreachBatch` is at-least-once (a batch
  * re-runs after a crash between the sink action and the checkpoint
  * commit), so every applier is idempotent by batch id. The ten
  * directory-backed families (IVF, PQ, SQ8, LM, LM3, near-dup, split,
  * dashboard, profile, clip) commit through one protocol,
  * [[graft.operators.IndexMaintenance.applyBatch]]: a staged delta,
  * deterministic `b<id>_<k>` renames, the batchlog row last. Its crash
  * points are enumerated by `IndexFaultSpec`, which fails every
  * mutating filesystem call of an IVF append, a near-dup append and a
  * near-dup compaction in turn and checks that the replay converges.
  *
  * BM25 keeps its Hive catalog tables, and its partial-commit window
  * stays OPEN: its batchlog is the shared driver-side one, but the
  * three catalog tables (bucketed postings/dfreq + read-modify-write
  * stats) have no per-batch file identity to sweep, so a crash between
  * the append and the log row makes the replay append the postings
  * again. Every batch costs O(delta)
  * ([[graft.operators.Retrieval.appendToBm25Index]]); segment growth
  * is bounded by [[graft.operators.Retrieval.compactBm25Index]].
  */
object StreamingIndex {

  /** Bytes above which [[microPlan]] leaves a batch alone (the
    * Tables.spread bound, one level up): past this size a single
    * split carries enough rows that parallel aggregation can pay for
    * its exchanges.
    */
  private val MicroBatchMaxBytes: Long = 32L * 1024 * 1024

  /** The micro-batch PLAN regime (the job-floor fix the r17 verdict
    * ranked first): a batch that arrives as ONE scan split reports
    * `UnknownPartitioning(1)`, so every per-family `groupBy` below it
    * still plans an Exchange — and with AQE each exchange runs as its
    * own stage JOB, which at micro-batch scale is the appliers' whole
    * wall time (measured per phase in r18: an LM apply was 10 jobs /
    * ~0.5 s, a dashboard apply 26 jobs / ~1.4 s, nearly all job-launch
    * floor). `coalesce(1)` on an already-1-partition plan moves no
    * data but reports `SinglePartition`, which satisfies every
    * aggregation's required distribution — each sub-table derivation
    * collapses to ONE single-stage job with zero exchanges.
    *
    * Scale-adaptive by the spread rule's inverse: applied ONLY when
    * the batch is already a single split AND small (stats-estimated
    * under [[MicroBatchMaxBytes]]) — a production multi-split batch,
    * or a spread compute output (e.g. the clip gates' decode stage,
    * 32 partitions), passes through untouched and keeps the fully
    * parallel plan. Row-multiset-invisible: same rows, same
    * aggregation results, only the exchange placement changes.
    * Real foreachBatch frames are LogicalRDD-backed and carry their
    * source plan's stats, so the size gate sees a real estimate;
    * StreamingSpec pins that, since without those stats the regime
    * would never engage. A split count the plan does not give
    * ([[graft.plans.partitions]]) keeps the parallel plan.
    */
  private[graft] def microPlan(batch: DataFrame): DataFrame = {
    val small = batch.queryExecution.analyzed.stats.sizeInBytes <
      MicroBatchMaxBytes
    if (small && graft.plans.partitions(batch).contains(1)) batch.coalesce(1) else batch
  }

  /** foreachBatch sink: keep an index current from a stream by calling
    * `apply(batch, batchId)` (one of the `apply*Batch` below) on every
    * micro-batch. The caller owns the checkpoint; a restart from it
    * resumes at the committed offset, and the applier's batchlog
    * absorbs the overlap.
    */
  def sink(frame: DataFrame, checkpoint: String)(
      apply: (DataFrame, Long) => Boolean): StreamingQuery =
    frame.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) => apply(batch, batchId); () }
      .start()

  /** Apply one micro-batch of documents to the `db` BM25 index,
    * idempotently by `batchId`. First-ever batch builds the index;
    * later ones append. Returns true when the batch was applied,
    * false when the id was already in the batchlog (re-delivery) or
    * the batch was empty.
    *
    * The batchlog is the appliers' shared driver-side [[BatchLog]] at
    * `<database location>/batchlog`: the directory the managed
    * `batchlog` table of earlier versions used, so ids logged as
    * that table's rows are still found (BatchLog's legacy fallback).
    * It is no catalog table, and `DROP DATABASE … CASCADE` removes it
    * with the database's location.
    */
  def applyBm25Batch(batch: DataFrame, idCol: String, textCol: String,
      db: String, batchId: Long, buckets: Int = 0): Boolean = {
    val spark = batch.sparkSession
    val logPath = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(spark.catalog.getDatabase(db).locationUri),
      "batchlog").toString
    if (BatchLog.contains(spark, logPath, batchId)) return false
    // cheap emptiness probe; an empty trigger still logs its id so a
    // re-delivered empty batch stays a no-op
    val mb = microPlan(batch)
    val applied =
      if (mb.isEmpty) false
      else {
        if (spark.catalog.tableExists(s"$db.stats"))
          // append reads the recorded bucket layout from the index
          graft.operators.Retrieval.appendToBm25Index(
            mb, idCol, textCol, db)
        else
          graft.operators.Retrieval.buildBm25Index(
            mb, idCol, textCol, db, buckets)
        true
      }
    BatchLog.append(spark, logPath, batchId)
    applied
  }

  /** IVF ([[graft.operators.Similarity.buildIvfIndex]] layout) over
    * prepared vectors (vid, qv, nrm — [[graft.operators.Similarity
    * .prepare]]). The first batch trains the coarse quantizer (the
    * build); every later one assigns against the FROZEN centroids and
    * stages its `members` rows (the FAISS-`add` contract q147 pins:
    * frozen-append ≡ assigning the union).
    */
  def applyIvfBatch(batch: DataFrame, dim: Int, dir: String,
      batchId: Long): Boolean =
    IndexMaintenance.applyBatch(batch, dir, batchId, Seq("members"),
      build = Some(Build("members",
        graft.operators.Similarity.buildIvfIndex(_, dim, dir, builtBy = batchId)))) {
      (mb, staging) =>
        graft.operators.Similarity.appendIvfIndex(mb.sparkSession, mb, dir, Some(staging))
    }

  /** PQ ([[graft.operators.Pq.buildPqIndex]] layout). The first batch
    * trains the codebooks (the build); later batches encode against
    * the FROZEN codebooks and stage `codes` and `vectors`.
    */
  def applyPqBatch(batch: DataFrame, dir: String, batchId: Long,
      m: Int = 8, dim: Int = 64): Boolean =
    IndexMaintenance.applyBatch(batch, dir, batchId, Seq("codes", "vectors"),
      build = Some(Build("vectors",
        graft.operators.Pq.buildPqIndex(_, dir, m = m, dim = dim, builtBy = batchId)))) {
      (mb, staging) => graft.operators.Pq.appendPqIndex(mb.sparkSession, mb, dir, Some(staging))
    }

  /** SQ8 ([[graft.operators.Similarity.buildSq8Index]] layout). The
    * first batch trains the per-dimension affine stats (the build);
    * later batches encode against the FROZEN stats and stage `codes`
    * and `vectors`.
    */
  def applySq8Batch(batch: DataFrame, dir: String, batchId: Long): Boolean =
    IndexMaintenance.applyBatch(batch, dir, batchId, Seq("codes", "vectors"),
      build = Some(Build("vectors",
        graft.operators.Similarity.buildSq8Index(_, dir, builtBy = batchId)))) {
      (mb, staging) =>
        graft.operators.Similarity.appendSq8Index(mb.sparkSession, mb, dir, Some(staging))
    }

  /** Incremental bigram LM ([[graft.operators.LangModel.appendLmCounts]]
    * layout): stages the batch's `c12`/`c1`/`cw` counts. Counts are
    * ADDITIVE, so there is no build, and a model fed batch by batch
    * scores EXACTLY like one trained on the union (the q204 gate holds
    * the batch oracle verbatim).
    */
  def applyLmBatch(batch: DataFrame, textCol: String, dir: String,
      batchId: Long): Boolean =
    IndexMaintenance.applyBatch(batch, dir, batchId, Seq("c12", "c1", "cw")) {
      (mb, staging) => graft.operators.LangModel.appendLmCounts(
        mb.sparkSession, mb, textCol, dir, Some(staging))
    }

  /** Order-3 KN model ([[graft.operators.LangModel.appendLm3Counts]]
    * layout): stages the batch's `c123`/`cw` counts; every KN-3
    * statistic derives from the merged tables, so the batch-fed model
    * scores EXACTLY like one trained on the union.
    */
  def applyLm3Batch(batch: DataFrame, textCol: String, dir: String,
      batchId: Long): Boolean =
    IndexMaintenance.applyBatch(batch, dir, batchId, Seq("c123", "cw")) {
      (mb, staging) => graft.operators.LangModel.appendLm3Counts(
        mb.sparkSession, mb, textCol, dir, Some(staging))
    }

  /** Near-dup index ([[graft.operators.Dedup.appendNearDupIndex]]
    * layout): stages the batch's `bands`/`sets`/`docs` rows. They are
    * row-additive, so a probe against the accumulated index equals the
    * one-shot delta-vs-corpus dedup over the union exactly.
    */
  def applyNearDupBatch(batch: DataFrame, idCol: String, textCol: String,
      dir: String, batchId: Long, n: Int = 3, k: Int = 128,
      bands: Int = 32): Boolean =
    IndexMaintenance.applyBatch(batch, dir, batchId, Seq("bands", "sets", "docs")) {
      (mb, staging) => graft.operators.Dedup.appendNearDupIndex(
        mb.sparkSession, mb, idCol, textCol, dir, n, k, bands, Some(staging))
    }

  /** A STANDING leakage-safe split directory — the operational form of
    * [[graft.operators.Curation.incrementalSplitAssign]]: `dir` holds
    * the near-dup index (bands/sets/docs) AND the standing assignment
    * (`dir/sides`: doc_id, best_b, side). The stage
    *  1. probes the CURRENT index for each batch doc's best match and
    *     derives its side (inherit the match's standing side; fresh
    *     content takes the LCG singleton rule), and writes those
    *     `sides` rows BEFORE the index delta lands in staging, so the
    *     probe never sees the batch's own content;
    *  2. stages the near-dup delta.
    * One commit covers both, so the index and the assignment never
    * drift apart (the out-of-sync shape incrementalSplitAssign
    * refuses). Committed content exists iff `sides` holds files after
    * this id's sweep; without it (first batch) every doc is fresh
    * content, matching the one-shot
    * [[graft.operators.Curation.leakageSafeSplit]] singleton rule.
    * [[graft.operators.Curation.compactSplitAssign]] folds the
    * per-batch `sides` segments.
    */
  def applySplitBatch(batch: DataFrame, idCol: String, textCol: String,
      dir: String, batchId: Long, threshold: Double = 0.8,
      trainPct: Int = 80): Boolean =
    IndexMaintenance.applyBatch(batch, dir, batchId,
        Seq("bands", "sets", "docs", "sides")) { (mb, staging) =>
      val spark = mb.sparkSession
      val sidesP = new org.apache.hadoop.fs.Path(s"$dir/sides")
      val fs = sidesP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val bootstrapped = fs.exists(sidesP) &&
        fs.listStatus(sidesP).exists(f => f.isFile && !f.getPath.getName.startsWith("_"))
      val assign =
        if (bootstrapped)
          graft.operators.Curation.incrementalSplitAssign(spark, dir, mb,
            graft.operators.TinyParquet.read(spark, s"$dir/sides")
              .select(col("doc_id"), col("side")),
            idCol, textCol, threshold, trainPct)
        else graft.operators.Curation.leakageSafeSplitSingletons(mb, idCol, trainPct)
      assign.write.mode("overwrite").parquet(s"$staging/sides")
      graft.operators.Dedup.appendNearDupIndex(spark, mb, idCol, textCol, dir,
        stagingPath = Some(staging))
    }

  /** Sub-tables of a composed dashboard directory. */
  private val DashboardSubs =
    Seq("c12", "c1", "cw", "c123", "state", "rep", "bands", "sets", "docs")

  /** A COMPOSED ingest dashboard directory — profile state + LM counts
    * (orders 2 AND 3) + repetition quantile sketches + the NEAR-DUP
    * index (LSH postings and shingle sets, so every ingested batch is
    * immediately probeable for duplicates) maintained over ONE shared
    * materialization of the batch (the r13 verdict's top item,
    * extended to the full ingest shape). At 100 TB the scan IS the
    * cost: running the five family appliers as separate sinks reads
    * the batch five times, while this applier persists the batch once
    * (memory-and-disk, spill-safe; its `count()` is the emptiness
    * probe) and stages all nine sub-tables
    * (c12/c1/cw/c123/state/rep/bands/sets/docs) as CONCURRENT jobs —
    * composed cost ≈ scan + max-ish(per-family compute), not sum
    * (measured: tools/DashBench). The order-3 leg adds ONE sub-table
    * (`c123`): its unigram table is byte-identical to the bigram
    * leg's `cw`, so both orders score off the shared copy
    * ([[graft.operators.LangModel.appendTrigramCounts]]). One commit
    * covers all nine, so a batch is never split across families.
    * Each family's merged state is value-exact vs its one-shot form,
    * so the directory serves
    * [[graft.operators.LangModel.scoreLmIndexed]] /
    * [[graft.operators.LangModel.scoreKnIndexed]] /
    * [[graft.operators.LangModel.scoreKn3Indexed]] /
    * [[graft.operators.Profiling.profileIndexed]] /
    * [[graft.operators.IngestDashboard.repQuantilesIndexed]] /
    * [[graft.operators.Dedup.nearDupProbeIndexed]] unchanged.
    *
    * `shareScan` names the REGIME the composition assumes: true
    * (default) persists the batch once and is right whenever the
    * source is expensive to re-pull (remote object store, an upstream
    * computation, a cold cluster read — the 100 TB shape); false
    * skips the persist and lets each family re-scan the source,
    * which WINS when re-pulls are near-free (page-cached local
    * parquet — measured at sf100-local, DashBench: the
    * materialization cost exceeds four extra cached scans). Both
    * settings stage and commit identically and are value-exact.
    */
  def applyDashboardBatch(batch: DataFrame, textCol: String,
      numCols: Seq[String], dir: String, batchId: Long,
      p: Int = 12, alpha: Double = graft.operators.IngestDashboard.Alpha,
      idCol: String = "doc_id", shareScan: Boolean = true): Boolean =
    IndexMaintenance.applyBatch(batch, dir, batchId, DashboardSubs,
        shareScan = shareScan) { (shared, staging) =>
      val spark = shared.sparkSession
      val st = Some(staging)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(Future.sequence(Seq(
        Future(graft.operators.LangModel.appendLmCounts(spark, shared, textCol, dir, st)),
        Future(graft.operators.LangModel.appendTrigramCounts(spark, shared, textCol, dir, st)),
        Future(graft.operators.Profiling.appendProfileState(spark, shared, numCols, dir, p, st)),
        Future(graft.operators.IngestDashboard.appendRepState(spark, shared, textCol, dir,
          alpha, st)),
        Future(graft.operators.Dedup.appendNearDupIndex(spark, shared, idCol, textCol, dir,
          stagingPath = st)))),
        scala.concurrent.duration.Duration.Inf)
    }

  /** ONE-SHOT bootstrap of a composed dashboard directory from a
    * static corpus — the [[graft.operators.Pq.buildPqIndex]] pattern
    * applied to the five-family composition: all families' state
    * derived in concurrent jobs, written DIRECTLY (no staging, no
    * batchlog — a bootstrap is all-or-nothing, crash = rebuild), with
    * the `_built` marker committed LAST so operators can tell a
    * finished bootstrap from a crashed one (the build-marker
    * convention of [[graft.operators.IndexMaintenance]]). Incremental
    * batches layer on afterwards via [[applyDashboardBatch]] — every
    * family's state is mergeable, so bootstrap + batches ≡ all-batches
    * value-exactly.
    *
    * This is the sf100 regime answer for STANDING corpora: the
    * per-batch staging/rename/batchlog machinery exists for streaming
    * exactly-once and is pure overhead when bootstrapping a large
    * static corpus; `shareScan` picks the scan regime exactly as in
    * [[applyDashboardBatch]] (true = persist once, the remote/cold
    * default at 100 TB; false = let each family re-scan a
    * near-free source, the local/page-cached winner — DashBench
    * measures both).
    */
  def buildDashboard(docs: DataFrame, textCol: String,
      numCols: Seq[String], dir: String,
      p: Int = 12, alpha: Double = graft.operators.IngestDashboard.Alpha,
      idCol: String = "doc_id", shareScan: Boolean = true): Unit = {
    val spark = docs.sparkSession
    // Bootstrap REFUSES a non-empty dashboard dir: the family writers
    // below append directly (no staging/batchlog), so re-running over
    // existing state — a crashed earlier bootstrap, or a dir already
    // serving batches — would silently double-count LM/profile/rep
    // state and duplicate near-dup postings. "Crash = rebuild" means
    // rebuild FROM CLEAN: delete the dir and bootstrap again.
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val preexisting = ("_built" +: DashboardSubs)
      .filter(sub => fs.exists(new org.apache.hadoop.fs.Path(dirPath, sub)))
    require(preexisting.isEmpty,
      s"buildDashboard: refusing to bootstrap into non-empty dir $dir " +
        s"(found: ${preexisting.mkString(", ")}); the bootstrap appends " +
        "directly and would double-count existing state — delete the " +
        "directory to rebuild, or use applyDashboardBatch for " +
        "incremental state")
    val shared =
      if (shareScan) docs.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else docs
    try {
      if (shareScan) shared.count()
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(Future.sequence(Seq(
        Future(graft.operators.LangModel.appendLmCounts(spark, shared,
          textCol, dir)),
        Future(graft.operators.LangModel.appendTrigramCounts(spark,
          shared, textCol, dir)),
        Future(graft.operators.Profiling.appendProfileState(spark,
          shared, numCols, dir, p)),
        Future(graft.operators.IngestDashboard.appendRepState(spark,
          shared, textCol, dir, alpha)),
        Future(graft.operators.Dedup.appendNearDupIndex(spark, shared,
          idCol, textCol, dir)))),
        scala.concurrent.duration.Duration.Inf)
    } finally { if (shareScan) shared.unpersist(); () }
    graft.operators.Similarity.writeBuiltMarker(spark, dir, -1L)
  }

  /** Compact ALL of a composed dashboard directory's families in one
    * maintenance call — the operational counterpart of
    * [[applyDashboardBatch]]: bigram LM counts (c12/c1/cw), the
    * order-3 c123, profile state, repetition sketches, and the
    * near-dup postings/sets/docs (band-partitioned layout preserved).
    * Each family's compactor is probe-identical on its own (the one
    * [[graft.operators.IndexMaintenance.compactTables]] swap), so the
    * composition is too; the shared `cw` is re-merged by the order-3
    * pass after the bigram one — also probe-identical (by-key sums
    * either way). Pinned by StreamingSpec's composed-dashboard test.
    */
  def compactDashboard(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    graft.operators.LangModel.compactLmCounts(spark, dir)
    graft.operators.LangModel.compactLm3Counts(spark, dir)
    graft.operators.Profiling.compactProfileState(spark, dir)
    graft.operators.IngestDashboard.compactRepState(spark, dir)
    graft.operators.Dedup.compactNearDupIndex(spark, dir)
  }

  /** Incremental PROFILE ([[graft.operators.Profiling
    * .appendProfileState]] layout): stages the batch's per-column
    * `state` rows. Every statistic is mergeable (additive counts/sums,
    * idempotent min/max, max-merge HLL registers), so the accumulated
    * profile equals the one-shot [[graft.operators.Profiling
    * .approxProfile]] over the union VALUE-EXACTLY (the q207 gate holds
    * the q205-shaped oracle against it).
    */
  def applyProfileBatch(batch: DataFrame, cols: Seq[String], dir: String,
      batchId: Long, p: Int = 12): Boolean =
    IndexMaintenance.applyBatch(batch, dir, batchId, Seq("state")) {
      (mb, staging) => graft.operators.Profiling.appendProfileState(
        mb.sparkSession, mb, cols, dir, p, Some(staging))
    }

  /** Clip frame fingerprints (`vid`, `fhash` — the
    * `Multimodal.mp4FrameFingerprints` / `Flac.flacFrameFingerprints`
    * shape): stages `postings` partitioned by a 64-way fingerprint
    * band (`fb = fhash band`), so probes prune to bands and the pair
    * join shuffles band-aligned postings. No training stage, so even
    * the first batch is a staged append.
    */
  def applyClipBatch(batch: DataFrame, dir: String, batchId: Long): Boolean =
    IndexMaintenance.applyBatch(batch, dir, batchId, Seq("postings")) { (mb, staging) =>
      mb.select(col("vid"), col("fhash"), pmod(col("fhash"), lit(64)).cast("int").as("fb"))
        .write.mode("overwrite").partitionBy("fb")
        .parquet(s"$staging/postings")
    }

  /** All clip pairs sharing at least `minShared` frame fingerprints,
    * from the persisted postings: an inverted-index self-join on
    * (band, fingerprint) — candidates appear only where content
    * repeats, fanout per fingerprint bounded by a source's clip
    * count, never all-pairs over clips. Returns (a, b, n_shared)
    * with a < b.
    */
  def probeClipPairs(spark: org.apache.spark.sql.SparkSession, dir: String,
      minShared: Long = 1L): DataFrame = {
    import spark.implicits._
    val post = spark.read.parquet(s"$dir/postings")
    post.as("x")
      .join(post.as("y"),
        col("x.fb") === col("y.fb") && col("x.fhash") === col("y.fhash") &&
          col("x.vid") < col("y.vid"))
      .groupBy(col("x.vid").as("a"), col("y.vid").as("b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter($"n_shared" >= minShared)
  }
}
