package graft.streaming

import graft.operators.IndexMaintenance
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
  * deterministic `b<id>_<k>` renames, the batchlog row last; IVF, PQ
  * and SQ8 build on their first batch and publish the `_built` marker
  * before that row. Its crash points are enumerated by
  * `IndexFaultSpec`, which fails every mutating filesystem call of an
  * IVF build, an IVF append, a near-dup append and a near-dup
  * compaction in turn (a thrown `IOException`, a `false` return, a
  * torn write) and checks that the replay converges. The batchlog and
  * the marker have one format each ([[BatchLog]]): a directory written
  * by pre-r16 code fails loudly at its first batch instead of being
  * read.
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
    * The batchlog is the appliers' shared driver-side [[BatchLog]] in
    * the database's location, with the same row files as every other
    * applier. It is no catalog table, and `DROP DATABASE … CASCADE`
    * removes it with the database's location.
    */
  def applyBm25Batch(batch: DataFrame, idCol: String, textCol: String,
      db: String, batchId: Long, buckets: Int = 0): Boolean = {
    val spark = batch.sparkSession
    val loc = new org.apache.hadoop.fs.Path(spark.catalog.getDatabase(db).locationUri).toString
    if (BatchLog.contains(spark, loc, batchId)) return false
    // cheap emptiness probe; an empty trigger still logs its id so a
    // re-delivered empty batch stays a no-op
    val applied =
      if (batch.isEmpty) false
      else {
        if (spark.catalog.tableExists(s"$db.stats"))
          // append reads the recorded bucket layout from the index
          graft.operators.Retrieval.appendToBm25Index(
            batch, idCol, textCol, db)
        else
          graft.operators.Retrieval.buildBm25Index(
            batch, idCol, textCol, db, buckets)
        true
      }
    BatchLog.append(spark, loc, batchId, applied)
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
      build = Some(
        graft.operators.Similarity.buildIvfIndex(_, dim, dir, builtBy = batchId))) {
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
      build = Some(
        graft.operators.Pq.buildPqIndex(_, dir, m = m, dim = dim, builtBy = batchId))) {
      (mb, staging) => graft.operators.Pq.appendPqIndex(mb.sparkSession, mb, dir, Some(staging))
    }

  /** SQ8 ([[graft.operators.Similarity.buildSq8Index]] layout). The
    * first batch trains the per-dimension affine stats (the build);
    * later batches encode against the FROZEN stats and stage `codes`
    * and `vectors`.
    */
  def applySq8Batch(batch: DataFrame, dir: String, batchId: Long): Boolean =
    IndexMaintenance.applyBatch(batch, dir, batchId, Seq("codes", "vectors"),
      build = Some(
        graft.operators.Similarity.buildSq8Index(_, dir, builtBy = batchId))) {
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
    * (measured at sf10 and sf100, SCALE.md: composed 14.0 s against
    * 22.9 s separate at sf100). The order-3 leg adds ONE sub-table
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
    */
  def applyDashboardBatch(batch: DataFrame, textCol: String,
      numCols: Seq[String], dir: String, batchId: Long,
      p: Int = 12, alpha: Double = graft.operators.IngestDashboard.Alpha,
      idCol: String = "doc_id"): Boolean =
    IndexMaintenance.applyBatch(batch, dir, batchId, DashboardSubs,
        shareScan = true) { (shared, staging) =>
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
    * static corpus. Like [[applyDashboardBatch]] it persists the
    * corpus once for the five families.
    */
  def buildDashboard(docs: DataFrame, textCol: String,
      numCols: Seq[String], dir: String,
      p: Int = 12, alpha: Double = graft.operators.IngestDashboard.Alpha,
      idCol: String = "doc_id"): Unit = {
    val spark = docs.sparkSession
    // Bootstrap REFUSES a non-empty dashboard dir: the family writers
    // below append directly (no staging/batchlog), so re-running over
    // existing state — a crashed earlier bootstrap, or a dir already
    // serving batches — would silently double-count LM/profile/rep
    // state and duplicate near-dup postings. "Crash = rebuild" means
    // rebuild FROM CLEAN: delete the dir and bootstrap again.
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val preexisting =
      BatchLog.readBuiltMarker(spark, dir).map(id => s"build marker $id").toSeq ++
        DashboardSubs.filter(sub => fs.exists(new org.apache.hadoop.fs.Path(dirPath, sub)))
    require(preexisting.isEmpty,
      s"buildDashboard: refusing to bootstrap into non-empty dir $dir " +
        s"(found: ${preexisting.mkString(", ")}); the bootstrap appends " +
        "directly and would double-count existing state — delete the " +
        "directory to rebuild, or use applyDashboardBatch for " +
        "incremental state")
    val shared = docs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      shared.count()
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
    } finally { shared.unpersist(); () }
    BatchLog.writeBuiltMarker(spark, dir, -1L)
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
